package graft

import org.apache.spark.sql.functions._
import graft.functions.CountMin

/** Count-Min sketch states: never-undercount against exact counts,
  * byte-identical split-merge (counters are additive), serialization
  * roundtrip, SQL surface, and loud rejection of unsupported key types. */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private val rows = (1 to 3000).map(i => (i.toLong, (i * i % 173).toLong))

  test("estimates never undercount; exact keys within the error envelope") {
    val df = rows.toDF("id", "k")
    val st = df.agg(CountMin.cmsState($"k").as("st"),
                    count(lit(1)).as("n")).collect()(0)
    val buf = CountMin.deserialize(st.getAs[Array[Byte]]("st"))
    val exact = rows.groupBy(_._2).map { case (k, g) => k -> g.size.toLong }
    val n = rows.size.toLong
    exact.foreach { case (k, c) =>
      val est = buf.estimate(java.lang.Long.valueOf(k))
      assert(est >= c, s"key $k undercounted: $est < $c")
      assert(est <= c + 3 * n / CountMin.DefaultWidth + 3,
        s"key $k outside envelope: $est vs $c (n=$n)")
    }
    assert(buf.total == n)
  }

  test("split-merge state is byte-identical to one-shot") {
    val df = rows.toDF("id", "k")
    val oneShot = df.agg(CountMin.cmsState($"k")).collect()(0).getAs[Array[Byte]](0)
    val merged = df.groupBy(pmod($"id", lit(3)).as("h"))
      .agg(CountMin.cmsState($"k").as("st"))
      .agg(CountMin.cmsMergeState($"st"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(oneShot, merged),
      "additive counters must make split-merge exact, not just close")
  }

  test("string keys, estimate expression, and the SQL surface agree") {
    val words = Seq("spark", "spark", "spark", "vector", "graft").map(Tuple1(_))
    val df = words.toDF("w")
    val st = df.agg(CountMin.cmsState($"w").as("st"))
    val viaExpr = st.select(
        CountMin.cmsEstimate($"st", lit("spark")).as("a"),
        CountMin.cmsEstimate($"st", lit("vector")).as("b"),
        CountMin.cmsTotal($"st").as("n"))
      .as[(Long, Long, Long)].collect()(0)
    assert(viaExpr._1 >= 3 && viaExpr._2 >= 1 && viaExpr._3 == 5)
    df.createOrReplaceTempView("cms_words")
    val viaSql = spark.sql(
      """SELECT graft_cms_estimate(st, 'spark'), graft_cms_total(st)
         FROM (SELECT graft_cms_state(w) AS st FROM cms_words)""")
      .as[(Long, Long)].collect()(0)
    assert(viaSql._1 == viaExpr._1 && viaSql._2 == 5)
    // re-merge through SQL too
    val viaSqlMerge = spark.sql(
      """SELECT graft_cms_total(graft_cms_merge_state(st))
         FROM (SELECT w, graft_cms_state(w) AS st FROM cms_words GROUP BY w)"""
    ).as[Long].collect()(0)
    assert(viaSqlMerge == 5)
  }

  test("empty merged state estimates 0, not the Long.MaxValue fold seed") {
    // CmsMergeAgg over zero rows serializes a 0x0 state; the public SQL
    // surface (graft_cms_estimate over it) must read "never seen" as 0
    val empty = Seq.empty[Tuple1[Array[Byte]]].toDF("st")
      .agg(CountMin.cmsMergeState($"st").as("st"))
    val est = empty.select(CountMin.cmsEstimate($"st", lit("anything")))
      .collect()(0).getLong(0)
    assert(est == 0L, s"empty-state estimate must be 0, got $est")
  }

  test("serialization roundtrip preserves layout and counters") {
    val buf = CountMin.deserialize(CountMin.serialize(
      graft.functions.CmsBuf(2, 8, Array.tabulate(16)(_.toLong))))
    assert(buf.depth == 2 && buf.width == 8 && buf.counts.toSeq == (0 until 16).map(_.toLong))
  }

  test("unsupported key types fail loudly; nulls are skipped") {
    val df = Seq((1.5, "x")).toDF("d", "s")
    val ex = intercept[Exception] {
      df.agg(CountMin.cmsState($"d")).collect()
    }
    assert(ex.getMessage != null)
    val withNulls = Seq(Some(1L), None, Some(1L)).toDF("k")
    val st = withNulls.agg(CountMin.cmsState($"k").as("st"))
      .select(CountMin.cmsTotal($"st")).as[Long].collect()(0)
    assert(st == 2L, "null keys must not count")
  }
}
