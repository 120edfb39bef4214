package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** A slice of the `SparkEntry.queries` contract that reads only the `events`
  * table, run in the contract's own order over a seeded events table. */
object Contract {
  /** query -> family, for the queries of the slice. */
  val Slice: Map[String, String] = Map(
    // Segments.naive / idempotentExact / idempotentApprox / evaluateMany and
    // LatestWins.maxBy, each behind its contract query
    "seg_naive" -> "segments", "seg_idempotent" -> "segments",
    "seg_idempotent_approx" -> "segments", "seg_w4_latest" -> "segments",
    "seg_multi" -> "segments",
    // streaming lifecycles: stream scope, micro-batches, retention
    "seg_stream_equiv" -> "streaming", "seg_retention_stream" -> "streaming",
    "funnel_levels" -> "events", "cohort_retention" -> "events")

  val Families: Seq[String] = Seq("segments", "streaming", "events")

  def run(spark: SparkSession, tr: Tracer, out: Outcome, work: String, data: String,
          seconds: Double, inject: Boolean): Unit = {
    val queries = SparkEntry.queries.toSeq.filter { case (q, _) => Slice.contains(q) }
    require(queries.size == Slice.size,
      s"slice queries missing from the contract: ${Slice.keySet -- queries.map(_._1)}")
    val rows = spark.read.parquet(s"$data/events.parquet").count()
    val dump = s"$work/dump"

    // warm: one full pass whose results are dumped for the oracle compare,
    // then one pass as timed (the first timed pass after a single warm pass
    // still ran 10-15% slow while the JIT caught up); every later run must
    // reproduce the dumped results
    val want = mutable.LinkedHashMap.empty[String, Digest]
    val warmByQuery = mutable.LinkedHashMap.empty[String, Double]
    out.phase("warm") {
      queries.foreach { case (q, fn) =>
        val w0 = System.nanoTime()
        out.warm(s"contract.$q") {
          fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
          want(q) = Digest.of(spark.read.parquet(s"$dump/$q"))
        }
        warmByQuery(q) = (System.nanoTime() - w0) / 1e9
      }
      queries.foreach { case (q, fn) =>
        out.warm(s"contract.$q.rerun") {
          val d = Digest.of(fn(spark, data))
          require(want.get(q).contains(d), s"digest $d, want ${want.get(q)}")
        }
      }
      // oracles are read after the queries ran: data-dependent ones embed
      // constants the query learned
      val oracle = queries.map(_._1).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Json.value(oracle))
    }
    out.setupEnd()

    // the slice in contract order, round and round, until time is up and
    // every query ran at least once
    tr.clear()
    val lat = mutable.ArrayBuffer.empty[Double]
    val byQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val loopStartMs = System.currentTimeMillis()
    val loop0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - loop0) / 1e9 < seconds || k < queries.size) {
      val (q, fn) = queries(k % queries.size)
      val t0 = System.nanoTime()
      val d = tr.span(s"SparkEntry.${Slice(q)}")(Digest.of(fn(spark, data)))
      val s = (System.nanoTime() - t0) / 1e9
      lat += s
      byQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
      val got = if (inject && k == 0) d.copy(xor = d.xor ^ 1L) else d
      out.check(q, want.get(q).contains(got), s"digest $got, want ${want.get(q)}")
      k += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val loopEndMs = System.currentTimeMillis()
    // a pass of the slice at each query's median time: a run that ends
    // mid-pass does not tilt the figures towards the queries it repeated
    val p50s = byQuery.map { case (q, xs) => q -> Stats.median(xs.toSeq) }
    val sweepS = p50s.values.sum
    out.operations(lat.toSeq, sweepS / queries.size, rows.toDouble * queries.size / sweepS)
    out.details ++= Seq("op" -> "contract query", "queries" -> queries.size,
      "events_rows" -> rows, "sweep_s" -> sweepS,
      "runs" -> byQuery.map { case (q, xs) => q -> xs.size },
      "warm_by_query_s" -> warmByQuery, "p50_by_query_s" -> p50s)
    if (tr.enabled) {
      Layers.report(out, tr.summary())
      out.metric("busy_share", tr.taskSecondsBetween(loopStartMs, loopEndMs) /
        (loopS * spark.sparkContext.defaultParallelism), "ratio")
    }
  }
}
