package graft

import org.apache.spark.sql.functions._
import graft.operators.Dsir

/** DSIR importance resampling: weight learning (direction + determinism),
  * integer-exact doc scoring against an independent driver-side brute
  * force (own md5 hashing, own ngram walk), and the deterministic top-20%
  * cut. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reimplementation of the portable bucket hash: md5 of the
    * UTF-8 gram, first 15 hex chars as a 60-bit int, mod Buckets. */
  private def bucketOf(gram: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(gram.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % Dsir.Buckets).toInt
  }

  private def gramsOf(text: String): Seq[String] = {
    val ws = "[a-z]+".r.findAllIn(text.toLowerCase).toSeq
    ws ++ ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
  }

  test("learnWeights: target-enriched buckets weigh higher; deterministic") {
    // bucket counts land wherever md5 sends them; use direction, not values
    val docs = Seq(
      (1L, "alpha alpha beta", true),  // target
      (2L, "alpha gamma", false),
      (3L, "gamma gamma delta", false)
    ).toDF("doc_id", "text", "t")
    val feats = Dsir.features(docs, extra = Seq(col("t")))
    val w1 = Dsir.learnWeights(feats)
    val w2 = Dsir.learnWeights(feats)
    assert(w1 == w2, "same corpus must learn the same weights")
    // 'alpha' appears in target; 'delta' never does → weight order
    val wAlpha = w1.byBucket(bucketOf("alpha"))
    val wDelta = w1.byBucket(bucketOf("delta"))
    assert(wAlpha > wDelta, s"target gram must outweigh non-target ($wAlpha vs $wDelta)")
    // independent recomputation of the whole weight map: own hashing, own
    // ngram walk, the published smoothed-log-ratio formula
    val rows = Seq((1L, "alpha alpha beta", true), (2L, "alpha gamma", false),
                   (3L, "gamma gamma delta", false))
    val cr = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val ct = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    rows.foreach { case (_, text, t) =>
      gramsOf(text).foreach { g =>
        val b = bucketOf(g)
        cr(b) += 1; if (t) ct(b) += 1
      }
    }
    val tTot = ct.values.sum.toDouble + Dsir.Buckets
    val rTot = cr.values.sum.toDouble + Dsir.Buckets
    def lam(t: Long, r: Long): Long =
      math.round((StrictMath.log((t + 1) / tTot) -
                  StrictMath.log((r + 1) / rTot)) * Dsir.Scale)
    val want = cr.keySet.map(b => b -> lam(ct(b), cr(b))).toMap
    assert(w1.byBucket == want, "weight map diverges from the brute recompute")
    assert(w1.default == lam(0L, 0L))
  }

  test("docScores matches an independent driver brute force on real docs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(80).cache()
    val feats = Dsir.features(docs, extra = Seq((col("lang") === "en").as("t")))
    val w = Dsir.learnWeights(feats)
    val got = Dsir.docScores(Dsir.features(docs), w)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val raw = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    raw.foreach { case (id, text) =>
      val gs = gramsOf(Option(text).getOrElse(""))
      if (gs.isEmpty) assert(!got.contains(id), s"featureless doc $id must not score")
      else {
        val want = (gs.size.toLong,
          gs.map(g => w.byBucket.getOrElse(bucketOf(g), w.default)).sum)
        assert(got(id) == want, s"score mismatch on doc $id")
      }
    }
    docs.unpersist()
  }

  test("select keeps exactly the top-ceil(n/5) by (score desc, id asc)") {
    val scored = (1 to 23).map(i => (i.toLong, 1L, ((i * 7) % 5).toLong))
      .toDF("doc_id", "n_feats", "dsir_score")
    val (kept, k) = Dsir.select(scored)
    assert(k == 5) // ceil(23/5)
    val got = kept.select($"doc_id").as[Long].collect().sorted.toSeq
    val want = (1 to 23).map(i => (i.toLong, ((i * 7) % 5).toLong))
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).sorted
    assert(got == want)
  }
}
