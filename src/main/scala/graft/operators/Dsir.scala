package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS'23;
  * public algorithm): select raw-corpus documents that look like a TARGET
  * domain, by importance weights under bag-of-hashed-ngram unigram models.
  *
  *  1. featurize: word unigrams + bigrams, hashed into [[Buckets]] buckets
  *     (the engine-portable 60-bit md5 gram hash, `Dedup.portableGramHash`,
  *     reduced mod B — both engines reproduce it digit-for-digit);
  *  2. fit target/raw bucket models: per-bucket counts over the target
  *     slice and the full corpus — B-BOUNDED frames, the only collect;
  *  3. per-bucket integer log-importance `λ[b] = round((ln p̂_t[b] −
  *     ln p̂_r[b]) · 1e6)` with add-one smoothing, computed ONCE on the
  *     driver (StrictMath — JVM-stable) and embedded as literals in both
  *     the plan and the oracle, so scoring is INTEGER-EXACT everywhere;
  *  4. score: each doc's log-importance is the sum of its feature-
  *     occurrence weights — one map-side projection + one groupBy;
  *  5. resample: deterministic top-⌈N/5⌉ by (score desc, doc_id) via
  *     [[Ranks.globalRowNumber]] — a total order, so the kept SET is exact
  *     and engine-replayable; no single-partition sort anywhere (scores are
  *     near-unique integers, so the ccnet value-domain-bounds trick does
  *     NOT apply here — the distributed two-pass rank does).
  *
  * Scale shape: the feature stream carries (doc_id, int bucket) rows only
  * (text never ships); bucket models are B-sized; the weight table rides as
  * a B-entry literal map inside codegen (the [[Ranks]] literal-offsets
  * budget); ranking is the two-pass range-partitioned rank. */
object Dsir {

  /** Hashed-feature bucket count. Bounds the weight literal map and the
    * oracle's VALUES table; the paper's 10⁴ scaled to the test corpus. */
  val Buckets = 1024

  /** Integer log-importance scale (the UnigramLm CostScale discipline). */
  val Scale = 1000000L

  /** Learned per-bucket integer weights + the smoothing default for
    * buckets observed in neither model. */
  final case class Weights(byBucket: Map[Int, Long], default: Long)

  /** (id, [extra...,] bucket) feature-occurrence stream: word unigrams +
    * bigrams (the paper's feature set), hashed portable, WITH multiplicity
    * (bag model). `extra` columns (e.g. a target-membership flag) ride
    * along so training needs no join back to the docs. */
  def features(docs: DataFrame, extra: Seq[Column] = Nil): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    docs.select(col("doc_id") +: extra :+
        explode(concat(ws, TextAnalysis.wordNgrams(col("text"), 2))).as("gram"): _*)
      .withColumn("b",
        pmod(Dedup.portableGramHash(col("gram")), lit(Buckets.toLong)).cast("int"))
      .drop("gram")
  }

  /** Fit the target-vs-raw bucket models in ONE pass (raw = every feature
    * row, target = rows whose boolean `t` flag is true) and derive integer
    * weights. The count frame is ≤ [[Buckets]] rows — a metadata-sized
    * collect. */
  def learnWeights(feats: DataFrame): Weights = {
    val rows = feats.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
           sum(when(col("t"), 1L).otherwise(0L)).as("ct"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val tTot = rows.iterator.map(_._3).sum.toDouble + Buckets
    val rTot = rows.iterator.map(_._2).sum.toDouble + Buckets
    def lambda(t: Long, r: Long): Long =
      math.round((StrictMath.log((t + 1).toDouble / tTot) -
                  StrictMath.log((r + 1).toDouble / rTot)) * Scale)
    Weights(rows.iterator.map { case (b, r, t) => b -> lambda(t, r) }.toMap,
            lambda(0L, 0L))
  }

  /** Per-doc (id, n_feats, dsir_score): integer sum of the doc's feature
    * weights. Docs with zero features never appear (they cannot be scored
    * — mirrored by the oracle's inner join). */
  def docScores(feats: DataFrame, w: Weights): DataFrame = {
    val wMap = typedLit(w.byBucket)
    feats
      .withColumn("__w", coalesce(element_at(wMap, col("b")), lit(w.default)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("__w")).as("dsir_score"))
  }

  /** Deterministic top-⌈n/5⌉ resample by (score desc, id asc): the kept
    * frame plus the kept count. Distributed rank — no global window. */
  def select(scored: DataFrame): (DataFrame, Long) = {
    val (ranked, n) = Ranks.globalRowNumber(
      scored, Seq(col("dsir_score").desc, col("doc_id")), "__rank")
    val k = (n + 4) / 5
    (ranked.filter(col("__rank") <= k).drop("__rank"), k)
  }
}
