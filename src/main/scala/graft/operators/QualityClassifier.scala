package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Model-based document quality filtering — the classifier gate every large
  * pretraining pipeline runs (GPT-3's LR-over-features quality filter,
  * CCNet/RefinedWeb's fasttext gate): a tiny logistic regression over cheap
  * per-document features, trained against a reference label with plain batch
  * gradient descent, then applied as a scoring pass over the corpus.
  *
  * Determinism, end to end:
  *  - features are integer counts and single-division ratios — each is one
  *    IEEE op over exact operands, identical in any engine;
  *  - every training iteration's gradient components are summed in DECIMAL
  *    (order-free; the per-row sigmoid is the same IEEE sequence on every
  *    executor), so the learned weights do not depend on partitioning;
  *  - scoring emits the LINEAR margin z = w·x via a left-associated fold.
  *    No `exp` leaves the engine: libm is not bit-pinned across engines,
  *    a linear margin is — the oracle replays the learned weights as
  *    literals and reproduces every margin bit-for-bit (the SRP-oracle
  *    technique), including the `z > 0` flag.
  *
  * Scale shape: training is `iters` aggregation passes over the feature
  * frame (materialized once — exactly the persisted feature table a real
  * pipeline keeps); each pass is a map-side-combined 5-column decimal sum.
  * Scoring is a pure projection at parquet-scan speed.
  */
object QualityClassifier {

  val FeatureNames: Seq[String] = Seq("bias", "len100", "stopratio", "wlen10", "punct")

  /** Per-document features: bias, words/100, stopword ratio, mean word
    * length / 10, punctuation ratio. Each non-bias feature is exact integer
    * counts joined by at most two divisions — mirrorable IEEE-exactly. */
  def features(text: Column): Seq[Column] = {
    val ws = TextAnalysis.words(text)
    val nWords = size(ws).cast("double")
    val sumWlen = aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long"))
      .cast("double")
    Seq(
      lit(1.0),
      nWords / lit(100.0),
      TextAnalysis.stopwordRatio(text),
      coalesce(sumWlen / nullif(nWords, lit(0.0)), lit(0.0)) / lit(10.0),
      TextAnalysis.punctRatio(text))
  }

  /** Batch-gradient-descent training: w ← w − lr·∇/n per iteration, zero
    * init. One small aggregation job per iteration; gradients decimal-summed
    * so the weights are partitioning-independent. */
  def train(docs: DataFrame, label: Column, iters: Int = 30, lr: Double = 1.0): Array[Double] = {
    val k = FeatureNames.length
    val fs = features(col("text"))
    // materialize the feature frame once: 20+ passes over re-derived regex
    // features would dominate; a production pipeline persists this table
    val data = docs
      .select(label.cast("double").as("y") +:
              fs.zipWithIndex.map { case (c, i) => c.as(s"f$i") }: _*)
      .localCheckpoint(true)
    val n = data.count().toDouble
    require(n > 0, "cannot train on an empty corpus")
    val w = Array.fill(k)(0.0)
    for (_ <- 0 until iters) {
      val z = (0 until k).map(i => col(s"f$i") * lit(w(i))).reduce(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val gs = (0 until k).map(i =>
        sum(((p - col("y")) * col(s"f$i")).cast("decimal(38,18)")).as(s"g$i"))
      val row = data.agg(gs.head, gs.tail: _*).head()
      var i = 0
      while (i < k) {
        val g = Option(row.getDecimal(i)).map(_.doubleValue).getOrElse(0.0)
        w(i) = w(i) - lr * g / n
        i += 1
      }
    }
    w
  }

  /** Scoring pass: the linear margin (left-associated w·x fold — the exact
    * IEEE sequence an oracle replays) and the pass flag `margin > 0`. */
  def score(docs: DataFrame, weights: Array[Double]): DataFrame = {
    require(weights.length == FeatureNames.length, "weight/feature arity mismatch")
    val fs = features(col("text"))
    val z = fs.zip(weights).map { case (f, wi) => f * lit(wi) }.reduce(_ + _)
    docs.withColumn("margin", z).withColumn("pass", col("margin") > lit(0.0))
  }
}
