package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Corpus-level statistical models applied back to rows — the
  * train-then-score pattern of data-quality pipelines: learn a bounded model
  * over the WHOLE corpus (one aggregation pass), broadcast it, score every
  * row against it (pure projection).
  *
  * The model here is a character-bigram transition table over [a-z ] of the
  * normalized text: at most 27×27 = 729 counts, O(1) regardless of corpus
  * size — the shape that lets "train" be a driver-side collect and "score"
  * ride inside codegen with a literal map. Rows whose transitions are rare
  * under the corpus model are gibberish/boilerplate candidates (a cheap
  * perplexity stand-in using only IEEE-exact +,/ and order-independent
  * min/count — bit-reproducible in any engine, unlike libm log()).
  */
object CorpusModel {

  /** Normalized text restricted to the model alphabet [a-z ]. */
  def filteredText(text: Column): Column =
    regexp_replace(TextAnalysis.normalized(text), "[^a-z ]", "")

  /** Character bigrams of the filtered text (empty below 2 chars). Native
    * byte loop — see [[charBigramsHof]] for the reference HOF form (whose
    * per-position substr is O(position) and goes quadratic on long docs). */
  def charBigrams(text: Column): Column =
    graft.functions.NativeExprs.charBigrams(filteredText(text))

  /** Reference HOF form of [[charBigrams]] (parity-tested; do not use in
    * hot paths). */
  def charBigramsHof(text: Column): Column = {
    val t = filteredText(text)
    when(length(t) >= 2,
      transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
  }

  /** Train: exact bigram counts and first-char prefix totals over the corpus.
    * Both maps are alphabet-bounded (≤729 / ≤27 entries). */
  def bigramModel(docs: DataFrame)
      : (Map[String, Long], Map[String, Long]) = {
    val counts = docs.select(explode(charBigrams(col("text"))).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prefix = counts.groupBy(_._1.substring(0, 1))
      .map { case (p, m) => p -> m.values.sum }
    (counts, prefix)
  }

  /** Score every document against the corpus bigram model with Laplace
    * smoothing: p(b) = (count(b)+1) / (prefixTotal(b[0])+27). Emits the
    * transition count, how many transitions fall under `rareThreshold`, and
    * the rarest transition probability (null when < 2 model chars). */
  def rareTransitionStats(docs: DataFrame, rareThreshold: Double = 0.01): DataFrame = {
    val (bc, pc) = bigramModel(docs)
    // native single-pass scorer: the 729-entry probability table is baked
    // into the expression at plan time, so scoring is one byte loop per row
    val stats = graft.functions.NativeExprs.rareTransitionStats(
      filteredText(col("text")), bc, pc, rareThreshold)
    docs.select(col("doc_id"), stats.as("__s"))
      .select(col("doc_id"),
              col("__s.n_transitions").as("n_transitions"),
              col("__s.n_rare").as("n_rare"),
              col("__s.min_p").as("min_p"))
  }

  /** Rarity-weighted term relevance — the tf-idf shape with the log damping
    * traded for bit-reproducible arithmetic (the same determinism choice as
    * the bigram model): score = tf · (N+1)/(df+1), per-row double math over
    * exact integer inputs, so any engine computes identical bits. Returns the
    * top-k terms per document by (score desc, term asc).
    *
    * Scale shape: document frequency is a `groupBy(term)` aggregate over
    * the (doc, term) tf frame — map-side partial counts, so a hot term
    * ships ONE row per input partition instead of co-locating its whole
    * posting list in a single task the way `count(*) OVER (PARTITION BY
    * term)` would — joined back by BROADCAST (the df frame is
    * vocabulary-sized: Heaps'-law-bounded, orders of magnitude below the
    * corpus; tf has exactly one row per (doc, term), so the count IS df).
    * The remaining shuffles are the (doc, term) count and the per-document
    * top-k window (per-doc bounded), plus one metadata-sized driver scalar
    * (the corpus row count, same footprint as [[bigramModel]]'s collect). */
  def topTermsByRarity(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"),
              explode(split(TextAnalysis.normalized(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // round BEFORE ranking so emitted scores and rank order can never
    // disagree; ties at equal rounded score break on the term string
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("score",
        round(col("tf").cast("double") * lit((n + 1).toDouble) / (col("df") + 1), 4))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** BM25's term-frequency saturation and length normalization — the
    * conventional Lucene values, embedded as literals in the oracle SQL. */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 ranked retrieval over the corpus (Robertson–Spärck Jones
    * probabilistic weighting with Lucene's nonnegative idf,
    * `ln((N − df + ½)/(df + ½) + 1)`): score every document against a fixed
    * term query, return the top-k with per-term stats.
    *
    * Plan shape for 100 TB: the query term list is a literal IN filter
    * pushed into the token explode, so the tf shuffle carries only
    * query-term hits (O(hits), not O(tokens)); df and the (N, Σdl) corpus
    * stats are one broadcast row each; the top-k is a TakeOrdered, never a
    * global sort or single-partition window.
    *
    * Determinism: each document's score folds its per-term contributions in
    * TERM ORDER (`array_sort` + left fold) rather than through a
    * partition-order `sum(double)` — bit-stable run to run, and an engine
    * reproducing the same fold gets the identical IEEE sequence up to libm
    * `ln` (≤1 ulp), far below any real score gap. Ties (identical
    * per-term profiles) are broken by id. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], topK: Int): DataFrame =
    bm25Scores(docs, queryTerms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)

  /** The pre-limit BM25 score frame — one row per document matching ≥1
    * query term, with (score, n_hits, tf_total, dl). Exposed so rank-fusion
    * operators (`TextQueries`' `hybrid_rrf_search`) can derive SEVERAL
    * rankings (BM25, raw term-frequency) from the one tf pass instead of
    * re-tokenizing per ranker. */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = docs.select(col("doc_id"),
      filter(split(TextAnalysis.normalized(col("text")), " "), t => t =!= "").as("w"))
    val dls = toks.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib", col("idf") *
        (col("tf").cast("double") * lit(Bm25K1 + 1.0) /
         (col("tf") + lit(Bm25K1) *
           (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))))
      .groupBy("doc_id")
      .agg(aggregate(array_sort(collect_list(struct(col("term"), col("contrib")))),
             lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"),
           count(lit(1)).as("n_hits"), sum(col("tf")).as("tf_total"),
           first(col("dl")).as("dl"))
  }

  /** Exact phrase search via POSITIONAL postings — the scalable form of
    * `WHERE text LIKE '%w1 w2 … wk%'`: the LIKE scan reads every byte of
    * every document on every query; the postings form touches only the
    * phrase's own terms. Postings are `(term, doc, position)` rows (at
    * 100 TB an ingest-time table, partitioned by term — here built inline
    * from the same word tokenizer every text operator shares); the phrase
    * becomes a k-way equi-join on `(doc, start)` where term j must appear
    * at `start + j`. The per-term filter is a literal IN pushed beneath the
    * explode, so no exchange ever carries a non-phrase term.
    *
    * Returns one row per matching document: match count and first match
    * position (0-based word offset) — all-integer, exactly reproducible. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val postings = docs.select(col("doc_id"),
        posexplode(TextAnalysis.words(col("text"))).as(Seq("pos", "w")))
      .filter(col("w").isInCollection(phrase.distinct))
    val starts = phrase.zipWithIndex.map { case (term, j) =>
      postings.filter(col("w") === term)
        .select(col("doc_id"), (col("pos") - lit(j)).as("start"))
    }
    starts.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("start")).as("first_pos"))
  }

  /** Corpus-drift probe: Jaccard overlap of the two slices' top-k
    * vocabularies — the cheap shard-vs-shard distribution-shift check a
    * pipeline runs between ingest waves. Each top-k is deterministic
    * (ties break on the word string), so the overlap is all-integer and
    * exactly engine-reproducible; the single division at the end is one
    * IEEE op on two integers.
    *
    * Plan shape: per-slice word counts partial-aggregate map-side (shuffle
    * is O(distinct words)), each top-k is a TakeOrdered, and the overlap of
    * two ≤k-row sets is a broadcast join — the 1-row output is the
    * legitimate single-partition tail. */
  def vocabOverlap(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    def topK(df: DataFrame) = df
      .select(explode(TextAnalysis.words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(k)
      .select(col("word"))
    val ta = topK(a).localCheckpoint(true) // each feeds two consumers below
    val tb = topK(b).localCheckpoint(true)
    ta.agg(count(lit(1)).as("n_top_a"))
      .crossJoin(tb.agg(count(lit(1)).as("n_top_b")))
      .crossJoin(ta.join(tb, Seq("word"), "left_semi")
        .agg(count(lit(1)).as("n_common")))
      .withColumn("vocab_jaccard", round(col("n_common") /
        (col("n_top_a") + col("n_top_b") - col("n_common")), 4))
  }

  /** Reference HOF form of [[rareTransitionStats]]'s scoring (parity-tested;
    * interpreted map lookups per bigram — do not use in hot paths). */
  def rareTransitionStatsHof(docs: DataFrame, rareThreshold: Double = 0.01): DataFrame = {
    val (bc, pc) = bigramModel(docs)
    val bcLit = typedLit(bc)
    val pcLit = typedLit(pc)
    val ps = transform(charBigrams(col("text")), b =>
      (coalesce(element_at(bcLit, b), lit(0L)) + 1).cast("double") /
        (coalesce(element_at(pcLit, b.substr(lit(1), lit(1))), lit(0L)) + 27).cast("double"))
    docs.select(col("doc_id"),
                size(ps).as("n_transitions"),
                size(filter(ps, p => p < rareThreshold)).as("n_rare"),
                array_min(ps).as("min_p"))
  }
}
