package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Learned-vocabulary BPE tokenization — the byte-pair-encoding family
  * (Sennrich, Haddow, Birch, ACL'16; public algorithm) trained on the
  * corpus itself, replacing the fixed-rule token counts of
  * [[graft.functions.TextAnalysis.bpeIshTokenCount]] with a vocabulary the
  * data actually induces.
  *
  * Scale shape: training runs on the word-TYPE frequency table (one
  * corpus-wide `groupBy(word)` shuffle — vocabulary-sized, NOT corpus-sized,
  * the classic dictionary-BPE trick), then a driver-side merge loop over
  * that dictionary. Application is a per-row projection (native
  * [[graft.functions.NativeExprs.bpeTokenCount]] with a per-partition word
  * memo — cost ∝ distinct words, not corpus rows) — no shuffle at all in
  * the scoring pass.
  *
  * Every step is deterministic and engine-portable:
  *  - training tie-breaks: pair count desc, then (left, right) lexicographic;
  *  - application: merges in training order, each replacing left-to-right
  *    non-overlapping occurrences — EXACTLY the semantics of SQL
  *    `replace()` over the separator-wrapped symbol encoding
  *    (`·s1··s2··s3·`), which is how the DuckDB oracle replays the learned
  *    merges as literal nested `replace()` calls (see [[oracleTokenSql]];
  *    same embedded-constants technique as `AnnQueries.srpOracleSql`).
  */
object BpeModel {

  /** Symbol separator for the replace-encoding. Words are [a-z]+ runs (the
    * [[TextAnalysis.words]] basis), so '·' can never occur inside a symbol. */
  val Sep = "·"

  /** Corpus word-TYPE frequency table: (word, n). One shuffle, map-side
    * partial aggregation; output is vocabulary-sized. */
  def wordFrequencies(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Train `numMerges` BPE merges from the corpus. The collected dictionary
    * is capped at `maxVocab` word types (count desc, word asc — total
    * order, so the cap is deterministic); the driver loop is O(numMerges ×
    * dictionary chars). */
  def learnMerges(docs: DataFrame, numMerges: Int = 40, maxVocab: Int = 20000): Seq[(String, String)] = {
    val types = wordFrequencies(docs)
      .orderBy(col("n").desc, col("word"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    train(types, numMerges)
  }

  /** Greedy left-to-right non-overlapping application of ONE merge — the
    * exact semantics of `replace(encoded, '·a··b·', '·ab·')`: after a
    * merge the scan resumes AFTER the merged symbol, so it cannot be the
    * left element of another occurrence in the same pass. */
  private[operators] def applyMerge(syms: Array[String], a: String,
                                    b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-side dictionary BPE: repeatedly merge the highest-frequency
    * adjacent symbol pair (weighted by word-type count), ties broken by the
    * pair's lexicographic order — fully deterministic for a given
    * dictionary. Stops early when no pair occurs twice (weighted). */
  def train(wordFreq: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] =
    trainSymbols(
      wordFreq.map { case (w, n) => (w.map(_.toString).toArray, n) }, numMerges)

  /** [[train]] over pre-split symbol arrays — the shared core; the
    * byte-level variant ([[ByteBpe]]) feeds hex-pair byte symbols here. */
  def trainSymbols(typeFreq: Seq[(Array[String], Long)],
                   numMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] = typeFreq.toArray
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      for ((syms, n) <- words; j <- 0 until syms.length - 1) {
        val k = (syms(j), syms(j + 1))
        counts.put(k, counts.getOrDefault(k, 0L) + n)
      }
      var best: (String, String) = null
      var bestN = 1L // a pair must occur at least twice (weighted) to earn a merge
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val p = e.getKey
        val n = e.getValue
        if (n > bestN || (n == bestN && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestN = n
        }
      }
      if (best == null) exhausted = true
      else {
        merges += best
        words = words.map { case (syms, n) => (applyMerge(syms, best._1, best._2), n) }
        step += 1
      }
    }
    merges.toSeq
  }

  /** Per-word token count of `word` under `merges` (driver/executor-side
    * scalar; the native expression memoizes this per partition). */
  def tokenizeCount(word: String, merges: Seq[(String, String)]): Int = {
    var syms = word.map(_.toString).toArray
    for ((a, b) <- merges) syms = applyMerge(syms, a, b)
    syms.length
  }

  /** Reference COLUMN form of the per-word token count: the separator-wrap +
    * nested-`replace` chain — byte-identical to what the DuckDB oracle runs
    * (parity-tested against the native expression). Interpreted-ish; use
    * [[graft.functions.NativeExprs.bpeTokenCount]] in hot paths. */
  def tokenCountChain(word: Column, merges: Seq[(String, String)]): Column = {
    val init = regexp_replace(word, "(.)", s"$Sep$$1$Sep")
    val rep = merges.foldLeft(init) { case (c, (a, b)) =>
      replace(c, lit(s"$Sep$a$Sep$Sep$b$Sep"), lit(s"$Sep$a$b$Sep"))
    }
    ((length(rep) - length(replace(rep, lit(Sep), lit("")))) / 2).cast("long")
  }

  /** Per-word ENCODED STRING after all merges — the separator-wrapped
    * symbol stream (`·ab··c·…`) the replace-chain produces, i.e. the actual
    * tokenization output, not just its length. Composable in-row (inside a
    * `transform` over the word array), so a whole-document encoding needs
    * no shuffle at all. */
  def encodeChain(word: Column, merges: Seq[(String, String)]): Column = {
    val init = regexp_replace(word, "(.)", s"$Sep$$1$Sep")
    merges.foldLeft(init) { case (c, (a, b)) =>
      replace(c, lit(s"$Sep$a$Sep$Sep$b$Sep"), lit(s"$Sep$a$b$Sep"))
    }
  }

  /** The same chain as a SQL-text expression over a column named `word`
    * (DuckDB spelling: `\1` backrefs, explicit 'g' flag). */
  private def encodeChainSql(merges: Seq[(String, String)]): String =
    merges.foldLeft(s"regexp_replace(word, '(.)', '$Sep\\1$Sep', 'g')") {
      case (acc, (a, b)) => s"replace($acc, '$Sep$a$Sep$Sep$b$Sep', '$Sep$a$b$Sep')"
    }

  /** DuckDB oracle SQL for the per-doc ENCODING DIGEST contract
    * (doc_id, n_words, n_bpe_tokens, enc_md5): per-word encodings joined
    * with '|' in document word order, md5'd. Same embedded-learned-merges
    * technique as [[oracleTokenSql]]. */
  def oracleEncodeSql(merges: Seq[(String, String)]): String = {
    merges.foreach { case (a, b) =>
      require(a.matches("[a-z]+") && b.matches("[a-z]+"),
        s"merge symbols must be [a-z]+: ($a, $b)")
    }
    s"""WITH w AS (SELECT doc_id, generate_subscripts(arr, 1) AS wi,
                          unnest(arr) AS word
                   FROM (SELECT doc_id,
                                regexp_extract_all(lower(text), '[a-z]+') AS arr
                         FROM documents)),
        e AS (SELECT doc_id, wi, ${encodeChainSql(merges)} AS r FROM w),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(CAST((length(r) - length(replace(r, '$Sep', ''))) / 2
                                     AS BIGINT)) AS BIGINT) AS n_bpe_tokens,
                       md5(string_agg(r, '|' ORDER BY wi)) AS enc_md5
                FROM e GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(agg.n_words, 0) AS n_words,
               COALESCE(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
               COALESCE(agg.enc_md5, md5('')) AS enc_md5
        FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"""
  }

  /** Reference DATAFRAME form of per-doc token counts via the distinct-word
    * join (tokenization cost ∝ vocabulary): the cross-check for the native
    * per-row projection, and the shape an engine without the native
    * expression would run. */
  def docTokenCounts(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("word"))
    val vocab = words.select(col("word")).distinct()
      .withColumn("tok", tokenCountChain(col("word"), merges))
    words.join(vocab, Seq("word"))
      .groupBy(col("doc_id")).agg(sum(col("tok")).as("n_bpe_tokens"))
  }

  /** DuckDB oracle SQL for the per-doc (doc_id, n_words, n_bpe_tokens)
    * contract over `documents`, with the LEARNED merges embedded as literal
    * nested `replace()` calls. Merges are [a-z]+ by construction (symbols
    * concatenate [[TextAnalysis.words]] output), so no SQL escaping is
    * needed — asserted anyway. */
  def oracleTokenSql(merges: Seq[(String, String)]): String = {
    merges.foreach { case (a, b) =>
      require(a.matches("[a-z]+") && b.matches("[a-z]+"),
        s"merge symbols must be [a-z]+: ($a, $b)")
    }
    val chain = merges.foldLeft(s"regexp_replace(word, '(.)', '$Sep\\1$Sep', 'g')") {
      case (acc, (a, b)) => s"replace($acc, '$Sep$a$Sep$Sep$b$Sep', '$Sep$a$b$Sep')"
    }
    s"""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                   FROM documents),
        t AS (SELECT doc_id,
                     CAST((length(r) - length(replace(r, '$Sep', ''))) / 2 AS BIGINT) AS tok
              FROM (SELECT doc_id, $chain AS r FROM w)),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(tok) AS BIGINT) AS n_bpe_tokens
                FROM t GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(agg.n_words, 0) AS n_words,
               COALESCE(agg.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"""
  }
}
