package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeExprs, TextAnalysis}
import graft.operators._
import Shared._

/** Learned tokenizers (BPE, unigram LM, WordPiece, byte-level BPE) and
  * the perplexity buckets built on the unigram model. Each model is trained
  * once per corpus and its oracle replays the learned constants. */
object TokenizerQueries {
  private val BpeNumMerges = 40

  // learned merges per (session identity, sfDir) — training is one
  // vocabulary-sized shuffle + a driver loop, run once per corpus like the
  // corpus-model bigram table; the last-trained list feeds the data-dependent
  // oracle generation below (Verify dumps oracle SQL AFTER running queries)
  private def bpeMergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    Artifacts.value(s, dir, "bpe_merges", "documents") {
      BpeModel.learnMerges(t(s, dir, "documents"), BpeNumMerges)
    }

  /** Learned-vocabulary BPE token counts ([[BpeModel]]): merges trained on
    * the corpus's own word-type dictionary, applied per doc by the native
    * expression. The oracle replays the LEARNED merges as literal nested
    * `replace()` calls over the separator-wrapped encoding — the same
    * embedded-constants technique as [[srpOracleSql]], here with
    * data-dependent constants (generated after the query has trained). */
  private def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesFor(s, dir)
    // coalesce to 0: a NULL text row null-propagates through size()/the
    // native expression, while the oracle's LEFT JOIN + COALESCE emits 0/0
    t(s, dir, "documents").select(
        col("doc_id"),
        coalesce(size(TextAnalysis.words(col("text"))).cast("long"), lit(0L)).as("n_words"),
        coalesce(graft.functions.NativeExprs.bpeTokenCount(col("text"), merges),
                 lit(0L)).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }
  // Data-dependent oracle: the LEARNED merges are embedded as literals
  // once bpe_tokens has trained them (Verify runs every query before it
  // dumps oracle SQL, so the real SQL is always what lands in the dump).
  // The untrained placeholder is schema-shaped but empty — it can only be
  // reached by comparing a result that was never produced, and then it
  // fails LOUDLY rather than vacuously passing.
  val BpeTokens = QueryDef("bpe_tokens", bpeTokens, () =>
    Artifacts.last[Seq[(String, String)]]("bpe_merges").map(BpeModel.oracleTokenSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                           CAST(NULL AS BIGINT) AS n_words,
                           CAST(NULL AS BIGINT) AS n_bpe_tokens
                    WHERE 1 = 0"""))

  /** Full BPE tokenization DIGEST: the per-doc encoded symbol stream
    * ([[BpeModel.encodeChain]] inside an in-row `transform` — no shuffle),
    * fingerprinted with md5 alongside the native token count. Two
    * independent implementations of the merge application cross-check each
    * other inside one query, and the oracle replays both from the learned
    * merges. */
  private def bpeEncodeHash(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesFor(s, dir)
    val ws = TextAnalysis.words(col("text"))
    val encDoc = concat_ws("|", transform(ws, w => BpeModel.encodeChain(w, merges)))
    t(s, dir, "documents").select(
        col("doc_id"),
        coalesce(size(ws).cast("long"), lit(0L)).as("n_words"),
        coalesce(graft.functions.NativeExprs.bpeTokenCount(col("text"), merges),
                 lit(0L)).as("n_bpe_tokens"),
        md5(encDoc.cast("binary")).as("enc_md5"))
      .orderBy("doc_id")
  }
  val BpeEncodeHash = QueryDef("bpe_encode_hash", bpeEncodeHash, () =>
    Artifacts.last[Seq[(String, String)]]("bpe_merges").map(BpeModel.oracleEncodeSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                           CAST(NULL AS BIGINT) AS n_words,
                           CAST(NULL AS BIGINT) AS n_bpe_tokens,
                           CAST(NULL AS VARCHAR) AS enc_md5
                    WHERE 1 = 0"""))

  // learned unigram-LM model per (session identity, sfDir) — same train-once
  // discipline and data-dependent-oracle plumbing as the BPE merges above
  private def unigramModelFor(s: SparkSession, dir: String): UnigramLm.Model =
    Artifacts.value(s, dir, "unigram_model", "documents") {
      UnigramLm.learn(t(s, dir, "documents"))
    }

  /** Unigram-LM (SentencePiece-style) token stats ([[UnigramLm]]): a piece
    * vocabulary with integer costs learned by fixed-round Viterbi-EM on the
    * corpus's own word-type dictionary, applied per doc by the native
    * expression (integer combined-key Viterbi — the (cost, n_pieces)
    * optimum is exact and unique on both engines). The oracle replays the
    * LEARNED vocabulary as literals through an unrolled per-position DP
    * ([[UnigramLm.oracleTokenSql]]). */
  private def unigramTokens(s: SparkSession, dir: String): DataFrame = {
    val model = unigramModelFor(s, dir)
    val st = graft.functions.NativeExprs.unigramStats(col("text"), model)
    t(s, dir, "documents").select(
        col("doc_id"),
        coalesce(size(TextAnalysis.words(col("text"))).cast("long"), lit(0L)).as("n_words"),
        coalesce(st.getField("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(st.getField("unigram_cost"), lit(0L)).as("unigram_cost"))
      .orderBy("doc_id")
  }
  // Unigram-LM twin of the BPE pair: learned piece costs embedded as
  // literals, Viterbi DP unrolled per prefix length (integer arithmetic
  // end-to-end). Untrained fallback is schema-shaped but empty → loud.
  val UnigramTokens = QueryDef("unigram_tokens", unigramTokens, () =>
    Artifacts.last[UnigramLm.Model]("unigram_model").map(UnigramLm.oracleTokenSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                           CAST(NULL AS BIGINT) AS n_words,
                           CAST(NULL AS BIGINT) AS n_pieces,
                           CAST(NULL AS BIGINT) AS unigram_cost
                    WHERE 1 = 0"""))

  // learned WordPiece vocabulary per (session identity, sfDir) — same
  // train-once discipline and data-dependent-oracle plumbing as the BPE
  // merges / unigram model above
  private def wordpieceModelFor(s: SparkSession, dir: String): WordPiece.Model =
    Artifacts.value(s, dir, "wordpiece_model", "documents") {
      WordPiece.learn(t(s, dir, "documents"))
    }

  /** WordPiece (BERT-family) tokenization stats ([[WordPiece]]): a
    * likelihood-merged vocabulary learned from the corpus's own word-type
    * dictionary, applied per doc by the native greedy longest-match
    * expression. Beyond counts, `wp_sig` (the summed per-word boundary
    * signature) pins the exact SEGMENTATION each side produced. The oracle
    * replays the LEARNED vocabulary as literals through a precomputed
    * longest-match table + unrolled greedy walk
    * ([[WordPiece.oracleTokenSql]]). */
  private def wordpieceTokens(s: SparkSession, dir: String): DataFrame = {
    val model = wordpieceModelFor(s, dir)
    val st = graft.functions.NativeExprs.wordpieceStats(col("text"), model)
    t(s, dir, "documents").select(
        col("doc_id"),
        coalesce(size(TextAnalysis.words(col("text"))).cast("long"), lit(0L)).as("n_words"),
        coalesce(st.getField("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(st.getField("n_unk"), lit(0L)).as("n_unk"),
        coalesce(st.getField("wp_sig"), lit(0L)).as("wp_sig"))
      .orderBy("doc_id")
  }
  // WordPiece twin: learned vocabulary as literals, the greedy
  // longest-match walk replayed as a precomputed match table + unrolled
  // step chain. Untrained fallback is schema-shaped but empty → loud.
  val WordpieceTokens = QueryDef("wordpiece_tokens", wordpieceTokens, () =>
    Artifacts.last[WordPiece.Model]("wordpiece_model").map(WordPiece.oracleTokenSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                           CAST(NULL AS BIGINT) AS n_words,
                           CAST(NULL AS BIGINT) AS n_pieces,
                           CAST(NULL AS BIGINT) AS n_unk,
                           CAST(NULL AS BIGINT) AS wp_sig
                    WHERE 1 = 0"""))

  /** CCNet perplexity filter (Wenzek et al.) on the learned unigram LM —
    * the canonical stage between lang-id and quality classification: each
    * doc's LM cost-per-token (integer milli-cost `(unigram_cost·1000) DIV
    * n_pieces` — exact on any engine), bucketed head/middle/tail per
    * language by EXACT discrete terciles (positional picks at ceil(n/3),
    * ceil(2n/3) over the (score, doc_id)-ordered per-lang frame — the
    * winsorized_stats bounds discipline, all-integer so no rational-
    * threshold rounding hazard). Docs with no tokenizable words land in an
    * explicit 'empty' bucket.
    *
    * Plan shape for 100 TB (CCNet itself buckets against PRECOMPUTED
    * quantile boundaries, never by ranking the corpus): a rank window
    * partitioned by `lang` would shuffle every document by a handful of
    * skewed language keys — English alone funnels most of a real corpus
    * through one task. Instead the ONE per-doc DP scoring scan collapses
    * immediately into a (lang, has-tokens, score) GROUP frame (value-domain
    * granularity — the Mann-Whitney tie-group discipline; score is an
    * integer milli-cost, so distinct values per lang are bounded far below
    * doc count), carrying each group's order-free exact-integer membership
    * hash sum for the bucket digests (constant bytes per group — never a
    * materialized id list).
    * Tercile bounds are cumulative-count picks over that tiny frame — the
    * score at position r is `min{s : cum(s) ≥ r}`, identical to the
    * positional pick because the order is (score, doc_id) — and the
    * #langs-sized bounds frame broadcasts back. No window ever touches a
    * doc-sized frame. */
  // learned byte-level BPE merges per (session identity, sfDir) — fourth
  // tokenizer, same train-once discipline and data-dependent-oracle
  // plumbing as the char-BPE merges above
  private def byteBpeModelFor(s: SparkSession, dir: String): ByteBpe.Model =
    Artifacts.value(s, dir, "bytebpe_model", "documents") {
      ByteBpe.learn(t(s, dir, "documents"))
    }

  /** Byte-level BPE (GPT-2/tiktoken class, [[ByteBpe]]): regex
    * pre-tokenization, UTF-8 byte alphabet, learned merges, no UNK. The
    * enc_md5 digest pins the exact SEGMENTATION of every document (the
    * bpe_encode_hash discipline); the oracle replays the learned merges as
    * literal nested `replace()` calls over the hex-pair separator
    * encoding. */
  private def byteBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val model = byteBpeModelFor(s, dir)
    val st = graft.functions.NativeExprs.byteBpeStats(col("text"), model)
    t(s, dir, "documents").select(
        col("doc_id"),
        coalesce(st.getField("n_pretokens"), lit(0L)).as("n_pretokens"),
        coalesce(st.getField("n_tokens"), lit(0L)).as("n_tokens"),
        md5(coalesce(st.getField("enc"), lit("")).cast("binary")).as("enc_md5"))
      .orderBy("doc_id")
  }
  // Byte-level BPE twin: learned merges as literal nested replace()
  // calls over the hex-pair separator encoding; pre-tokenization replays
  // the explicit-ASCII-class pattern in RE2. Untrained fallback is
  // schema-shaped but empty → loud.
  val BytebpeTokens = QueryDef("bytebpe_tokens", byteBpeTokens, () =>
    Artifacts.last[ByteBpe.Model]("bytebpe_model").map(ByteBpe.oracleSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                           CAST(NULL AS BIGINT) AS n_pretokens,
                           CAST(NULL AS BIGINT) AS n_tokens,
                           CAST(NULL AS VARCHAR) AS enc_md5
                    WHERE 1 = 0"""))

  /** Modulus for the order-free bucket membership digest: 2^61 − 1 (a
    * Mersenne prime). The reduced sum fits a BIGINT on every engine; the
    * pre-reduction sums stay exact (Spark DECIMAL / DuckDB HUGEINT). */
  private val CcnetDigestMod = 2305843009213693951L

  private def ccnetPerplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    val model = unigramModelFor(s, dir)
    val st = graft.functions.NativeExprs.unigramStats(col("text"), model)
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
              st.getField("n_pieces").as("np"),
              st.getField("unigram_cost").as("uc"))
      .withColumn("score", expr("CASE WHEN np > 0 THEN (uc * 1000) DIV np END"))
      .withColumn("__tok", col("np") > 0)
    // map-side partial agg collapses the doc-sized frame to value-domain
    // granularity in the one corpus shuffle; the empty lane rides along as
    // the __tok=false sub-group (a union branch would re-run the DP scan).
    // Membership is digested ORDER-FREE as an exact integer hash SUM — a
    // per-group constant-size buffer (a bucket of billions of docs is one
    // DECIMAL, never a materialized id list), and a wrong membership flips
    // the sum. The 60-bit md5 prefix is engine-portable; decimal sums stay
    // exact to 10^38 ≫ any corpus's n_docs · 2^60.
    val idh = conv(substring(md5(col("doc_id").cast("string").cast("binary")),
                             1, 15), 16, 10).cast("long")
    val grp = scored.groupBy(col("lang"), col("__tok"), col("score"))
      .agg(count(lit(1)).as("c"),
           sum(idh.cast("decimal(20,0)")).as("hsum"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("score"))
    val wAll = Window.partitionBy(col("lang"))
    val bounds = grp.filter(col("__tok"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("lang"))
      .agg(min(when(col("cum") >= expr("(n + 2) DIV 3"), col("score"))).as("b1"),
           min(when(col("cum") >= expr("(2 * n + 2) DIV 3"), col("score"))).as("b2"))
    grp.join(broadcast(bounds), Seq("lang"), "left")
      .withColumn("bucket",
        when(!col("__tok"), lit("empty"))
          .when(col("score") <= col("b1"), lit("head"))
          .when(col("score") <= col("b2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("lang"), col("bucket"))
      .agg(sum(col("c")).as("n_docs"),
           min(col("score")).as("min_score"),
           max(col("score")).as("max_score"),
           (sum(col("hsum")) % lit(CcnetDigestMod).cast("decimal(20,0)"))
             .cast("long").as("ids_hash"))
      .orderBy("lang", "bucket")
  }
  // CCNet perplexity buckets: the unigram DP CTE chain (learned vocab as
  // literals) feeds integer milli-cost scores; tercile bounds are exact
  // positional picks replayed in SQL — all-integer end to end. Membership
  // digests replay the engine's order-free 60-bit hash sum mod 2^61−1:
  // DuckDB's sum(BIGINT) is HUGEINT, so the pre-reduction sum is exact,
  // matching the engine's DECIMAL sums bit-for-bit.
  val CcnetPerplexityBuckets = QueryDef("ccnet_perplexity_buckets", ccnetPerplexityBuckets, () =>
    Artifacts.last[UnigramLm.Model]("unigram_model").map { m =>
    val parse15 = (1 to 15).map { j =>
      val pow = 1L << (4 * (15 - j)) // 16^(15-j)
      s"(strpos('0123456789abcdef', substr(h, $j, 1)) - 1) * $pow"
    }.mkString(" + ")
    s"""WITH ${UnigramLm.oracleStatsCtes(m)},
          sc AS (SELECT d.doc_id, d.lang,
                        coalesce(per.n_pieces, 0) AS np,
                        CASE WHEN coalesce(per.n_pieces, 0) > 0
                             THEN (per.unigram_cost * 1000) // per.n_pieces END AS score
                 FROM documents d LEFT JOIN per USING (doc_id)),
          ranked AS (SELECT doc_id, lang, score,
                            row_number() OVER (PARTITION BY lang
                                               ORDER BY score, doc_id) AS rn,
                            count(*) OVER (PARTITION BY lang) AS n
                     FROM sc WHERE np > 0),
          bounds AS (SELECT lang,
                            max(CASE WHEN rn = (n + 2) // 3 THEN score END) AS b1,
                            max(CASE WHEN rn = (2 * n + 2) // 3 THEN score END) AS b2
                     FROM ranked GROUP BY lang),
          bucketed AS (
            SELECT r.doc_id, r.lang, r.score,
                   CASE WHEN r.score <= b.b1 THEN 'head'
                        WHEN r.score <= b.b2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ranked r JOIN bounds b USING (lang)
            UNION ALL
            SELECT doc_id, lang, score, 'empty' FROM sc WHERE np <= 0),
          hashed AS (
            SELECT lang, bucket, score, ($parse15) AS idh
            FROM (SELECT lang, bucket, score,
                         md5(CAST(doc_id AS VARCHAR)) AS h
                  FROM bucketed))
          SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(min(score) AS BIGINT) AS min_score,
                 CAST(max(score) AS BIGINT) AS max_score,
                 CAST(sum(idh) % $CcnetDigestMod AS BIGINT) AS ids_hash
          FROM hashed GROUP BY lang, bucket ORDER BY lang, bucket"""
  }.getOrElse("""SELECT CAST(NULL AS VARCHAR) AS lang,
                          CAST(NULL AS VARCHAR) AS bucket,
                          CAST(NULL AS BIGINT) AS n_docs,
                          CAST(NULL AS BIGINT) AS min_score,
                          CAST(NULL AS BIGINT) AS max_score,
                          CAST(NULL AS BIGINT) AS ids_hash
                   WHERE 1 = 0"""))

  /** The family's ingest-time artifacts (see [[graft.Warmup]]): the four
    * learned tokenizer models, each trained once per corpus and applied per
    * query. */
  def warmIngestArtifacts(s: SparkSession, dir: String): Unit = {
    bpeMergesFor(s, dir)
    unigramModelFor(s, dir)
    wordpieceModelFor(s, dir)
    byteBpeModelFor(s, dir)
  }
}
