package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeExprs, TextAnalysis}
import graft.operators._
import Shared._

/** Document-corpus text operators: quality filters, PII redaction,
  * contamination checks, search and ranking, vocabulary statistics and
  * mixture sampling. */
object TextQueries {
  /** Repetition-signal scoring per document (duplicate-trigram fraction). */
  private def textRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
              size(TextAnalysis.wordTrigrams(col("text"))).as("n_trigrams"),
              TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
      .orderBy("doc_id")
  val TextRepetition = QueryDef("text_repetition", textRepetition, () =>
    """WITH g AS (
           SELECT doc_id,
                  CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) >= 3
                       THEN list_transform(
                              range(1, len(regexp_extract_all(lower(text), '[a-z]+')) - 1),
                              i -> array_to_string(
                                     list_slice(regexp_extract_all(lower(text), '[a-z]+'),
                                                i, i + 2), ' '))
                       ELSE [] END AS t3
           FROM documents)
         SELECT doc_id, len(t3) AS n_trigrams,
                coalesce((len(t3) - len(list_distinct(t3)))::DOUBLE / nullif(len(t3), 0), 0.0)
                  AS rep_ratio
         FROM g ORDER BY doc_id""")

  private val EnStop = TextAnalysis.Stopwords("en").map(w => s"'$w'").mkString(", ")

  /** Pipeline composition: quality-gate the corpus, then aggregate — the
    * filter predicates reuse the text metrics the oracle recomputes in SQL. */
  private def docsFilteredStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(TextAnalysis.stopwordRatio(col("text")) >= 0.05 &&
              TextAnalysis.tokenCount(col("text")) >= 20)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  val DocsFilteredStats = QueryDef("docs_filtered_stats", docsFilteredStats, () => {
    val toks = "regexp_extract_all(lower(text), '[a-z]+')"
    s"""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM documents
          WHERE coalesce(len(list_filter($toks, w -> list_contains([$EnStop], w)))::DOUBLE
                         / nullif(len($toks), 0), 0.0) >= 0.05
            AND len(regexp_extract_all(text, '\\S+')) >= 20
          GROUP BY lang ORDER BY lang"""
  })

  /** The mojibake plant/repair pattern set shared by the `fix_mojibake`
    * query and its generated oracle: (ASCII source to replace, repaired
    * non-ASCII form). The GARBLED literals are derived — never hand-
    * transcribed — via [[graft.functions.FixMojibakeExpr.garble]], the
    * exact corruption inverse of the repair. Covers latin-1-range accents
    * (é, ö), cp1252 specials (’ U+2019, € U+20AC — the 0x80-0x9F block a
    * plain latin-1 repair would miss). */
  private val MojibakePats = Seq(
    "the" -> "thé", "of" -> "öf",
    "was" -> "w’s", "to" -> "t€o")

  /** Generated from [[MojibakePats]] so the oracle's fixed literals can
    * never drift from the engine's plant. */
  private def fixMojibakeOracleSql: String = {
    val chain = MojibakePats.foldLeft("text") { case (acc, (src, fixedForm)) =>
      s"replace($acc, '$src', '$fixedForm')"
    }
    s"""WITH a AS (SELECT doc_id, text, $chain AS fixed FROM documents
                   WHERE length(text) = strlen(text))
        SELECT doc_id, CAST(length(fixed) AS BIGINT) AS n_chars,
               (fixed <> text) AS was_garbled,
               md5(fixed) AS fixed1_md5, md5(fixed) AS fixed2_md5
        FROM a ORDER BY doc_id"""
  }

  /** Encoding repair (ftfy-lite, [[graft.functions.FixMojibakeExpr]])
    * through the oracle gate: ASCII-only docs (bytes == chars, so the
    * plant is the ONLY non-ASCII) get mojibake planted at single and
    * double encoding depth, then repaired by the native expression; the
    * oracle replays the repair declaratively as a replace-chain of the
    * FIXED forms. A broken repair — wrong cp1252 table, missed double
    * encoding, over-eager rewrite of clean text — hash-mismatches. */
  private def fixMojibakeQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{FixMojibakeExpr, NativeExprs}
    def plant(depth: Int): Column =
      MojibakePats.foldLeft(col("text")) { case (c, (src, fixedForm)) =>
        val g = (1 to depth).foldLeft(fixedForm)((x, _) => FixMojibakeExpr.garble(x))
        replace(c, lit(src), lit(g))
      }
    t(s, dir, "documents")
      .filter(length(col("text")) === octet_length(col("text")))
      .withColumn("g1", plant(1)).withColumn("g2", plant(2))
      .withColumn("f1", NativeExprs.fixMojibake(col("g1")))
      .withColumn("f2", NativeExprs.fixMojibake(col("g2")))
      .select(col("doc_id"),
              length(col("f1")).cast("long").as("n_chars"),
              (col("f1") =!= col("g1")).as("was_garbled"),
              md5(col("f1")).as("fixed1_md5"),
              md5(col("f2")).as("fixed2_md5"))
      .orderBy("doc_id")
  }
  // Encoding repair replayed declaratively: the repair of the planted
  // garble is, by construction (garble = the exact corruption inverse),
  // the same replace-chain applied with the FIXED literals — both the
  // single- and the double-encoded plant land on the identical text.
  val FixMojibake = QueryDef("fix_mojibake", fixMojibakeQ, () => fixMojibakeOracleSql)

  /** HTML boilerplate extraction ([[graft.operators.HtmlExtract]] /
    * [[graft.functions.HtmlExtractExpr]]) through the oracle gate, via the
    * plant-inverse discipline: each document's (canonicalized) text is
    * wrapped in a deterministic web-page template — head/title, style +
    * script raw-text elements (one containing a fake closing tag and a bare
    * `>`), header/nav/footer boilerplate, an HTML comment, a quoted-`>`
    * attribute, the content split across two `<p>`s, a LINK-DENSITY
    * borderline block whose plain-word count is doc_id % 6 against a
    * 3-link-word anchor (kept iff `2·3 ≤ words`, i.e. doc_id % 6 ≥ 3), an
    * entity gauntlet (named, numeric dec/hex, unknown), a list, and a
    * below-min-words block — then extracted by the native expression. The
    * oracle replays the rule outcomes declaratively from the raw text:
    * which blocks survive is a closed-form function of (text, doc_id).
    * A broken tag scanner, entity decoder, density rule, or container rule
    * hash-mismatches. */
  private def htmlExtractQ(s: SparkSession, dir: String): DataFrame = {
    // canonical base: identity on today's corpus (lint-checked), keeps the
    // plant well-formed under any future regen's charset drift
    val base = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z ]+", ""), " +", " "))
    val w = split(base, " ")
    val half = ceil(size(w) / lit(2.0)).cast("int")
    val p1 = array_join(slice(w, lit(1), half), " ")
    val p2 = array_join(slice(w, half + lit(1), size(w) - half), " ")
    val wb = pmod(col("doc_id"), lit(6)).cast("int")
    val bw = array_join(slice(w, lit(1), wb), " ")
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>t "), id,
      lit("</title><style>p { color: #000; }</style>" +
          "<script>var x = '</nope>'; if (1 > 0) x;</script></head>" +
          "<body><header><h1>Doc "), id, lit("</h1></header>" +
          "<nav><a href=\"/\">home</a> <a href=\"/a\">about us</a> " +
          "<a href=\"/c\">contact</a></nav><!-- tracking "), id,
      lit(" --><div class=\"main\"><p>"), p1,
      lit("</p><p data-x=\"a>b\">"), p2, lit("</p></div><p>"), bw,
      lit(" <a href=\"#\">click here now</a></p>" +
          "<p>a &amp; b &lt;c&gt; &quot;d&quot;&nbsp;e &bogus; &#65;&#x42;</p>" +
          "<ul><li>alpha beta</li><li>gamma delta</li></ul><p>ok</p>" +
          "<footer>(c) 2026 <a href=\"#\">terms</a></footer></body></html>"))
    t(s, dir, "documents")
      .filter(size(w) >= 4) // p1/p2 each ≥ 2 words (min-words-safe); no-op today
      .withColumn("ex", NativeExprs.htmlExtract(html))
      .select(col("doc_id"),
              md5(col("ex.text")).as("extracted_md5"),
              col("ex.n_kept").as("n_blocks_kept"),
              col("ex.n_dropped").as("n_blocks_dropped"),
              length(col("ex.text")).cast("long").as("n_chars_extracted"))
      .orderBy("doc_id")
  }
  // HTML extraction replayed declaratively: the plant is closed-form in
  // (text, doc_id) — kept blocks are the two content halves, the
  // borderline anchor block iff doc_id % 6 ≥ 3 (the 2·links ≤ words
  // integer density test), the decoded entity gauntlet, and the two list
  // items; dropped are title/h1/nav/footer (containers) and the 1-word
  // block. chr(160) is the decoded &nbsp; (NOT whitespace — glues words).
  val HtmlExtract = QueryDef("html_extract", htmlExtractQ, () =>
    """WITH d AS (SELECT doc_id,
                string_split(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z ]+', '', 'g'), ' +', ' ', 'g')), ' ') AS w
              FROM documents),
        c AS (SELECT doc_id, w, len(w) AS nw,
                CAST(ceil(len(w) / 2.0) AS INT) AS half,
                CAST(doc_id % 6 AS INT) AS wb
              FROM d WHERE len(w) >= 4),
        f AS (SELECT doc_id, wb,
                array_to_string(list_slice(w, 1, half), ' ') || chr(10) ||
                array_to_string(list_slice(w, half + 1, nw), ' ') ||
                CASE WHEN wb >= 3 THEN chr(10) ||
                  array_to_string(list_slice(w, 1, wb), ' ') ||
                  ' click here now' ELSE '' END ||
                chr(10) || 'a & b <c> "d"' || chr(160) || 'e &bogus; AB' ||
                chr(10) || 'alpha beta' || chr(10) || 'gamma delta' AS ext
              FROM c)
        SELECT doc_id, md5(ext) AS extracted_md5,
               CAST(5 + CASE WHEN wb >= 3 THEN 1 ELSE 0 END AS INT) AS n_blocks_kept,
               CAST(5 + CASE WHEN wb >= 3 THEN 0 ELSE 1 END AS INT) AS n_blocks_dropped,
               CAST(length(ext) AS BIGINT) AS n_chars_extracted
        FROM f ORDER BY doc_id""")

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      size(TextAnalysis.words(col("text"))).as("n_words"),
      TextAnalysis.bpeIshTokenCount(col("text")).as("n_bpe_tokens"),
      TextAnalysis.charCount(col("text")).as("n_chars_m"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"))
      .orderBy("doc_id")
  val TextQuality = QueryDef("text_quality", textQuality, () =>
    s"""SELECT doc_id,
                 len(regexp_extract_all(text, '\\S+')) AS n_tokens,
                 len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
                 len(regexp_extract_all(lower(text), '${TextAnalysis.BpeIshPattern.replace("'", "''")}')) AS n_bpe_tokens,
                 length(text) AS n_chars_m,
                 coalesce(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE
                          / nullif(length(text), 0), 0.0) AS punct_ratio,
                 coalesce(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                          w -> list_contains([$EnStop], w)))::DOUBLE
                          / nullif(len(regexp_extract_all(lower(text), '[a-z]+')), 0), 0.0)
                   AS stop_ratio
          FROM documents ORDER BY doc_id""")

  /** Quality-tiered downsampling ([[Sampling.tieredSample]]): long documents
    * kept outright, mid-length at 30%, short at 10% — all-integer tier CASE
    * and keep hash, so the kept set is exactly engine-reproducible. */
  private def qualityTieredSample(s: SparkSession, dir: String): DataFrame = {
    val pct = when(col("n_chars") >= 400, lit(100L))
      .when(col("n_chars") >= 250, lit(30L)).otherwise(lit(10L))
    Sampling.tieredSample(t(s, dir, "documents"), "doc_id", pct)
      .select(col("doc_id"), col("n_chars"), pct.as("keep_pct"))
      .orderBy("doc_id")
  }
  // All-integer tier CASE + multiplicative keep hash — bit-free of floats,
  // so the kept set is exactly reproducible.
  val QualityTieredSample = QueryDef("quality_tiered_sample", qualityTieredSample, () =>
    s"""SELECT doc_id, n_chars,
                 CASE WHEN n_chars >= 400 THEN 100
                      WHEN n_chars >= 250 THEN 30 ELSE 10 END AS keep_pct
          FROM documents
          WHERE (doc_id * ${Sampling.Knuth}) % 100 <
                CASE WHEN n_chars >= 400 THEN 100
                     WHEN n_chars >= 250 THEN 30 ELSE 10 END
          ORDER BY doc_id""")

  private def textLangDist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(TextAnalysis.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang_pred")
  val TextLangDist = QueryDef("text_lang_dist", textLangDist, () => {
    def hits(lang: String): String = {
      val list = TextAnalysis.Stopwords(lang).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), w -> list_contains([$list], w)))"
    }
    s"""WITH s AS (
            SELECT ${hits("en")} AS s_en, ${hits("es")} AS s_es, ${hits("fr")} AS s_fr,
                   ${hits("de")} AS s_de,
                   ${hits("zh")} + length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS s_zh
            FROM documents),
          p AS (
            SELECT CASE
              WHEN s_zh > greatest(s_en, s_es, s_fr, s_de) THEN 'zh'
              WHEN s_de > greatest(s_en, s_es, s_fr) THEN 'de'
              WHEN s_fr > greatest(s_en, s_es) THEN 'fr'
              WHEN s_es > s_en THEN 'es'
              ELSE 'en' END AS lang_pred
            FROM s)
          SELECT lang_pred, count(*) AS n FROM p GROUP BY 1 ORDER BY 1"""
  })

  /** Top-3 rarity-weighted terms per doc (log-free tf-idf variant; see
    * CorpusModel.topTermsByRarity for the determinism rationale). Consumes
    * the shared [[docsSharded]] fan-out: the whole-corpus tokenize + term
    * count is a compute-bound pass that a single parquet split would
    * serialize onto one task (the same artifact the similarity joins pay —
    * at real scale the corpus arrives as thousands of splits). */
  private def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    CorpusModel.topTermsByRarity(docsSharded(s, dir), k = 3)
      .orderBy("doc_id", "term")
  // Log-free rarity score: tf·(N+1)/(df+1) in per-row double math over
  // exact integers — identical bits in both engines, unlike libm ln().
  // Rounded BEFORE ranking on both sides so rank and value agree.
  val TfidfTopTerms = QueryDef("tfidf_top_terms", tfidfTopTerms, () =>
    """WITH nrm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM nrm),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM tok WHERE term <> '' GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                  round(CAST(tf.tf AS DOUBLE) * (nn.n + 1) / (dfreq.df + 1), 4) AS score
           FROM tf JOIN dfreq USING (term), nn),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term) AS rn
           FROM scored)
         SELECT doc_id, term, tf, df, score
         FROM ranked WHERE rn <= 3
         ORDER BY doc_id, term""")

  private val Bm25Terms = Seq("spark", "vector", "customer")

  /** BM25 ranked retrieval ([[CorpusModel.bm25TopK]]): top-10 documents for
    * a fixed 3-term query. The emitted columns are the integer per-doc
    * stats; the float score stays internal (libm `ln` is not bit-pinned
    * across engines) — the top-k SET is the oracle-checked contract. The
    * only cross-engine hazard is a rank-10/11 near-tie between DISTINCT
    * profiles; MEASURED boundary gaps on the pinned corpora are 3.1e-3 /
    * 1.6e-2 / 9.8e-3 relative (sf0.1/0.01/0.001) — ~10^13 ulps of headroom
    * over the ≤1-ulp `ln` divergence, the same verified-at-all-scales
    * justification as the SRP oracle. Exact ties (identical profiles)
    * break on doc_id identically in both engines. */
  private def bm25Search(s: SparkSession, dir: String): DataFrame =
    CorpusModel.bm25TopK(t(s, dir, "documents"), Bm25Terms, topK = 10)
      .select(col("doc_id"), col("n_hits"), col("tf_total"), col("dl"))
      .orderBy("doc_id")
  // BM25 recomputed end-to-end: same tokenization as tfidf_top_terms, same
  // Lucene-idf formula with identical parenthesization (the IEEE op
  // sequence matches the Spark side except libm ln's ≤1 ulp), per-doc
  // score folded in term order (sum ... ORDER BY term). Only the top-10
  // SET with integer stats is emitted; boundary ties break on doc_id in
  // both engines.
  val Bm25Search = QueryDef("bm25_search", bm25Search, () =>
    """WITH nrm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         dls AS (SELECT doc_id,
                        len(list_filter(string_split(t, ' '), x -> x <> '')) AS dl
                 FROM nrm),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dls),
         tok AS (SELECT nrm.doc_id, dls.dl,
                        unnest(string_split(nrm.t, ' ')) AS term
                 FROM nrm JOIN dls USING (doc_id)),
         tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                FROM tok WHERE term IN ('spark', 'vector', 'customer')
                GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln((CAST(stats.n - dfreq.df AS DOUBLE) + 0.5)
                          / (CAST(dfreq.df AS DOUBLE) + 0.5) + 1.0)
                      * (CAST(tf.tf AS DOUBLE) * 2.2
                         / (tf.tf + 1.2 * (1.0 - 0.75
                              + 0.75 * CAST(tf.dl AS DOUBLE)
                                  / (CAST(stats.sum_dl AS DOUBLE) / stats.n))))
                      ORDER BY tf.term) AS score,
                  count(*) AS n_hits, CAST(sum(tf.tf) AS BIGINT) AS tf_total,
                  CAST(max(tf.dl) AS BIGINT) AS dl
           FROM tf JOIN dfreq USING (term), stats
           GROUP BY tf.doc_id)
         SELECT doc_id, n_hits, tf_total, dl
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 10)
         ORDER BY doc_id""")

  /** Reciprocal-rank fusion (Cormack et al.'s RRF, the standard hybrid-
    * search combiner): BM25 top-20 fused with an all-integer raw-term-
    * frequency ranking of the SAME query — both rankings derive from one
    * [[CorpusModel.bm25Scores]] tf pass, no re-tokenization per ranker.
    * rrf(d) = Σ_r 1/(60 + rank_r(d)), absent rankings contribute 0; each
    * term is one correctly-rounded division of exact integers, the sum is
    * one pinned addition — so scores (and the final ranking) reproduce
    * bit-for-bit.
    *
    * Plan shape for 100 TB: each ranker's top-20 is a TakeOrderedAndProject
    * over the ONCE-materialized score frame (distributed per-partition
    * top-k, driver merge of 20·P rows) — never a rank window over the
    * matching-doc-sized frame, which would funnel every scored document
    * through one task. Ranks over ranks > 20 contribute nothing to RRF
    * (absent = 0), so cutting BEFORE ranking is semantically exact. The
    * rank assignment itself is window-free: a constant-size global fold
    * (collect_list → array_sort → posexplode) over ≤20 rows per ranker and
    * ≤40 fused rows (the bounded single-partition aggregates PlanLint
    * allow-lists, like bm25_search's 1-row corpus stats). */
  private def hybridRrfSearch(s: SparkSession, dir: String): DataFrame = {
    // ONE tf pass, materialized: both top-20 cuts read the checkpointed
    // frame instead of re-running the tokenize/tf/df pipeline per ranker
    val scores = CorpusModel.bm25Scores(t(s, dir, "documents"), Bm25Terms)
      .localCheckpoint(true)
    // positional ranks for a ≤20-row frame without a WindowExec: sort key
    // ascending = desired order (negating a finite double/long is exact),
    // doc_id breaks ties, payload fields after the unique tie-break never
    // participate in the comparison
    def foldRanks(top: DataFrame, sortKey: Column, rankName: String): DataFrame =
      top.agg(array_sort(collect_list(struct(sortKey.as("k"),
                col("doc_id").as("doc_id")))).as("a"))
        .select(posexplode(col("a")).as(Seq("pos", "x")))
        .select(col("x.doc_id").as("doc_id"),
                (col("pos") + 1).cast("long").as(rankName))
    val bmR = foldRanks(
      scores.orderBy(col("score").desc, col("doc_id")).limit(20),
      negate(col("score")), "rank_bm25")
    val tfR = foldRanks(
      scores.orderBy(col("tf_total").desc, col("n_hits").desc,
                     col("doc_id")).limit(20),
      struct(negate(col("tf_total")).as("t"), negate(col("n_hits")).as("h")),
      "rank_tf")
    // union-of-top-20s fusion: one hash aggregate over ≤40 rows (a full
    // outer join would plan a sort-merge over two exchanges for the same
    // constant-size result)
    val fused = bmR.withColumn("rank_tf", lit(null).cast("long"))
      .unionByName(tfR.withColumn("rank_bm25", lit(null).cast("long")))
      .groupBy(col("doc_id"))
      .agg(max(col("rank_bm25")).as("rank_bm25"),
           max(col("rank_tf")).as("rank_tf"))
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(60L) + col("rank_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60L) + col("rank_tf")), lit(0.0)))
    fused.agg(array_sort(collect_list(struct(negate(col("rrf_score")).as("k"),
          col("doc_id").as("doc_id"), col("rank_bm25").as("rank_bm25"),
          col("rank_tf").as("rank_tf")))).as("a"))
      .select(posexplode(col("a")).as(Seq("pos", "x")))
      .select(col("x.doc_id").as("doc_id"), col("x.rank_bm25").as("rank_bm25"),
              col("x.rank_tf").as("rank_tf"),
              negate(col("x.k")).as("rrf_score"),
              (col("pos") + 1).cast("long").as("final_rank"))
      .orderBy("final_rank")
  }
  // Reciprocal-rank fusion: the bm25_search scored frame feeds BOTH
  // rankings (BM25, raw tf); rrf terms are 1.0/(60+rank) divisions of
  // exact integers — bit-identical, so the fused ranking replays exactly.
  val HybridRrfSearch = QueryDef("hybrid_rrf_search", hybridRrfSearch, () =>
    """WITH nrm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         dls AS (SELECT doc_id,
                        len(list_filter(string_split(t, ' '), x -> x <> '')) AS dl
                 FROM nrm),
         stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dls),
         tok AS (SELECT nrm.doc_id, dls.dl,
                        unnest(string_split(nrm.t, ' ')) AS term
                 FROM nrm JOIN dls USING (doc_id)),
         tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                FROM tok WHERE term IN ('spark', 'vector', 'customer')
                GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT tf.doc_id,
                  sum(ln((CAST(stats.n - dfreq.df AS DOUBLE) + 0.5)
                          / (CAST(dfreq.df AS DOUBLE) + 0.5) + 1.0)
                      * (CAST(tf.tf AS DOUBLE) * 2.2
                         / (tf.tf + 1.2 * (1.0 - 0.75
                              + 0.75 * CAST(tf.dl AS DOUBLE)
                                  / (CAST(stats.sum_dl AS DOUBLE) / stats.n))))
                      ORDER BY tf.term) AS score,
                  count(*) AS n_hits, CAST(sum(tf.tf) AS BIGINT) AS tf_total
           FROM tf JOIN dfreq USING (term), stats
           GROUP BY tf.doc_id),
         a AS (SELECT doc_id,
                      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_bm25
               FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)),
         b AS (SELECT doc_id,
                      CAST(row_number() OVER (ORDER BY tf_total DESC, n_hits DESC, doc_id) AS BIGINT) AS rank_tf
               FROM (SELECT * FROM scored
                     ORDER BY tf_total DESC, n_hits DESC, doc_id LIMIT 20)),
         f AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                      a.rank_bm25, b.rank_tf,
                      coalesce(CAST(1.0 AS DOUBLE) / (60 + a.rank_bm25), 0.0)
                        + coalesce(CAST(1.0 AS DOUBLE) / (60 + b.rank_tf), 0.0) AS rrf_score
               FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         SELECT doc_id, rank_bm25, rank_tf, rrf_score,
                CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS final_rank
         FROM f ORDER BY final_rank""")

  /** Gopher/MassiveText-style per-document quality rules (Rae et al. 2021),
    * the word-level subset (the corpus has no line structure): word count in
    * [50, 100k], mean word length in [3, 10], ≥ 80% of whitespace tokens
    * contain a letter, symbol-to-word ratio ≤ 0.1, ≥ 2 stopword hits. Every
    * boundary is evaluated in INTEGER cross-multiplied form (sum ≥ 3·n
    * instead of sum/n ≥ 3) so no engine ever divides — the flags are exact
    * everywhere. Pure codegen'd projection, parquet-scan speed. */
  private def gopherQuality(s: SparkSession, dir: String): DataFrame = {
    // all eight counters from ONE native expression (TextStatsExpr; codegen
    // subexpression elimination evaluates the shared struct once per row) —
    // the HOF regex/aggregate forms survive as GopherStatsParity's reference
    val st = graft.functions.NativeExprs.textStats(
      col("text"), TextAnalysis.Stopwords("en"))
    val nWords = st.getField("n_words")
    val sumWlen = st.getField("sum_wlen")
    val nToks = st.getField("n_toks")
    val nAlphaToks = st.getField("n_alpha_toks")
    val nSym = st.getField("n_hash") + st.getField("n_ellipsis")
    val nStop = st.getField("n_stop")
    t(s, dir, "documents").select(
        col("doc_id"), nWords.as("n_words"), sumWlen.as("sum_wlen"),
        (nWords >= 50L && nWords <= 100000L).as("ok_nwords"),
        (sumWlen >= nWords * 3L && sumWlen <= nWords * 10L).as("ok_wlen"),
        (nAlphaToks * 5L >= nToks * 4L).as("ok_alpha"),
        (nSym * 10L <= nWords).as("ok_symbols"),
        (nStop >= 2L).as("ok_stopwords"))
      .withColumn("gopher_pass",
        col("ok_nwords") && col("ok_wlen") && col("ok_alpha") &&
        col("ok_symbols") && col("ok_stopwords"))
      .orderBy("doc_id")
  }
  // Gopher word-level rules: every boundary is integer cross-multiplied on
  // both sides — no division anywhere, the flags are exact in any engine.
  val GopherQuality = QueryDef("gopher_quality", gopherQuality, () =>
    s"""WITH w AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws,
                   regexp_extract_all(text, '\\S+') AS toks,
                   length(text) - length(replace(text, '#', '')) AS nhash,
                   (length(text) - length(replace(text, '...', ''))) // 3 AS nell
            FROM documents),
          m AS (
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
                        AS BIGINT) AS sum_wlen,
                   CAST(len(toks) AS BIGINT) AS n_toks,
                   CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                        AS BIGINT) AS n_alpha,
                   CAST(nhash + nell AS BIGINT) AS n_sym,
                   CAST(len(list_filter(ws, x -> x IN ($EnStop))) AS BIGINT) AS n_stop
            FROM w)
          SELECT doc_id, n_words, sum_wlen,
                 (n_words >= 50 AND n_words <= 100000) AS ok_nwords,
                 (sum_wlen >= n_words * 3 AND sum_wlen <= n_words * 10) AS ok_wlen,
                 (n_alpha * 5 >= n_toks * 4) AS ok_alpha,
                 (n_sym * 10 <= n_words) AS ok_symbols,
                 (n_stop >= 2) AS ok_stopwords,
                 ((n_words >= 50 AND n_words <= 100000)
                  AND (sum_wlen >= n_words * 3 AND sum_wlen <= n_words * 10)
                  AND (n_alpha * 5 >= n_toks * 4)
                  AND (n_sym * 10 <= n_words)
                  AND (n_stop >= 2)) AS gopher_pass
          FROM m ORDER BY doc_id""")

  private val QcIters = 30

  private val QcLr = 1.0

  private val QcLabelChars = 300

  // learned classifier weights per (session, corpus) — the same
  // data-dependent-oracle lifecycle as the BPE merges and the int8 scales
  private def qcWeightsFor(s: SparkSession, dir: String): Array[Double] =
    Artifacts.value(s, dir, "qc_weights", "documents") {
      graft.operators.QualityClassifier.train(t(s, dir, "documents"),
        col("n_chars") >= QcLabelChars, QcIters, QcLr)
    }

  /** Model-based quality filter ([[graft.operators.QualityClassifier]]): logistic
    * regression trained on the corpus (label: long documents), applied as a
    * LINEAR-margin scoring pass. The oracle replays the learned weights as
    * literals over the identical left-associated feature fold, so every
    * margin — and the `pass` flag — reproduces bit-for-bit. */
  private def qualityClassifierQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityClassifier.score(t(s, dir, "documents"), qcWeightsFor(s, dir))
      .select(col("doc_id"), col("n_chars"), col("margin"), col("pass"))
      .orderBy("doc_id")
  // Learned-weights replay (data-dependent, like the BPE merges): margins
  // reproduce bit-for-bit because scoring is a pinned IEEE sequence.
  val QualityClassifier = QueryDef("quality_classifier", qualityClassifierQ, () =>
    Artifacts.last[Array[Double]]("qc_weights").map(qcOracleSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                           CAST(NULL AS BIGINT) AS n_chars,
                           CAST(NULL AS DOUBLE) AS margin,
                           CAST(NULL AS BOOLEAN) AS pass
                    WHERE 1 = 0"""))

  private def qcOracleSql(w: Array[Double]): String =
    s"""WITH f AS (
          SELECT doc_id, n_chars,
                 CAST(len(ws) AS DOUBLE) AS nw,
                 CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
                      AS DOUBLE) AS swl,
                 CAST(len(list_filter(ws, x -> x IN ($EnStop))) AS DOUBLE) AS nstop,
                 CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))
                      AS DOUBLE) AS np,
                 CAST(length(text) AS DOUBLE) AS nc
          FROM (SELECT doc_id, n_chars, text,
                       regexp_extract_all(lower(text), '[a-z]+') AS ws
                FROM documents)),
        m AS (
          SELECT doc_id, n_chars,
                 1.0 * ${w(0)}
                 + (nw / 100.0) * ${w(1)}
                 + coalesce(nstop / nullif(nw, 0), 0.0) * ${w(2)}
                 + (coalesce(swl / nullif(nw, 0), 0.0) / 10.0) * ${w(3)}
                 + coalesce(np / nullif(nc, 0), 0.0) * ${w(4)} AS margin
          FROM f)
        SELECT doc_id, n_chars, margin, margin > 0 AS pass
        FROM m ORDER BY doc_id"""

  private val PhraseTerms = Seq("key", "value")

  /** Exact phrase search ([[CorpusModel.phraseSearch]]): positional-postings
    * adjacency join for the fixed phrase — the scalable `LIKE '%key value%'`.
    * All-integer output (match count, first 0-based word position). */
  private def phraseSearchDocs(s: SparkSession, dir: String): DataFrame =
    CorpusModel.phraseSearch(t(s, dir, "documents"), PhraseTerms)
      .orderBy("doc_id")
  // Positional-postings phrase search replayed as a direct adjacency scan
  // over the word list (1-based in DuckDB; start is 0-based on both sides).
  val PhraseSearch = QueryDef("phrase_search", phraseSearchDocs, () => {
    val conds = PhraseTerms.zipWithIndex.map { case (term, j) =>
      s"ws[CAST(i.i AS INT) + $j] = '$term'"
    }.mkString(" AND ")
    s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
                     FROM documents),
          s AS (SELECT doc_id, CAST(i.i - 1 AS INT) AS start
                FROM w, LATERAL (SELECT unnest(range(1, len(ws) - ${PhraseTerms.length - 2}))
                                 AS i) i
                WHERE $conds)
          SELECT doc_id, count(*) AS n_matches, min(start) AS first_pos
          FROM s GROUP BY 1 ORDER BY 1"""
  })

  /** Per-GROUP mergeable frequent-items states ([[graft.functions
    * .FrequencySketch]]): top-5 words per source via one sketch state per
    * (source, half), re-merged per source — the grouped form of
    * topk_words_sketch's split-merge lifecycle. Oracled because the
    * corpus vocabulary is far below the sketch map size (never evicts →
    * exact); the evicting regime is error-bound-tested in ScalaTest. */
  private def topkWordsBySource(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.FrequencySketch
    val wr = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("word"))
    t(s, dir, "documents")
      .select(col("source"), (col("doc_id") % 2).as("half"),
              explode(TextAnalysis.words(col("text"))).as("word"))
      .groupBy(col("source"), col("half"))
      .agg(FrequencySketch.topKState(col("word")).as("state"))
      .groupBy(col("source"))
      .agg(FrequencySketch.topKMergeState(col("state")).as("merged"))
      .select(col("source"), explode(FrequencySketch.topKEstimate(col("merged"), 40)).as("t"))
      .select(col("source"), col("t.item").as("word"), col("t.est").as("n"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("word"), col("n"))
      .orderBy("source", "rank")
  }
  // Per-source top-5 words — the sketch runs in its exact (non-evicting)
  // regime, so plain counts + a deterministic rank replay it.
  val TopkWordsBySource = QueryDef("topk_words_by_source", topkWordsBySource, () =>
    """WITH w AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                    FROM documents),
         c AS (SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2),
         r AS (SELECT source, word, n,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY n DESC, word) AS rank
               FROM c)
         SELECT source, CAST(rank AS INT) AS rank, word, n
         FROM r WHERE rank <= 5 ORDER BY source, rank""")

  /** Tokenizer-vocabulary induction: the 100 most frequent words with
    * counts — the seed step of building a BPE/WordPiece vocab over a corpus.
    * One explode + count; map-side partial aggregation makes the shuffle
    * O(distinct words), and the top-k is a TakeOrdered, not a global sort. */
  private def vocabTopWords(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextAnalysis.words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(100)
  val VocabTopWords = QueryDef("vocab_top_words", vocabTopWords, () =>
    """SELECT word, count(*) AS n
         FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
               FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 100""")

  /** Shard-vs-shard vocabulary drift ([[CorpusModel.vocabOverlap]]): the
    * two doc_id-parity halves of the corpus compared by top-200-word
    * overlap — all-integer sets with word-string tie-breaks, exactly
    * engine-reproducible. */
  private def vocabDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    CorpusModel.vocabOverlap(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), k = 200)
  }
  // Both deterministic top-k sets rebuilt in SQL (count DESC, word ties),
  // all-integer overlap; the one division is a single IEEE op on two
  // integers, identical in both engines.
  val VocabDrift = QueryDef("vocab_drift", vocabDrift, () =>
    """WITH wa AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                     FROM documents WHERE doc_id % 2 = 0),
         wb AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                FROM documents WHERE doc_id % 2 <> 0),
         ta AS (SELECT word FROM (SELECT word, count(*) AS n FROM wa GROUP BY word
                                  ORDER BY n DESC, word LIMIT 200)),
         tb AS (SELECT word FROM (SELECT word, count(*) AS n FROM wb GROUP BY word
                                  ORDER BY n DESC, word LIMIT 200)),
         st AS (SELECT (SELECT count(*) FROM ta) AS n_top_a,
                       (SELECT count(*) FROM tb) AS n_top_b,
                       (SELECT count(*) FROM ta WHERE word IN (SELECT word FROM tb))
                         AS n_common)
         SELECT n_top_a, n_top_b, n_common,
                round(CAST(n_common AS DOUBLE) / (n_top_a + n_top_b - n_common), 4)
                  AS vocab_jaccard
         FROM st""")

  /** Composed cleaning pipeline — the operators chained the way a real
    * pre-training pass runs them: PII-redact → quality-gate (stopword ratio,
    * token count, repetition) → exact-dedup (lowest id per normalized masked
    * text) → per-language stats. Verifies COMPOSITION, not just each stage.
    *
    * The redaction stage is MATERIALIZED (localCheckpoint) before the gates:
    * otherwise Catalyst's projection collapse inlines the redaction regexes
    * into every downstream consumer — filters, dedup key, token sum — and
    * recomputes them per use (observed 6×: 23 s instead of ~2 s at sf0.1).
    * A production pipeline persists each stage's output for the same reason. */
  private def pipelineCleanStats(s: SparkSession, dir: String): DataFrame = {
    val masked = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
              TextAnalysis.redactPii(col("text")).as("text"))
      .localCheckpoint(true)
    val gated = masked.filter(
      TextAnalysis.stopwordRatio(col("text")) >= 0.05 &&
      TextAnalysis.tokenCount(col("text")) >= 20 &&
      TextAnalysis.repetitionRatio(col("text")) < 0.2)
    Dedup.dropExactDuplicates(gated)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("sum_tokens"))
      .orderBy("lang")
  }
  val PipelineCleanStats = QueryDef("pipeline_clean_stats", pipelineCleanStats, () => {
    val toks = "regexp_extract_all(lower(text), '[a-z]+')"
    val rep =
      s"""coalesce((len(t3) - len(list_distinct(t3)))::DOUBLE / nullif(len(t3), 0), 0.0)"""
    s"""WITH m AS (
            SELECT doc_id, lang,
                   regexp_replace(regexp_replace(text,
                     '${TextAnalysis.EmailPattern}', '<email>', 'g'),
                     '${TextAnalysis.LongNumberPattern}', '<num>', 'g') AS text
            FROM documents),
          r AS (
            SELECT *, CASE WHEN len($toks) >= 3
                        THEN list_transform(range(1, len($toks) - 1),
                               i -> array_to_string(list_slice($toks, i, i + 2), ' '))
                        ELSE [] END AS t3
            FROM m),
          g AS (
            SELECT doc_id, lang, text FROM r
            WHERE coalesce(len(list_filter($toks, w -> list_contains([$EnStop], w)))::DOUBLE
                           / nullif(len($toks), 0), 0.0) >= 0.05
              AND len(regexp_extract_all(text, '\\S+')) >= 20
              AND $rep < 0.2),
          d AS (
            SELECT *, row_number() OVER (
                        PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                        ORDER BY doc_id) AS rn
            FROM g)
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS sum_tokens
          FROM d WHERE rn = 1 GROUP BY lang ORDER BY lang"""
  })

  /** ClickHouse `topK` via mergeable frequent-items sketches: per-half
    * partial states over the corpus words, re-merged, top-20 extracted — the
    * same split-merge lifecycle as the HLL/KLL states. Oracle-checked
    * because the corpus vocabulary (31 words) is far below the sketch's
    * map size, so it never evicts and estimates are EXACT; the evicting
    * (approximate) regime is error-bound-tested in ScalaTest. */
  private def topkWordsSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.FrequencySketch
    t(s, dir, "documents")
      .select((col("doc_id") % 2).as("part"),
              explode(TextAnalysis.words(col("text"))).as("word"))
      .groupBy(col("part"))
      .agg(FrequencySketch.topKState(col("word")).as("state"))
      .agg(FrequencySketch.topKMergeState(col("state")).as("merged"))
      .select(explode(FrequencySketch.topKEstimate(col("merged"), 20)).as("t"))
      .select(col("t.item").as("word"), col("t.est").as("n"))
      .orderBy(col("n").desc, col("word"))
  }
  // exact while the vocabulary fits the sketch map (it does, by 8×) — see
  // topkWordsSketch
  val TopkWordsSketch = QueryDef("topk_words_sketch", topkWordsSketch, () =>
    """SELECT word, count(*) AS n
         FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
               FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 20""")

  /** PII redaction pass: per-doc mask counts + digest of the masked text
    * (the digest proves the byte-exact transform, even where counts are 0). */
  private def piiRedaction(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.emailCount(col("text")).as("n_emails"),
        TextAnalysis.longNumberCount(col("text")).as("n_longnums"),
        md5(TextAnalysis.redactPii(col("text")).cast("binary")).as("fp_redacted"))
      .orderBy("doc_id")
  val PiiRedaction = QueryDef("pii_redaction", piiRedaction, () => {
    // DuckDB's standard SQL strings keep backslashes literal — embed the
    // Scala regex strings (single backslash) verbatim
    val email = TextAnalysis.EmailPattern
    val num = TextAnalysis.LongNumberPattern
    s"""SELECT doc_id,
                 len(regexp_extract_all(text, '$email')) AS n_emails,
                 len(regexp_extract_all(text, '$num')) AS n_longnums,
                 md5(regexp_replace(regexp_replace(text, '$email', '<email>', 'g'),
                                    '$num', '<num>', 'g')) AS fp_redacted
          FROM documents ORDER BY doc_id"""
  })

  private val RareP = 0.01

  /** Corpus-model scoring: train the char-bigram table on the whole corpus,
    * score every document's transitions against it (see [[CorpusModel]]). */
  private def textBigramRarity(s: SparkSession, dir: String): DataFrame =
    CorpusModel.rareTransitionStats(t(s, dir, "documents"), RareP)
      .orderBy("doc_id")
  val TextBigramRarity = QueryDef("text_bigram_rarity", textBigramRarity, () =>
    s"""WITH n AS (
            SELECT doc_id,
                   regexp_replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  '[^a-z ]', '', 'g') AS t
            FROM documents),
          db AS (SELECT doc_id, substr(t, CAST(i AS INT), 2) AS b
                 FROM n, LATERAL (SELECT unnest(range(1, length(t))) AS i) s),
          bc AS (SELECT b, count(*) AS c FROM db GROUP BY b),
          pc AS (SELECT substr(b, 1, 1) AS p, CAST(sum(c) AS BIGINT) AS pt
                 FROM bc GROUP BY 1),
          scored AS (
            SELECT d.doc_id,
                   (coalesce(bc.c, 0) + 1.0) / (coalesce(pc.pt, 0) + 27.0) AS prob
            FROM db d
            LEFT JOIN bc ON d.b = bc.b
            LEFT JOIN pc ON substr(d.b, 1, 1) = pc.p),
          agg AS (SELECT doc_id, count(*) AS n_transitions,
                         CAST(count(*) FILTER (WHERE prob < $RareP) AS BIGINT) AS n_rare,
                         min(prob) AS min_p
                  FROM scored GROUP BY doc_id)
          SELECT n.doc_id,
                 CAST(coalesce(agg.n_transitions, 0) AS BIGINT) AS n_transitions,
                 coalesce(agg.n_rare, 0) AS n_rare, agg.min_p
          FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
          ORDER BY n.doc_id""")

  private val ContamN = 5

  private lazy val contaminationOracle: String =
    s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
                   FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(ws) >= $ContamN THEN
                       list_distinct(list_transform(
                         range(1, len(ws) - ${ContamN - 2}),
                         i -> array_to_string(list_slice(ws, i, i + ${ContamN - 1}), ' ')))
                     ELSE [] END AS grams
              FROM w),
        corpus AS (SELECT DISTINCT unnest(grams) AS gram FROM g
                   WHERE doc_id % 50 <> 0),
        probe AS (SELECT doc_id, grams FROM g WHERE doc_id % 50 = 0),
        pg AS (SELECT doc_id, unnest(grams) AS gram FROM probe),
        m AS (SELECT pg.doc_id, count(*) AS n_contaminated
              FROM pg WHERE EXISTS (SELECT 1 FROM corpus c WHERE c.gram = pg.gram)
              GROUP BY pg.doc_id)
        SELECT p.doc_id, len(p.grams) AS n_grams,
               coalesce(m.n_contaminated, 0) AS n_contaminated,
               coalesce(CAST(coalesce(m.n_contaminated, 0) AS DOUBLE)
                        / nullif(len(p.grams), 0), 0.0) AS contamination
        FROM probe p LEFT JOIN m ON p.doc_id = m.doc_id
        ORDER BY p.doc_id"""

  /** Decontamination probe: every 50th document plays the "benchmark eval
    * set"; the rest are the training corpus. Fraction of each probe's
    * distinct word 5-grams found anywhere in the corpus. */
  private def contaminationCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.ngramContamination(
        corpus = docs.filter(col("doc_id") % 50 =!= 0),
        probes = docs.filter(col("doc_id") % 50 === 0),
        n = ContamN)
      .orderBy("doc_id")
  }
  val ContaminationCheck = QueryDef("contamination_check", contaminationCheck, () =>
    contaminationOracle)

  /** The corpus's distinct-gram frame and its Bloom filter — ingest-time
    * artifacts (one corpus pass each, consumed by every probe set
    * thereafter), warmed by [[warmIngestArtifacts]] like the LSH index. The
    * Bloom bytes ride in a 1-row frame so they live in the same
    * materialized cache; the query-time read-back is a 1-row collect. */
  // the bloom BYTES are a per-(session, dir) constant: re-head()ing the
  // 1-row materialized frame billed a driver job to every probe execution
  private def contamArtifacts(s: SparkSession, dir: String): (DataFrame, Array[Byte]) = {
    val cg = Artifacts.frame(s, dir, "contam_corpus_grams", "documents") {
      Dedup.corpusGramFrame(
        t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0), ContamN)
    }
    val bytes = Artifacts.value(s, dir, "contam_bloom_bytes", "documents") {
      val bloomDf = Artifacts.frame(s, dir, "contam_gram_bloom", "documents") {
        import s.implicits._
        val b = Dedup.buildGramBloom(cg, math.max(1L, cg.count()))
        Seq(b).toDF("bloom")
      }
      bloomDf.head().getAs[Array[Byte]]("bloom")
    }
    (cg, bytes)
  }

  /** Same decontamination result behind the corpus Bloom prefilter — the
    * shape that sheds the probe-gram shuffle at 100 TB. Exact (see
    * [[graft.operators.Dedup.ngramContaminationBloom]]), so it shares the
    * plain operator's oracle. The gram frame and the filter are the warmed
    * [[contamArtifacts]]; the timed work is the probe itself — the
    * codegen'd Bloom shed plus the residual semi join. */
  private def contaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.ngramContaminationBloom(
        corpus = docs.filter(col("doc_id") % 50 =!= 0),
        probes = docs.filter(col("doc_id") % 50 === 0),
        n = ContamN,
        prebuilt = Some(contamArtifacts(s, dir)))
      .orderBy("doc_id")
  }
  // exact by construction (Bloom has no false negatives; false positives
  // die in the verify join) → shares the plain operator's oracle
  val ContaminationBloom = QueryDef("contamination_bloom", contaminationBloom, () =>
    contaminationOracle)

  /** Inter-document duplication profile: per doc, the fraction of its
    * distinct word 8-grams shared with at least one OTHER document
    * ([[graft.operators.Dedup.interDocDupNgramStats]]). The corpus-health
    * complement of `text_repetition` (within-doc) and `contamination_check`
    * (train-vs-eval). */
  private def dupNgramFrac(s: SparkSession, dir: String): DataFrame =
    Dedup.interDocDupNgramStats(t(s, dir, "documents"), DupN)
      .orderBy("doc_id")
  // The hashed pipeline replayed literally: same [a-z]+ words, same
  // distinct 8-gram strings, same 60-bit md5 parse (so even a collision
  // would reproduce identically), same count/join/divide.
  val DupNgramFrac = QueryDef("dup_ngram_frac", dupNgramFrac, () => {
    val parse15 = (1 to 15).map { j =>
      val pow = 1L << (4 * (15 - j)) // 16^(15-j)
      s"(strpos('0123456789abcdef', substr(m, $j, 1)) - 1) * $pow"
    }.mkString(" + ")
    s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
                     FROM documents),
          g AS (SELECT doc_id,
                       CASE WHEN len(ws) >= $DupN THEN
                         list_distinct(list_transform(
                           range(1, len(ws) - ${DupN - 2}),
                           i -> array_to_string(list_slice(ws, i, i + ${DupN - 1}), ' ')))
                       ELSE [] END AS grams
                FROM w),
          pg AS (SELECT doc_id, $parse15 AS gh
                 FROM (SELECT doc_id, md5(unnest(grams)) AS m FROM g)),
          gdf AS (SELECT gh, count(*) AS df FROM pg GROUP BY 1),
          st AS (SELECT pg.doc_id, count(*) AS n_grams,
                        sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS n_dup_grams
                 FROM pg JOIN gdf USING (gh) GROUP BY pg.doc_id)
          SELECT d.doc_id,
                 CAST(coalesce(st.n_grams, 0) AS BIGINT) AS n_grams,
                 CAST(coalesce(st.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
                 coalesce(CAST(st.n_dup_grams AS DOUBLE) / nullif(st.n_grams, 0),
                          0.0) AS dup_frac
          FROM documents d LEFT JOIN st USING (doc_id)
          ORDER BY d.doc_id"""
  })

  /** Mixture rebalancing ([[graft.operators.Sampling.mixtureSample]]): every
    * source downsampled to the minority source's count — the equal-mix
    * recipe; kept set chosen by the engine-agnostic multiplicative hash, so
    * the oracle reproduces it integer-for-integer. */
  // minority-source count: a corpus constant (domainCapFor caching class);
  // warmed at ingest
  private def rebalanceKMinFor(s: SparkSession, dir: String): Long =
    Artifacts.value(s, dir, "rebalance_kmin", "documents") {
      t(s, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n")).agg(min(col("n"))).head().getLong(0)
    }

  private def sourceRebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val kMin = rebalanceKMinFor(s, dir)
    val targets = counts.select(col("source"), lit(kMin).as("k"))
    Sampling.mixtureSample(docs, "source", "doc_id", targets)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }
  val SourceRebalance = QueryDef("source_rebalance", sourceRebalance, () =>
    s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
          k AS (SELECT min(n) AS k FROM c),
          r AS (SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source
                         ORDER BY (doc_id * ${Sampling.Knuth}) % 1000000007, doc_id) AS rn
                FROM documents)
          SELECT doc_id, source FROM r, k WHERE rn <= k.k
          ORDER BY doc_id""")

  /** Per-domain cap + mixture sampling
    * ([[graft.operators.Sampling.domainCappedSample]], the RefinedWeb
    * discipline): no language may contribute more than ~60% of the mean
    * per-lang share (all-integer boundary — no rational-threshold rounding
    * hazard), then every source is downsampled to the minority source's
    * POST-CAP count. Both stages rank by the engine-agnostic multiplicative
    * hash, so the oracle replays the kept set integer-for-integer. */
  // cap + per-source targets are corpus CONSTANTS (the quantScales/cdcOffset
  // class): derived once per (session, dir) at ingest, consumed per query —
  // re-deriving them would bill two driver-scalar jobs to every run
  private def domainCapFor(s: SparkSession, dir: String): (Int, Long, Seq[String]) =
    Artifacts.value(s, dir, "domain_cap", "documents") {
      val docs = t(s, dir, "documents")
      // two-level aggregate (never a mixed distinct-agg Expand): lang
      // counts, then their sum/count — total and nLang in one shuffle
      val lr = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")), count(lit(1))).head()
      val total = lr.getLong(0); val nLang = lr.getLong(1)
      val cap = ((6L * total) / (10L * nLang) + 1L).toInt // Long div == floor (positive)
      val sc = Sampling.stratifiedSample(docs, "lang", "doc_id", cap)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .collect() // group-cardinality-sized
      (cap, sc.map(_.getLong(1)).min, sc.map(_.getString(0)).sorted.toSeq)
    }

  /** Deterministic URL planting (closed-form in doc_id — the htmlify
    * corruption-inverse pattern): scheme/subdomain/case/port/query variants
    * around a registrable core `site<id%10>.<suffix(id%4)>`, plus an IPv4
    * lane. The oracle never parses these — it regenerates the EXPECTED
    * registrable domain from the same arithmetic, so the native extraction
    * is tested end-to-end. */
  private def plantedUrl: Column = {
    val id = col("doc_id")
    val scheme = when(pmod(id, lit(2)) === 0, lit("http://")).otherwise(lit("https://"))
    val sub = element_at(array(lit(""), lit("www."), lit("blog."), lit("a.b."),
                               lit("cdn.www.")), pmod(id, lit(5)).cast("int") + 1)
    val hostBase = when(pmod(id, lit(7)) === 0, lit("Site")).otherwise(lit("site"))
    val sfx = element_at(array(lit("com"), lit("co.uk"), lit("github.io"),
                               lit("org")), pmod(id, lit(4)).cast("int") + 1)
    val port = when(pmod(id, lit(11)) === 0, lit(":8080")).otherwise(lit(""))
    val qs = when(pmod(id, lit(3)) === 0, lit("?x=1&y=2")).otherwise(lit(""))
    when(pmod(id, lit(13)) === 0,
         concat(lit("http://192.168.0."), pmod(id, lit(9)).cast("string"), lit("/x")))
      .otherwise(concat(scheme, sub, hostBase, pmod(id, lit(10)).cast("string"),
                        lit("."), sfx, port, lit("/p/"), id.cast("string"), qs))
  }

  private def docsWithUrlDomain(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("url", plantedUrl)
      .withColumn("domain", TextAnalysis.registeredDomain(col("url")))

  // registrable-domain cap constants: same corpus-constant class (and the
  // same 60%-of-mean integer rule) as domainCapFor, keyed on the EXTRACTED
  // domain instead of a clean label — derived once per (session, dir)
  private def urlDomainCapFor(s: SparkSession, dir: String): (Int, Long, Seq[String]) =
    Artifacts.value(s, dir, "url_domain_cap", "documents") {
      val docs = docsWithUrlDomain(s, dir)
      val dr = docs.groupBy(col("domain")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")), count(lit(1))).head()
      val total = dr.getLong(0); val nDom = dr.getLong(1)
      val cap = ((6L * total) / (10L * nDom) + 1L).toInt
      val sc = Sampling.stratifiedSample(docs, "domain", "doc_id", cap)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .collect() // group-cardinality-sized
      (cap, sc.map(_.getLong(1)).min, sc.map(_.getString(0)).sorted.toSeq)
    }

  /** RefinedWeb per-DOMAIN cap on the registrable domain
    * ([[TextAnalysis.registeredDomain]], a native single-pass public-
    * suffix-lite extraction) feeding [[Sampling.domainCappedSample]] —
    * real-world caps key on `cutToFirstSignificantSubdomain(url)`, not a
    * clean source label. URLs are planted closed-form (scheme / subdomain
    * / case / port / IPv4 variants), so the oracle replays the expected
    * domain arithmetically and the whole extract→cap→mixture pipeline
    * gates on exact kept-set equality. */
  private def urlDomainCaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cap, kMin, sources) = urlDomainCapFor(s, dir)
    val targets = sources.toDF("source").withColumn("k", lit(kMin))
    Sampling.domainCappedSample(docsWithUrlDomain(s, dir), "domain", cap,
                                "source", "doc_id", targets)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_kept"),
           md5(concat_ws(",",
             transform(sort_array(collect_list(col("doc_id"))), _.cast("string")))
             .cast("binary")).as("ids_md5"))
      .orderBy("domain")
  }
  // Registrable-domain cap: the oracle REGENERATES each planted URL's
  // expected registrable domain from the doc_id arithmetic (never parses —
  // the corruption-inverse discipline), then replays the cap/mixture
  // hash ranks integer-for-integer like domain_capped_sample.
  val UrlDomainCaps = QueryDef("url_domain_caps", urlDomainCaps, () =>
    s"""WITH docs AS (SELECT doc_id, source,
                 CASE WHEN doc_id % 13 = 0
                      THEN '192.168.0.' || CAST(doc_id % 9 AS VARCHAR)
                      ELSE 'site' || CAST(doc_id % 10 AS VARCHAR) || '.' ||
                           CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                                WHEN 2 THEN 'github.io' ELSE 'org' END
                 END AS domain
               FROM documents),
          dc AS (SELECT CAST(count(*) AS BIGINT) AS total,
                        CAST(count(DISTINCT domain) AS BIGINT) AS ndom FROM docs),
          cap AS (SELECT (6 * total) // (10 * ndom) + 1 AS cap FROM dc),
          r1 AS (SELECT doc_id, domain, source,
                        row_number() OVER (PARTITION BY domain
                          ORDER BY (doc_id * ${Sampling.Knuth}) % 1000000007, doc_id) AS rn
                 FROM docs),
          capped AS (SELECT r1.doc_id, r1.domain, r1.source FROM r1, cap
                     WHERE r1.rn <= cap.cap),
          sc AS (SELECT source, count(*) AS n FROM capped GROUP BY source),
          kmin AS (SELECT min(n) AS k FROM sc),
          r2 AS (SELECT c.doc_id, c.domain,
                        row_number() OVER (PARTITION BY source
                          ORDER BY (doc_id * ${Sampling.Knuth}) % 1000000007, doc_id) AS rn
                 FROM capped c),
          kept AS (SELECT r2.doc_id, r2.domain FROM r2, kmin
                   WHERE r2.rn <= kmin.k)
          SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
                 md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
          FROM kept GROUP BY domain ORDER BY domain""")

  private def domainCappedSampleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val (cap, kMin, sources) = domainCapFor(s, dir)
    val targets = sources.toDF("source").withColumn("k", lit(kMin)) // LocalRelation
    Sampling.domainCappedSample(docs, "lang", cap, "source", "doc_id", targets)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_kept"),
           md5(concat_ws(",",
             transform(sort_array(collect_list(col("doc_id"))), _.cast("string")))
             .cast("binary")).as("ids_md5"))
      .orderBy("source", "lang")
  }
  // RefinedWeb-style per-domain cap + mixture: both rank stages replay the
  // same multiplicative hash; the cap and the post-cap minority target are
  // all-integer (// is DuckDB floordiv == positive Long division).
  val DomainCappedSample = QueryDef("domain_capped_sample", domainCappedSampleQ, () =>
    s"""WITH lc AS (SELECT CAST(count(*) AS BIGINT) AS total,
                             CAST(count(DISTINCT lang) AS BIGINT) AS nlang
                      FROM documents),
          cap AS (SELECT (6 * total) // (10 * nlang) + 1 AS cap FROM lc),
          r1 AS (SELECT doc_id, lang, source,
                        row_number() OVER (PARTITION BY lang
                          ORDER BY (doc_id * ${Sampling.Knuth}) % 1000000007, doc_id) AS rn
                 FROM documents),
          capped AS (SELECT r1.doc_id, r1.lang, r1.source FROM r1, cap
                     WHERE r1.rn <= cap.cap),
          sc AS (SELECT source, count(*) AS n FROM capped GROUP BY source),
          kmin AS (SELECT min(n) AS k FROM sc),
          r2 AS (SELECT c.doc_id, c.lang, c.source,
                        row_number() OVER (PARTITION BY source
                          ORDER BY (doc_id * ${Sampling.Knuth}) % 1000000007, doc_id) AS rn
                 FROM capped c),
          kept AS (SELECT r2.doc_id, r2.lang, r2.source FROM r2, kmin
                   WHERE r2.rn <= kmin.k)
          SELECT source, lang, CAST(count(*) AS BIGINT) AS n_kept,
                 md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
          FROM kept GROUP BY source, lang ORDER BY source, lang""")

  // learned DSIR bucket weights per (session identity, sfDir) — the
  // train-once + data-dependent-oracle discipline of the tokenizer models:
  // one feature pass fits both bucket models (raw + the lang='en' target
  // slice), the ≤1024-row count frame collects, integer weights embed in
  // plan and oracle alike
  private def dsirWeightsFor(s: SparkSession, dir: String): Dsir.Weights =
    Artifacts.value(s, dir, "dsir_weights", "documents") {
      Dsir.learnWeights(
        Dsir.features(docsSharded(s, dir),
                      extra = Seq((col("lang") === "en").as("t"))))
    }

  /** DSIR importance resampling ([[graft.operators.Dsir]], Xie et al.):
    * hashed-ngram importance weights fit against the English slice as the
    * target domain, every doc scored by the integer-exact weight sum, and
    * the top 20% kept by the deterministic (score desc, doc_id) order —
    * ranked with the distributed two-pass [[Ranks.globalRowNumber]], never
    * a global window (scores are near-unique integers, so the value-domain
    * bounds trick can't shrink this one). The oracle replays the learned
    * weights as literals over the same portable 60-bit gram hash. */
  private def dsirSample(s: SparkSession, dir: String): DataFrame = {
    val w = dsirWeightsFor(s, dir)
    val scored = Dsir.docScores(Dsir.features(docsSharded(s, dir)), w)
    val (kept, _) = Dsir.select(scored)
    kept.select(col("doc_id"), col("n_feats"), col("dsir_score"))
      .orderBy("doc_id")
  }
  // DSIR: learned integer bucket weights as literals over the portable
  // 60-bit gram hash; the top-20% cut replays with a rank window (DuckDB
  // is single-node — the engine side uses the distributed two-pass rank).
  // Untrained fallback is schema-shaped but empty → loud.
  val DsirSample = QueryDef("dsir_sample", dsirSample, () =>
    Artifacts.last[Dsir.Weights]("dsir_weights").map(dsirOracleSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                           CAST(NULL AS BIGINT) AS n_feats,
                           CAST(NULL AS BIGINT) AS dsir_score
                    WHERE 1 = 0"""))

  private def dsirOracleSql(w: Dsir.Weights): String = {
    val parse15 = (1 to 15).map { j =>
      val pow = 1L << (4 * (15 - j)) // 16^(15-j)
      s"(strpos('0123456789abcdef', substr(m, $j, 1)) - 1) * $pow"
    }.mkString(" + ")
    val values = w.byBucket.toSeq.sorted
      .map { case (b, wt) => s"($b,CAST($wt AS BIGINT))" }.mkString(",")
    s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
                   FROM documents),
        g AS (SELECT doc_id, unnest(ws) AS gram FROM w
              UNION ALL
              SELECT doc_id, array_to_string(list_slice(ws, i, i + 1), ' ') AS gram
              FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
        h AS (SELECT doc_id, ($parse15) % ${Dsir.Buckets} AS b
              FROM (SELECT doc_id, md5(gram) AS m FROM g)),
        wt(b, wt) AS (SELECT * FROM (VALUES $values) t(b, wt)),
        sc AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                      CAST(sum(coalesce(wt.wt, ${w.default})) AS BIGINT) AS dsir_score
               FROM h LEFT JOIN wt USING (b) GROUP BY h.doc_id),
        ranked AS (SELECT doc_id, n_feats, dsir_score,
                          row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS r,
                          count(*) OVER () AS n
                   FROM sc)
        SELECT doc_id, n_feats, dsir_score FROM ranked
        WHERE r <= (n + 4) // 5 ORDER BY doc_id"""
  }

  private def multimodalByteStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.byteStats(Multimodal.syntheticMediaTable(t(s, dir, "documents")))
      .orderBy("media_id")
  val MultimodalBytestats = QueryDef("multimodal_bytestats", multimodalByteStats, () =>
    """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS digest
         FROM documents ORDER BY media_id""")

  /** Contract projection keeps every column scalar (frame_plan joined to a
    * CSV string) so the driver's pandas sort/hash can digest the rows. */
  private def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMediaTable(t(s, dir, "documents"))
    Multimodal.frameSamplePlan(
      Multimodal.resizePlan(Multimodal.decodeAll(media).toDF(), maxSide = 512),
      stride = 10, maxFrames = 8)
      .select(col("media_id"), col("format"), col("width"), col("height"),
              col("n_frames"), col("n_bytes"), col("out_width"), col("out_height"),
              size(col("frame_plan")).cast("int").as("n_frames_planned"),
              array_join(col("frame_plan"), ",").as("frame_plan"))
      .orderBy("media_id")
  }
  val MultimodalDecode = QueryDef("multimodal_decode", multimodalDecode, () => {
    val hexVal = (1 to 7).map { i =>
      val pow = math.pow(16, 7 - i).toLong
      s"(strpos('0123456789abcdef', substr(fp, $i, 1)) - 1) * $pow"
    }.mkString(" + ")
    s"""WITH m AS (
            SELECT CAST(doc_id AS BIGINT) AS media_id, md5(text) AS fp,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents),
          h AS (SELECT media_id, n_bytes, $hexVal AS hv FROM m),
          d AS (
            SELECT media_id, n_bytes,
                   ['jpeg', 'png', 'webp', 'wav'][CAST(hv % 4 AS INT) + 1] AS format,
                   CAST(64 + hv % 1024 AS INT) AS width,
                   CAST(64 + (hv // 1024) % 1024 AS INT) AS height,
                   CAST(1 + n_bytes % 256 AS INT) AS n_frames
            FROM h),
          r AS (SELECT *, greatest(width, height) AS ls FROM d),
          z AS (
            SELECT media_id, format, width, height, n_frames, n_bytes,
                   CASE WHEN ls > 512 THEN CAST(floor(width * 512.0 / ls) AS INT)
                        ELSE width END AS out_width,
                   CASE WHEN ls > 512 THEN CAST(floor(height * 512.0 / ls) AS INT)
                        ELSE height END AS out_height,
                   list_slice(range(0, CAST(n_frames AS BIGINT), 10), 1, 8) AS plan
            FROM r)
          SELECT media_id, format, width, height, n_frames, n_bytes,
                 out_width, out_height,
                 CAST(len(plan) AS INT) AS n_frames_planned,
                 array_to_string(plan, ',') AS frame_plan
          FROM z ORDER BY media_id"""
  })

  /** The family's ingest-time artifacts (see [[graft.Warmup]]): the
    * contamination n-gram set and Bloom filter, the trained quality
    * classifier weights, the DSIR bucket models, and the corpus constants of
    * the mixture samplers (domain and registrable-domain caps/targets, the
    * rebalance minority count). Each is built once per corpus and reused by
    * every query run. */
  def warmIngestArtifacts(s: SparkSession, dir: String): Unit = {
    contamArtifacts(s, dir)
    qcWeightsFor(s, dir)
    dsirWeightsFor(s, dir)
    domainCapFor(s, dir)
    urlDomainCapFor(s, dir)
    rebalanceKMinFor(s, dir)
  }
}
