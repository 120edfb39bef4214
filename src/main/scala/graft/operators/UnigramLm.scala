package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Unigram-LM subword tokenization — the SentencePiece unigram family
  * (Kudo, ACL'18; public algorithm), the second mainstream tokenizer next to
  * [[BpeModel]]. A piece vocabulary with per-piece costs is learned from the
  * corpus (seed-substring counting + fixed-round Viterbi-EM + pruning), and
  * encoding is Viterbi segmentation: the piece sequence minimizing total
  * cost, with the fewest pieces among minimum-cost segmentations.
  *
  * Scale shape matches BPE exactly: training runs on the word-TYPE frequency
  * table (ONE corpus-wide `groupBy(word)` shuffle — vocabulary-sized, not
  * corpus-sized) followed by a driver loop over the collected dictionary;
  * application is a per-row projection (native
  * [[graft.functions.NativeExprs.unigramStats]] with a per-partition word
  * memo — cost ∝ distinct words) — no shuffle in the scoring pass.
  *
  * Engine-portability is by INTEGER arithmetic: piece costs are
  * `round(-ln(p) · 1e6)` longs fixed at training time, and the Viterbi DP
  * runs on the combined key `cost · KeyMul + n_pieces` (n_pieces < KeyMul,
  * so lexicographic (cost, n_pieces) minimization is a single integer
  * `min`). Both the (cost, n_pieces) optimum and its per-doc sums are
  * therefore exact and unique — no float comparisons, no path tie-breaks —
  * and the DuckDB oracle replays the SAME DP from the learned vocabulary
  * embedded as literals (an unrolled per-position CTE chain; see
  * [[oracleTokenSql]] — the `srpOracleSql` embedded-constants technique
  * with data-dependent constants, generated after the query has trained).
  */
object UnigramLm {

  /** Integer log-prob scale: cost(piece) = round(-ln(p(piece)) · CostScale). */
  val CostScale = 1000000L

  /** Combined-key multiplier: key = cost·KeyMul + nPieces. Words must be
    * shorter than KeyMul for the packing to hold — asserted at training. */
  val KeyMul = 64L

  /** Cost charged for a single character absent from the vocabulary. Never
    * reached on the training corpus (every seen char is retained as a
    * single-char piece — asserted below); a deterministic escape hatch when
    * the model is applied to other text. ≈ e^-30 probability. */
  val UnkCost: Long = 30L * CostScale

  /** Maximum piece length considered during seeding and DP. */
  val MaxPieceLen = 5

  /** A trained model: pieces with integer costs, plus the max word length
    * the training dictionary exhibited (bounds the oracle's DP unroll). */
  final case class Model(pieces: Seq[(String, Long)], maxWordLen: Int) {
    @transient lazy val costOf: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
      pieces.foreach { case (p, c) => m.put(p, c) }
      m
    }
  }

  /** Train from the corpus: one vocabulary-sized shuffle, then a driver EM
    * loop. Deterministic end-to-end (count-desc/piece-asc total orders,
    * StrictMath.log, fixed round count).
    *
    * Words of length ≥ [[KeyMul]] are OUTSIDE the tokenizer contract (their
    * n_pieces would overflow the packed key bits) — excluded from training
    * and skipped at apply time by every scorer (native expr, docTokenStats,
    * oracle), so all sides agree. `maxWordLen` derives from the FULL
    * word-type table, not the top-`maxVocab` dictionary: the oracle's DP
    * unroll must reach every word the engine scores, including tail types
    * longer than any dictionary word (the UNK single-char branch covers
    * their unseen characters). */
  def learn(docs: DataFrame, vocabSize: Int = 200, emRounds: Int = 3,
            maxVocab: Int = 20000): Model = {
    val wf = BpeModel.wordFrequencies(docs)
      .filter(length(col("word")) < KeyMul.toInt)
    val fullMaxRow = wf.agg(max(length(col("word")))).collect()(0)
    val fullMax = if (fullMaxRow.isNullAt(0)) 1 else fullMaxRow.getInt(0)
    val types = wf
      .orderBy(col("n").desc, col("word"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    train(types, vocabSize, emRounds, fullMaxWordLen = Some(fullMax))
  }

  /** Driver-side trainer over the word-type dictionary.
    * @param fullMaxWordLen max word length over the FULL (filtered) corpus
    *        word-type table when the dictionary is a truncated top-K of it;
    *        defaults to the dictionary's own max. */
  def train(wordFreq: Seq[(String, Long)], vocabSize: Int,
            emRounds: Int, fullMaxWordLen: Option[Int] = None): Model = {
    require(wordFreq.nonEmpty, "unigram training needs a non-empty dictionary")
    val maxLen = fullMaxWordLen.getOrElse(wordFreq.iterator.map(_._1.length).max)
    require(maxLen < KeyMul, s"word length $maxLen breaks key packing (KeyMul=$KeyMul)")

    // ---- seed: substring counting (weighted by word-type frequency) ----
    val subCounts = new java.util.HashMap[String, java.lang.Long]()
    for ((w, n) <- wordFreq; i <- 0 until w.length;
         l <- 1 to math.min(MaxPieceLen, w.length - i)) {
      val p = w.substring(i, i + l)
      val prev = subCounts.get(p)
      subCounts.put(p, if (prev == null) n else prev.longValue() + n)
    }
    val singles = scala.collection.mutable.TreeSet.empty[String] // every seen char
    wordFreq.foreach { case (w, _) => w.foreach(c => singles += c.toString) }
    // deterministic seed cap: singles always in; multis by (count desc, asc)
    val seedMultis = {
      import scala.jdk.CollectionConverters._
      subCounts.entrySet().asScala.toSeq
        .filter(e => e.getKey.length > 1)
        .map(e => (e.getKey, e.getValue.longValue()))
        .sortBy { case (p, n) => (-n, p) }
        .take(math.max(0, 4 * vocabSize - singles.size)) // seed = 4× target
    }
    var counts: Seq[(String, Long)] =
      (singles.toSeq.map(c => (c, subCounts.get(c).longValue())) ++ seedMultis)
        .sortBy { case (p, n) => (-n, p) }

    def costsFrom(cs: Seq[(String, Long)]): Map[String, Long] = {
      val total = cs.iterator.map(_._2).sum.toDouble
      cs.iterator.map { case (p, n) =>
        p -> math.round(-StrictMath.log(n.toDouble / total) * CostScale)
      }.toMap
    }

    // ---- fixed-round Viterbi-EM with pruning ----
    var costs = costsFrom(counts)
    var round = 0
    while (round < emRounds) {
      // E-step (hard): Viterbi-segment every word type, accumulate weighted
      // piece usage. Same DP as encoding, so training optimizes exactly the
      // objective encoding evaluates.
      val usage = new java.util.HashMap[String, java.lang.Long]()
      val jmap = new java.util.HashMap[String, java.lang.Long](costs.size * 2)
      costs.foreach { case (p, c) => jmap.put(p, c) }
      for ((w, n) <- wordFreq) {
        val pieces = viterbiPieces(w, jmap)
        pieces.foreach { p =>
          val prev = usage.get(p)
          usage.put(p, if (prev == null) n else prev.longValue() + n)
        }
      }
      // M-step + prune: singles keep a count floor of 1 (coverage); multis
      // must be used; cap at vocabSize by (count desc, piece asc).
      import scala.jdk.CollectionConverters._
      val used = usage.entrySet().asScala.toSeq
        .map(e => (e.getKey, e.getValue.longValue()))
      val usedMap = used.toMap
      val keptSingles = singles.toSeq.map(c => (c, usedMap.getOrElse(c, 0L).max(1L)))
      val keptMultis = used.filter(_._1.length > 1)
        .sortBy { case (p, n) => (-n, p) }
        .take(math.max(0, vocabSize - keptSingles.size))
      counts = (keptSingles ++ keptMultis).sortBy { case (p, n) => (-n, p) }
      costs = costsFrom(counts)
      round += 1
    }
    val pieces = counts.map { case (p, _) => (p, costs(p)) }.sortBy(_._1)
    // coverage invariant the oracle relies on: every char seen in training
    // is a retained piece, so the DP never strands a corpus word
    singles.foreach(c => require(costs.contains(c), s"single '$c' lost"))
    Model(pieces, maxLen)
  }

  /** Viterbi combined key for `word` under piece costs: minimum
    * `cost·KeyMul + nPieces` over all segmentations. O(len · MaxPieceLen). */
  def viterbiKey(word: String, costOf: java.util.HashMap[String, java.lang.Long]): Long = {
    val len = word.length
    val Inf = Long.MaxValue / 4
    val dp = new Array[Long](len + 1)
    var k = 1
    while (k <= len) {
      var best = Inf
      var l = 1
      val lMax = math.min(MaxPieceLen, k)
      while (l <= lMax) {
        val j = k - l
        if (dp(j) < Inf) {
          val c = costOf.get(word.substring(j, k))
          val pieceCost =
            if (c != null) c.longValue()
            else if (l == 1) UnkCost
            else -1L
          if (pieceCost >= 0L) {
            val cand = dp(j) + pieceCost * KeyMul + 1L
            if (cand < best) best = cand
          }
        }
        l += 1
      }
      dp(k) = best
      k += 1
    }
    dp(len)
  }

  /** The actual piece sequence of the Viterbi optimum (training E-step);
    * among (cost, nPieces) ties it takes the longest final piece — the
    * SEGMENTATION may be ambiguous at exact key ties, but the (cost,
    * nPieces) VALUE the contract exposes is unique, and usage counting only
    * steers cost re-estimation. */
  private[operators] def viterbiPieces(
      word: String, costOf: java.util.HashMap[String, java.lang.Long]): Seq[String] = {
    val len = word.length
    val Inf = Long.MaxValue / 4
    val dp = new Array[Long](len + 1)
    val back = new Array[Int](len + 1) // piece length chosen at position k
    var k = 1
    while (k <= len) {
      var best = Inf
      var bestL = 1
      var l = 1
      val lMax = math.min(MaxPieceLen, k)
      while (l <= lMax) {
        val j = k - l
        if (dp(j) < Inf) {
          val c = costOf.get(word.substring(j, k))
          val pieceCost =
            if (c != null) c.longValue()
            else if (l == 1) UnkCost
            else -1L
          if (pieceCost >= 0L) {
            val cand = dp(j) + pieceCost * KeyMul + 1L
            if (cand < best || (cand == best && l > bestL)) { best = cand; bestL = l }
          }
        }
        l += 1
      }
      dp(k) = best; back(k) = bestL
      k += 1
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = len
    while (pos > 0) { out.prepend(word.substring(pos - back(pos), pos)); pos -= back(pos) }
    out.toList
  }

  /** Reference COLUMN form of the per-word combined key: the same DP as a
    * higher-order `aggregate` over positions with the vocabulary as a map
    * literal — structurally what the DuckDB oracle's unrolled CTE chain
    * computes (parity-tested against [[viterbiKey]] and the native
    * expression). Interpreted; use the native expression in hot paths. */
  def viterbiKeyChain(word: Column, model: Model): Column = {
    val inf = lit(Long.MaxValue / 4)
    val costMap = map(model.pieces.flatMap { case (p, c) => Seq(lit(p), lit(c)) }: _*)
    val dp = aggregate(
      sequence(lit(1), length(word)),
      array(lit(0L)),
      (acc, k) => {
        val cands = (1 to MaxPieceLen).map { l =>
          val piece = word.substr(k - lit(l) + lit(1), lit(l))
          val pieceCost =
            if (l == 1) coalesce(element_at(costMap, piece), lit(UnkCost))
            else element_at(costMap, piece)
          when(lit(l) <= k && pieceCost.isNotNull &&
               element_at(acc, k - lit(l) + lit(1)) < inf,
               element_at(acc, k - lit(l) + lit(1)) + pieceCost * lit(KeyMul) + lit(1L))
            .otherwise(inf)
        }
        concat(acc, array(least(cands: _*)))
      })
    element_at(dp, length(word) + lit(1))
  }

  /** DuckDB oracle SQL for the per-doc (doc_id, n_words, n_pieces,
    * unigram_cost) contract over `documents`, with the LEARNED vocabulary
    * embedded as literals and the Viterbi DP unrolled position-by-position
    * (one CTE per prefix length; integer arithmetic end-to-end, so the
    * optimum matches the engine exactly). Pieces are [a-z]+ by construction
    * — asserted, no SQL escaping needed. */
  def oracleTokenSql(model: Model): String =
    s"""WITH ${oracleStatsCtes(model)}
        SELECT d.doc_id, COALESCE(per.n_words, 0) AS n_words,
               COALESCE(per.n_pieces, 0) AS n_pieces,
               COALESCE(per.unigram_cost, 0) AS unigram_cost
        FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id"""

  /** The WITH-body CTE chain (w, v, d0…dK, seg, per) the token oracle and
    * the CCNet perplexity-bucket oracle share: `per` carries exact
    * (doc_id, n_words, n_pieces, unigram_cost) for every doc with ≥1 word. */
  def oracleStatsCtes(model: Model): String = {
    model.pieces.foreach { case (p, _) =>
      require(p.matches("[a-z]+"), s"piece must be [a-z]+: '$p'")
    }
    val maxLen = model.maxWordLen
    val vocabValues = model.pieces
      .map { case (p, c) => s"('$p',CAST($c AS BIGINT))" }.mkString(",")
    val dpCtes = (1 to maxLen).map { k =>
      val branches = (1 to math.min(MaxPieceLen, k)).map { l =>
        val j = k - l
        // UNK single-char branch (l == 1 LEFT JOIN + coalesce): a character
        // outside the learned vocabulary costs UnkCost, exactly as
        // viterbiKey's fallback — tail word types beyond the top-maxVocab
        // dictionary can carry characters no dictionary word has
        if (l == 1)
          s"""SELECT d.word, d.key + (coalesce(v.cost, $UnkCost) * $KeyMul + 1) AS key
              FROM d$j d LEFT JOIN v ON v.piece = substr(d.word, ${j + 1}, 1)
              WHERE length(d.word) >= $k"""
        else
          s"""SELECT d.word, d.key + (v.cost * $KeyMul + 1) AS key
              FROM d$j d JOIN v ON v.piece = substr(d.word, ${j + 1}, $l)
              WHERE length(d.word) >= $k"""
      }.mkString(" UNION ALL ")
      s"d$k AS (SELECT word, min(key) AS key FROM ($branches) u GROUP BY word)"
    }.mkString(",\n        ")
    val segBranches = (1 to maxLen)
      .map(k => s"SELECT word, key FROM d$k WHERE length(word) = $k")
      .mkString(" UNION ALL ")
    // w keeps EVERY word (n_words counts them all); the LEFT JOIN to seg
    // zero-contributes words outside the tokenizer contract (length ≥
    // KeyMul, which the engine's scorers skip). Every word shorter than
    // that has a seg row: maxWordLen is the full-table max and the UNK
    // branch completes any DP path.
    s"""w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                   FROM documents),
        v(piece, cost) AS (SELECT * FROM (VALUES $vocabValues) t(piece, cost)),
        d0 AS (SELECT DISTINCT word, CAST(0 AS BIGINT) AS key FROM w
               WHERE length(word) < $KeyMul),
        $dpCtes,
        seg AS ($segBranches),
        per AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(coalesce(s.key % $KeyMul, 0)) AS BIGINT) AS n_pieces,
                       CAST(sum(coalesce(s.key // $KeyMul, 0)) AS BIGINT) AS unigram_cost
                FROM w LEFT JOIN seg s USING (word) GROUP BY w.doc_id)"""
  }

  /** Reference DATAFRAME form of the per-doc stats via the distinct-word
    * join (cost ∝ vocabulary) and the HOF key chain — the cross-check for
    * the native per-row projection. */
  def docTokenStats(docs: DataFrame, model: Model): DataFrame = {
    val words = docs.select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("word"))
    // words of length ≥ KeyMul are outside the tokenizer contract: counted
    // in n_words, zero contribution to pieces/cost (mirrors the native
    // expression's skip and the oracle's LEFT JOIN)
    val vocab = words.filter(length(col("word")) < KeyMul.toInt)
      .select(col("word")).distinct()
      .withColumn("key", viterbiKeyChain(col("word"), model))
    words.join(vocab, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
           sum(coalesce(col("key") % KeyMul, lit(0L))).as("n_pieces"),
           // keys are ≤ maxLen·maxCost·KeyMul ≈ 8e10 < 2^53, so the double
           // division is exact and the cast truncation equals floordiv
           sum(coalesce(floor(col("key") / lit(KeyMul)).cast("long"), lit(0L)))
             .as("unigram_cost"))
  }
}
