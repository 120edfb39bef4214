package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** WordPiece subword tokenization (Schuster & Nakajima '12; the BERT
  * tokenizer — public algorithm, HuggingFace-documented trainer), the third
  * mainstream tokenizer next to learned BPE ([[BpeModel]]) and unigram-LM
  * ([[UnigramLm]]). Training is BPE-shaped pair merging but scored by
  * LIKELIHOOD — score(a,b) = count(ab) / (count(a)·count(b)) — and encoding
  * is greedy longest-match-first over the learned vocabulary with `##`
  * continuation pieces; a word with no match at some position (or longer
  * than [[MaxWordChars]]) becomes ONE `[UNK]` token.
  *
  * Scale shape matches the siblings exactly: training runs on the word-TYPE
  * frequency table (ONE corpus-wide `groupBy(word)` shuffle — vocabulary-
  * sized, not corpus-sized) followed by a driver loop over the collected
  * dictionary; application is a per-row projection (native
  * [[graft.functions.NativeExprs.wordpieceStats]] with a per-partition word
  * memo — cost ∝ distinct words), no shuffle in the scoring pass.
  *
  * Engine-portability is by INTEGER arithmetic end-to-end: the contract
  * exposes per-doc piece/UNK counts plus a boundary signature
  * (`sig_w = fold (sig·31 + matchLen) mod 1e9+7` over the word's greedy
  * steps, summed per doc) that pins the SEGMENTATION, not just its
  * granularity. Merge selection compares rational scores by BigInt
  * cross-multiplication — no float ties anywhere — and the DuckDB oracle
  * replays the greedy walk from the learned vocabulary embedded as
  * literals (a longest-match table + an unrolled step chain; see
  * [[oracleStatsCtes]] — the UnigramLm data-dependent-oracle technique). */
object WordPiece {

  /** Words longer than this are `[UNK]` without scanning (BERT's
    * `max_input_chars_per_word` discipline); also bounds the oracle's
    * step-chain unroll. */
  val MaxWordChars = 63

  /** Boundary-signature modulus (prime; keeps the per-step fold exact in
    * BIGINT arithmetic on any engine). */
  val SigMod = 1000000007L

  /** A trained model: the piece vocabulary (word-start pieces bare,
    * continuation pieces `##`-prefixed; sorted — the set is the contract,
    * order is presentation) and the max word length the training
    * dictionary exhibited (bounds the oracle unroll). */
  final case class Model(vocab: Seq[String], maxWordLen: Int) {
    @transient lazy val pieceSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](vocab.size * 2)
      vocab.foreach(s.add)
      s
    }
    /** Longest match length (chars consumed) any piece can yield. */
    @transient lazy val maxMatchLen: Int =
      if (vocab.isEmpty) 1
      else vocab.iterator
        .map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
  }

  /** Train from the corpus: one vocabulary-sized shuffle, then a driver
    * merge loop. Deterministic end-to-end (count-desc/word-asc dictionary
    * cap, BigInt score comparison, lexicographic pair tie-break). */
  def learn(docs: DataFrame, vocabSize: Int = 200, maxVocab: Int = 20000): Model = {
    val wf = BpeModel.wordFrequencies(docs)
      .filter(length(col("word")) <= MaxWordChars)
    val fullMaxRow = wf.agg(max(length(col("word")))).collect()(0)
    val fullMax = if (fullMaxRow.isNullAt(0)) 1 else fullMaxRow.getInt(0)
    val types = wf
      .orderBy(col("n").desc, col("word"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    train(types, vocabSize, fullMaxWordLen = Some(fullMax))
  }

  /** Driver-side trainer over the word-type dictionary: symbolize every
    * word as (c0, ##c1, ##c2, …), then merge the adjacent pair maximizing
    * `count(pair) / (count(left)·count(right))` until the vocabulary
    * reaches `vocabSize` or no pair occurs twice. The merged token is
    * `left + strip##(right)` (keeping left's `##` when it is a
    * continuation), exactly the HF WordPiece trainer rule. */
  def train(wordFreq: Seq[(String, Long)], vocabSize: Int,
            fullMaxWordLen: Option[Int] = None): Model = {
    require(wordFreq.nonEmpty, "wordpiece training needs a non-empty dictionary")
    val maxLen = fullMaxWordLen.getOrElse(wordFreq.iterator.map(_._1.length).max)
    require(maxLen <= MaxWordChars,
      s"word length $maxLen exceeds the $MaxWordChars tokenizer contract")

    var words: Seq[(Array[String], Long)] = wordFreq.map { case (w, n) =>
      (w.zipWithIndex.map { case (c, i) =>
        if (i == 0) c.toString else "##" + c }.toArray, n)
    }
    val vocab = scala.collection.mutable.TreeSet.empty[String]
    words.foreach { case (syms, _) => syms.foreach(vocab += _) }

    def strip(p: String): String = if (p.startsWith("##")) p.substring(2) else p

    while (vocab.size < vocabSize) {
      val pairCount = new java.util.HashMap[(String, String), java.lang.Long]()
      val symCount = new java.util.HashMap[String, java.lang.Long]()
      for ((syms, n) <- words) {
        var i = 0
        while (i < syms.length) {
          val pc = symCount.get(syms(i))
          symCount.put(syms(i), if (pc == null) n else pc.longValue() + n)
          if (i + 1 < syms.length) {
            val k = (syms(i), syms(i + 1))
            val prev = pairCount.get(k)
            pairCount.put(k, if (prev == null) n else prev.longValue() + n)
          }
          i += 1
        }
      }
      // best by score = pair/(l·r), BigInt cross-multiplied (counts are
      // corpus-sized; a 3-way product overflows Long), ties lexicographic
      import scala.jdk.CollectionConverters._
      var best: ((String, String), Long) = null
      var bestDen: BigInt = null
      for (e <- pairCount.entrySet().asScala) {
        val k = e.getKey; val p = e.getValue.longValue()
        if (p >= 2) {
          val den = BigInt(symCount.get(k._1).longValue()) *
                    BigInt(symCount.get(k._2).longValue())
          val better =
            if (best == null) true
            else {
              // p1/d1 vs p2/d2  ⇔  p1·d2 vs p2·d1
              val cmp = (BigInt(p) * bestDen).compare(BigInt(best._2) * den)
              cmp > 0 || (cmp == 0 && (k._1 < best._1._1 ||
                (k._1 == best._1._1 && k._2 < best._1._2)))
            }
          if (better) { best = (k, p); bestDen = den }
        }
      }
      if (best == null) return finish(vocab, maxLen)
      val (a, b) = best._1
      val merged = a + strip(b)
      vocab += merged
      words = words.map { case (syms, n) =>
        if (syms.length < 2) (syms, n)
        else {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, n)
        }
      }
    }
    finish(vocab, maxLen)
  }

  private def finish(vocab: scala.collection.mutable.TreeSet[String],
                     maxLen: Int): Model =
    Model(vocab.toSeq, maxLen)

  /** Greedy longest-match encode of one word: (n_pieces, boundary sig,
    * isUnk). `[UNK]` words report (1, 0, true). The kernel every form
    * shares — the native expression, [[wordpieceChain]], and the oracle
    * replay all reproduce exactly this walk. */
  def encodeWord(word: String, pieces: java.util.HashSet[String],
                 maxMatch: Int): (Long, Long, Boolean) = {
    val len = word.length
    if (len > MaxWordChars) return (1L, 0L, true)
    var pos = 0
    var np = 0L
    var sig = 0L
    while (pos < len) {
      var l = math.min(maxMatch, len - pos)
      var found = -1
      while (l >= 1 && found < 0) {
        val cand =
          if (pos == 0) word.substring(0, l)
          else "##" + word.substring(pos, pos + l)
        if (pieces.contains(cand)) found = l else l -= 1
      }
      if (found < 0) return (1L, 0L, true)
      sig = (sig * 31L + found) % SigMod
      np += 1L
      pos += found
    }
    (np, sig, false)
  }

  /** Reference COLUMN form of the greedy walk: the same step loop as a
    * higher-order `aggregate` over at most `maxWordLen` steps with the
    * vocabulary as a map literal — structurally what the DuckDB oracle's
    * unrolled step chain computes (parity-tested against [[encodeWord]]
    * and the native expression). Interpreted; use the native expression in
    * hot paths. Returns struct(np, sig, unk). */
  def wordpieceChain(word: Column, model: Model): Column = {
    val vocabMap = map(model.vocab.flatMap(p => Seq(lit(p), lit(1))): _*)
    val init = struct(lit(0).as("pos"), lit(0L).as("np"),
                      lit(0L).as("sig"), lit(false).as("unk"))
    // longest match at acc.pos: a coalesce chain from maxMatchLen down to 1
    def matchLen(pos: Column): Column = {
      val cands = (model.maxMatchLen to 1 by -1).map { l =>
        val piece = when(pos === 0, word.substr(lit(1), lit(l)))
          .otherwise(concat(lit("##"), word.substr(pos + lit(1), lit(l))))
        when(length(word) - pos >= l &&
             element_at(vocabMap, piece).isNotNull, lit(l))
      }
      coalesce(cands :+ lit(null).cast("int"): _*)
    }
    val walked = aggregate(
      sequence(lit(1), greatest(length(word), lit(1))),
      init,
      (acc, _) => {
        val done = acc.getField("unk") || acc.getField("pos") >= length(word)
        val ml = matchLen(acc.getField("pos"))
        when(done, acc)
          .when(ml.isNull,
            struct(acc.getField("pos").as("pos"), lit(1L).as("np"),
                   lit(0L).as("sig"), lit(true).as("unk")))
          .otherwise(
            struct((acc.getField("pos") + ml).as("pos"),
                   (acc.getField("np") + 1L).as("np"),
                   ((acc.getField("sig") * 31L + ml) % SigMod).as("sig"),
                   lit(false).as("unk")))
      })
    when(length(word) > MaxWordChars,
         struct(lit(1L).as("np"), lit(0L).as("sig"), lit(true).as("unk")))
      .otherwise(struct(walked.getField("np").as("np"),
                        walked.getField("sig").as("sig"),
                        walked.getField("unk").as("unk")))
  }

  /** Reference DATAFRAME form of the per-doc stats via the distinct-word
    * join (cost ∝ vocabulary of the corpus) and the HOF chain — the
    * cross-check for the native per-row projection. */
  def docTokenStats(docs: DataFrame, model: Model): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(TextAnalysis.words(col("text"))).as("word"))
    val enc = words.select(col("word")).distinct()
      .withColumn("e", wordpieceChain(col("word"), model))
    words.join(enc, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
           sum(col("e.np")).as("n_pieces"),
           sum(when(col("e.unk"), 1L).otherwise(0L)).as("n_unk"),
           sum(col("e.sig")).as("wp_sig"))
  }

  /** The WITH-body CTE chain (w, v, d, mpos, s0…sK, fin, per) for the
    * DuckDB oracle: `per` carries exact (doc_id, n_words, n_pieces, n_unk,
    * wp_sig) per doc with ≥1 word. Greedy is replayed as a precomputed
    * longest-match table (`mpos`: per (word, pos), the max piece length
    * matching there) plus an unrolled walk of ≤ maxWordLen steps — each
    * step advances every unfinished word by its match or marks it UNK. */
  def oracleStatsCtes(model: Model): String = {
    model.vocab.foreach { p =>
      require(p.matches("(##)?[a-z]+"), s"piece must be (##)?[a-z]+: '$p'")
    }
    val steps = math.min(model.maxWordLen, MaxWordChars)
    val vocabValues = model.vocab.map(p => s"('$p')").mkString(",")
    val matchBranches = (1 to model.maxMatchLen).map { l =>
      s"""SELECT p.word, p.pos, $l AS ml FROM pos p JOIN v ON v.piece =
          CASE WHEN p.pos = 0 THEN substr(p.word, 1, $l)
               ELSE '##' || substr(p.word, p.pos + 1, $l) END
          WHERE length(p.word) - p.pos >= $l"""
    }.mkString(" UNION ALL ")
    val stepCtes = (1 to steps).map { k =>
      s"""s$k AS (
            SELECT word, pos, np, sig, unk FROM s${k - 1}
            WHERE unk OR pos >= length(word)
            UNION ALL
            SELECT s.word, s.pos + coalesce(m.ml, 0), s.np + 1,
                   CASE WHEN m.ml IS NULL THEN CAST(0 AS BIGINT)
                        ELSE (s.sig * 31 + m.ml) % $SigMod END,
                   m.ml IS NULL
            FROM s${k - 1} s LEFT JOIN mpos m
              ON m.word = s.word AND m.pos = s.pos
            WHERE NOT s.unk AND s.pos < length(s.word))"""
    }.mkString(",\n        ")
    s"""w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
             FROM documents),
        v(piece) AS (SELECT * FROM (VALUES $vocabValues) t(piece)),
        d AS (SELECT DISTINCT word FROM w WHERE length(word) <= $MaxWordChars),
        pos AS (SELECT word, unnest(range(length(word))) AS pos FROM d),
        mpos AS (SELECT word, pos, max(ml) AS ml
                 FROM ($matchBranches) u GROUP BY word, pos),
        s0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS np,
                      CAST(0 AS BIGINT) AS sig, FALSE AS unk FROM d),
        $stepCtes,
        fin AS (SELECT word,
                       CASE WHEN unk THEN CAST(1 AS BIGINT) ELSE np END AS np,
                       CASE WHEN unk THEN CAST(0 AS BIGINT) ELSE sig END AS sig,
                       unk
                FROM s$steps),
        per AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(CASE WHEN f.word IS NULL THEN 1 ELSE f.np END) AS BIGINT) AS n_pieces,
                       CAST(sum(CASE WHEN f.word IS NULL OR f.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
                       CAST(sum(CASE WHEN f.word IS NULL THEN 0 ELSE f.sig END) AS BIGINT) AS wp_sig
                FROM w LEFT JOIN fin f USING (word) GROUP BY w.doc_id)"""
  }

  /** DuckDB oracle SQL for the per-doc (doc_id, n_words, n_pieces, n_unk,
    * wp_sig) contract over `documents`, learned vocabulary as literals. */
  def oracleTokenSql(model: Model): String =
    s"""WITH ${oracleStatsCtes(model)}
        SELECT d.doc_id, COALESCE(per.n_words, 0) AS n_words,
               COALESCE(per.n_pieces, 0) AS n_pieces,
               COALESCE(per.n_unk, 0) AS n_unk,
               COALESCE(per.wp_sig, 0) AS wp_sig
        FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id"""
}
