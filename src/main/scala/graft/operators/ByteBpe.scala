package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-level BPE — the GPT-2/tiktoken tokenizer class (Radford et al.
  * 2019; public algorithm), the production member of the tokenizer family
  * next to char-BPE ([[BpeModel]]), unigram-LM ([[UnigramLm]]) and
  * WordPiece ([[WordPiece]]):
  *
  *  1. REGEX PRE-TOKENIZATION: text splits into pre-tokens — a word with
  *     its leading space, a digit run, a punctuation run, or a whitespace
  *     run — so merges can never cross a word boundary and a word's
  *     space-prefixed and bare forms are distinct types. GPT-2's own
  *     pattern needs negative lookahead (not in RE2, so not oracle-
  *     replayable); [[PreTokenPattern]] is the standard lookahead-free
  *     simplification with EXPLICIT ASCII classes, so Java (engine) and
  *     RE2 (DuckDB) agree codepoint-for-codepoint — `\p{L}`-class or
  *     bare-`\s` patterns would tie the contract to two regex libraries'
  *     Unicode tables (the CLAUDE.md RE2-`\s` trap).
  *  2. BYTE ALPHABET: each pre-token is its UTF-8 byte sequence; the
  *     initial symbols are single bytes, spelled as UPPERCASE HEX PAIRS
  *     (both engines' canonical blob-hex spelling) so a learned symbol is
  *     always `[0-9A-F]{2k}` — text-safe inside SQL literals, and the
  *     `·`-separator replace-encoding of [[BpeModel]] carries over
  *     unchanged ('·' can never occur inside a symbol).
  *  3. NO UNK: every byte is in the alphabet, so everything — emoji, CJK,
  *     control bytes, mojibake — tokenizes (byte fallback).
  *
  * Training is the [[BpeModel]] dictionary discipline verbatim: one
  * corpus-wide `groupBy(pretoken)` shuffle to the TYPE frequency table
  * (vocabulary-sized, never corpus-sized), a deterministic cap, then the
  * shared driver merge loop ([[BpeModel.trainSymbols]] — count desc, pair
  * lexicographic ties). Application is sequential rank-order merging (each
  * merge replaces left-to-right non-overlapping occurrences before the
  * next rank runs) — exactly nested SQL `replace()` over the separator
  * encoding, which is how the oracle replays the learned merges as
  * literals. Scoring is a per-row projection (native
  * [[graft.functions.NativeExprs.byteBpeStats]], per-partition pre-token
  * memo — cost ∝ distinct types); [[docStatsChain]] is the bit-exact
  * column reference form. */
object ByteBpe {

  /** Lookahead-free GPT-2-style pre-tokenizer, explicit ASCII classes only:
    * leftmost-first alternation is total (every char falls in exactly one
    * branch), so Java and RE2 produce identical match spans. Non-ASCII
    * codepoints land in the "other" run (byte fallback encodes them). */
  val PreTokenPattern: String =
    " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+"

  val Sep: String = BpeModel.Sep

  case class Model(merges: Seq[(String, String)]) {
    /** merges as (a, b, a+b) with the wrapped spellings precomputed. */
    lazy val table: Array[(String, String)] = merges.toArray.map { case (a, b) => (a, b) }
  }

  /** The pre-token array of a text column (Java regex side). */
  def preTokens(text: Column): Column =
    regexp_extract_all(text, lit(PreTokenPattern), lit(0))

  /** Corpus pre-token TYPE frequency table: (tok, n). One shuffle,
    * map-side partial aggregation; output is vocabulary-sized. */
  def preTokenFrequencies(docs: DataFrame): DataFrame =
    docs.select(explode(preTokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))

  /** UTF-8 bytes of `s` as uppercase hex-pair symbols. */
  private[operators] def hexSymbols(s: String): Array[String] = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bytes.map(b => f"${b & 0xff}%02X")
  }

  /** Train `numMerges` byte-level merges from the corpus. The collected
    * type dictionary is capped at `maxVocab` (count desc, token asc —
    * total order, deterministic cap); driver traffic is vocabulary-bounded
    * (the k·dim / Heaps'-bound discipline). */
  def learn(docs: DataFrame, numMerges: Int = 64, maxVocab: Int = 20000): Model = {
    val types = preTokenFrequencies(docs)
      .orderBy(col("n").desc, col("tok"))
      .limit(maxVocab)
      .collect().map(r => (hexSymbols(r.getString(0)), r.getLong(1))).toSeq
    Model(BpeModel.trainSymbols(types, numMerges))
  }

  /** Executor/driver-side scalar encode of one pre-token: sequential
    * rank-order merges over its hex byte symbols; returns the final symbol
    * array. The native expression memoizes this per partition. */
  def encodeToken(tok: String, model: Model): Array[String] = {
    var syms = hexSymbols(tok)
    var i = 0
    val t = model.table
    while (i < t.length) {
      val (a, b) = t(i)
      // skip the scan when a merge can't apply (common for rare tokens)
      if (syms.length > 1) syms = BpeModel.applyMerge(syms, a, b)
      i += 1
    }
    syms
  }

  /** The separator-wrapped spelling of a symbol array — `·48··65·…` —
    * what the replace-chain produces and the enc digest concatenates. */
  def wrapSymbols(syms: Array[String]): String = {
    val sb = new java.lang.StringBuilder(syms.length * 6)
    var i = 0
    while (i < syms.length) { sb.append(Sep).append(syms(i)).append(Sep); i += 1 }
    sb.toString
  }

  /** [[wrapSymbols]] of [[encodeToken]] — one pre-token's encoded
    * spelling. */
  def encodeWrapped(tok: String, model: Model): String =
    wrapSymbols(encodeToken(tok, model))

  /** Reference COLUMN form of the per-pre-token encode: uppercase hex of
    * the UTF-8 bytes, every pair separator-wrapped, then the learned
    * merges as a nested replace chain — byte-identical to what the DuckDB
    * oracle runs (and to [[encodeWrapped]]; parity-tested). */
  def encodeChain(tok: Column, model: Model): Column = {
    val init = regexp_replace(hex(tok.cast("binary")), "(..)", s"$Sep$$1$Sep")
    model.merges.foldLeft(init) { case (c, (a, b)) =>
      replace(c, lit(s"$Sep$a$Sep$Sep$b$Sep"), lit(s"$Sep$a$b$Sep"))
    }
  }

  /** Reference DATAFRAME form of the per-doc contract (doc_id,
    * n_pretokens, n_tokens, enc_md5): pre-tokenize, encode each pre-token
    * through [[encodeChain]], digest the '|'-joined encoded stream.
    * Interpreted — the contract query uses the native expression; this is
    * the parity spec's twin. */
  def docStatsChain(docs: DataFrame, model: Model): DataFrame = {
    val encs = transform(preTokens(col("text")), t => encodeChain(t, model))
    val enc = concat_ws("|", encs)
    // even-int double division is exact; a long/2 Column divide would be
    // a DOUBLE divide on the long, same thing — cast after, for clarity
    val nTok = aggregate(encs, lit(0L), (acc, r) =>
      acc + ((length(r) - length(replace(r, lit(Sep), lit("")))) / 2).cast("long"))
    docs.select(col("doc_id"),
      coalesce(size(preTokens(col("text"))).cast("long"), lit(0L)).as("n_pretokens"),
      coalesce(nTok, lit(0L)).as("n_tokens"),
      md5(coalesce(enc, lit("")).cast("binary")).as("enc_md5"))
  }

  /** DuckDB oracle SQL for the per-doc contract over `documents`, the
    * LEARNED merges embedded as literal nested `replace()` calls. Symbols
    * are `[0-9A-F]+` by construction (hex-pair concatenations) — asserted
    * anyway, since a stray regex metachar would corrupt the replay. */
  def oracleSql(model: Model): String = {
    model.merges.foreach { case (a, b) =>
      require(a.matches("[0-9A-F]+") && b.matches("[0-9A-F]+"),
        s"byte-BPE merge symbols must be hex: ($a, $b)")
    }
    val chain = model.merges.foldLeft(
      s"regexp_replace(upper(hex(encode(tok))), '(..)', '$Sep\\1$Sep', 'g')") {
      case (acc, (a, b)) => s"replace($acc, '$Sep$a$Sep$Sep$b$Sep', '$Sep$a$b$Sep')"
    }
    s"""WITH w AS (SELECT doc_id, generate_subscripts(arr, 1) AS wi,
                          unnest(arr) AS tok
                   FROM (SELECT doc_id,
                                regexp_extract_all(text, '$PreTokenPattern') AS arr
                         FROM documents)),
        e AS (SELECT doc_id, wi, $chain AS r FROM w),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
                       CAST(sum((length(r) - length(replace(r, '$Sep', ''))) // 2)
                            AS BIGINT) AS n_tokens,
                       md5(string_agg(r, '|' ORDER BY wi)) AS enc_md5
                FROM e GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(agg.n_pretokens, 0) AS n_pretokens,
               COALESCE(agg.n_tokens, 0) AS n_tokens,
               COALESCE(agg.enc_md5, md5('')) AS enc_md5
        FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"""
  }
}
