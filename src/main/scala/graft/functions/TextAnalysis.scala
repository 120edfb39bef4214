package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition —
  * codegen'd, no UDFs, no shuffle: each function is a per-row projection that
  * rides inside whatever WholeStageCodegen span the surrounding plan has.
  * At 100 TB these run at parquet-scan speed.
  *
  * Note on ANSI mode (Spark 4 default): all integer arithmetic below is kept
  * mod a 31-bit prime before multiplication so it cannot overflow LongType.
  */
object TextAnalysis {

  /** The engine's whitespace class, spelled explicitly as the RE2 `\s` set
    * (`[ \t\n\f\r]` — NO vertical tab). Java's `\s` additionally includes
    * `\x0B`, so a bare `\s`/`\S` in a Spark-side pattern would tokenize a
    * VT-bearing document differently from the same pattern run in a
    * RE2-based engine (DuckDB, Go). Every tokenizer here uses this class so
    * one definition holds across engines. */
  val WsClass: String    = " \\t\\n\\f\\r"
  val WsPattern: String  = s"[$WsClass]+"
  val TokPattern: String = s"[^$WsClass]+"

  /** Whitespace tokens (`\S+` runs, RE2 `\s` semantics) — the token-count
    * tokenizer. */
  def tokens(text: Column): Column = regexp_extract_all(text, lit(TokPattern), lit(0))

  /** Lowercase alphabetic words — the linguistic tokenizer. */
  def words(text: Column): Column = regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))
  def charCount(text: Column): Column  = length(text)

  /** BPE-style pre-tokenizer count: the GPT-2-family split pattern
    * (contraction suffixes, space-prefixed letter/digit/punct runs, residual
    * whitespace), restricted to RE2-compatible syntax (no lookahead) so the
    * same pattern runs in any engine. Proxy for LLM token budgeting. */
  val BpeIshPattern: String =
    s"'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^$WsClass\\p{L}\\p{N}]+|[$WsClass]+"

  def bpeIshTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpeIshPattern), lit(0)))

  /** Punctuation characters per text character (0 for empty text). */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", ""))
    coalesce(punct.cast("double") / nullif(length(text), lit(0)), lit(0.0))
  }

  /** Tiny multilingual stopword lists (public-knowledge closed classes). */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "de", "la", "et", "les", "des", "en", "un", "du", "une"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "zh" -> Seq("的", "一", "是", "不", "了", "人", "我", "在", "有", "他"))

  private def hitCount(ws: Column, list: Seq[String]): Column = {
    val arr = array(list.map(lit): _*)
    size(filter(ws, w => array_contains(arr, w)))
  }

  /** English-stopword hits per word (a classic quality signal: near-zero for
    * keyword spam / non-language text). Native single-pass expression;
    * [[stopwordRatioHof]] is the reference form. */
  def stopwordRatio(text: Column, lang: String = "en"): Column =
    NativeExprs.stopwordRatio(text, Stopwords(lang))

  /** Reference HOF form of [[stopwordRatio]] (parity-tested). */
  def stopwordRatioHof(text: Column, lang: String = "en"): Column = {
    val ws = words(text)
    coalesce(hitCount(ws, Stopwords(lang)).cast("double") / nullif(size(ws), lit(0)), lit(0.0))
  }

  /** N-gram/stopword language ID: score each candidate language by stopword
    * hits (plus a CJK-codepoint signal for zh), pick the argmax; ties resolve
    * to the earlier language in [[langOrder]]. Pure column expression.
    */
  val langOrder: Seq[String] = Seq("en", "es", "fr", "de", "zh")

  /** Native single-pass expression; [[langIdHof]] is the reference form. */
  def langId(text: Column): Column = NativeExprs.langId(text)

  /** Reference HOF implementation of [[langId]] (interpreted; parity-tested). */
  def langIdHof(text: Column): Column = {
    val ws = words(text)
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val scores: Seq[(String, Column)] = langOrder.map {
      case "zh" => "zh" -> (hitCount(ws, Stopwords("zh")) + cjk)
      case l    => l -> hitCount(ws, Stopwords(l))
    }
    // keep the strictly-greatest score, first-listed language wins ties
    scores.tail.foldLeft(struct(lit(scores.head._1).as("lang"), scores.head._2.as("s"))) {
      case (best, (l, s)) =>
        when(s > best.getField("s"), struct(lit(l).as("lang"), s.as("s"))).otherwise(best)
    }.getField("lang")
  }

  /** Registrable domain of a URL — native single-pass expression
    * ([[graft.functions.RegisteredDomainExpr]]);
    * [[registeredDomainHof]] is the reference form. */
  def registeredDomain(url: Column): Column = NativeExprs.registeredDomain(url)

  /** Reference SQL-function implementation of [[registeredDomain]]
    * (interpreted; parity-tested). Same parse: after `scheme://`, cut at
    * `/?#`, after the last `@`, before `:`, trailing dot stripped,
    * lowercased; IPv4 literals pass through; longest 3/2-label suffix
    * match, else the TLD; one label + suffix. */
  def registeredDomainHof(url: Column): Column = {
    import graft.functions.RegisteredDomainExpr.Suffixes
    // after the FIRST "://" (substring_index(…, -1) cuts at the LAST — a
    // later "://" in the path/query would swallow the authority; caught by
    // the fuzz lane)
    val rest = when(instr(url, "://") > 0,
                    url.substr(instr(url, "://") + lit(3), length(url)))
      .otherwise(url)
    val auth = substring_index(split(rest, "[/?#]", 2).getItem(0), "@", -1)
    val host0 = lower(split(auth, ":", 2).getItem(0))
    val host = regexp_replace(host0, "\\.$", "")
    val labels = split(host, "\\.")
    val n = size(labels)
    val malformed = length(host) === 0 || exists(labels, l => length(l) === 0)
    val isIp = !exists(labels, l => l.rlike("[^0-9]"))
    val sufs = array(Suffixes.toSeq.sorted.map(lit): _*)
    // get() (0-based, null out-of-bounds), never element_at(-k): ANSI mode
    // throws on out-of-range indices and the n-guards below only protect
    // the CONDITIONS, not an eagerly-invalid index
    val last2 = concat_ws(".", get(labels, n - 2), get(labels, n - 1))
    val last3 = concat_ws(".", get(labels, n - 3), last2)
    val sufLen = when(n >= 3 && array_contains(sufs, last3), 3)
      .when(n >= 2 && array_contains(sufs, last2), 2)
      .otherwise(1)
    when(malformed, lit(null).cast("string"))
      .when(isIp || n <= sufLen, host)
      .otherwise(array_join(slice(labels, n - sufLen, sufLen + 1), "."))
  }

  /** Word n-grams of the text (empty below n words). */
  def wordNgrams(text: Column, n: Int): Column = {
    val ws = words(text)
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word 3-grams of the text (empty below 3 words). */
  def wordTrigrams(text: Column): Column = wordNgrams(text, 3)

  /** Repetition signal (C4/Gopher-style): fraction of word trigrams that are
    * duplicates of an earlier trigram in the same document. ~0 for natural
    * text, → 1 for boilerplate loops and generator spam. Native single-pass
    * expression; [[repetitionRatioHof]] is the reference form. */
  def repetitionRatio(text: Column): Column = NativeExprs.repetitionRatio(text)

  /** Reference HOF form of [[repetitionRatio]] (parity-tested). */
  def repetitionRatioHof(text: Column): Column = {
    val t3 = wordTrigrams(text)
    coalesce((size(t3) - size(array_distinct(t3))).cast("double")
               / nullif(size(t3), lit(0)), lit(0.0))
  }

  /** PII-ish redaction for training corpora: mask email addresses and long
    * digit runs (ids / phone numbers / card numbers) with fixed tokens.
    * Patterns are RE2-compatible (no lookaround) so any engine applies the
    * exact same masking. Emails first — the digit pass then cannot split an
    * already-masked address. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern = "\\d{6,}"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<email>"),
                   LongNumberPattern, "<num>")

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0)))

  def longNumberCount(text: Column): Column =
    size(regexp_extract_all(text, lit(LongNumberPattern), lit(0)))

  /** Canonical text normalization shared by fingerprints: collapse whitespace,
    * lowercase, trim. Native single-pass expression; [[normalizedHof]] is the
    * bit-identical SQL-function form. */
  def normalized(text: Column): Column = NativeExprs.normalizeText(text)

  /** Reference SQL-function form of [[normalized]] (parity-tested). */
  def normalizedHof(text: Column): Column =
    trim(regexp_replace(lower(text), WsPattern, " "))

  /** Full-document fingerprint: md5 of the normalized text (hex string). */
  def fingerprintMd5(text: Column): Column = md5(normalized(text).cast("binary"))

  /** Rolling polynomial (Rabin-Karp) fingerprint of the normalized text,
    * mod a 31-bit prime: hash = Σ c_i · 31^i  (mod p). Computed as a fold over
    * the character array — products stay < 2^62, ANSI-safe.
    */
  val FingerprintPrime = 2147483647L // 2^31 - 1

  def fingerprintRolling(text: Column): Column =
    aggregate(
      split(normalized(text), ""),
      lit(0L),
      (acc, ch) => pmod(acc * lit(31L) + coalesce(ascii(ch).cast("long"), lit(0L)),
                        lit(FingerprintPrime)))

  /** Winnowing-style k-gram fingerprint: the minimum hash over all character
    * k-grams of the normalized text (null for texts shorter than k). Robust
    * to local edits away from the minimizing gram.
    *
    * The gram hash is 60 bits parsed from the first 15 hex chars of
    * md5(gram) — md5 because every engine has one, so the fingerprint is
    * cross-engine reproducible (the DuckDB oracle recomputes it). The hash
    * family is pluggable; a throughput-bound deployment would swap in
    * xxhash64 at the cost of engine portability.
    */
  def fingerprintKgramMin(text: Column, k: Int = 8): Column = {
    val t = normalized(text)
    val hashes = transform(
      sequence(lit(1), length(t) - lit(k - 1)),
      i => conv(substring(md5(t.substr(i, lit(k)).cast("binary")), 1, 15), 16, 10)
             .cast("long"))
    when(length(t) >= k, array_min(hashes))
  }
}
