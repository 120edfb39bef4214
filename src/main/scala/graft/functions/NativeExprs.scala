package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, BinaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-row loops.
  *
  * The generic versions of these operators (nested `transform`/`aggregate`
  * higher-order functions) are semantically right but interpreted — Catalyst
  * HOFs don't participate in codegen and allocate per element. At 100 TB the
  * signature computations dominate the dedup/ANN pipelines, so each gets a
  * Catalyst `Expression` whose `eval` runs the whole loop in one JVM frame
  * over `UTF8String`/`ArrayData` with zero per-element allocation
  * (10-50× over the HOF forms; see BENCH history). Each expression is
  * bit-identical to its reference counterpart (a Column function, or
  * `MinHashRef` for minhashSig) — asserted in `NativeExprParitySpec`.
  *
  * Codegen rule: an expression that mixes in `CodegenFallback` takes its
  * whole operator out of WholeStageCodegen (`CollapseCodegenStages` does not
  * fuse an operator holding one). Each expression here either falls back on
  * purpose, where its operator is not a hot fused span, or its `doGenCode`
  * emits one call into its own public Scala method through
  * `ctx.addReferenceObj` (the [[ThetaBoundsExpr]] shape). None carries a
  * hand-written Java twin of its Scala loop.
  */
object NativeExprs {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** MinHash signature over character k-grams of an (already normalized)
    * text, using a multiply-shift hash family: sig[j] = min over grams g of
    * (a_j·xxhash64(g) + b_j) >>> 1. Byte-exact Scala reference:
    * `MinHashRef.signature`.
    */
  def minhashSig(text: Column, k: Int, numHashes: Int, seed: Long): Column =
    col(MinHashSigExpr(expr(text), k, numHashes, seed))

  /** 64-bit SimHash over the `[a-z]+` runs of `lower(text)`; matches
    * `Dedup.simhash64`. */
  def simhash64(text: Column): Column = col(SimHash64Expr(expr(text)))

  /** Multi-table SRP-LSH bucket ids (one long per table); table t uses the
    * hyperplane set seeded `seed + t·7919`; matches
    * `Similarity.srpSignature` per table. */
  def srpSigs(vec: Column, nBits: Int, tables: Int, dim: Int, seed: Long): Column =
    col(SrpSigsExpr(expr(vec), nBits, tables, dim, seed))

  /** Cosine similarity of two float/double array columns in double
    * precision; matches `Similarity.cosine` bit-for-bit (same fold order). */
  def cosineSim(a: Column, b: Column): Column = col(CosineSimExpr(expr(a), expr(b)))

  /** Stopword/CJK language ID; matches `TextAnalysis.langId`. */
  def langId(text: Column): Column = col(LangIdExpr(expr(text)))

  /** Registrable domain of a URL (ClickHouse
    * `cutToFirstSignificantSubdomain`): one label + public suffix, via the
    * embedded suffix-lite table; matches
    * `TextAnalysis.registeredDomainHof`. */
  def registeredDomain(url: Column): Column = col(RegisteredDomainExpr(expr(url)))

  /** Per-doc learned-BPE token count under `merges`; matches
    * `BpeModel.docTokenCounts` / the replace-chain column form exactly. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    col(BpeTokenCountExpr(expr(text), merges))

  /** Per-doc unigram-LM Viterbi stats under a learned piece vocabulary:
    * struct<n_pieces, unigram_cost> summed over `[a-z]+` word runs of the
    * lowercased text; matches `UnigramLm.docTokenStats` / the unrolled-DP
    * oracle exactly (integer combined-key DP, see
    * [[graft.operators.UnigramLm]]). */
  def unigramStats(text: Column, model: graft.operators.UnigramLm.Model): Column =
    col(UnigramStatsExpr(expr(text), model))

  /** Per-doc WordPiece greedy-encoding stats under a learned vocabulary:
    * struct<n_pieces, n_unk, wp_sig> summed over `[a-z]+` word runs of the
    * lowercased text; matches `WordPiece.docTokenStats` / the unrolled
    * greedy-walk oracle exactly (see [[graft.operators.WordPiece]]). */
  def wordpieceStats(text: Column, model: graft.operators.WordPiece.Model): Column =
    col(WordpieceStatsExpr(expr(text), model))

  /** Per-doc byte-level BPE stats under learned merges: struct<n_pretokens,
    * n_tokens, enc> where `enc` is the '|'-joined separator-wrapped encoded
    * stream; matches `ByteBpe.docStatsChain` (pre-md5) exactly — see
    * [[graft.operators.ByteBpe]]. */
  def byteBpeStats(text: Column, model: graft.operators.ByteBpe.Model): Column =
    col(ByteBpeStatsExpr(expr(text), model))

  /** LTTB point selection over a collected (x, id, y) point array: the
    * selected 0-based indices under the integer-exact triangle-area
    * contract; matches `EventAnalytics.lttbChain` exactly (parity-tested
    * in LttbSpec). */
  def lttbSelect(pts: Column, k: Int): Column = col(LttbSelectExpr(expr(pts), k))

  /** Exponential-decay / EMA / Holt recurrence walk over a collected,
    * pre-sorted (ts, id, day, v) event array: one JVM loop per key with an
    * exactly-sized output buffer, replacing the interpreted HOF fold whose
    * `concat(out, array(e))` append copies the accumulator each step.
    * Matches `EventAnalytics.decayFoldChain` bit-for-bit (same pinned IEEE
    * op tree; parity-tested in EmaSpec). */
  def decayFold(rows: Column): Column = col(DecayFoldExpr(expr(rows)))

  /** PCA projection of an embedding column under a learned model: the r
    * component coordinates as array<double>; matches the literal
    * multiply-add chains of `Pca.project` bit-for-bit (same pinned IEEE
    * order; parity-tested in NativeExprParitySpec). The chain form
    * overflows Janino's 64 KB method limit at dim 64 × r 32 — this is the
    * runtime form, the chain is the reference and the oracle's replay. */
  def pcaProject(vec: Column, model: graft.operators.Pca.Model): Column =
    col(PcaProjectExpr(expr(vec), model))

  /** Distinct hashed character k-shingles of the NORMALIZED text; matches
    * `Dedup.shingleHashes` (which also normalizes) in first-occurrence order.
    * Normalization is composed here so the two forms agree on raw input. */
  def shingleSet(text: Column, k: Int): Column =
    col(ShingleSetExpr(NormalizeTextExpr(expr(text)), k))

  /** Distinct hashed character k-shingles of the RAW text — no
    * normalization, for callers whose semantics are defined on the exact
    * byte sequence (e.g. the edit-distance q-gram prefilter, where
    * candidates only need to be a superset and the verify is exact). */
  def rawShingleSet(text: Column, k: Int): Column =
    col(ShingleSetExpr(expr(text), k))

  /** Ed-Join count filter over two SORTED array<int> gram sets: TRUE iff the
    * distinct intersection is ≥ max(|a|, |b|) − slack. See
    * [[SortedIntersectGeExpr]]; reference form `size(array_intersect(a, b))
    * >= greatest(size(a), size(b)) - slack` is parity-pinned. */
  def sortedIntersectGe(a: Column, b: Column, slack: Int): Column =
    col(SortedIntersectGeExpr(expr(a), expr(b), slack))

  /** Whitespace-collapse + lowercase + trim; byte-identical to
    * `trim(regexp_replace(lower(text), TextAnalysis.WsPattern, " "))` —
    * RE2 `\s` semantics (no VT), see [[graft.functions.TextAnalysis.WsClass]]. */
  def normalizeText(text: Column): Column = col(NormalizeTextExpr(expr(text)))

  /** Encoding-repair normalizer (ftfy-lite): undo UTF-8-bytes-read-as-
    * cp1252/latin-1 mojibake, including double encodings. See
    * [[FixMojibakeExpr]]. */
  def fixMojibake(text: Column): Column = col(FixMojibakeExpr(expr(text)))

  /** xxhash64 (seed 42, Spark's own) of EVERY k-codepoint window of `text`,
    * in position order — `windowHashes(s, k)[i] == xxhash64(substring(s,
    * i+1, k))` for 0-based i (parity-pinned). One byte pass builds the
    * codepoint-offset table, so cost is O(bytes + windows·k) even on
    * non-ASCII text — the HOF form's `substr(i, k)` re-scans from byte 0
    * per window (the O(position) quadratic trap). */
  def windowHashes(text: Column, k: Int, seed: Long = 42L): Column =
    col(WindowHashesExpr(expr(text), k, seed))

  /** The k-codepoint substring of `text` at each 1-based codepoint position
    * in `positions` — `substringsAt(s, ps, k)[i] == substring(s, ps[i], k)`
    * (parity-pinned). Same single offset-table pass as [[windowHashes]]:
    * extraction is O(bytes + Σ window bytes), not O(Σ position). */
  def substringsAt(text: Column, positions: Column, k: Int): Column =
    col(SubstringsAtExpr(expr(text), expr(positions), k))

  /** Exact Jaccard of two distinct-element long arrays; matches
    * `Dedup.jaccardOfArrays`. */
  def jaccard(a: Column, b: Column): Column = col(JaccardExpr(expr(a), expr(b)))

  /** Jaccard over ASCENDING-SORTED long arrays (linear merge, zero
    * allocation); equals [[jaccard]] of the unsorted arrays. For gates that
    * run per candidate pair. */
  def sortedJaccard(a: Column, b: Column): Column =
    col(SortedJaccardExpr(expr(a), expr(b)))

  /** Integer dot product of two int-array columns (exact; runs once per
    * query × corpus row in the quantized ANN prescreen). */
  def intDot(a: Column, b: Column): Column = col(IntDotExpr(expr(a), expr(b)))

  /** 60-bit average-hash perceptual fingerprint of a binary column (see
    * [[PHash60Expr]]). */
  def phash60(bytes: Column): Column = col(PHash60Expr(expr(bytes)))

  /** Space-join the tokens whose positions are NOT in the ASCENDING-SORTED
    * `removed` int array (linear two-pointer walk — the per-row rebuild of
    * `Dedup.removeDuplicatedSpans`). HOF reference form:
    * `concat_ws(" ", filter-by-!array_contains)` — O(|toks|·|removed|),
    * parity-tested. */
  def maskedConcat(toks: Column, removed: Column): Column =
    col(MaskedConcatExpr(expr(toks), expr(removed)))

  /** windowFunnel DP over a time-sorted array<struct<t:long, step:int>>
    * (see `EventAnalytics.windowFunnel`). `mode`: 0 default, 1 strict_order,
    * 2 strict_dedup, 3 strict_increase — see [[FunnelLevelExpr]] for the
    * exact semantics. */
  def funnelLevel(seq: Column, nSteps: Int, windowSeconds: Long,
                  mode: Int): Column =
    col(FunnelLevelExpr(expr(seq), nSteps, windowSeconds, mode))

  /** Greedy non-overlapping sequence-match counter over a time-sorted
    * array<struct<t:long, step:int>> (see [[SequenceCountExpr]]). */
  def sequenceCount(seq: Column, nSteps: Int): Column =
    col(SequenceCountExpr(expr(seq), nSteps))

  /** Bounded sorted collect of (t, step) pairs: the `maxItems` time-EARLIEST
    * pairs per group, emitted time-sorted — hard O(maxItems) aggregation
    * state per key where `collect_list` is unbounded. Input must be a
    * struct<t:long, step:int> with t ≥ 0 and 0 ≤ step < 16. */
  def boundedEventSeq(tStep: Column, maxItems: Int): Column =
    col(BoundedTStepCollect(expr(tStep), maxItems).toAggregateExpression())

  /** Fraction of equal positions between two equal-length MinHash signature
    * arrays — the unbiased Jaccard estimate used to prune LSH candidates
    * before exact verification. */
  def sigMatchFraction(a: Column, b: Column): Column =
    col(SigMatchFractionExpr(expr(a), expr(b)))

  /** Stopword hits per word in one tokenize pass; matches
    * `TextAnalysis.stopwordRatio`'s HOF form. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    col(StopwordRatioExpr(expr(text), stopwords))

  /** Duplicate-trigram fraction in one tokenize pass (trigrams compared by
    * 64-bit hash); matches `TextAnalysis.repetitionRatio`'s HOF form up to
    * hash collisions (~2^-64 per trigram pair). */
  def repetitionRatio(text: Column): Column =
    col(RepetitionRatioExpr(expr(text)))

  /** All word/token/symbol counters the quality rules need, in ONE byte
    * pass (see [[TextStatsExpr]]); each field matches its HOF reference
    * form (parity-tested). */
  def textStats(text: Column, stopwords: Seq[String]): Column =
    col(TextStatsExpr(expr(text), stopwords))

  /** Main-text extraction from raw HTML (boilerplate stripped; see
    * [[HtmlExtractExpr]]): returns struct(text, n_kept, n_dropped). */
  def htmlExtract(html: Column): Column = col(HtmlExtractExpr(expr(html)))

  /** PQ codes of an array<double> vector under flattened codebooks
    * ([[PqEncodeExpr]]); HOF reference form parity-tested. */
  def pqEncode(vec: Column, cb: Array[Array[Array[Double]]],
               normalize: Boolean = false): Column = {
    val (flat, m, k, sd) = PqExprs.flatten(cb)
    col(PqEncodeExpr(expr(vec), flat, m, k, sd, normalize))
  }

  /** Fixed-point ADC lookup table of a query vector ([[PqLutExpr]]). */
  def pqLut(vec: Column, cb: Array[Array[Array[Double]]], scaleBits: Int,
            normalize: Boolean = false): Column = {
    val (flat, m, k, sd) = PqExprs.flatten(cb)
    col(PqLutExpr(expr(vec), flat, m, k, sd, scaleBits, normalize))
  }

  /** ADC score: Σ_m lut[m·K + codes[m]] ([[PqAdcExpr]]). */
  def pqAdc(codes: Column, lut: Column, k: Int): Column =
    col(PqAdcExpr(expr(codes), expr(lut), k))

  /** Character bigrams of an ALREADY [a-z ]-filtered text, as a byte loop —
    * the `transform(sequence, substr)` form is O(position) per substr and
    * goes quadratic on long documents. */
  def charBigrams(filtered: Column): Column = col(CharBigramsExpr(expr(filtered)))

  /** One-pass rare-transition scoring of an [a-z ]-filtered text against a
    * fixed bigram model (see `CorpusModel`): returns
    * struct(n_transitions, n_rare, min_p). */
  def rareTransitionStats(filtered: Column, bigramCounts: Map[String, Long],
                          prefixTotals: Map[String, Long],
                          threshold: Double): Column =
    col(RareTransitionStatsExpr(expr(filtered), bigramCounts, prefixTotals, threshold))
}

/** The 31-bit prime field shared by the shingle-hash domain (object so the
  * expressions don't capture `Dedup`'s DataFrame-level machinery). */
object Dedup31Prime {
  val P = 2147483647L // 2^31 - 1
}

/** Classic per-hash-function MinHash with a multiply-shift universal family:
  * gram hash s = xxhash64(gram bytes); h_j(s) = (a_j·s + b_j) >>> 1 with a_j
  * odd — two arithmetic ops per (gram, j), no division. sig[j] = min over
  * grams. Independent slots (unlike one-permutation hashing, whose densified
  * slots correlate on short docs and inflate LSH candidate counts ~4× on
  * this corpus). `MinHashRef.signature` is the byte-exact Scala reference
  * used by the parity test.
  */
case class MinHashSigExpr(child: Expression, k: Int, numHashes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val (as, bs) = MinHashRef.params(numHashes, seed)

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val nc = t.numChars()
    val nb = t.numBytes()
    val nGrams = math.max(nc - k + 1, 1)
    val ascii = nb == nc // char i starts at byte i → hash bytes in place
    val a = as; val b = bs
    var i = 0
    while (i < nGrams) {
      val s =
        if (ascii)
          XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset + i,
                                math.min(k, nb - i), seed)
        else {
          val gram = t.substringSQL(i + 1, k) // O(pos) scan; non-ASCII fallback
          XXH64.hashUnsafeBytes(gram.getBaseObject, gram.getBaseOffset,
                                gram.numBytes(), seed)
        }
      var j = 0
      while (j < numHashes) {
        val v = (a(j) * s + b(j)) >>> 1
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Scala reference implementation of [[MinHashSigExpr]] (parity oracle). */
object MinHashRef {
  /** Deterministic multiply-shift params: a_j odd 64-bit, b_j 64-bit. */
  def params(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = Array.fill(numHashes)(rnd.nextLong() | 1L)
    val bs = Array.fill(numHashes)(rnd.nextLong())
    (as, bs)
  }

  /** Byte-exact reference over a JVM string (ASCII corpus). */
  def signature(text: String, k: Int, numHashes: Int, seed: Long): Array[Long] = {
    val (as, bs) = params(numHashes, seed)
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val nGrams = math.max(bytes.length - k + 1, 1)
    var i = 0
    while (i < nGrams) {
      val len = math.min(k, bytes.length - i)
      val s = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + i, len, seed)
      var j = 0
      while (j < numHashes) {
        val v = (as(j) * s + bs(j)) >>> 1
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }
}

/** 64-bit SimHash whose per-word hash is derived from md5 — chosen over
  * xxhash64 so ANY engine with an md5 function reproduces the bits exactly
  * (the driver's DuckDB oracle recomputes whole simhashes in SQL). Word hash:
  * hex chars 1-8 of md5(word) = low 32 bits, chars 9-16 = high 32 bits. */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  @transient private lazy val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = {
    val md = mdLocal.get()
    val sums = new Array[Int](64)
    WordWalker.foreachWord(input.asInstanceOf[UTF8String]) { (w, len) =>
      md.reset()
      md.update(w, 0, len)
      val d = md.digest()
      val lo = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
               ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val hi = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
               ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      val h = (hi << 32) | lo
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (sums(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class SrpSigsExpr(child: Expression, nBits: Int, tables: Int, dim: Int,
                       seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // planes(t)(j*dim + i) — same gaussian stream as Similarity.hyperplanes
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(tables) { t =>
      val rnd = new scala.util.Random(seed + t * 7919L)
      Array.fill(nBits * dim)(rnd.nextGaussian())
    }
  @transient private lazy val elemIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      val pl = planes(t)
      var bucket = 0L
      var j = 0
      while (j < nBits) {
        var dot = 0.0
        val base = j * dim
        var i2 = 0
        while (i2 < n) { dot += v(i2) * pl(base + i2); i2 += 1 }
        if (dot >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Cosine over two array columns. Not CodegenFallback: this expression sits
  * inside candidate-scoring loops, and falling back would take the whole
  * scoring operator out of its WholeStageCodegen span. Generated code calls
  * [[cosine]]. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val lFloat = isFloat(left)
  @transient private lazy val rFloat = isFloat(right)

  /** Public for generated code. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    if (x.numElements() != y.numElements()) return 0.0 // matches the HOF form
    val n = x.numElements()
    val lf = lFloat; val rf = rFloat
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineSim", this, classOf[CosineSimExpr].getName)
    nullSafeCodeGen(ctx, ev, (x, y) => s"${ev.value} = $ref.cosine($x, $y);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Per-document learned-BPE token count: tokenize `[a-z]+` word runs of the
  * lowercased text ([[WordWalker]], the [[graft.operators.BpeModel]] word
  * basis), apply the learned merges to each word, sum the symbol counts.
  * One pass per row; a per-partition word memo makes the per-word merge
  * loop cost ∝ DISTINCT words, not corpus words. Exact-match reference
  * forms:
  * `BpeModel.tokenCountChain` (column replace-chain, what the DuckDB oracle
  * replays) and `BpeModel.docTokenCounts` (distinct-word join). */
case class BpeTokenCountExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  @transient private lazy val memo = new java.util.HashMap[String, java.lang.Integer]()

  private def countWord(w: String): Int = {
    val hit = memo.get(w)
    if (hit != null) return hit.intValue()
    val n = graft.operators.BpeModel.tokenizeCount(w, merges)
    // bound executor memory by SKIP-INSERT, not clear(): a wholesale clear
    // discards the hottest entries exactly when the partition is type-rich
    if (memo.size() < (1 << 16)) memo.put(w, n)
    n
  }

  override def nullSafeEval(input: Any): Any = {
    var total = 0L
    WordWalker.foreachWord(input.asInstanceOf[UTF8String]) { (w, len) =>
      total += countWord(WordWalker.string(w, len))
    }
    total
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-document unigram-LM Viterbi stats: tokenize `[a-z]+` word runs of the
  * lowercased text ([[WordWalker]]), run the integer combined-key Viterbi
  * DP per word under the learned vocabulary, sum the decomposed (n_pieces,
  * cost) pair. A per-partition word→key memo makes the DP cost ∝ DISTINCT
  * words. Exact reference forms: `UnigramLm.viterbiKeyChain` (HOF DP, what
  * the DuckDB oracle unrolls) and `UnigramLm.docTokenStats` (distinct-word
  * join). */
case class UnigramStatsExpr(child: Expression, model: graft.operators.UnigramLm.Model)
    extends UnaryExpression with CodegenFallback {
  import graft.operators.UnigramLm.KeyMul
  override def dataType: DataType = StructType(Seq(
    StructField("n_pieces", LongType, nullable = false),
    StructField("unigram_cost", LongType, nullable = false)))

  @transient private lazy val memo = new java.util.HashMap[String, java.lang.Long]()
  @transient private lazy val costOf = model.costOf

  private def keyOf(w: String): Long = {
    val hit = memo.get(w)
    if (hit != null) return hit.longValue()
    val k = graft.operators.UnigramLm.viterbiKey(w, costOf)
    if (memo.size() < (1 << 16)) memo.put(w, k) // skip-insert past the cap
    k
  }

  override def nullSafeEval(input: Any): Any = {
    var pieces = 0L
    var cost = 0L
    WordWalker.foreachWord(input.asInstanceOf[UTF8String]) { (w, len) =>
      // words of length ≥ KeyMul are outside the tokenizer contract (their
      // n_pieces would overflow the packed key): zero contribution, matching
      // UnigramLm.docTokenStats and the oracle's LEFT JOIN
      if (len < KeyMul) {
        val k = keyOf(WordWalker.string(w, len))
        pieces += k % KeyMul
        cost += k / KeyMul
      }
    }
    val row = new GenericInternalRow(2)
    row.setLong(0, pieces)
    row.setLong(1, cost)
    row
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** LTTB (largest-triangle-three-buckets) selection walk over one key's
  * collected, (x, id)-sorted point array — the whole sequential
  * bucket/centroid/argmax loop in one JVM frame per row (the per-key HOF
  * fold allocates per element and re-walks the array per candidate;
  * measured ~5× on the event corpus). Areas are exact: the centroid
  * division is multiplied away and the cross product runs in BigInteger
  * (the reference chain uses DECIMAL(38,0) — both exact, so bit-equal).
  * Ties take the earliest candidate (strict >, ascending scan). Exact
  * reference form: `EventAnalytics.lttbChain`. */
case class LttbSelectExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 3, "LTTB needs k >= 3")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    def X(i: Int): Long = arr.getStruct(i, 3).getLong(0)
    def Y(i: Int): Long = arr.getStruct(i, 3).getLong(2)
    if (n <= k) return new GenericArrayData(Array.tabulate(n)(identity))
    val km2 = k - 2
    val x0 = X(0)
    val sel = new Array[Int](k)
    sel(0) = 0
    var prev = 0
    var b = 1
    while (b <= km2) {
      val start = ((b - 1).toLong * (n - 2) / km2).toInt + 1
      val end = (b.toLong * (n - 2) / km2).toInt + 1
      val ns = end
      val ne = if (b == km2) n else ((b + 1).toLong * (n - 2) / km2).toInt + 1
      val m = (ne - ns).toLong
      // exact long arithmetic (multiplyExact/addExact): the oracle computes
      // these factors in HUGEINT, so a silent 64-bit wrap here would
      // DIVERGE rather than fail — an out-of-envelope series (bucket size ×
      // µs span products near 2^63) must die loudly instead
      import java.lang.Math.{addExact, multiplyExact, subtractExact}
      var sx = 0L
      var sy = 0L
      var j = ns
      while (j < ne) {
        sx = addExact(sx, X(j) - x0); sy = addExact(sy, Y(j)); j += 1
      }
      val f1 = java.math.BigInteger.valueOf(
        subtractExact(multiplyExact(m, X(prev) - x0), sx))
      val f4 = java.math.BigInteger.valueOf(
        subtractExact(multiplyExact(m, Y(prev)), sy))
      var bestI = -1
      var bestA: java.math.BigInteger = null
      var i = start
      while (i < end) {
        val f2 = java.math.BigInteger.valueOf(
          subtractExact(multiplyExact(m, Y(i)), sy))
        val f3 = java.math.BigInteger.valueOf(
          subtractExact(multiplyExact(m, X(i) - x0), sx))
        val a = f1.multiply(f2).subtract(f3.multiply(f4)).abs()
        if (bestI < 0 || a.compareTo(bestA) > 0) { bestI = i; bestA = a }
        i += 1
      }
      sel(b) = bestI
      prev = bestI
      b += 1
    }
    sel(k - 1) = n - 1
    new GenericArrayData(sel)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-document byte-level BPE stats: pre-tokenize with the hand-rolled
  * scanner twin of [[graft.operators.ByteBpe.PreTokenPattern]] (leftmost-
  * first alternation over explicit ASCII classes — branch order matters
  * and is pinned by the parity spec), encode each pre-token by sequential
  * rank-order merges over its UTF-8 hex-pair byte symbols, and emit
  * (n_pretokens, n_tokens, enc) where `enc` is the '|'-joined wrapped
  * stream the oracle's replace-chain reproduces. A per-partition
  * pre-token→encoding memo makes cost ∝ DISTINCT types; past the cap new
  * types are encoded but NOT inserted (skip-insert, not clear — a
  * wholesale clear would discard the hottest entries exactly when the
  * partition is type-rich). */
case class ByteBpeStatsExpr(child: Expression, model: graft.operators.ByteBpe.Model)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_pretokens", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("enc", StringType, nullable = false)))

  @transient private lazy val memo = new java.util.HashMap[String, (Int, String)]()
  private val MemoCap = 1 << 16

  private def isWs(c: Char) =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
  private def isLetter(c: Char) = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  private def isDigit(c: Char) = c >= '0' && c <= '9'
  private def isOther(c: Char) = !isLetter(c) && !isDigit(c) && !isWs(c)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val len = s.length
    val enc = new java.lang.StringBuilder(len * 4)
    var nPre = 0L
    var nTok = 0L
    var i = 0
    while (i < len) {
      val start = i
      val c = s.charAt(i)
      if (c == ' ' && i + 1 < len && isLetter(s.charAt(i + 1))) {
        i += 1; while (i < len && isLetter(s.charAt(i))) i += 1
      } else if (c == ' ' && i + 1 < len && isDigit(s.charAt(i + 1))) {
        i += 1; while (i < len && isDigit(s.charAt(i))) i += 1
      } else if (c == ' ' && i + 1 < len && isOther(s.charAt(i + 1))) {
        i += 1; while (i < len && isOther(s.charAt(i))) i += 1
      } else if (isWs(c)) {
        while (i < len && isWs(s.charAt(i))) i += 1
      } else if (isLetter(c)) {
        while (i < len && isLetter(s.charAt(i))) i += 1
      } else if (isDigit(c)) {
        while (i < len && isDigit(s.charAt(i))) i += 1
      } else {
        while (i < len && isOther(s.charAt(i))) i += 1
      }
      val tok = s.substring(start, i)
      var hit = memo.get(tok)
      if (hit == null) {
        val syms = graft.operators.ByteBpe.encodeToken(tok, model)
        hit = (syms.length, graft.operators.ByteBpe.wrapSymbols(syms))
        if (memo.size < MemoCap) memo.put(tok, hit)
      }
      if (nPre > 0L) enc.append('|')
      enc.append(hit._2)
      nPre += 1L
      nTok += hit._1
    }
    new GenericInternalRow(Array[Any](
      nPre, nTok, UTF8String.fromString(enc.toString)))
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The decay-family recurrence (time-decayed sum/count/max, α=1/4 EMA,
  * Holt linear level+trend) folded left over one key's time-sorted event
  * run. Input element struct: (ts: timestamp, id: long, day: long,
  * v: double) — already sorted by the caller's `array_sort(collect_list)`.
  * Output element struct matches `EventAnalytics.decayFoldChain`'s
  * `outType` field-for-field; every arithmetic step is the identical
  * pinned IEEE tree (decay factors are exact powers of two from the same
  * 0..62 clamp, α/β are exact binary fractions), so native and HOF forms
  * are bit-equal, not just close. */
case class DecayFoldExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("tds", DoubleType, nullable = false),
    StructField("ema", DoubleType, nullable = false),
    StructField("tdavg", DoubleType, nullable = false),
    StructField("tdmax", DoubleType, nullable = false),
    StructField("tdn", DoubleType, nullable = false),
    StructField("hl", DoubleType, nullable = false),
    StructField("hb", DoubleType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var pd = 0L
    var tds = 0.0; var tdn = 0.0; var ema = 0.0
    var tdmax = 0.0; var hl = 0.0; var hb = 0.0
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 4)
      val id = row.getLong(1)
      val day = row.getLong(2)
      val v = row.getDouble(3)
      if (i == 0) {
        tds = v; tdn = 1.0; ema = v; tdmax = v; hl = v; hb = 0.0
      } else {
        var dd = day - pd
        if (dd < 0L) dd = 0L
        if (dd > 62L) dd = 62L
        val decay = 1.0 / (1L << dd).toDouble
        tds = v + tds * decay
        tdn = 1.0 + tdn * decay
        ema = 0.25 * v + 0.75 * ema
        val tdm = tdmax * decay
        tdmax = if (v >= tdm) v else tdm
        val hlPrev = hl
        hl = 0.25 * v + 0.75 * (hlPrev + hb)
        hb = 0.125 * (hl - hlPrev) + 0.875 * hb
      }
      pd = day
      out(i) = new GenericInternalRow(
        Array[Any](id, tds, ema, tds / tdn, tdmax, tdn, hl, hb))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** PCA projection of one embedding vector under a learned model: the r
  * component sums Σ_p comps(c)(p)·(x_p − mean(p)), each accumulated
  * left-to-right — bit-identical to the literal multiply-add chains of
  * `Pca.project` (parity-tested in NativeExprParitySpec) and to the DuckDB
  * oracle's replay of the same chains.
  *
  * The chain form is the REFERENCE, not the runtime: at dim 64 × r 32 it
  * is a ~2,000-term expression tree whose generated code overflows
  * Janino's 64 KB method limit, so every execution pays a failed
  * whole-stage compile plus interpreted evaluation of the giant tree
  * (~8 s per run at sf0.1 — measured, ProfileQueries r17). Here the model
  * lives in two JVM arrays and the projection is one tight loop per row.
  *
  * Null contract: a NULL vector or any NULL element among the first `dim`
  * yields `array(NULL, …)` (r elements) — matching the chain, whose
  * `array()` never returns NULL and whose sums are poisoned by any NULL
  * term. A vector SHORTER than `dim` also yields the r-NULL array (total,
  * defined behavior) where the ANSI-mode chain would raise
  * INVALID_ARRAY_INDEX instead — the corpus never carries ragged vectors,
  * so the parity domain is equal-or-longer arrays. */
case class PcaProjectExpr(child: Expression, model: graft.operators.Pca.Model)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val nullRow: GenericArrayData =
    new GenericArrayData(Array.fill[Any](model.comps.length)(null))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return nullRow
    val x = v.asInstanceOf[ArrayData]
    val dim = model.mean.length
    val r = model.comps.length
    if (x.numElements() < dim) return nullRow
    val cent = new Array[Double](dim)
    var p = 0
    while (p < dim) {
      if (x.isNullAt(p)) return nullRow
      val xp = if (isFloat) x.getFloat(p).toDouble else x.getDouble(p)
      cent(p) = xp - model.mean(p)
      p += 1
    }
    val out = new Array[Any](r)
    var c = 0
    while (c < r) {
      val w = model.comps(c)
      var acc = w(0) * cent(0)
      var i = 1
      while (i < dim) { acc += w(i) * cent(i); i += 1 }
      out(c) = acc
      c += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-document WordPiece stats: tokenize `[a-z]+` word runs of the
  * lowercased text ([[WordWalker]]), greedy longest-match-first encode per
  * word under the learned vocabulary (`##` continuations, one `[UNK]` for
  * unmatchable or over-long words), sum the (n_pieces, n_unk, boundary-sig)
  * triple. A per-partition word→packed-stats memo makes the greedy cost ∝
  * DISTINCT words. Exact reference forms: `WordPiece.wordpieceChain` (HOF
  * walk, what the DuckDB oracle unrolls) and `WordPiece.docTokenStats`. */
case class WordpieceStatsExpr(child: Expression, model: graft.operators.WordPiece.Model)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_pieces", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false),
    StructField("wp_sig", LongType, nullable = false)))

  // packed memo value: sig·256 + np·2 + unk — np ≤ 63 (≤ word length) and
  // sig < 2^30 (mod 1e9+7), so the pack fits comfortably in a long
  @transient private lazy val memo = new java.util.HashMap[String, java.lang.Long]()
  @transient private lazy val pieces = model.pieceSet
  @transient private lazy val maxMatch = model.maxMatchLen

  private def packedOf(w: String): Long = {
    val hit = memo.get(w)
    if (hit != null) return hit.longValue()
    val (np, sig, unk) = graft.operators.WordPiece.encodeWord(w, pieces, maxMatch)
    val packed = sig * 256L + np * 2L + (if (unk) 1L else 0L)
    if (memo.size() < (1 << 16)) memo.put(w, packed) // skip-insert past the cap
    packed
  }

  override def nullSafeEval(input: Any): Any = {
    var np = 0L
    var unk = 0L
    var sig = 0L
    WordWalker.foreachWord(input.asInstanceOf[UTF8String]) { (w, len) =>
      val packed = packedOf(WordWalker.string(w, len))
      sig += packed / 256L
      np += (packed % 256L) / 2L
      unk += packed % 2L
    }
    val row = new GenericInternalRow(3)
    row.setLong(0, np)
    row.setLong(1, unk)
    row.setLong(2, sig)
    row
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Registrable-domain extraction — the RefinedWeb per-domain-cap key
  * (ClickHouse `cutToFirstSignificantSubdomain`, the tutorial-scale slice of
  * the Public Suffix List idea). One pure string pass, no allocation beyond
  * the label split (the LangIdExpr discipline):
  *
  *  1. authority = after `scheme://` (scheme optional), cut at `/ ? #`,
  *     after the last `@` (userinfo), before `:` (port); trailing dot
  *     (FQDN form) stripped; lowercased with UTF8String's own toLowerCase
  *     so case folding matches SQL `lower()` exactly.
  *  2. all-numeric labels → the host IS the key (IPv4 literal).
  *  3. longest suffix match against [[RegisteredDomainExpr.Suffixes]]
  *     (3-label, then 2-label, else the TLD); registrable domain = one
  *     label + suffix; a host that IS a public suffix returns itself.
  *
  * NULL for hosts that are empty or malformed (empty label). The embedded
  * table is deliberately a small documented subset — the operator contract
  * is the LOOKUP STRUCTURE (longest-match over multi-label suffixes), and
  * the full PSL is a drop-in data swap. */
case class RegisteredDomainExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import RegisteredDomainExpr._
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val schemeAt = s.indexOf("://")
    val rest = if (schemeAt >= 0) s.substring(schemeAt + 3) else s
    var end = rest.length
    var j = 0
    while (j < end) {
      val c = rest.charAt(j)
      if (c == '/' || c == '?' || c == '#') end = j else j += 1
    }
    val auth = rest.substring(0, end)
    val at = auth.lastIndexOf('@')
    val hostPort = if (at >= 0) auth.substring(at + 1) else auth
    val cp = hostPort.indexOf(':')
    var host = if (cp >= 0) hostPort.substring(0, cp) else hostPort
    if (host.endsWith(".")) host = host.substring(0, host.length - 1)
    if (host.isEmpty) return null
    host = UTF8String.fromString(host).toLowerCase.toString
    // limit -1: Java's default split DROPS trailing empty labels, silently
    // accepting a host ending in ".." as well-formed; SQL split keeps them
    val labels = host.split("\\.", -1)
    if (labels.isEmpty || labels.exists(_.isEmpty)) return null
    if (labels.forall(l => l.forall(c => c >= '0' && c <= '9')))
      return UTF8String.fromString(host) // IPv4 literal
    val n = labels.length
    def joinLast(k: Int) = labels.slice(n - k, n).mkString(".")
    val sufLen =
      if (n >= 3 && Suffixes.contains(joinLast(3))) 3
      else if (n >= 2 && Suffixes.contains(joinLast(2))) 2
      else 1
    UTF8String.fromString(if (n <= sufLen) host else joinLast(sufLen + 1))
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object RegisteredDomainExpr {
  /** Public-suffix-lite: the multi-label entries the longest-match consults
    * (1-label TLDs need no table — they are the default rule). A documented
    * subset of the Public Suffix List's two shapes: country second-level
    * registries and private registrable platforms. */
  val Suffixes: Set[String] = Set(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn",
    "co.in", "net.in", "org.in",
    "co.nz", "net.nz", "org.nz",
    "co.kr", "co.za", "com.mx", "com.tr", "com.sg", "com.hk",
    "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
    "appspot.com", "s3.amazonaws.com", "cloudfront.net")
}

case class NormalizeTextExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  @transient private lazy val ws =
    java.util.regex.Pattern.compile(graft.functions.TextAnalysis.WsPattern)

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    val nb = t.numBytes()
    if (nb != t.numChars()) {
      // non-ASCII fallback through the same primitives the SQL form uses
      return UTF8String.fromString(
        ws.matcher(t.toLowerCase.toString).replaceAll(" ")).trim()
    }
    val in = t.getBytes
    val out = new Array[Byte](nb)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < nb) {
      val c = in(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r' // RE2 \s — no VT
      if (isWs) { if (o > 0) pendingSpace = true } // leading ws drops
      else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o) // trailing ws left pending → dropped
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Encoding-repair normalizer (ftfy-lite): undo the classic
  * UTF-8-bytes-decoded-as-windows-1252 mojibake ("Ã©" → "é",
  * "â€™" → "’"), including double encodings ("ÃƒÂ©" → "é"), for the
  * cleaning pipeline. Algorithm — the core ftfy heuristic, whole-string:
  * re-encode the text as windows-1252 (Java's cp1252 is already "sloppy":
  * the five undefined bytes round-trip through their C1 controls, so
  * latin-1-decoded mojibake repairs too); strictly decode the bytes as
  * UTF-8; accept iff the decode succeeds AND strictly shrinks the
  * codepoint count (a multibyte sequence collapsed — pure-ASCII and
  * already-correct text round-trips equal-length or fails the decode and
  * is left untouched). Iterate, bounded: each accepted round shrinks the
  * string, and real feeds are at most double-encoded.
  *
  * Deliberate limitation (documented, like ftfy's own whole-segment mode):
  * a string MIXING mojibake with already-correct non-ASCII text fails the
  * strict whole-string decode and is returned unchanged — the common
  * cleaning-pipeline case is a document read wholesale with the wrong
  * codec, which corrupts (and here repairs) uniformly. Fixture-pinned in
  * NativeExprParitySpec; oracled end-to-end by `fix_mojibake` (planted
  * garble, DuckDB replace-chain replay). */
case class FixMojibakeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // fast path: ASCII bytes (the overwhelming majority at 100 TB) cannot
    // hold mojibake — numBytes == numChars ⇒ identity, zero allocation
    if (s.numBytes() == s.numChars()) return s
    var cur = s.toString
    var rounds = 0
    while (rounds < 4) { // bounded: real feeds are ≤ double-encoded (+margin)
      val fixed = FixMojibakeExpr.fixOnce(cur)
      if (fixed == null) return UTF8String.fromString(cur)
      cur = fixed
      rounds += 1
    }
    UTF8String.fromString(cur)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object FixMojibakeExpr {
  /** SLOPPY cp1252 (ftfy's `sloppy-windows-1252`): bytes 0x80-0x9F decode
    * to the cp1252 punctuation/letters where defined and to their C1
    * control chars at the five undefined positions (0x81 0x8D 0x8F 0x90
    * 0x9D) — Java's own windows-1252 maps those to U+FFFD, which destroys
    * round-tripping exactly where real mojibake lands them (the ” U+201D
    * sequence E2 80 9D ends in 0x9D). Everything else is latin-1. */
  private val DecodeTable: Array[Char] = {
    val t = Array.tabulate[Char](256)(_.toChar) // latin-1 + sloppy C1 identity
    val specials = Seq(
      0x80 -> '€', 0x82 -> '‚', 0x83 -> 'ƒ', 0x84 -> '„',
      0x85 -> '…', 0x86 -> '†', 0x87 -> '‡', 0x88 -> 'ˆ',
      0x89 -> '‰', 0x8A -> 'Š', 0x8B -> '‹', 0x8C -> 'Œ',
      0x8E -> 'Ž', 0x91 -> '‘', 0x92 -> '’', 0x93 -> '“',
      0x94 -> '”', 0x95 -> '•', 0x96 -> '–', 0x97 -> '—',
      0x98 -> '˜', 0x99 -> '™', 0x9A -> 'š', 0x9B -> '›',
      0x9C -> 'œ', 0x9E -> 'ž', 0x9F -> 'Ÿ')
    specials.foreach { case (b, c) => t(b) = c }
    t
  }
  private val EncodeMap: java.util.HashMap[Character, java.lang.Byte] = {
    val m = new java.util.HashMap[Character, java.lang.Byte]()
    var b = 0x80
    while (b <= 0x9F) { // specials + sloppy C1 identities, both invertible
      m.put(DecodeTable(b), b.toByte); b += 1
    }
    m
  }

  /** char → sloppy-cp1252 byte, or -1 if unmappable. */
  private def encodeChar(c: Char): Int =
    if (c < 0x80) c
    else if (c >= 0xA0 && c <= 0xFF) c
    else {
      val b = EncodeMap.get(c)
      if (b == null) -1 else b.byteValue() & 0xFF
    }

  private val utf8Dec = ThreadLocal.withInitial[java.nio.charset.CharsetDecoder](() =>
    java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT))

  /** One repair round, or null if the text is not (this round of) mojibake:
    * sloppy-cp1252-encodable, strict-UTF-8-decodable, strictly shrinking. */
  private[functions] def fixOnce(cur: String): String = {
    val bytes = new Array[Byte](cur.length)
    var i = 0
    while (i < cur.length) {
      val b = encodeChar(cur.charAt(i))
      if (b < 0) return null // a char no cp1252 read could have produced
      bytes(i) = b.toByte
      i += 1
    }
    val d = utf8Dec.get(); d.reset()
    val decoded =
      try d.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      catch { case _: java.nio.charset.CharacterCodingException => return null }
    val curCp = cur.codePointCount(0, cur.length)
    val decCp = decoded.codePointCount(0, decoded.length)
    if (decCp < curCp) decoded else null
  }

  /** The CORRUPTION direction (UTF-8 bytes read as sloppy-cp1252), exposed
    * so the contract query and specs plant garble with the exact inverse of
    * the repair — no hand-transcribed mojibake literals to get wrong. */
  def garble(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = DecodeTable(bytes(i) & 0xFF); i += 1 }
    new String(out)
  }
}

/** Deepest-funnel-level DP (see `EventAnalytics.windowFunnel` for the
  * semantics): input is a (t, step)-sorted array of struct<t:long, step:int>.
  *
  * Modes (ClickHouse `windowFunnel` flags, each with a DECLARATIVE
  * definition the oracles and brute-force specs replay — input times must
  * be TOTALLY ordered for modes 1/2, the caller's µs contract):
  *
  *  - 0 (default): level ≥ s iff events matching steps 1..s exist at
  *    t1 ≤ … ≤ ts with ts − t1 ≤ window. `best(s)` tracks the latest
  *    chain-start time reaching level s.
  *  - 1 (strict_order, "no interventions of other events"): the chain must
  *    be CONSECUTIVE in the user's full event stream — the input carries
  *    ALL events, non-funnel ones as step 0, and level ≥ s iff some s
  *    consecutive array elements match steps 1..s in order within window.
  *    DP state: the (level, start) of the unique step-1-rooted run ending
  *    at the previous element.
  *  - 3 (strict_increase, "conditions only on strictly increasing
  *    timestamps"): the default semantics with t1 < … < ts STRICT — at
  *    second granularity ties are common, so a same-timestamp pair can no
  *    longer form a chain step. DP: `best(s)` as in mode 0, but updates
  *    from the CURRENT timestamp group are deferred until t advances, so an
  *    extension only ever sees chains whose last event is strictly earlier.
  *  - 2 (strict_dedup, "a repeating event interrupts"): level ≥ s iff a
  *    chain t1 < … < ts (steps 1..s, ts − t1 ≤ window) exists whose span
  *    [t1, ts] contains EXACTLY ONE event of each step 1..s (steps > s may
  *    repeat freely inside). Single-pass automaton: only the latest step-1
  *    event can root a valid chain (any earlier root's future span would
  *    contain it), so track one (start, expected, cap) — a duplicate of a
  *    matched step kills the root, an early out-of-order step j caps
  *    reachable levels at j − 1, and levels are recorded at match time
  *    (events after a match never invalidate it: they fall outside that
  *    chain's span).
  */
case class FunnelLevelExpr(child: Expression, nSteps: Int, windowSeconds: Long,
                           mode: Int)
    extends UnaryExpression {
  require(mode >= 0 && mode <= 3, s"unknown funnel mode $mode")
  override def dataType: DataType = IntegerType

  /** Public for generated code. Evaluated once per user (the input is the
    * per-user capped array); generating the call instead of falling back
    * keeps the surrounding projection inside its WholeStageCodegen span. */
  def level(arr: ArrayData): Int = mode match {
    case 0 => evalDefault(arr)
    case 1 => evalStrictOrder(arr)
    case 2 => evalStrictDedup(arr)
    case 3 => evalStrictIncrease(arr)
  }
  override def nullSafeEval(input: Any): Any = level(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("funnelLevel", this, classOf[FunnelLevelExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.level($arr);")
  }

  private def evalDefault(arr: ArrayData): Int = {
    val best = Array.fill(nSteps + 1)(Long.MinValue)
    var level = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val row = arr.getStruct(i, 2)
      val t = row.getLong(0)
      val s = row.getInt(1)
      if (s == 1) {
        if (t > best(1)) best(1) = t
        if (level < 1) level = 1
      } else if (s > 1 && best(s - 1) != Long.MinValue && t - best(s - 1) <= windowSeconds) {
        if (best(s - 1) > best(s)) best(s) = best(s - 1)
        if (level < s) level = s
      }
      i += 1
    }
    level
  }

  private def evalStrictIncrease(arr: ArrayData): Int = {
    val best = Array.fill(nSteps + 1)(Long.MinValue)
    // chain updates formed AT the current timestamp: not extendable until t
    // advances (an extension needs the previous step strictly earlier)
    val pending = Array.fill(nSteps + 1)(Long.MinValue)
    var curT = Long.MinValue
    var level = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val row = arr.getStruct(i, 2)
      val t = row.getLong(0)
      val s = row.getInt(1)
      if (t != curT) {
        var j = 1
        while (j <= nSteps) {
          if (pending(j) > best(j)) best(j) = pending(j)
          pending(j) = Long.MinValue
          j += 1
        }
        curT = t
      }
      if (s == 1) {
        if (t > pending(1)) pending(1) = t
        if (level < 1) level = 1
      } else if (s > 1 && best(s - 1) != Long.MinValue &&
                 t - best(s - 1) <= windowSeconds) {
        if (best(s - 1) > pending(s)) pending(s) = best(s - 1)
        if (level < s) level = s
      }
      i += 1
    }
    level
  }

  private def evalStrictOrder(arr: ArrayData): Int = {
    // the only step-1-rooted consecutive run ending at element i-1: its
    // level and start time (start == MinValue ⇔ no live run)
    var prevLevel = 0
    var prevStart = Long.MinValue
    var level = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val row = arr.getStruct(i, 2)
      val t = row.getLong(0)
      val s = row.getInt(1)
      var curLevel = 0
      var curStart = Long.MinValue
      if (s == 1) { curLevel = 1; curStart = t }
      else if (s > 1 && s == prevLevel + 1 && prevStart != Long.MinValue &&
               t - prevStart <= windowSeconds) {
        curLevel = s; curStart = prevStart
      }
      if (curLevel > level) level = curLevel
      prevLevel = curLevel; prevStart = curStart
      i += 1
    }
    level
  }

  private def evalStrictDedup(arr: ArrayData): Int = {
    var start = Long.MinValue // latest step-1 root, MinValue = dead
    var expected = 0          // next step the live root needs
    var cap = Int.MaxValue    // first step that arrived early: levels ≥ cap unreachable
    var level = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val row = arr.getStruct(i, 2)
      val t = row.getLong(0)
      val s = row.getInt(1)
      if (s == 1) {
        start = t; expected = 2; cap = Int.MaxValue
        if (level < 1) level = 1
      } else if (s > 1 && start != Long.MinValue) { // step-0 (non-funnel) inert
        if (s < expected) start = Long.MinValue // duplicate of a matched step
        else if (s == expected) {
          if (expected < cap && t - start <= windowSeconds) {
            if (level < s) level = s
            expected += 1
            if (expected >= cap) start = Long.MinValue // capped out
          } else start = Long.MinValue // window blown (later is worse) or capped
        } else { // s > expected: arrived before its turn — its future match's
                 // span would contain this copy, so levels ≥ s are unreachable
          if (s < cap) cap = s
        }
      }
      i += 1
    }
    level
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** ClickHouse `sequenceCount('(?1)(?2)…')`-style greedy NON-OVERLAPPING
  * pattern counter: over the (t, step)-sorted event array, an automaton
  * advances on each event matching its next expected step and, on
  * completing step `nSteps`, increments the count and resets — the greedy
  * scan is optimal for counting disjoint subsequence matches. Order must be
  * total (the event-time tie-break contract of the caller); unbounded
  * window, like `sequenceMatch`. */
case class SequenceCountExpr(child: Expression, nSteps: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  /** Public for generated code. */
  def count(arr: ArrayData): Long = {
    var state = 1
    var cnt = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getStruct(i, 2).getInt(1)
      if (s == state) {
        if (state == nSteps) { cnt += 1L; state = 1 }
        else state += 1
      }
      i += 1
    }
    cnt
  }
  override def nullSafeEval(input: Any): Any = count(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sequenceCount", this, classOf[SequenceCountExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.count($arr);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class ShingleSetExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    val p = Dedup31Prime.P
    val nc = t.numChars()
    val nb = t.numBytes()
    val nGrams = math.max(nc - k + 1, 1)
    val ascii = nb == nc
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < nGrams) {
      val h =
        if (ascii)
          XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset + i,
                                math.min(k, nb - i), 42L)
        else {
          val gram = t.substringSQL(i + 1, k)
          XXH64.hashUnsafeBytes(gram.getBaseObject, gram.getBaseOffset,
                                gram.numBytes(), 42L)
        }
      seen.add(java.lang.Math.floorMod(h, p))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Shared one-pass codepoint-offset table for the window expressions below:
  * `offsets(i)` = byte offset where codepoint i starts, `offsets(nc)` =
  * total bytes — built by scanning for non-continuation bytes
  * ((b & 0xC0) != 0x80), so any window's byte range is O(1) thereafter. */
private[functions] object CodepointOffsets {
  /** Callers pass the byte array they already materialized (one `getBytes`
    * per ROW total — a second call here would copy UnsafeRow-backed strings
    * twice). */
  def of(bytes: Array[Byte], nChars: Int): Array[Int] = {
    val nb = bytes.length
    val offs = new Array[Int](nChars + 1)
    var i = 0; var c = 0
    while (i < nb) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(c) = i; c += 1 }
      i += 1
    }
    offs(c) = nb
    offs
  }
}

/** xxhash64 (seed 42 by default, Spark's own) of every k-codepoint window,
  * position-ordered — the seed stage of exact substring deduplication (Lee
  * et al. ExactSubstr, character-granular). Parity: `transform(sequence(1,
  * char_length(s)-k+1), i -> xxhash64(substr(s, i, k)))`. Empty array when
  * the text holds fewer than k codepoints. A non-default `seed` yields an
  * INDEPENDENT fingerprint family — two seeds give a 128-bit pair whose
  * birthday-collision rate survives 10^14-window corpora (one 64-bit hash
  * does not: W²/2^65 false candidate groups at 100 TB). */
case class WindowHashesExpr(child: Expression, k: Int, seed: Long = 42L)
    extends UnaryExpression with CodegenFallback
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(k >= 1, "window length must be >= 1")
  // Seq[DataType] (covariant) — AbstractDataType itself is private[sql]
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    val nc = t.numChars()
    val n = nc - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val nb = t.numBytes()
    val out = new Array[Long](n)
    if (nb == nc) { // ASCII fast path: window i is bytes [i, i+k)
      var i = 0
      while (i < n) {
        out(i) = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset + i, k, seed)
        i += 1
      }
    } else {
      val bytes = t.getBytes
      val offs = CodepointOffsets.of(bytes, nc)
      var i = 0
      while (i < n) {
        out(i) = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offs(i),
          offs(i + k) - offs(i), seed)
        i += 1
      }
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** k-codepoint substrings at the given 1-based codepoint positions — the
  * verify-stage extractor paired with [[WindowHashesExpr]] (candidates only,
  * so the L× byte blow-up never touches non-duplicated text). Positions past
  * the end yield '' like SQL `substr`; positions < 1 clamp to 1 (callers
  * only ever pass in-range window starts — parity is pinned for p ≥ 1). */
case class SubstringsAtExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with CodegenFallback
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(k >= 1, "window length must be >= 1")
  // positions are read with ps.getInt: an array<bigint> caller (the natural
  // type of SQL array literals/sequence) must fail ANALYSIS, not read
  // garbage offsets
  override def inputTypes: Seq[DataType] =
    Seq(StringType, ArrayType(IntegerType))
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val t = a.asInstanceOf[UTF8String]
    val ps = b.asInstanceOf[ArrayData]
    val n = ps.numElements()
    val out = new Array[AnyRef](n)
    // returned strings must OWN their bytes — a view into `t`'s buffer
    // (often a reused UnsafeRow page) would silently mutate after the row
    // advances — so each window is an explicit copyOfRange
    val bytes = t.getBytes
    def slice(s: Int, e: Int): AnyRef =
      if (s >= e) UTF8String.EMPTY_UTF8
      else UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, s, e))
    if (t.numBytes() == t.numChars()) { // ASCII: byte == codepoint
      val nb = t.numBytes()
      var i = 0
      while (i < n) {
        val p = ps.getInt(i) - 1
        out(i) = slice(math.max(p, 0), math.min(math.max(p, 0) + k, nb))
        i += 1
      }
    } else {
      val nc = t.numChars()
      val offs = CodepointOffsets.of(bytes, nc)
      var i = 0
      while (i < n) {
        val p = math.max(ps.getInt(i) - 1, 0)
        val e = math.min(p + k, nc)
        out(i) = if (p >= e) UTF8String.EMPTY_UTF8
                 else slice(offs(p), offs(e))
        i += 1
      }
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Jaccard over two SORTED long arrays by linear merge — no hash sets, no
  * boxing, no per-call allocation: the shape for gates that run once per
  * CANDIDATE PAIR (the ngram direct branch evaluates it ~n²/2 times).
  * Duplicate runs within either array are collapsed (set semantics), so
  * `SortedJaccardExpr(sort_array(a), sort_array(b)) == JaccardExpr(a, b)`
  * for any inputs — parity-pinned. Inputs MUST be ascending-sorted. */
case class SortedJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0
    var inter = 0; var union = 0
    while (i < nx && j < ny) {
      val va = x.getLong(i); val vb = y.getLong(j)
      if (va == vb) {
        inter += 1; union += 1
        i += 1; while (i < nx && x.getLong(i) == va) i += 1
        j += 1; while (j < ny && y.getLong(j) == vb) j += 1
      } else if (va < vb) {
        union += 1
        i += 1; while (i < nx && x.getLong(i) == va) i += 1
      } else {
        union += 1
        j += 1; while (j < ny && y.getLong(j) == vb) j += 1
      }
    }
    while (i < nx) {
      val va = x.getLong(i); union += 1
      i += 1; while (i < nx && x.getLong(i) == va) i += 1
    }
    while (j < ny) {
      val vb = y.getLong(j); union += 1
      j += 1; while (j < ny && y.getLong(j) == vb) j += 1
    }
    if (union == 0) 0.0 else inter.toDouble / union
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Ed-Join count-filter predicate over two SORTED hashed gram sets:
  * TRUE iff |A ∩ B| ≥ max(|A|, |B|) − slack (distinct counts). One
  * allocation-free merge pass — the `array_intersect` reference form builds
  * a hash set AND materializes the intersection array per row, which
  * measured SLOWER than the banded levenshtein it was guarding (3.65 s vs
  * 1.81 s verify job at sf0.1); this form is ~100 integer-compares per pair.
  * Reference form (parity-pinned): `size(array_intersect(a, b)) >=
  * greatest(size(a), size(b)) - slack` on duplicate-free arrays.
  *
  * Takes array<int> children, the 32-bit-narrowed gram columns the
  * editdist verify carries through its join (half the row bytes): the count
  * bound survives ANY elementwise hash — |h(A)| ≤ |h(A∩B)| + |A\B| gives
  * |h(A)∩h(B)| ≥ max(|h(A)|,|h(B)|) − slack whenever |A\B|,|B\A| ≤ slack —
  * so collisions only admit extra candidates to the exact verify, never
  * drop true pairs. Inputs MUST be value-sorted. */
case class SortedIntersectGeExpr(left: Expression, right: Expression, slack: Int)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"SortedIntersectGeExpr requires both children array<int>; got ${l.sql}, ${r.sql}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0
    var inter = 0; var da = 0; var db = 0
    while (i < nx && j < ny) {
      val va = x.getInt(i); val vb = y.getInt(j)
      if (va == vb) {
        inter += 1; da += 1; db += 1
        i += 1; while (i < nx && x.getInt(i) == va) i += 1
        j += 1; while (j < ny && y.getInt(j) == vb) j += 1
      } else if (va < vb) {
        da += 1
        i += 1; while (i < nx && x.getInt(i) == va) i += 1
      } else {
        db += 1
        j += 1; while (j < ny && y.getInt(j) == vb) j += 1
      }
    }
    while (i < nx) {
      val va = x.getInt(i); da += 1
      i += 1; while (i < nx && x.getInt(i) == va) i += 1
    }
    while (j < ny) {
      val vb = y.getInt(j); db += 1
      j += 1; while (j < ny && y.getInt(j) == vb) j += 1
    }
    inter >= math.max(da, db) - slack
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** 60-bit average-hash (aHash-family) perceptual fingerprint over raw media
  * bytes: unsigned bytes are summed into 60 cyclic position buckets, and
  * bit j is set iff bucket j's mean exceeds the global mean — compared by
  * integer cross-multiplication (`s_j · n > total · n_j`), so the hash is
  * exactly engine-reproducible (no division, no floats). 60 bits, not 64,
  * keeps the value in a positive BIGINT everywhere (the [[portableGramHash]]
  * convention — a set bit 63 overflows engines without unsigned types).
  * Returns null-safe 0L for empty input. The cross-multiplied comparison is
  * overflow-free below 2^30 input bytes (s_j·n ≤ 255·n²/60 < 2^63) — 1 GiB,
  * past any realistic single-row media payload. */
case class PHash60Expr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](60)
    val counts = new Array[Long](60)
    var total = 0L
    var i = 0
    while (i < n) {
      val v = (bytes(i) & 0xff).toLong
      val b = i % 60
      sums(b) += v; counts(b) += 1; total += v
      i += 1
    }
    var h = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0 && sums(j) * n > total * counts(j)) h |= (1L << j)
      j += 1
    }
    h
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Kept-token concatenation: tokens (array<string>) minus the positions in
  * an ASCENDING-SORTED removed-position array (array<int>), joined by a
  * single space. Linear two-pointer merge; duplicate removed positions are
  * tolerated (the pointer just advances past them). */
case class MaskedConcatExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val rm = b.asInstanceOf[ArrayData]
    val n = toks.numElements(); val m = rm.numElements()
    val kept = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
    var i = 0; var j = 0
    while (i < n) {
      while (j < m && rm.getInt(j) < i) j += 1
      if (j >= m || rm.getInt(j) != i) kept += toks.getUTF8String(i)
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "), kept.toSeq: _*)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Integer dot product over two int arrays, accumulated in long (int8-range
  * inputs cannot overflow). HOF reference: `aggregate(zip_with(a, b, *), 0, +)`. */
case class IntDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getInt(i).toLong * y.getInt(i); i += 1 }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class JaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    val set = new java.util.HashSet[java.lang.Long](nx * 2)
    var i = 0
    while (i < nx) { set.add(x.getLong(i)); i += 1 }
    var inter = 0
    val seenY = new java.util.HashSet[java.lang.Long](ny * 2)
    i = 0
    while (i < ny) {
      val v = y.getLong(i)
      if (seenY.add(v) && set.contains(v)) inter += 1
      i += 1
    }
    val union = set.size + seenY.size - inter // set-semantics even if inputs carry dups
    if (union == 0) 0.0 else inter.toDouble / union
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Bounded sorted-collect aggregate over (t, step) pairs — the state-safe
  * input builder for [[FunnelLevelExpr]].
  *
  * `collect_list` keeps EVERY matching event per user: a bot with 10^8 funnel
  * events is a 10^8-element aggregation buffer on one task — OOM. This
  * aggregate keeps only the `maxItems` time-earliest pairs (a size-bounded
  * max-heap; an incoming pair beyond capacity either evicts the current
  * latest or is dropped), so per-key state is a hard O(maxItems) regardless
  * of input skew. The output is time-sorted, ready for the funnel DP.
  *
  * Bound semantics (documented, deterministic): a user exceeding `maxItems`
  * has their funnel level computed over their `maxItems` EARLIEST events in
  * (t, step) order. Pairs are encoded as (t << 4 | step): t in seconds
  * (< 2^59), step < 16.
  */
case class BoundedTStepCollect(
    child: Expression, maxItems: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Long]]
  with UnaryLike[Expression] {

  require(maxItems > 0, "maxItems must be positive")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("t", LongType), StructField("step", IntegerType))),
    containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Long] =
    new java.util.PriorityQueue[java.lang.Long](java.util.Collections.reverseOrder[java.lang.Long]())

  private def add(buf: java.util.PriorityQueue[java.lang.Long], enc: Long): Unit =
    if (buf.size < maxItems) buf.add(enc)
    else if (enc < buf.peek()) { buf.poll(); buf.add(enc) }

  override def update(buf: java.util.PriorityQueue[java.lang.Long],
                      input: InternalRow): java.util.PriorityQueue[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      add(buf, (row.getLong(0) << 4) | row.getInt(1).toLong)
    }
    buf
  }

  override def merge(a: java.util.PriorityQueue[java.lang.Long],
                     b: java.util.PriorityQueue[java.lang.Long]): java.util.PriorityQueue[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) add(a, it.next())
    a
  }

  override def eval(buf: java.util.PriorityQueue[java.lang.Long]): Any = {
    val n = buf.size
    val enc = new Array[Long](n)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { enc(i) = it.next(); i += 1 }
    java.util.Arrays.sort(enc)
    val rows = new Array[Any](n)
    i = 0
    while (i < n) {
      rows(i) = new GenericInternalRow(Array[Any](enc(i) >>> 4, (enc(i) & 15L).toInt))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: java.util.PriorityQueue[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedTStepCollect =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedTStepCollect =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BoundedTStepCollect =
    copy(child = c)
}

/** The one word walker behind every word-level native expression. Words
  * are the maximal `[a-z]+` runs of `lower(text)`, what
  * `TextAnalysis.words` extracts and the DuckDB oracles replay; no
  * expression walks words on its own. An all-ASCII row is lowered byte by
  * byte as it is walked. Any other row is first lowered whole with
  * `UTF8String.toLowerCase`, the SQL `lower()` rule, because a few
  * non-ASCII characters lower to ASCII letters (U+212A KELVIN SIGN to `k`,
  * U+0130 to `i` + U+0307). In UTF-8 the bytes `a`-`z` encode only those
  * letters, so the byte runs of the lowered row are its character runs. */
private[functions] object WordWalker {
  /** Calls `f(buf, len)` per word, with the word's bytes in `buf(0 until
    * len)`; `buf` is reused across the row's words. Returns the word count. */
  def foreachWord(t: UTF8String)(f: (Array[Byte], Int) => Unit): Int = {
    var bytes = t.getBytes
    var k = 0
    while (k < bytes.length && bytes(k) >= 0) k += 1
    if (k < bytes.length) bytes = t.toLowerCase.getBytes
    val buf = new Array[Byte](bytes.length)
    var count = 0
    var len = 0
    var i = 0
    while (i <= bytes.length) {
      val c = if (i < bytes.length) bytes(i) else 0.toByte
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      if (lc >= 'a' && lc <= 'z') { buf(len) = lc; len += 1 }
      else if (len > 0) { f(buf, len); count += 1; len = 0 }
      i += 1
    }
    count
  }

  /** The word as a JVM string (words are ASCII by construction). */
  def string(buf: Array[Byte], len: Int): String =
    new String(buf, 0, len, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** 64-bit xxhash of the word bytes, the stopword and trigram identity. */
  def hash(buf: Array[Byte], len: Int): Long =
    XXH64.hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)

  /** The [[hash]] of every word in a word list (the stopword lists). */
  def hashSet(words: Seq[String]): java.util.HashSet[java.lang.Long] = {
    val s = new java.util.HashSet[java.lang.Long]()
    words.foreach { w =>
      val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      s.add(hash(b, b.length))
    }
    s
  }
}

/** Every counter the word-level quality rules (Gopher flags, the quality
  * classifier's features) need:
  *
  *   struct(n_words, sum_wlen, n_stop,      — the words of [[WordWalker]]:
  *                                            `[a-z]+` runs of `lower(text)`
  *          n_toks, n_alpha_toks,           — \S+ runs / those with an ASCII
  *                                            letter
  *          n_hash, n_ellipsis,             — '#' count, non-overlapping '...'
  *          n_punct)                        — ASCII punctuation characters
  *
  * The word counters come from one walker pass; the other five come from
  * one pass over the raw UTF-8 bytes, which the HOF forms also read
  * un-lowered. UTF-8 continuation bytes are ≥ 0x80, so they never alias
  * ASCII whitespace/letters/punctuation — multi-byte characters simply ride
  * inside non-whitespace runs, exactly as `\S` sees them. The HOF reference
  * forms live in the gopher parity spec. */
case class TextStatsExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_wlen", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_toks", LongType, nullable = false),
    StructField("n_alpha_toks", LongType, nullable = false),
    StructField("n_hash", LongType, nullable = false),
    StructField("n_ellipsis", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false)))

  @transient private lazy val stopHashes = WordWalker.hashSet(stopwords)

  private def isWs(b: Byte): Boolean = // RE2 \s = [ \t\n\f\r] — NO \x0B; the
    // DuckDB oracle tokenizes with RE2 \S+, so the engine must agree on VT
    b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r'
  private def isPunct(b: Byte): Boolean =
    (b >= '!' && b <= '/') || (b >= ':' && b <= '@') ||
    (b >= '[' && b <= '`') || (b >= '{' && b <= '~')

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    var sumWlen = 0L; var nStop = 0L
    val nWords = WordWalker.foreachWord(t) { (w, len) =>
      sumWlen += len
      if (stopHashes.contains(WordWalker.hash(w, len))) nStop += 1
    }.toLong
    val bytes = t.getBytes
    var nToks = 0L; var nAlphaToks = 0L
    var nHash = 0L; var nPunct = 0L; var nEllipsis = 0L
    var inTok = false     // inside a \S+ run
    var tokHasAlpha = false
    var dotRun = 0L       // current '.' run length
    var i = 0
    while (i <= bytes.length) {
      val atEnd = i == bytes.length
      val b: Byte = if (atEnd) ' ' else bytes(i)
      if (!atEnd && !isWs(b)) {
        if (!inTok) { inTok = true; tokHasAlpha = false }
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) tokHasAlpha = true
      } else if (inTok) {
        nToks += 1; if (tokHasAlpha) nAlphaToks += 1
        inTok = false
      }
      if (!atEnd) {
        if (b == '#') nHash += 1
        if (isPunct(b)) nPunct += 1
        if (b == '.') dotRun += 1
        else { nEllipsis += dotRun / 3; dotRun = 0 }
      } else { nEllipsis += dotRun / 3 }
      i += 1
    }
    new GenericInternalRow(Array[Any](nWords, sumWlen, nStop, nToks, nAlphaToks,
                                      nHash, nEllipsis, nPunct))
  }
  override protected def withNewChildInternal(c: Expression): TextStatsExpr =
    copy(child = c)
}

/** Stopword-hit fraction over words, single pass; 0.0 for wordless text. */
case class StopwordRatioExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType

  @transient private lazy val stopHashes = WordWalker.hashSet(stopwords)

  override def nullSafeEval(input: Any): Any = {
    var hits = 0
    val n = WordWalker.foreachWord(input.asInstanceOf[UTF8String]) { (w, len) =>
      if (stopHashes.contains(WordWalker.hash(w, len))) hits += 1
    }
    if (n == 0) 0.0 else hits.toDouble / n
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Duplicate-trigram fraction over words, single pass; trigram identity is a
  * 64-bit combine of the three word hashes. */
case class RepetitionRatioExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any = {
    val hashes = new scala.collection.mutable.ArrayBuffer[Long](64)
    WordWalker.foreachWord(input.asInstanceOf[UTF8String]) { (w, len) =>
      hashes += WordWalker.hash(w, len)
    }
    val nTri = hashes.length - 2
    if (nTri <= 0) return 0.0
    val seen = new java.util.HashSet[java.lang.Long](nTri * 2)
    var dups = 0
    var i = 0
    while (i < nTri) {
      val h = XXH64.hashLong(hashes(i + 2),
                XXH64.hashLong(hashes(i + 1),
                  XXH64.hashLong(hashes(i), 42L)))
      if (!seen.add(h)) dups += 1
      i += 1
    }
    dups.toDouble / nTri
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Equal-position fraction of two long arrays (MinHash signatures). */
case class SigMatchFractionExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Character bigrams over a text already restricted to [a-z ] (ASCII by
  * construction): one byte pass, one 2-byte string per position. */
case class CharBigramsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = math.max(bytes.length - 1, 0)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, i, i + 2))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** One-pass scoring of an [a-z ]-filtered text against a FIXED Laplace-
  * smoothed bigram model: the 27×27 probability table is precomputed at plan
  * time, the eval is a single byte loop with two table lookups per position.
  * Output: struct(n_transitions:int, n_rare:int, min_p:double|null). */
case class RareTransitionStatsExpr(child: Expression,
                                   bigramCounts: Map[String, Long],
                                   prefixTotals: Map[String, Long],
                                   threshold: Double)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_transitions", IntegerType, nullable = false),
    StructField("n_rare", IntegerType, nullable = false),
    StructField("min_p", DoubleType, nullable = true)))
  override def nullable: Boolean = child.nullable

  private def code(b: Byte): Int = if (b == ' ') 26 else b - 'a'

  // probs(c1*27+c2) = (count+1) / (prefixTotal+27), matching CorpusModel
  @transient private lazy val probs: Array[Double] = {
    val p = new Array[Double](27 * 27)
    val alphabet = ('a' to 'z').map(_.toString) :+ " "
    for ((c1, i1) <- alphabet.zipWithIndex; (c2, i2) <- alphabet.zipWithIndex) {
      val bc = bigramCounts.getOrElse(c1 + c2, 0L)
      val pt = prefixTotals.getOrElse(c1, 0L)
      p(i1 * 27 + i2) = (bc + 1).toDouble / (pt + 27).toDouble
    }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = math.max(bytes.length - 1, 0)
    var rare = 0
    var minP = Double.MaxValue
    var i = 0
    while (i < n) {
      val p = probs(code(bytes(i)) * 27 + code(bytes(i + 1)))
      if (p < threshold) rare += 1
      if (p < minP) minP = p
      i += 1
    }
    new GenericInternalRow(Array[Any](n, rare, if (n == 0) null else minP))
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class LangIdExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    TextAnalysis.langOrder.map { l =>
      val s = new java.util.HashSet[String]()
      TextAnalysis.Stopwords(l).foreach(s.add)
      s
    }.toArray
  @transient private lazy val zhIdx = TextAnalysis.langOrder.indexOf("zh")
  @transient private lazy val langs: Array[UTF8String] =
    TextAnalysis.langOrder.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    val scores = new Array[Long](sets.length)
    WordWalker.foreachWord(t) { (w, len) =>
      val tok = WordWalker.string(w, len)
      var l = 0
      while (l < sets.length) { if (sets(l).contains(tok)) scores(l) += 1; l += 1 }
    }
    val s = t.toString
    val n = s.length
    // CJK codepoint signal for zh
    var ci = 0
    while (ci < n) {
      val cp = s.codePointAt(ci)
      if (cp >= 0x4e00 && cp <= 0x9fff) scores(zhIdx) += 1
      ci += Character.charCount(cp)
    }
    // earliest-language-wins under strict >
    var best = 0
    var l = 1
    while (l < scores.length) { if (scores(l) > scores(best)) best = l; l += 1 }
    langs(best)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
