package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Document deduplication for training-data pipelines, at four fidelities:
  * exact, MinHash+LSH, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (the point of each choice):
  *  - Exact dedup is one hash-shuffle on a 16-byte digest — never on the full
  *    text (shuffling 100 TB of text bodies vs ~2 TB of digests).
  *  - MinHash signatures/SimHash bits are per-row projections (no shuffle, no
  *    UDF — nested `transform` over the shingle array, codegen'd).
  *  - LSH banding turns the quadratic all-pairs problem into
  *    `groupBy(band, bandHash)` — only documents sharing a band bucket are
  *    ever paired. The bucket self-join shuffles on the bucket key; candidate
  *    verification then touches candidate pairs only.
  *  - Jaccard verification re-joins the (small) candidate set back to shingle
  *    arrays — O(candidates), not O(n²).
  *
  * All hash constants derive from a fixed seeded PRNG → runs are
  * deterministic. Arithmetic is kept below 2^62 (31-bit prime field), safe
  * under Spark 4's default ANSI overflow checking.
  */
object Dedup {

  val Prime = 2147483647L // 2^31 - 1, the MinHash field

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the lowest-id document per normalized-text digest.
    * Window `row_number()==1` over the digest — one shuffle on the digest. */
  def dropExactDuplicates(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprintMd5(col("text")))
      .orderBy(col("doc_id"))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** CCNet/RefinedWeb-style LINE-level exact dedup at chunk granularity:
    * a chunk is DUPLICATED when its md5 digest appears in ≥ 2 DISTINCT
    * documents (intra-document repeats are the document's own structure and
    * are kept — cross-corpus boilerplate is what this stage removes).
    * Returns per-doc (n_chunks, n_dup_chunks, kept_md5 — digest of the
    * surviving chunk indexes in order).
    *
    * Scale shape (the exact-dedup discipline): only (digest, doc_id) pairs
    * shuffle — chunk TEXT never leaves its scan task; the duplicated-digest
    * table is digest-keyed and joined back on the digest. Three shuffles
    * total (distinct, digest groupBy, per-doc groupBy). */
  def chunkLevelDedup(chunks: DataFrame): DataFrame = {
    val digested = chunks.select(col("doc_id"), col("chunk_idx"),
      md5(col("chunk_text").cast("binary")).as("__d"))
    val dupDigests = digested.select(col("__d"), col("doc_id")).distinct()
      .groupBy(col("__d")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__d"), col("__nd"))
    digested.join(dupDigests, Seq("__d"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
           count(col("__nd")).as("n_dup_chunks"), // non-null = duplicated
           md5(concat_ws(",",
             transform(sort_array(collect_list(when(col("__nd").isNull, col("chunk_idx")))),
               _.cast("string"))).cast("binary")).as("kept_md5"))
  }

  /** Incremental twin of [[chunkLevelDedup]] (the incremental_neardup
    * probe-shape discipline): a NEW BATCH of chunks probes the persisted
    * corpus chunk-digest index. A batch chunk is duplicated when its digest
    * exists in the corpus index OR appears in ≥ 2 distinct batch docs.
    * The batch side is the small frame — its distinct digests BROADCAST
    * into the index scan (left-semi); the corpus-sized index is never
    * shuffled, and the surviving digest set (≤ batch size) broadcasts back
    * onto the batch. Same per-doc output contract as the batch operator. */
  def incrementalChunkDedup(batchChunks: DataFrame, corpusDigests: DataFrame): DataFrame = {
    val bd = batchChunks.select(col("doc_id"), col("chunk_idx"),
      md5(col("chunk_text").cast("binary")).as("__d"))
    val inCorpus = corpusDigests
      .join(broadcast(bd.select(col("__d")).distinct()), Seq("__d"), "left_semi")
      .select(col("__d")).distinct()
    val inBatch = bd.select(col("__d"), col("doc_id")).distinct()
      .groupBy(col("__d")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("__d"))
    val dups = inCorpus.unionByName(inBatch).distinct()
      .withColumn("__dup", lit(1))
    bd.join(broadcast(dups), Seq("__d"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
           count(col("__dup")).as("n_dup_chunks"),
           md5(concat_ws(",",
             transform(sort_array(collect_list(when(col("__dup").isNull, col("chunk_idx")))),
               _.cast("string"))).cast("binary")).as("kept_md5"))
  }

  // ---------------------------------------------------------------- shingles

  /** Distinct character k-shingles of the normalized text, pre-hashed into the
    * 31-bit prime field (so downstream products never overflow). */
  def shingleHashes(text: Column, k: Int = 5): Column = {
    val t = TextAnalysis.normalized(text)
    val grams = transform(
      sequence(lit(1), greatest(length(t) - lit(k - 1), lit(1))),
      i => pmod(xxhash64(t.substr(i, lit(k))), lit(Prime)))
    array_distinct(grams)
  }

  // ---------------------------------------------------------------- minhash

  /** Explode a signature into LSH band buckets: (band, bucket-hash) pairs.
    * Two docs collide in a band iff their signature rows in that band agree
    * exactly — P[collide] = 1-(1-j^r)^b for Jaccard j, r rows, b bands.
    * Fixed band count → generated as a Scala-level expression list. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
             xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand), lit(b)).as("bucket"))
    }: _*)

  /** Candidate near-duplicate pairs via MinHash+LSH, verified with exact
    * Jaccard over the shingle sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, jaccard >= threshold.
    *
    * Scale shape: signatures come from the native [[graft.functions.NativeExprs.minhashSig]]
    * expression (no shingle arrays materialized corpus-wide); the exploded
    * band buckets carry only (band, bucket, id) — 24 bytes/row through the
    * shuffle. Shingle sets are recomputed ONLY for docs that appear in some
    * candidate pair (semi join), so verification cost is O(candidates).
    */
  /** Compute-bound projections need one task per core, but a small corpus
    * arrives as one parquet split (row groups cannot be subdivided) — fan the
    * rows out first. No-op whenever the scan already has enough splits, so at
    * real scale (thousands of files) nothing is shuffled. */
  private def fanOutSmallInput(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Candidate near-duplicate pipeline, staged by payload size:
    *
    *  1. one signature pass over the corpus → (id, 1 KB sig), materialized;
    *  2. LSH banding self-join over 24-byte (band, bucket, id) rows →
    *     distinct candidate pairs (permissive by design: banding at the
    *     32×4 operating point admits many weakly-similar pairs);
    *  3. signature-estimate prune: re-attach the 1 KB sigs (a table of
    *     O(corpus × 1 KB) — AQE broadcasts it at contract scale, shuffles
    *     it by id at 100 TB) and keep pairs with estimated Jaccard ≥
    *     threshold − estMargin. For 128 hashes the estimate's σ ≤ 0.045, so
    *     the default margin is ~4.5σ: a borderline true pair's drop
    *     probability is ~1e-5 per pair — negligible on any corpus this
    *     pipeline is pointed at, but not zero; callers gated by an EXACT
    *     oracle on a new corpus/seed should keep the margin ≥4σ (asserted
    *     against brute force in tests and the DuckDB oracle);
    *  4. exact shingle-set verification ONLY for the tiny survivor set —
    *     the 12 KB shingle arrays never ship for the bulk of candidates
    *     (at sf0.1 that is 455 k candidates pruned to ~300 before the
    *     shingle join: ~10 GB of array shuffle avoided).
    */
  def minhashNearDuplicates(docs: DataFrame, threshold: Double,
                            shingleK: Int = 5, numHashes: Int = 128,
                            bands: Int = 32, seed: Long = 42L,
                            estMargin: Double = 0.2): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // one signature pass over the corpus, reused by banding AND the
    // estimate prune
    val sigs = fanOutSmallInput(docs).select(
        col("doc_id"),
        graft.functions.NativeExprs.minhashSig(
          graft.functions.TextAnalysis.normalized(col("text")),
          shingleK, numHashes, seed).as("sig"))
      .localCheckpoint(true)
    val buckets = sigs
      .select(col("doc_id"), explode(lshBands(col("sig"), bands, r)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    val a = buckets.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
    val b = buckets.select(col("band"), col("bucket"), col("doc_id").as("id_b"))
    // hot-bucket salt guard (see saltedBandJoin): template floods would
    // otherwise serialize the banding self-join on one reducer
    val candidates = saltedBandJoin(a, b, "id_a")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // estimate prune: cheap per-pair signature comparison, no text payloads
    val pruned = candidates
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .filter(graft.functions.NativeExprs.sigMatchFraction(col("sig_a"), col("sig_b"))
                >= threshold - estMargin)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    // exact verification only for survivors — shingle sets are computed for
    // (and shipped to) the few docs that still appear in some pair
    val candIds = pruned.select(col("id_a").as("doc_id"))
      .union(pruned.select(col("id_b").as("doc_id"))).distinct()
    // shingle sets SORTED once per doc: the per-pair exact verify is then a
    // zero-allocation linear merge (SortedJaccardExpr) instead of two hash
    // sets over ~10^3-element arrays per surviving candidate
    val sh = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        sort_array(graft.functions.NativeExprs.shingleSet(col("text"), shingleK)).as("sh"))
    pruned
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.NativeExprs.sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact Jaccard of two pre-deduplicated arrays. */
  def jaccardOfArrays(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    coalesce(inter / nullif(uni, lit(0.0)), lit(0.0))
  }

  /** Brute-force n-gram Jaccard over all pairs — the O(n²) oracle used to
    * validate the LSH path in tests. Never run this at scale. */
  def bruteForceJaccardPairs(docs: DataFrame, threshold: Double,
                             shingleK: Int = 5): DataFrame = {
    val sh = docs.select(col("doc_id"),
      graft.functions.NativeExprs.shingleSet(col("text"), shingleK).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", graft.functions.NativeExprs.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** EXACT word-n-gram Jaccard near-duplicate pairs — the deterministic
    * complement to [[minhashNearDuplicates]] (same duty as the reference's
    * dedup passes, cf. `/root/reference/src/2-idempotent.test.ts:13-107`
    * idempotent-set semantics, generalized to similarity). Two exact plans,
    * chosen adaptively from one scalar of gram-frequency statistics:
    *
    *  - **Prefix-filtered (AllPairs/PPJoin family)** — the 100 TB text
    *    shape: each doc indexes only its |g| − ⌈t·|g|⌉ + 1 globally-rarest
    *    grams; two docs with J ≥ t MUST share a prefix gram, so the
    *    candidate self-join runs on the rare tail of the inverted index and
    *    hot stopword grams never become join keys. Candidates pass a size
    *    filter (J ≤ min/max — a necessary condition, not a heuristic), then
    *    exact verification joins the full gram arrays for survivors only.
    *
    *  - **Count-based** — dense gram universes (small vocabulary, long
    *    posting lists), where the prefix bound admits nearly every pair and
    *    the array-verify join becomes the cost: the number of shared grams
    *    per pair IS the intersection size, so a posting self-join +
    *    `groupBy(pair).count()` computes exact Jaccard with no arrays and
    *    no distinct. Chosen when Σ df² (exactly that join's output rows,
    *    read from the already-built frequency table, AQE-style) is small.
    *
    *  - **Direct** — DEGENERATE density: when Σ df² exceeds
    *    `directDensityFactor` × n² (the posting join would emit more rows
    *    than the full pair matrix holds), brute force is strictly cheaper
    *    than either "filter". A broadcast cross join streams every ordered
    *    pair through a two-stage verify with NO shuffle at all: a native
    *    Jaccard over xxhash64'd gram arrays first (collisions can only
    *    RAISE the estimate — a strict superset gate), then the exact
    *    string-array intersection for the survivors. Guarded by
    *    `maxDirectDocs` (the corpus must broadcast); a corpus both huge and
    *    this dense has Ω(n²) true output and no exact plan at all.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double, n: Int = 2,
                        maxDenseJoinRows: Double = 5e8,
                        directDensityFactor: Double = 0.5,
                        maxDirectDocs: Long = 100000L,
                        maxDirectBroadcastBytes: Long = 64L << 20): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val grams = wordGramSets(docs, n)
    // Strategy choice from one scalar of shuffle-sized statistics (the same
    // footprint AQE collects): Σ df², the posting self-join's output
    // cardinality. Dense gram universes (small vocab, long posting
    // lists — where prefix filtering admits nearly all pairs anyway) take
    // the count-based plan; Zipf universes (the 100 TB text shape, where
    // Σ df² explodes on stopword grams) take the prefix-filtered plan.
    val (sizes, posting, gramDf, joinRows) = gramIndex(grams)
    // cheap: grams is checkpointed; one pass yields both dispatch stats
    val st = grams.agg(count(lit(1)), coalesce(sum(size(col("g"))), lit(0L))).first()
    val (nDocs, totalGrams) = (st.getLong(0), st.getLong(1))
    // the direct plan BROADCASTS the hashed-gram table — estimate its bytes
    // (8 B per hashed gram + per-row overhead) and refuse the branch when it
    // exceeds the budget: at 100x scale an unguarded broadcast nested-loop
    // would OOM the executors before the O(n^2) gate is even the problem.
    // The fallback is the count-based posting plan (dense universes are
    // exactly where it is the designed alternative), then prefix-filtered.
    val directBytes = totalGrams * 8L + nDocs * 48L
    if (nDocs <= maxDirectDocs && directBytes <= maxDirectBroadcastBytes &&
        joinRows > directDensityFactor * nDocs.toDouble * nDocs.toDouble) {
      // DIRECT plan: the cross join carries ONLY hashed arrays and sizes
      // (the string arrays stay out of the broadcast and the per-pair row
      // copies), and a hashed Jaccard gate runs as the join's own filter.
      // A cross-difference xxhash64 collision raises J_hash, but a
      // collision BETWEEN two intersection grams lowers it — (i−1)/(u−1)
      // < i/u — so the gate is slackened by 2/max(sz): enough for two
      // intra-pair collisions (P ≈ |G|²·2⁻⁶⁴ ≈ 1e-16 for even one), making
      // a gate-dropped true pair need ≥3 simultaneous collisions (~1e-48).
      // The slack only admits extra candidates, which the exact verify
      // discards. Survivors are a bare (id_a, id_b) frame; the string-array
      // verify joins the grams back BY ID in a separate subtree, so
      // Catalyst cannot fold the expensive intersection into the
      // nested-loop condition over all n² pairs.
      // hashed grams SORTED once per doc → the per-pair gate is a linear
      // merge with zero allocation (SortedJaccardExpr) instead of building
      // two hash sets for each of the ~n²/2 pairs
      val hsets = grams.select(col("id"), size(col("g")).as("sz"),
        sort_array(transform(col("g"), x => xxhash64(x))).as("hg"))
      val cand = hsets
        .select(col("id").as("id_a"), col("sz").as("sz_a"), col("hg").as("hga"))
        .crossJoin(broadcast(hsets.select(col("id").as("id_b"),
          col("sz").as("sz_b"), col("hg").as("hgb"))))
        .filter(col("id_a") < col("id_b") &&
          least(col("sz_a"), col("sz_b")).cast("double")
            >= lit(threshold) * greatest(col("sz_a"), col("sz_b")) - lit(1e-9) &&
          graft.functions.NativeExprs.sortedJaccard(col("hga"), col("hgb"))
            >= lit(threshold) - lit(2.0) / greatest(col("sz_a"), col("sz_b")))
        .select("id_a", "id_b")
      return cand
        .join(grams.select(col("id").as("id_a"), col("g").as("ga"),
          size(col("g")).as("sz_a")), "id_a")
        .join(grams.select(col("id").as("id_b"), col("g").as("gb"),
          size(col("g")).as("sz_b")), "id_b")
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
        .withColumn("jac", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jac") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
    }
    if (joinRows <= maxDenseJoinRows) {
      // Count-based exact plan: shared-gram co-occurrence count IS the
      // intersection size, so no gram arrays ever ship and no distinct is
      // needed — one join on the gram, one partial-aggregated groupBy on the
      // pair, sizes carried inline on the posting rows. The size filter
      // runs BEFORE the aggregation: at high thresholds it discards most of
      // the joined rows, which is what keeps this plan cheap.
      val pa = posting.select(col("gram"), col("id").as("id_a"), col("sz").as("sz_a"))
      val pb = posting.select(col("gram"), col("id").as("id_b"), col("sz").as("sz_b"))
      // the −1e-9 mirrors the prefix-length guard: t·sz in doubles can land
      // a hair ABOVE the rational product (e.g. (1/91)·273 → 3.0000000000000004)
      // and drop a pair sitting exactly on the J = t size boundary
      pa.join(pb, Seq("gram"))
        .filter(col("id_a") < col("id_b") &&
          least(col("sz_a"), col("sz_b")).cast("double")
            >= lit(threshold) * greatest(col("sz_a"), col("sz_b")) - lit(1e-9))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(count(lit(1)).cast("double").as("inter"))
        .withColumn("jac", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jac") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
    } else {
      val cand = prefixFilteredCandidates(posting, gramDf, sizes, threshold)
      val szA = sizes.select(col("id").as("id_a"), col("sz").as("sz_a"))
      val szB = sizes.select(col("id").as("id_b"), col("sz").as("sz_b"))
      cand.join(szA, "id_a").join(szB, "id_b")
        .join(grams.select(col("id").as("id_a"), col("g").as("ga")), "id_a")
        .join(grams.select(col("id").as("id_b"), col("g").as("gb")), "id_b")
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
        .withColumn("jac", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jac") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
    }
  }

  /** Distinct word-n-gram sets per doc, checkpointed (shared by the
    * resemblance and containment joins): (id, g). Empty-gram docs (shorter
    * than `n` words) are dropped — both measures are undefined there. */
  private def wordGramSets(docs: DataFrame, n: Int): DataFrame =
    fanOutSmallInput(docs).select(
        col("doc_id").as("id"),
        split(TextAnalysis.normalized(col("text")), " ").as("w"))
      .select(col("id"),
        when(size(col("w")) >= n,
             array_distinct(expr(
               s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))")))
          .otherwise(array().cast("array<string>")).as("g"))
      .filter(size(col("g")) > 0)
      .localCheckpoint(true)

  /** The gram index both exact pair joins build over (id, g) gram sets:
    * `sizes` = (id, sz); `posting` = (id, sz, gram), one row per (doc,
    * distinct gram), the set size riding inline so no join is needed to
    * reach it; `gramDf` = (gram, df); and Σ df², EXACTLY the posting
    * self-join's output cardinality (one action). */
  private def gramIndex(grams: DataFrame): (DataFrame, DataFrame, DataFrame, Double) = {
    val sizes = grams.select(col("id"), size(col("g")).as("sz"))
    val posting = grams.select(col("id"), size(col("g")).as("sz"),
                               explode(col("g")).as("gram"))
    val gramDf = posting.groupBy("gram").agg(count(lit(1)).as("df"))
    // coalesce: an all-short corpus (every doc < n words) yields ZERO gram
    // rows, and sum over zero rows is NULL — take the empty-join (0.0) path
    val joinRows = gramDf.agg(coalesce(sum(col("df").cast("double") * col("df")),
                                       lit(0.0)))
      .first().getDouble(0)
    (sizes, posting, gramDf, joinRows)
  }

  /** Each doc's prefix in the rarest-first (df, gram) order, one row per
    * prefix gram: (id, sz, pos, gram). Length sz − ⌈t·sz⌉ + 1, the AllPairs
    * bound. The ceil must see the RATIONAL t·sz, not its binary-double
    * image: (1/91)·273 = 3.0000000000000004 in doubles, whose ceil (4)
    * would cut the prefix one gram short and silently drop pairs at exactly
    * the threshold. The epsilon under-ceilings at worst, which only
    * lengthens the prefix — conservative, still exact. */
  private def rarestFirstPrefix(posting: DataFrame, gramDf: DataFrame,
                                sizes: DataFrame, threshold: Double): DataFrame =
    posting.drop("sz").join(gramDf, "gram")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("gram")))).as("sorted"))
      .join(sizes, "id")
      .select(col("id"), col("sz"), expr(
        s"transform(slice(sorted, 1, sz - CAST(ceil($threshold * sz - 1e-9) AS INT) + 1), s -> s.gram)")
        .as("pref"))
      .select(col("id"), col("sz"), posexplode(col("pref")).as(Seq("pos", "gram")))

  /** EXACT directed n-gram CONTAINMENT pairs — C(a→b) = |Gₐ ∩ G_b| / |Gₐ|
    * ≥ t for every ordered pair a ≠ b. The ASYMMETRIC complement to
    * [[ngramJaccardPairs]]: resemblance finds same-sized near-twins, while
    * containment finds documents SUBSUMED by others (quotes, excerpts,
    * boilerplate wrappers around a copied core — J stays low when |G_b| ≫
    * |Gₐ|, C does not), the standard measure for quote/subset detection in
    * pre-training dedup.
    *
    * Two exact plans, dispatched on the same Σ df² statistic:
    *
    *  - **Count-based** (dense gram universes): the per-pair shared-gram
    *    count IS the intersection, so a posting self-join + pair count
    *    computes exact containment with no arrays; the one-sided size
    *    filter (|G_b| ≥ t·|Gₐ| — necessary since C ≥ t forces the overlap
    *    o = ⌈t·|Gₐ|⌉ ≤ |G_b|) runs before the aggregation.
    *
    *  - **One-sided prefix-filtered** (Zipf universes): in the global
    *    rarest-first (df, gram) total order, a pair with overlap ≥ o must
    *    share a gram among A's first |Gₐ| − o + 1 grams — by pigeonhole,
    *    regardless of B's ordering — so candidates join A's rare-gram
    *    PREFIX against B's FULL posting list (the full side never indexes
    *    hot grams as join keys from A's prefix: prefixes hold each doc's
    *    rarest grams). The positional residual (overlap ≤ |Gₐ| − posₐ for
    *    A's earliest shared gram) prunes inside the join; survivors verify
    *    exactly on the gram arrays.
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                       maxDenseJoinRows: Double = 5e8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val grams = wordGramSets(docs, n)
    val (sizes, posting, gramDf, joinRows) = gramIndex(grams)
    // one-sided size necessity: C ≥ t ⟹ |G_b| ≥ ⌈t·|Gₐ|⌉ (the −1e-9 keeps
    // the rational t·sz boundary from rounding a hair high in doubles)
    val sizeOk = col("sz_b").cast("double") >= lit(threshold) * col("sz_a") - lit(1e-9)
    if (joinRows <= maxDenseJoinRows) {
      val pa = posting.select(col("gram"), col("id").as("id_a"), col("sz").as("sz_a"))
      val pb = posting.select(col("gram"), col("id").as("id_b"), col("sz").as("sz_b"))
      pa.join(pb, Seq("gram"))
        .filter(col("id_a") =!= col("id_b") && sizeOk)
        .groupBy("id_a", "id_b", "sz_a")
        .agg(count(lit(1)).cast("double").as("inter"))
        .withColumn("containment", col("inter") / col("sz_a"))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))
    } else {
      // A's rarest-first prefix against B's full posting list
      val pa = rarestFirstPrefix(posting, gramDf, sizes, threshold)
        .select(col("gram"), col("id").as("id_a"), col("sz").as("sz_a"), col("pos").as("pos_a"))
      val pb = posting.select(col("gram"), col("id").as("id_b"), col("sz").as("sz_b"))
      val cand = pa.join(pb, Seq("gram"))
        .filter(col("id_a") =!= col("id_b") && sizeOk)
        // overlap through A's EARLIEST shared gram is ≤ sz_a − pos_a: every
        // earlier A-gram is absent from B, so a qualifying pair survives
        // through that gram; later shared grams only tighten the bound
        .filter((col("sz_a") - col("pos_a")).cast("double")
          >= ceil(lit(threshold) * col("sz_a") - lit(1e-9)))
        .select("id_a", "id_b").distinct()
      cand
        .join(grams.select(col("id").as("id_a"), col("g").as("ga"),
          size(col("g")).as("sz_a")), "id_a")
        .join(grams.select(col("id").as("id_b"), col("g").as("gb")), "id_b")
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
        .withColumn("containment", col("inter") / col("sz_a"))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))
    }
  }

  /** Candidate generation for the prefix-filtered exact plan (AllPairs):
    * rarest-first order = (document frequency, gram), ties broken by the
    * gram string so the order is total and run-deterministic.
    *
    * Skew hardening — a Zipf head gram is a hot join key whose naive
    * fan-out is df², so two exact filters run INSIDE the candidate join,
    * before the dedup shuffle ever sees the flood:
    *  - size-ratio: J ≥ t forces min(sz)/max(sz) ≥ t — head-gram pairs
    *    between incompatible sizes die immediately;
    *  - positional (PPJoin lemma): a shared gram at 0-based sorted
    *    positions (pa, pb) admits overlap ≤ min(pa,pb) + 1 +
    *    min(sz_a−pa−1, sz_b−pb−1); pairs where that bound misses
    *    o = ⌈t/(1+t)·(sz_a+sz_b)⌉ are impossible. Exact: for a
    *    qualifying pair's FIRST common prefix gram, common-before is 0
    *    (any earlier common gram would itself be a common prefix gram),
    *    so the bound degenerates to the classic 1 + min(suffix) ≥ o and
    *    the pair survives through that gram.
    * Hot grams sort LAST in the rarest-first order, so they enter prefixes
    * at late positions with short suffixes — exactly where the positional
    * bound bites hardest. Residual in-partition skew is AQE's skew-join
    * split (enabled in the engine session defaults).
    *
    * Input contracts: `posting` = (id, sz, gram) one row per (doc, distinct
    * gram); `gramDf` = (gram, df); `sizes` = (id, sz). */
  private[graft] def prefixFilteredCandidates(posting: DataFrame, gramDf: DataFrame,
                                              sizes: DataFrame,
                                              threshold: Double): DataFrame = {
    val prefix = rarestFirstPrefix(posting, gramDf, sizes, threshold)
    val pa = prefix.select(col("gram"), col("id").as("id_a"),
                           col("sz").as("sz_a"), col("pos").as("pos_a"))
    val pb = prefix.select(col("gram"), col("id").as("id_b"),
                           col("sz").as("sz_b"), col("pos").as("pos_b"))
    pa.join(pb, Seq("gram"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double")
        >= lit(threshold) * greatest(col("sz_a"), col("sz_b")) - lit(1e-9))
      .filter(
        (least(col("pos_a"), col("pos_b")) + lit(1) +
         least(col("sz_a") - col("pos_a") - 1, col("sz_b") - col("pos_b") - 1))
          .cast("double")
        >= ceil(lit(threshold / (1.0 + threshold))
                  * (col("sz_a") + col("sz_b")) - lit(1e-9)))
      .select("id_a", "id_b").distinct()
  }

  // ---------------------------------------------------------------- edit distance

  /** Exact edit-distance similarity self-join over a short key column —
    * fuzzy dedup on titles, URLs, or leading sentences, where typo-level
    * divergence marks near-duplicate records. Returns (id_a, id_b, dist)
    * for every unordered pair with levenshtein(key_a, key_b) ≤ maxDist.
    *
    * Adaptive between two exact plans, chosen from two metadata-sized
    * statistics (mirroring [[ngramJaccardPairs]]'s Σdf² dispatch):
    *
    *  - PREFIX plan — the q-gram skeleton of Ed-Join (Xiao, Wang, Lin,
    *    VLDB'08; public algorithm): one edit destroys at most q of a
    *    string's character q-grams, so strings within distance k share at
    *    least one gram among the (k·q+1) RAREST distinct grams of each
    *    (rarest-first global order = (df, gram)). The candidate join
    *    touches only rare grams — a head gram never enters a prefix — so
    *    per-key fan-out stays bounded on the Zipf gram universes of real
    *    keys (URLs, titles) at 100 TB. Grams ride as
    *    [[graft.functions.ShingleSetExpr]] 64-bit hashes (one native pass,
    *    8 B join keys): a collision can only ADD a candidate, which the
    *    exact verify discards. Strings with ≤ k·q DISTINCT grams get no
    *    guarantee from the prefix lemma (k edits can rewrite their whole
    *    gram set); they route through the banded join below against the
    *    short zone only.
    *  - DIRECT banded plan: explode each key's admissible partner lengths
    *    ([len−k, len+k]) and equi-join on length — each unordered pair
    *    materializes exactly once (via the lower id's band row), with NO
    *    pair-dedup shuffle — then verify in the same stage. On a DENSE gram
    *    universe (tiny alphabet/vocabulary) the prefix join degenerates to
    *    ~all banded pairs anyway, and this plan skips its posting + sort +
    *    11M-row distinct entirely (7× at sf0.1: 20 s → 3 s). The length
    *    join has few distinct keys, but the pair side is a broadcast-sized
    *    key table whenever this plan is the right choice — a corpus both
    *    huge AND gram-dense has Ω(n²) true output and no exact plan at all.
    *
    * Dispatch: the prefix join's output is ≥ (rows²/universe) by
    * Cauchy–Schwarz, so prefix filtering only prunes when the gram universe
    * G is large relative to the (k·q+1)² per-key prefix fan-out. Choose
    * prefix iff G·β > directJoinFactor·(k·q+1)², where β = banded fraction
    * of the pair space (from a per-length histogram, ≤ one row per distinct
    * key length) and G = approx distinct grams (one zero-shuffle pass).
    * Verification is the banded O(k·len) thresholded levenshtein built-in
    * in both plans — both exact, spec-pinned against brute force.
    */
  /** The (id, key, len, q-gram set) table [[editDistancePairs]] joins and
    * verifies against — split out so callers can build it ONCE at ingest
    * time (it is a corpus artifact exactly like the LSH index: in
    * production it is persisted beside the corpus and appended per batch,
    * not rebuilt per query) and pass it back via `precomputedKeys`.
    * Returned un-materialized; callers that reuse it should
    * `localCheckpoint` it — [[editDistancePairs]] consumes it 3-4 times. */
  def editDistanceKeys(docs: DataFrame, q: Int): DataFrame =
    fanOutSmallInput(docs)
      .select(col("doc_id").as("id"), col("key").as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), col("s"), length(col("s")).as("len"),
        // sorted at build time so the verify stage's count filter runs as
        // one allocation-free merge pass (SortedIntersectGeExpr); posting
        // explode and size() consumers are order-insensitive
        sort_array(graft.functions.NativeExprs.rawShingleSet(col("s"), q))
          .as("g"))
      // 32-bit narrowing of the grams for the VERIFY carry (g is what the
      // posting/size consumers read; g32 is what rides the 12.5M-pair verify
      // join — half the attached bytes per pair). ShingleSetExpr hashes into
      // [0, 2^31) (floorMod by Dedup31Prime), so a plain int cast is
      // INJECTIVE on the domain — identical pruning power, half the bytes.
      // (NOT shiftright(x,32): the upper word is all zeros here, which maps
      // every gram to 0 and turns the count filter vacuous — measured 0.97 s
      // -> 2.2 s on the verify job.) Values are non-negative so the cast
      // preserves the sort; sort_array kept as a cheap ingest-time guard.
      .withColumn("g32", sort_array(transform(col("g"), x => x.cast("int"))))

  def editDistancePairs(docs: DataFrame, maxDist: Int, q: Int = 2,
                        directJoinFactor: Double = 4.0,
                        maxDirectKeyBytes: Long = 64L << 20,
                        precomputedKeys: Option[DataFrame] = None): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(q >= 1, "q must be >= 1")
    val kq = maxDist * q
    // precomputedKeys must be editDistanceKeys(docs, q) (same
    // q, and with `g` VALUE-SORTED as that builder emits it — the verify
    // stage's SortedIntersectGeExpr is a sorted-merge count whose bound
    // silently drops true pairs on out-of-order input; a keys frame persisted
    // by any other builder must re-sort before landing here), already
    // materialized by the caller's ingest-artifact cache
    val keys = precomputedKeys.getOrElse(
      editDistanceKeys(docs, q).localCheckpoint(true))

    // Ed-Join's COUNT filter ahead of the DP: one edit removes at most q
    // distinct members from a string's q-gram SET (it touches q gram
    // occurrences; each can erase at most one set member), so dist ≤ k
    // implies |gA ∩ gB| ≥ max(|gA|, |gB|) − k·q. The bound survives 64-bit
    // hashing (h(A)\h(B) ⊆ h(A\B): a value in h(A) but not h(B) can have no
    // preimage in B), so false negatives are impossible — collisions only
    // let a doomed pair through to the exact verify. The predicate runs as
    // one allocation-free merge pass over the build-time-sorted 32-BIT gram
    // sets (`g32` — truncation is just another elementwise hash, and
    // narrowing halves the gram bytes attached to every candidate pair row;
    // [[graft.functions.SortedIntersectGeExpr]] — ~100 int compares per
    // pair; the `array_intersect` form builds a hash set + result array per
    // pair and measured SLOWER than the DP it guards), pruning nearly all
    // of the dense direct-lane pair space before any levenshtein runs.
    def verified(cand: DataFrame): DataFrame = cand
      .join(keys.select(col("id").as("id_a"), col("s").as("s_a"),
                        col("g32").as("g_a")), "id_a")
      .join(keys.select(col("id").as("id_b"), col("s").as("s_b"),
                        col("g32").as("g_b")), "id_b")
      .filter(graft.functions.NativeExprs.sortedIntersectGe(
        col("g_a"), col("g_b"), kq))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))

    // length-banded oriented pairs via the band explode on the x side;
    // `xFilter` restricts the exploding side (whole corpus for the direct
    // plan, lemma-void keys for the prefix plan's fallback lane). Each
    // unordered pair with BOTH endpoints passing xFilter appears in both
    // orientations; pairs with only x passing appear once.
    def bandedOriented(xFilter: Column): DataFrame = keys.filter(xFilter)
      .select(col("id").as("id_x"),
        explode(sequence(col("len") - maxDist, col("len") + maxDist)).as("len"))
      .join(keys.select(col("id").as("id_y"), col("len")), Seq("len"))
      .filter(col("id_x") =!= col("id_y"))

    // ---- dispatch statistics (both metadata-sized)
    val lenCounts = keys.groupBy("len").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val n = lenCounts.map(_._2).sum.toDouble
    val banded = lenCounts.iterator.map { case (la, ca) =>
      ca.toDouble * lenCounts.iterator
        .filter { case (lb, _) => math.abs(la - lb) <= maxDist }.map(_._2).sum
    }.sum
    val beta = if (n == 0) 0.0 else banded / (n * n)
    val g = math.max(1L, keys
      .select(explode(col("g")).as("gram"))
      .agg(approx_count_distinct(col("gram"))).first().getLong(0)).toDouble
    // the direct plan is only sane while the key table is broadcast-sized:
    // its length equi-join has ~2k+1 distinct keys, so a shuffled fallback
    // would funnel the whole corpus through a handful of reducers. Estimate
    // the table's bytes from the same per-length histogram (2 B/char UTF-16
    // + per-row overhead) and force the prefix plan over budget.
    val keyBytes = lenCounts.iterator
      .map { case (l, c) => (l.toLong * 2L + 48L) * c }.sum
    val prefixWins = g * beta > directJoinFactor * (kq + 1.0) * (kq + 1.0) ||
      keyBytes > maxDirectKeyBytes

    if (!prefixWins) {
      // DIRECT: keeping only the orientation where the exploding side has
      // the lower id yields each unordered pair exactly once → verify
      // inline, no pair-dedup shuffle anywhere in the plan
      return verified(bandedOriented(lit(true))
        .filter(col("id_x") < col("id_y"))
        .select(col("id_x").as("id_a"), col("id_y").as("id_b")))
    }

    // PREFIX plan. Fallback lane: lemma-void keys via the banded join
    // (their partners are within ±k length, so the lane is complete);
    // weak-weak pairs arrive in both orientations — canonicalize, and the
    // downstream distinct dedups them
    val weakCand = bandedOriented(size(col("g")) <= kq)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
              greatest(col("id_x"), col("id_y")).as("id_b"))

    val posting = keys.filter(size(col("g")) > kq)
      .select(col("id"), col("len"), explode(col("g")).as("gram"))
    val gramDf = posting.groupBy("gram").agg(count(lit(1)).as("df"))
    val prefix = posting.join(gramDf, "gram")
      .groupBy("id")
      .agg(first(col("len")).as("len"),
           sort_array(collect_list(struct(col("df"), col("gram")))).as("sorted"))
      .select(col("id"), col("len"),
        explode(expr(s"transform(slice(sorted, 1, ${kq + 1}), x -> x.gram)")).as("gram"))
    val prefCand = prefix.select(col("gram"), col("id").as("id_a"), col("len").as("len_a"))
      .join(prefix.select(col("gram"), col("id").as("id_b"), col("len").as("len_b")),
            Seq("gram"))
      .filter(col("id_a") < col("id_b") &&
              abs(col("len_a") - col("len_b")) <= maxDist)
      .select("id_a", "id_b")

    verified(weakCand.unionByName(prefCand).distinct())
  }

  /** Equi-join two LSH index frames on (band, bucket) with HOT-BUCKET
    * salting — the skew guard for template-heavy corpora, where one bucket
    * holds thousands of near-identical docs and a plain shuffle join funnels
    * its whole pair grid through one reducer (the aggregation-side analogue
    * is [[graft.operators.Skew.saltedAggregate]]).
    *
    * Buckets whose LEFT-side size exceeds `cap` (one metadata-sized agg over
    * the left frame — the batch index in the incremental probe) get their
    * left rows salted by hash(id) mod `salt` and their right rows replicated
    * across all `salt` stripes, splitting the hot pair grid over `salt`
    * reducers; cold buckets pay a constant salt of 0 and no replication.
    * Every joined pair appears exactly once (for its left row's stripe), so
    * the result multiset is identical to the plain join — spec-pinned. */
  /** Hot-bucket detection for [[saltedBandJoin]]: one metadata-sized agg
    * over the (small, usually checkpointed) left index frame. Callers that
    * run several joins off the same left frame compute this once.
    * The hot set is BROADCAST, so it is capped at the `maxHot` hottest
    * buckets (TakeOrdered, count desc) — a pathological all-template corpus
    * cannot blow the broadcast; buckets beyond the cap degrade gracefully
    * to the plain (unsalted, still correct) join lane. */
  private[graft] def hotBuckets(left: DataFrame, cap: Long = 2048L,
                                maxHot: Int = 100000): DataFrame =
    left.groupBy("band", "bucket").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > cap)
      .orderBy(col("__c").desc, col("band"), col("bucket"))
      .limit(maxHot)
      .select(col("band"), col("bucket"), lit(true).as("__hot"))
      .localCheckpoint(true)

  private[graft] def saltedBandJoin(left: DataFrame, right: DataFrame,
                                    leftIdCol: String, salt: Int = 8,
                                    cap: Long = 2048L,
                                    hotOpt: Option[DataFrame] = None,
                                    rightIdCol: Option[String] = None,
                                    rightHotOpt: Option[DataFrame] = None): DataFrame = {
    val leftHot = hotOpt.getOrElse(hotBuckets(left, cap))
    // Per-bucket salting mode: 1 = hot on the LEFT (salt left rows by id,
    // replicate right across stripes — also covers hot-on-both, splitting
    // the grid S ways); 2 = hot on the RIGHT only (the asymmetric probe
    // case: a few new docs hitting a huge historical bucket — salting by
    // the FEW left ids cannot spread that grid, so the orientation flips:
    // replicate left, salt right by id). Right-side hotness comes from the
    // caller (`rightHotOpt`) because the right frame is corpus-sized — at
    // ingest its bucket histogram is a persisted artifact, not a query-time
    // scan.
    val modes = (rightIdCol, rightHotOpt) match {
      case (Some(_), Some(rh)) =>
        leftHot.select(col("band"), col("bucket"), lit(1).as("__mode"))
          .unionByName(rh.select(col("band"), col("bucket"), lit(2).as("__mode")))
          .groupBy(col("band"), col("bucket")).agg(min(col("__mode")).as("__mode"))
          .localCheckpoint(true)
      case _ =>
        leftHot.select(col("band"), col("bucket"), lit(1).as("__mode"))
    }
    // cold corpora (the common case) skip the salt machinery entirely — the
    // tag-join + per-row explode on the big side is pure overhead when no
    // bucket is hot, and the detection agg above is the only cost paid
    if (modes.isEmpty) return left.join(right, Seq("band", "bucket"))
    val hashSalt = array(pmod(xxhash64(col(leftIdCol)), lit(salt)).cast("int"))
    val allSalts = sequence(lit(0), lit(salt - 1))
    val coldSalt = array(lit(0))
    val lt = left.join(broadcast(modes), Seq("band", "bucket"), "left")
      .withColumn("__salt", explode(
        when(col("__mode") === 1, hashSalt)
          .when(col("__mode") === 2, allSalts)
          .otherwise(coldSalt)))
      .drop("__mode")
    val rtSalted = rightIdCol match {
      case Some(rid) =>
        when(col("__mode") === 1, allSalts)
          .when(col("__mode") === 2, array(pmod(xxhash64(col(rid)), lit(salt)).cast("int")))
          .otherwise(coldSalt)
      case None =>
        when(col("__mode") === 1, allSalts).otherwise(coldSalt)
    }
    val rt = right.join(broadcast(modes), Seq("band", "bucket"), "left")
      .withColumn("__salt", explode(rtSalted))
      .drop("__mode")
    lt.join(rt, Seq("band", "bucket", "__salt")).drop("__salt")
  }

  // ---------------------------------------------------------------- incremental

  /** The persisted LSH index of a corpus: one (doc_id, band, bucket) row per
    * band per document — 24 bytes/row, written once at ingest. New batches
    * dedup against it WITHOUT touching historical text (see
    * [[incrementalNearDuplicates]]); append each batch's own index rows to
    * keep it current. */
  def lshIndex(docs: DataFrame, shingleK: Int = 5, numHashes: Int = 128,
               bands: Int = 32, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    lshSignatures(docs, shingleK, numHashes, seed)
      .select(col("doc_id"),
              explode(lshBands(col("sig"), bands, numHashes / bands)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** The signature half of the persisted index: (doc_id, sig) — ~1 KB/doc,
    * written at ingest beside the [[lshIndex]] bucket rows. Feeding this to
    * [[incrementalNearDuplicates]] spares the probe from recomputing any
    * historical signature for estimate pruning (the dominant probe cost on
    * flood-prone corpora, where candidates touch most of the corpus). */
  def lshSignatures(docs: DataFrame, shingleK: Int = 5,
                    numHashes: Int = 128, seed: Long = 42L): DataFrame =
    fanOutSmallInput(docs).select(
        col("doc_id"),
        graft.functions.NativeExprs.minhashSig(
          graft.functions.TextAnalysis.normalized(col("text")),
          shingleK, numHashes, seed).as("sig"))

  /** Incremental near-duplicate detection — the daily-ingest shape at 100 TB:
    * a NEW batch of documents is checked against the historical corpus via
    * its persisted [[lshIndex]] (plus against itself), touching historical
    * TEXT only for the docs that land in some candidate pair (a semi join
    * into the corpus scan). Historical signatures are never recomputed; the
    * corpus-side cost is O(index ∩ new buckets) + O(matched docs).
    *
    * Returns the same (id_a, id_b, jaccard) contract as
    * [[minhashNearDuplicates]], restricted to pairs involving ≥1 new doc.
    */
  def incrementalNearDuplicates(newDocs: DataFrame, corpus: DataFrame,
                                corpusIndex: DataFrame, threshold: Double,
                                shingleK: Int = 5, numHashes: Int = 128,
                                bands: Int = 32, seed: Long = 42L,
                                estMargin: Double = 0.2,
                                corpusSigs: Option[DataFrame] = None,
                                skewSalt: Int = 8, skewCap: Long = 2048L,
                                corpusHot: Option[DataFrame] = None,
                                maxSigBroadcastBytes: Long = 64L << 20,
                                maxIndexBroadcastBytes: Long = 32L << 20,
                                allDocs: Option[DataFrame] = None): DataFrame = {
    // the batch's signatures are computed ONCE and feed both the banding
    // pass and the estimate prune (previously two separate minhash passes
    // over the batch text)
    val newSigs = lshSignatures(newDocs, shingleK, numHashes, seed)
      .localCheckpoint(true)
    val nNew = newSigs.count() // cached-scan count; sizes BOTH byte budgets
    // the banding explode is a cheap projection off the materialized sigs —
    // NOT checkpointed: each consumer re-derives it from the sig cache, which
    // costs less than a third materialization pass + its scheduling point
    val newIndex = newSigs
      .select(col("doc_id"),
              explode(lshBands(col("sig"), bands, numHashes / bands)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    val a = newIndex.select(col("band"), col("bucket"), col("doc_id").as("id_new"))
    // Candidates vs the historical index + within the new batch itself.
    // The vs-corpus join is the scale pivot: the historical index is the
    // HUGE side (O(corpus × bands) rows), the batch index the small one, so
    // while the batch's 24-byte rows fit the broadcast budget the probe is
    // a BROADCAST hash join — the corpus index is never shuffled, never
    // salted (no reducer exists to skew; each scan task streams its index
    // partition against the batch hash map), and the probe's only exchange
    // is the candidate-pair dedup. Past the budget (a very large batch) it
    // falls back to the salted shuffle join, where the hot-bucket guard is
    // load-bearing: one template bucket would otherwise push its whole pair
    // grid through a single reducer.
    //
    // Why the over-budget lane is a salted SHUFFLE join and not a join
    // against a (band, bucket)-bucketed persisted index (Spark's `bucketBy`,
    // which would exchange only the batch side): bucketed reads pin each
    // (band, bucket) key to one task with no exchange for AQE to split, and
    // the salt guard cannot re-key a bucketed layout — so on the
    // template-heavy corpora this operator exists for, the bucketed lane
    // reintroduces exactly the single-reducer pair-grid hotspot the guard
    // removes. The index shuffle is the price of skew immunity, and it is
    // paid only by batches too large to broadcast (at which point the batch
    // is a constant fraction of the corpus and the shuffle amortizes).
    // Orientation (new vs old) is KEPT through the prune so each side's
    // signature comes from the right table; the (id_a ≤ id_b) contract is
    // restored after the prune.
    // hot-bucket detection costs an aggregate over the batch index — only
    // the salted fallback lanes need it, so it is computed lazily
    lazy val hot = hotBuckets(a, skewCap)
    // exactly `bands` index rows per signed doc, so the index-side budget
    // needs no extra count action
    val nNewIndexRows = nNew * bands
    val batchIdxSmall = nNewIndexRows * 28L <= maxIndexBroadcastBytes
    val corpusIdx = corpusIndex
      .select(col("band"), col("bucket"), col("doc_id").as("id_old"))
    val candRaw =
      if (batchIdxSmall) corpusIdx.join(broadcast(a), Seq("band", "bucket"))
      else saltedBandJoin(a, corpusIdx, "id_new",
        skewSalt, skewCap, Some(hot), rightIdCol = Some("id_old"),
        rightHotOpt = corpusHot)
    // Candidates keep their per-band MULTIPLICITY here: deduping (id_new,
    // id_old) now would cost a candidate-sized exchange, while the estimate
    // prune downstream is a map-side broadcast join whose per-row cost is
    // one native sig-compare — duplicates pass or fail it IDENTICALLY (the
    // prune is per-pair deterministic), so the dedup folds into the much
    // smaller post-prune pair list instead (one exchange over survivors,
    // ~band-multiplicity× fewer rows than the raw candidate flood).
    val vsCorpus = candRaw
      .filter(col("id_new") =!= col("id_old"))
      .select(col("id_new"), col("id_old"))
      .localCheckpoint(true) // consumed twice: byte-budget count + prune join
    val b = newIndex.select(col("band"), col("bucket"), col("doc_id").as("id_b2"))
    val vsSelf = (if (batchIdxSmall) a.join(broadcast(b), Seq("band", "bucket"))
                  else saltedBandJoin(a, b, "id_new", skewSalt, skewCap, Some(hot)))
      .filter(col("id_new") < col("id_b2"))
      .select(col("id_new"), col("id_b2"))
    // Estimate prune. The new-batch sig table is batch-sized (1 KB/doc), so
    // under the byte budget it BROADCASTS and the within-batch pairs prune
    // with zero shuffle. For the vs-corpus pairs the CANDIDATE LIST itself
    // is the small side (16 bytes/pair, checkpointed so its count is free):
    // under the budget it broadcasts into a map-side join against the
    // PERSISTED corpus-sig artifact — corpus sigs are never shuffled, never
    // semi-join-prefiltered, and the whole prune plans zero exchanges. Past
    // the budget (or with no sig table, where candidate sigs must be
    // recomputed from text) it falls back to the distinct-old-ids semi join
    // + one shuffle join, which ships O(candidates) sig bytes, never
    // O(corpus).
    val bcastNew = nNew * (numHashes * 8L + 32L) <= maxSigBroadcastBytes
    def newSide(as1: String, as2: String): DataFrame = {
      val f = newSigs.select(col("doc_id").as(as1), col("sig").as(as2))
      if (bcastNew) broadcast(f) else f
    }
    val est = graft.functions.NativeExprs.sigMatchFraction(col("sig_a"), col("sig_b"))
    val candSmall = vsCorpus.count() * 16L <= maxIndexBroadcastBytes
    val candWithSigB = (corpusSigs, candSmall) match {
      case (Some(cs), true) =>
        cs.select(col("doc_id").as("id_old"), col("sig").as("sig_b"))
          .join(broadcast(vsCorpus), Seq("id_old"))
      case _ =>
        val oldIds = vsCorpus.select(col("id_old").as("doc_id")).distinct()
        val oldSigs = (corpusSigs match {
          case Some(cs) => cs.select(col("doc_id"), col("sig"))
              .join(oldIds, Seq("doc_id"), "left_semi")
          case None => corpus.join(oldIds, Seq("doc_id"), "left_semi")
              .select(col("doc_id"),
                graft.functions.NativeExprs.minhashSig(
                  graft.functions.TextAnalysis.normalized(col("text")),
                  shingleK, numHashes, seed).as("sig"))
        }).select(col("doc_id").as("id_old"), col("sig").as("sig_b"))
        vsCorpus.join(oldSigs, Seq("id_old"))
    }
    val corpusPruned = candWithSigB
      .join(newSide("id_new", "sig_a"), Seq("id_new"))
      .filter(est >= threshold - estMargin)
      .select(least(col("id_new"), col("id_old")).as("id_a"),
              greatest(col("id_new"), col("id_old")).as("id_b"))
    val selfPruned = vsSelf
      .join(newSide("id_new", "sig_a"), Seq("id_new"))
      .join(newSide("id_b2", "sig_b"), Seq("id_b2"))
      .filter(est >= threshold - estMargin)
      .select(col("id_new").as("id_a"), col("id_b2").as("id_b"))
    // the pair list is pair-count-sized and feeds THREE consumers (the
    // survivor-id set and both shingle joins) — materialize once. This is
    // also where the deferred candidate dedup lands: one exchange over the
    // estimate-prune SURVIVORS collapses the per-band multiplicity kept
    // through the bucket joins and the prune.
    val pruned = corpusPruned.unionByName(selfPruned)
      .dropDuplicates("id_a", "id_b").localCheckpoint(true)
    val survivorIds = pruned.select(col("id_a").as("doc_id"))
      .union(pruned.select(col("id_b").as("doc_id"))).distinct()
    // Sorted shingle sets -> linear-merge exact verify (see the batch
    // pipeline above for the rationale); the shingle arrays are computed for
    // the tiny survivor-doc set only, never for the raw LSH candidate flood,
    // and the frame is CHECKPOINTED — it feeds both pair joins, which would
    // otherwise each re-run the text scan + shingle pass. When the pair list
    // and the measured shingle bytes (one metadata agg over the checkpoint)
    // fit the broadcast budgets, the verify plans ZERO exchanges: the
    // shingle frame is scanned once against the broadcast pair list, then
    // the b-side shingles join as a second broadcast. Past either budget it
    // degrades to shuffle joins that still ship survivor rows only.
    val prunedSmall = pruned.count() * 16L <= maxIndexBroadcastBytes
    def pairSide(f: DataFrame): DataFrame = if (prunedSmall) broadcast(f) else f
    // `allDocs`, when the caller already holds the corpus∪batch frame (the
    // ingest-sharded table both slices were filtered from), spares a second
    // full text scan here — the union of two filters of the same cached
    // frame otherwise decompresses every text block twice
    val sh = allDocs.getOrElse(corpus.unionByName(newDocs))
      .join(pairSide(survivorIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        sort_array(graft.functions.NativeExprs.shingleSet(col("text"), shingleK)).as("sh"))
      .localCheckpoint(true)
    val shBytes = sh.agg(coalesce(sum(size(col("sh"))), lit(0L)).cast("long"))
      .head().getLong(0) * 8L
    val shB = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(pairSide(pruned), Seq("id_a"))
      .join(if (shBytes <= maxSigBroadcastBytes) broadcast(shB) else shB, Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.NativeExprs.sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // ---------------------------------------------------------------- contamination

  /** Benchmark-contamination check — the decontamination primitive of a
    * training-data pipeline: for each PROBE document (e.g. an eval-set
    * sample), the fraction of its distinct word n-grams that occur anywhere
    * in the training corpus.
    *
    * Plan: corpus → distinct gram strings (one shuffle, map-side partial
    * distinct); probe grams left-semi join against them (shuffle carries
    * gram strings only, never documents). At 100 TB you would fingerprint
    * grams to 64-bit before the exchange (sheds ~10× bytes) or pre-filter
    * with a corpus bloom filter — the join stays the same shape; strings are
    * kept here so the result is engine-portable for the oracle gate.
    */
  def ngramContamination(corpus: DataFrame, probes: DataFrame, n: Int): DataFrame = {
    val grams = TextAnalysis.wordNgrams(col("text"), n)
    // fan out: a small parquet corpus arrives as ONE split, serializing the
    // compute-bound n-gram explode onto a single core
    val corpusGrams = fanOutSmallInput(corpus)
      .select(explode(grams).as("gram")).distinct()
    val probeGrams = fanOutSmallInput(probes)
      .select(col("doc_id"), explode(array_distinct(grams)).as("gram"))
    val matched = probeGrams.join(corpusGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    probes.select(col("doc_id"), size(array_distinct(grams)).as("n_grams"))
      .join(matched, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("contamination",
        coalesce(col("n_contaminated").cast("double") / nullif(col("n_grams"), lit(0)),
                 lit(0.0)))
  }

  /** [[ngramContamination]] behind a corpus BLOOM prefilter — the 100 TB
    * shape the plain version's scaladoc points at: most grams of a CLEAN
    * probe never reach the semi-join exchange, because a driver-broadcast
    * Bloom filter over the corpus's distinct grams rejects them map-side.
    *
    * EXACT, not approximate: Bloom membership has no false negatives, so no
    * contaminated gram is ever lost; false positives pass the prefilter and
    * are then eliminated by the same exact semi join as the plain operator.
    * The result is row-identical to [[ngramContamination]] (spec-pinned, and
    * it shares that query's oracle shape).
    *
    * Because the exact verify side needs the corpus's DISTINCT gram frame
    * regardless, the Bloom filter builds from that frame after one eager
    * materialization (`localCheckpoint`): one corpus scan + one distinct
    * exchange feed the sizing count, the filter build, and the semi join.
    * (A purely approximate prefilter with no verify stage would instead
    * build from the raw gram stream — Bloom insertion is idempotent, so
    * that variant needs no distinct and no exchange at all.)
    *
    * Scale math: at fpp=0.01 the filter costs ~1.2 bytes/gram — a 10^9-gram
    * corpus fits in ~1.2 GB broadcast (size `expectedGrams` accordingly, or
    * shard the filter by gram hash at larger vocabularies); the semi join
    * then shuffles only the ~1% false-positive stragglers of clean probes
    * instead of every probe gram. */
  /** The corpus's distinct word-n-gram frame — the verify-side input of both
    * contamination operators and the Bloom source. An ingest-time artifact
    * at scale: one corpus pass, consumed by every probe set thereafter. */
  def corpusGramFrame(corpus: DataFrame, n: Int): DataFrame =
    // fanOut first: a single-split corpus would serialize the explode
    fanOutSmallInput(corpus)
      .select(explode(TextAnalysis.wordNgrams(col("text"), n)).as("gram"))
      .distinct()

  /** Engine-portable 60-bit gram hash: the first 15 hex chars of md5(gram)
    * parsed base-16 (same family as `TextAnalysis.fingerprintKgramMin`) —
    * md5 because every engine has one, so an oracle can replay the hashed
    * pipeline bit-for-bit instead of trusting a collision-freeness claim. */
  private[graft] def portableGramHash(gram: Column): Column =
    conv(substring(md5(gram.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Inter-document duplication profile (RefinedWeb/Gopher-style corpus
    * health signal, distinct from the WITHIN-doc `TextAnalysis.repetition`):
    * for each document, how many of its distinct word n-grams occur in at
    * least one OTHER document, i.e. `dup_frac = |grams with df ≥ 2| /
    * |grams|`. Boilerplate- or template-heavy corpora score high; a healthy
    * deduplicated crawl scores near 0.
    *
    * Plan shape at 100 TB: grams are hashed to 60 bits ([[portableGramHash]])
    * BEFORE any exchange, so both shuffles (the df aggregation and the
    * join-back) carry (id, int64) rows only — document text never ships.
    * The df side is a map-side-partial count over gram hashes; the join back
    * is an equi-join on the same hash, so AQE handles hot boilerplate grams
    * with its skew split. Everything downstream of the hash is integer
    * arithmetic plus one final IEEE division — deterministic everywhere the
    * same hashes are replayed (the DuckDB oracle recomputes md5 itself, so
    * even a hash collision is reproduced, not diverged on).
    */
  def interDocDupNgramStats(docs: DataFrame, n: Int): DataFrame = {
    val grams = array_distinct(TextAnalysis.wordNgrams(col("text"), n))
    // fan out: a small single-split corpus would serialize the explode
    val perDoc = fanOutSmallInput(docs)
      .select(col("doc_id"), explode(grams).as("gram"))
      .select(col("doc_id"), portableGramHash(col("gram")).as("gh"))
    val gramDf = perDoc.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val stats = perDoc.join(gramDf, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
    docs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_dup_grams"))
      .withColumn("dup_frac",
        coalesce(col("n_dup_grams").cast("double") / nullif(col("n_grams"), lit(0)),
                 lit(0.0)))
  }

  /** Cross-document duplicated-SPAN removal — the n-gram-granular form of
    * exact substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): every token covered by a word n-gram
    * that also occurs in ANOTHER document is masked out, and the document is
    * rebuilt from the surviving tokens. Boilerplate and template spans
    * vanish from every copy; unique prose is untouched. Operates on the
    * linguistic token stream (`TextAnalysis.words`), so the rebuilt text is
    * normalized by construction.
    *
    * Per doc: `n_tokens`, `n_removed`, `kept_frac`, and the md5 of the
    * cleaned text (`cleaned_md5`) — the digest both downstream exact-dedup
    * and the cross-engine oracle key on.
    *
    * Scale shape: same two hashed-gram shuffles as [[interDocDupNgramStats]]
    * (df aggregation + join-back of 60-bit hashes; text never ships), plus a
    * per-doc `collect_set` of removed positions — bounded by document
    * length, the same per-group bound every per-doc array op here lives
    * under. The rebuild is a native two-pointer expression
    * ([[graft.functions.NativeExprs.maskedConcat]]) over the sorted removed
    * set — linear per row, not O(tokens · removed). */
  def removeDuplicatedSpans(docs: DataFrame, n: Int): DataFrame = {
    // NULL text = empty doc (0 tokens, md5("") digest) — matching the
    // oracle's LEFT JOIN + coalesce semantics instead of null-propagating
    val base = fanOutSmallInput(docs)
      .select(col("doc_id"),
              coalesce(TextAnalysis.words(col("text")),
                       array().cast("array<string>")).as("toks"))
    // gram at token position i covers tokens [i, i+n-1]
    val grams = base.select(col("doc_id"),
      posexplode(when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => portableGramHash(concat_ws(" ", slice(col("toks"), i + 1, lit(n))))))
        .otherwise(array().cast("array<long>"))).as(Seq("pos", "gh")))
    val dupGrams = grams.groupBy(col("gh"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("gh"))
    val removed = grams.join(dupGrams, Seq("gh"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("rm"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("rm"))).as("rm"))
    base.join(removed, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("rm"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("rm")).cast("long").as("n_removed"),
        coalesce((size(col("toks")) - size(col("rm"))).cast("double")
                   / nullif(size(col("toks")), lit(0)), lit(1.0)).as("kept_frac"),
        md5(graft.functions.NativeExprs.maskedConcat(col("toks"), col("rm"))
              .cast("binary")).as("cleaned_md5"))
  }

  /** CHARACTER-granular exact substring duplication profile — the
    * suffix-array-class ExactSubstr of Lee et al. ("Deduplicating Training
    * Data Makes Language Models Better" §4.1), re-expressed as a distributed
    * fingerprint pipeline (their single-machine suffix array memory-maps the
    * whole corpus; the scale-out literature replaces it with rolling-window
    * fingerprints, which Spark's shuffle executes natively). Finds, for each
    * document, the MAXIMAL codepoint spans of length ≥ `minLen` whose text
    * occurs at least twice anywhere in the corpus (another document OR
    * another position of the same document — self-repeats count, per the
    * paper), with EXACT character boundaries — the sub-n-gram granularity
    * [[removeDuplicatedSpans]]'s word-8-gram quantization cannot express.
    *
    * Mechanics: a duplicated span of length m ≥ L contains exactly its
    * m−L+1 length-L windows, each itself duplicated; conversely every
    * duplicated window lies in some duplicated span. So: (1) fingerprint
    * EVERY L-window per doc with TWO independent xxhash64 seeds in native
    * passes ([[graft.functions.NativeExprs.windowHashes]] — 16 B/position,
    * text never shuffled); (2) keep positions whose 128-BIT PAIR occurs
    * ≥ 2 times (map-side-combined count agg on (h1, h2) — a single 64-bit
    * hash is not enough at scale: 10^14 windows at 100 TB produce W²/2^65
    * ≈ 10^8 birthday-collision groups, each of which would ship L chars of
    * NON-duplicated text into the verify stage; the pair drops that to
    * ~2^-128-per-pair noise, so candidate-stage text volume is
    * O(true dup positions), spec-pinned by the template-flood fixture);
    * (3) EXACT verify: re-extract the window text for candidate positions
    * only ([[graft.functions.NativeExprs.substringsAt]]) and re-count on
    * the text itself — even a double collision can only ADD a candidate and
    * is discarded here, so the result is hash-free exact; (4) merge
    * verified positions into maximal spans per doc with COVERAGE
    * gaps-and-islands (a new span where consecutive starts are > L apart —
    * per-doc windows, never a global one).
    *
    * Scale shape: two shuffles of fixed-width (h1, h2, id, pos) rows —
    * ~28 B per corpus CHARACTER, the honest cost of character-granular
    * exactness (cf. the suffix array's 8 B/char plus sort) — then
    * candidate-only text extraction (the L× byte blow-up touches only
    * genuinely duplicated regions), and a per-doc-bounded island merge.
    * Per-doc candidate lists ride a `collect_list` bounded by document
    * length, the standard per-doc bound.
    *
    * Output (one row per input doc, zeros when clean): `n_chars`,
    * `n_dup_spans`, `dup_chars`, `dup_frac`, and `span_digest` — md5 of the
    * sorted "start:end" (1-based, inclusive) span list, the column the
    * cross-engine oracle pins boundaries with. */
  /** Second fingerprint seed for [[exactSubstrCandidates]] — any fixed
    * constant distinct from xxhash64's default 42 gives an independent
    * family (xxhash64 seeds don't correlate). */
  private[graft] val ExactSubstrSeed2 = 0x5851F42D4C957F2DL

  /** Candidate stage of [[exactSubstringSpans]], exposed for the
    * template-flood spec: positions whose 128-bit window fingerprint pair
    * occurs ≥ 2 times in the corpus. `base` must carry (`doc_id`, `s`).
    * Row count is O(true duplicated positions) + ~2^-128-per-pair collision
    * noise — NO text leaves the scan here. */
  private[graft] def exactSubstrCandidates(base: DataFrame, minLen: Int): DataFrame = {
    val wins = base.select(col("doc_id"),
        posexplode(arrays_zip(
          graft.functions.NativeExprs.windowHashes(col("s"), minLen),
          graft.functions.NativeExprs.windowHashes(col("s"), minLen,
                                                   ExactSubstrSeed2)))
          .as(Seq("pos0", "hs")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
              col("hs.0").as("h1"), col("hs.1").as("h2"))
    val dupPairs = wins.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h1"), col("h2"))
    wins.join(dupPairs, Seq("h1", "h2"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  def exactSubstringSpans(docs: DataFrame, minLen: Int): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    val base = fanOutSmallInput(docs)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("s"))
    val cand = exactSubstrCandidates(base, minLen)
    // exact verify on candidate positions only: extract each candidate's
    // window text in one per-doc pass and re-count on the TEXT — sorted
    // positions keep the extractor's access pattern forward-only
    val candText = cand.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .join(base, Seq("doc_id"))
      .select(col("doc_id"), explode(arrays_zip(col("ps"),
        graft.functions.NativeExprs.substringsAt(col("s"), col("ps"), minLen)
          .as("ws"))).as("z"))
      .select(col("doc_id"), col("z.ps").as("pos"), col("z.ws").as("w"))
    val dupWindows = candText.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("w"))
    val verified = candText.join(dupWindows, Seq("w"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands on COVERAGE, not start-adjacency: starts p < q share
    // one span iff q ≤ p + minLen (q's window overlaps or abuts p's), so a
    // new span begins exactly where the gap between consecutive starts
    // exceeds minLen. Merging only gap-1 starts would emit OVERLAPPING
    // "spans" (starts {1, 3} with start 2 unduplicated cover [1, L] ∪
    // [3, L+2] — ONE maximal duplicated region) and could sum dup_chars
    // past n_chars.
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = verified
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > minLen, 1).otherwise(0))
      .withColumn("g", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("sp"), (max(col("pos")) + minLen - 1).as("ep"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
           sum(col("ep") - col("sp") + 1).as("dup_chars"),
           md5(array_join(transform(
             array_sort(collect_list(struct(col("sp"), col("ep")))),
             x => concat_ws(":", x("sp").cast("string"), x("ep").cast("string"))),
             ",").cast("binary")).as("span_digest"))
    base.select(col("doc_id"), char_length(col("s")).cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_chars"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).cast("long").as("dup_chars"),
        coalesce(col("dup_chars").cast("double") / nullif(col("n_chars"), lit(0L)),
                 lit(0.0)).as("dup_frac"),
        coalesce(col("span_digest"), md5(lit("").cast("binary"))).as("span_digest"))
  }

  /** Distributed Bloom build over a distinct-gram frame via Spark's native
    * `BloomFilterAggregate`: per-partition partial filters OR-merged at the
    * reducer — no driver-side insertion loop (`df.stat.bloomFilter` collects
    * every gram to the driver and inserts single-threaded). Keyed on
    * xxhash64(gram); sized by the standard optimal-bits formula. */
  def buildGramBloom(corpusGrams: DataFrame, expectedGrams: Long,
                     fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val items = math.max(1L, expectedGrams)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp)
    // BloomFilterAggregate silently clamps to the runtime-join-filter confs
    // (maxNumBits 64M bits ≈ 7M grams at fpp 0.01, maxNumItems 4M) — a
    // clamped filter would quietly realize a far worse FPP than requested,
    // so raise the ceilings for the build and restore them after
    graft.GraftSession.withConf(corpusGrams.sparkSession,
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" ->
          math.max(numBits, 67108864L).toString,
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" ->
          math.max(items, 4000000L).toString) {
      val agg = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          ColumnBridge.expression(xxhash64(col("gram"))),
          org.apache.spark.sql.catalyst.expressions.Literal(items),
          org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression()
      corpusGrams.agg(ColumnBridge.column(agg).as("bloom"))
        .head().getAs[Array[Byte]]("bloom")
    }
  }

  /** Codegen'd membership probe against a serialized Bloom filter built by
    * [[buildGramBloom]] — Spark's native `BloomFilterMightContain` over the
    * filter bytes embedded as a plan literal (broadcast with the task
    * binary), in place of a per-row Scala udf. */
  def mightContainHash(bloomBytes: Array[Byte], hashed: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(hashed)))
  }

  def ngramContaminationBloom(corpus: DataFrame, probes: DataFrame, n: Int,
                              expectedGrams: Long = 0L, fpp: Double = 0.01,
                              prebuilt: Option[(DataFrame, Array[Byte])] = None): DataFrame = {
    val grams = TextAnalysis.wordNgrams(col("text"), n)
    // `prebuilt` = the (distinct-gram frame, Bloom bytes) ingest artifacts —
    // the production shape; built here once (eagerly, shared by the sizing
    // count, the build, and the semi join) only when the caller has none.
    val (corpusGrams, bloomBytes) = prebuilt.getOrElse {
      val g = corpusGramFrame(corpus, n).localCheckpoint(true)
      val items = if (expectedGrams > 0) expectedGrams else math.max(1L, g.count())
      (g, buildGramBloom(g, items, fpp))
    }
    val probeGrams = fanOutSmallInput(probes)
      .select(col("doc_id"), explode(array_distinct(grams)).as("gram"))
      // map-side shed: rejected grams never reach the semi-join exchange
      .filter(mightContainHash(bloomBytes, xxhash64(col("gram"))))
    val matched = probeGrams.join(corpusGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    probes.select(col("doc_id"), size(array_distinct(grams)).as("n_grams"))
      .join(matched, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("contamination",
        coalesce(col("n_contaminated").cast("double") / nullif(col("n_grams"), lit(0)),
                 lit(0.0)))
  }

  /** Incremental cluster maintenance: fold a NEW batch's near-dup pairs
    * into an existing (id, cluster_id) assignment without re-clustering
    * history. A prior assignment is connectivity-equivalent to its star
    * edges (every member — canonical id), so clustering
    * star(assignments) ∪ newPairs yields exactly the components of the
    * full cumulative pair graph — the standard incremental
    * connected-components reduction. Per batch this touches O(|affected
    * components| + |new pairs|) edges, never historical pair lists; the
    * companion of [[incrementalNearDuplicates]] for keeping canonical-doc
    * assignments current under streaming ingest. */
  def updateClusters(assignments: DataFrame, newPairs: DataFrame,
                     maxIter: Int = 20): DataFrame =
    clusterNearDuplicates(
      assignments.select(col("id").as("id_a"), col("cluster_id").as("id_b"))
        // canonical members' rows are self-edges — kept, so singleton
        // clusters survive the update even when no new pair touches them
        .unionByName(newPairs.select(col("id_a"), col("id_b"))),
      maxIter)

  /** Leakage-free train/test split: near-duplicate documents must land in
    * the SAME split, or test examples leak (near-verbatim) into training —
    * the standard eval-hygiene failure near-dup detection exists to
    * prevent. Connected components over the pair list assign every doc a
    * cluster (singletons are their own); the CLUSTER's canonical id — not
    * the doc's — is hashed to pick the split, so all members move together.
    * The hash is [[Sampling.Knuth]] multiplicative (all-integer,
    * partitioning-independent, reproducible in any engine).
    *
    * Returns (doc_id, cluster_id, split) for every input doc,
    * split ∈ {"test", "train"} with ~testPct% of CLUSTERS in test. */
  def leakageFreeSplit(docs: DataFrame, pairs: DataFrame, testPct: Int): DataFrame = {
    require(testPct >= 0 && testPct <= 100, "testPct must be in [0, 100]")
    val clusters = clusterNearDuplicates(pairs).withColumnRenamed("id", "doc_id")
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(pmod(col("cluster_id") * lit(Sampling.Knuth), lit(100L)) < testPct,
             lit("test")).otherwise(lit("train")))
  }

  // ---------------------------------------------------------------- clustering

  /** Connected components over a near-duplicate pair list → (id, cluster_id)
    * with cluster_id = min id of the component (the canonical document).
    *
    * Iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbours; converges in
    * O(component diameter) rounds. Each round is one shuffle join;
    * `localCheckpoint` truncates lineage so plans stay O(1) per round —
    * the standard Spark pattern for iterative graph algorithms at scale
    * (near-dup components are shallow: diameter rarely exceeds ~10).
    */
  def clusterNearDuplicates(pairs: DataFrame, maxIter: Int = 20,
                            driverSideMaxBytes: Long = 32L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val edgePairs = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    // Scale-adaptive: near-dup pair lists are usually tiny relative to the
    // corpus. Under the BYTE budget (16 bytes per edge row), union-find on
    // the driver costs one collect instead of O(diameter) shuffle rounds;
    // above it, fall through to the distributed propagation loop.
    val nPairs = edgePairs.count()
    if (nPairs * 16L <= driverSideMaxBytes) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (parent.getOrDefault(c, c) != c) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
        r
      }
      val collected = edgePairs.collect()
      val ids = scala.collection.mutable.SortedSet[Long]()
      collected.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        ids += a; ids += b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      import spark.implicits._
      return ids.toSeq.map(id => (id, find(id))).toDF("id", "cluster_id")
    }
    val edges = edgePairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edgePairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      // carry the previous label through the update so the convergence probe
      // is a filter over the materialized result — no extra join per round
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
                least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .localCheckpoint(true)
      val changed = next.filter(col("label") =!= col("prev")).limit(1).count()
      labels = next.select(col("id"), col("label"))
      converged = changed == 0
      i += 1
    }
    labels.withColumnRenamed("label", "cluster_id")
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over the word multiset: bit i of the result is 1 iff
    * Σ_tokens (bit i of xxhash64(token) ? +1 : −1) > 0. Per-row projection
    * (native expression; [[simhash64Hof]] is the reference HOF form). */
  def simhash64(text: Column): Column = graft.functions.NativeExprs.simhash64(text)

  /** Reference implementation of [[simhash64]] in pure column functions —
    * kept for the bit-parity test; interpreted, do not use in hot paths.
    * Word hash matches the native form: md5 hex chars 1-8 → low 32 bits,
    * chars 9-16 → high 32 bits. */
  def simhash64Hof(text: Column): Column = {
    val hs = transform(TextAnalysis.words(text), w => {
      val hex = md5(w.cast("binary"))
      val lo = conv(substring(hex, 1, 8), 16, 10).cast("long")
      val hi = conv(substring(hex, 9, 8), 16, 10).cast("long")
      shiftleft(hi, 32).bitwiseOR(lo)
    })
    val bitExprs = (0 until 64).map { i =>
      val bitSum = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitExprs.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicates: pigeonhole the 64 bits into `chunks` blocks —
    * any pair within `maxHamming < chunks` distance must agree exactly on at
    * least one block → block-equality join finds all of them, then exact
    * Hamming verifies. Same ban-the-n² trick as LSH banding.
    */
  def simhashNearDuplicates(docs: DataFrame, maxHamming: Int = 3,
                            chunks: Int = 4): DataFrame = {
    val bits = 64 / chunks
    val hashed = docs.select(col("doc_id"), simhash64(col("text")).as("sh"))
    val banded = hashed.select(col("doc_id"), col("sh"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
               shiftright(col("sh"), c * bits)
                 .bitwiseAND(lit((1L << bits) - 1)).as("key"))
      }: _*)).as("cb"))
      .select(col("doc_id"), col("sh"), col("cb.chunk"), col("cb.key"))
    val a = banded.select(col("chunk"), col("key"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("chunk"), col("key"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
