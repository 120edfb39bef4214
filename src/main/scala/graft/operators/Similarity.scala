package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, per the scale playbook:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus, score every row, per-query top-k via window.
  *    O(|corpus|·|queries|·d) work but ZERO shuffle of the corpus (queries are
  *    broadcast; the only exchange is the final per-query top-k, which is
  *    k·|queries| rows). The correct baseline, and the verifier for the
  *    approximate path.
  *  - [[srpBucketedTopK]]: signed-random-projection (hyperplane) LSH — each
  *    vector gets a `nBits`-bit signature; candidates = same-bucket pairs
  *    (multi-probe: exact bucket plus all 1-bit flips), then exact cosine on
  *    candidates only. Sub-linear candidate sets at 100 TB; recall tunable by
  *    nBits / probes.
  *
  * Distance math is `zip_with` + `aggregate` over the array columns in double
  * precision — per-row projection, no UDF.
  */
object Similarity {

  /** Dot product of two array<float|double> columns, in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
              lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 where either vector is all-zero). Native
    * expression; [[cosineHof]] is the bit-identical reference form. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeExprs.cosineSim(a, b)

  /** Reference HOF implementation of [[cosine]] (interpreted; parity-tested). */
  def cosineHof(a: Column, b: Column): Column =
    coalesce(dot(a, b) / nullif(norm(a) * norm(b), lit(0.0)), lit(0.0))

  /** Exact top-k nearest neighbours by cosine for each query vector.
    * `queries` must be small (it is broadcast). Self-matches (same id) are
    * excluded. Ties broken by neighbour id for determinism.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
    cosineTopK(c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec"))), k)
  }

  /** The exact tail of every top-k lane: per query, rank the scored
    * (query_id, neighbor_id, cosine) rows by (cosine desc, neighbor_id),
    * keep rank ≤ k, emit (query_id, rank, neighbor_id, cosine to 4 places). */
  private[operators] def cosineTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cosine"), 4).as("cosine"))
  }

  /** Prescreen-then-rerank, the shape of every compressed-vector lane: score
    * each (query, neighbor) pair of the compressed corpus `c`
    * (neighbor_id, …) against the broadcast compressed queries `q`
    * (query_id, …) with `score`, keep the top `candK` per query (score
    * desc, neighbor_id), then join the full vectors back for the exact
    * [[cosineTopK]]. Only candidate vectors are touched twice. */
  private[operators] def prescreenTopK(corpus: DataFrame, queries: DataFrame,
                                       c: DataFrame, q: DataFrame, score: Column,
                                       candK: Int, k: Int): DataFrame = {
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val cand = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score)
      .withColumn("prn", row_number().over(wPre))
      .filter(col("prn") <= candK)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
    val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    cosineTopK(cand.join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec"))), k)
  }

  /** Per-label centroids in flat (label, pos, centroid) form: posexplode the
    * vectors, aggregate exactly per dimension (decimal sum → double divide,
    * deterministic under any partitioning). The explode is a narrow 64×
    * row multiplication — no extra shuffle beyond the one the groupBy needs;
    * flat output keeps the oracle SQL-expressible and avoids array
    * reassembly. */
  def labelCentroids(corpus: DataFrame, labelCol: String = "label"): DataFrame =
    corpus.select(col(labelCol), posexplode(col("embedding")).as(Seq("pos", "e")))
      .groupBy(col(labelCol), col("pos"))
      // float → shortest string → DECIMAL(27,12): a float's shortest repr has
      // ≤9 significant digits, so the decimal cast is EXACT (no rounding step
      // for engines to disagree on) and the sum is order-independent
      .agg((sum(col("e").cast("string").cast("decimal(27,12)")).cast("double")
              / count(lit(1))).as("centroid"),
           count(lit(1)).as("n_vectors"))

  /** Deterministic pseudo-random hyperplanes: `nBits` unit-free direction
    * vectors of dimension `dim`, from a fixed-seed PRNG (gaussian). */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** SRP-LSH signature: bit j = (v · h_j) >= 0. Integer bucket id. */
  def srpSignature(vec: Column, nBits: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(nBits, dim, seed)
    val bits = planes.zipWithIndex.map { case (h, j) =>
      val proj = dot(vec, array(h.map(lit): _*))
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** (table, bucket) pairs for multi-table SRP-LSH: `tables` independent
    * hash tables, each a `nBits`-bit signature from its own seeded
    * hyperplane set. Recall = 1-(1-p^nBits)^tables for per-bit collision
    * p = 1-θ/π — tune (nBits, tables) to the similarity regime: few bits +
    * many tables for weakly-similar top-k, more bits for high-threshold
    * near-dup (smaller buckets → fewer candidates). */
  def srpTableBuckets(vec: Column, nBits: Int, dim: Int, tables: Int,
                      seed: Long = 42L): Column = {
    val sigs = graft.functions.NativeExprs.srpSigs(vec, nBits, tables, dim, seed)
    transform(sigs, (bucket, t) => struct(t.as("tbl"), bucket.as("bucket")))
  }

  /** Approximate top-k: multi-table SRP bucket join, exact cosine re-rank on
    * candidates. May return fewer than k when buckets are sparse — that is
    * the approximate contract.
    *
    * Plan shape: the bucket join carries only (id, tbl, bucket) — vectors are
    * NEVER duplicated through the `tables`-way explode — and each distinct
    * (query, neighbor) pair is scored exactly once, after dedup. Vectors
    * attach via broadcast joins against a second columnar corpus scan: no
    * corpus shuffle anywhere, and the dedup exchange moves 16-byte id pairs.
    */
  def srpBucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                      nBits: Int = 4, tables: Int = 8,
                      seed: Long = 42L): DataFrame = {
    val buckets = srpTableBuckets(col("embedding"), nBits, dim, tables, seed)
    val c = corpus.select(col("vec_id").as("neighbor_id"), explode(buckets).as("tb"))
      .select(col("neighbor_id"), col("tb.tbl"), col("tb.bucket"))
    val q = queries.select(col("vec_id").as("query_id"), explode(buckets).as("tb"))
      .select(col("query_id"), col("tb.tbl"), col("tb.bucket"))
    val candidates = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    cosineTopK(corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .join(broadcast(candidates), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec"))), k)
  }

  /** IVF (inverted-file) approximate top-k — the second canonical ANN scale
    * path next to [[srpBucketedTopK]]. The corpus is coarse-quantized into
    * cells (here the `label` column, standing in for a trained k-means
    * assignment); each query ranks the cell CENTROIDS by cosine, probes only
    * the `nprobe` nearest cells, and exact-re-ranks candidates within them.
    *
    * Scale shape: the centroid table is #cells × dim — driver/broadcast
    * sized, exactly like a production IVF index's quantizer. Per-query work
    * is O(nprobe cells), and the corpus is never shuffled: the probe list
    * (queries × nprobe rows) broadcasts against the corpus's cell column. On
    * disk, partitioning the corpus by cell turns the probe join into
    * partition pruning.
    *
    * Fully deterministic (exact decimal centroids, pinned tie-breaks) — the
    * contract query is DuckDB-oracle-checked, unusual for an ANN operator.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val centDf = ivfCentroidTable(corpus)
    ivfRerank(corpus, ivfProbeList(queries, centDf, nprobe), k)
  }

  /** The IVF quantizer as a broadcast-sized frame: (__cell, centroid vec).
    * #cells × dim doubles — the same driver-resident scale as a production
    * IVF index's coarse quantizer. Public because it is an INGEST-TIME
    * artifact: callers that probe a persisted layout repeatedly build this
    * once (AnnQueries.warmIngestArtifacts) and pass it to
    * [[ivfTopKFromLayout]] instead of re-scanning the corpus per probe. */
  def ivfCentroidTable(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    labelCentroids(corpus)
      .select(col("label").cast("long").as("cell"), col("pos"), col("centroid"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (cell, rows) =>
        (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
      .toSeq.sortBy(_._1)
      .toDF("__cell", "__cv")
  }

  /** Per-query probe list: rank the (broadcast) centroids by cosine, keep
    * the `nprobe` nearest cells. (query_id, qv, __cell) — queries×nprobe
    * rows, broadcast-sized. */
  private def ivfProbeList(queries: DataFrame, centDf: DataFrame, nprobe: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
                           col("embedding").cast("array<double>").as("qv"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("__csim").desc, col("__cell"))
    q.crossJoin(broadcast(centDf))
      .withColumn("__csim", cosine(col("qv"), col("__cv")))
      .withColumn("__pr", row_number().over(wp))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("__cell"))
  }

  /** Exact re-rank of the probed cells: corpus rows join the broadcast
    * probe list on cell — the corpus is never shuffled. */
  private def ivfRerank(cells: DataFrame, probed: DataFrame, k: Int): DataFrame = {
    val c = cells.select(col("vec_id").as("neighbor_id"),
                         col("embedding").cast("array<double>").as("cv"),
                         col("label").cast("long").as("__cell"))
    cosineTopK(c.join(broadcast(probed), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv"))), k)
  }

  /** Ingest-time IVF disk layout: the corpus written PARTITIONED BY its
    * cell assignment. This is what turns the probe's corpus read into
    * partition pruning — [[ivfTopKFromLayout]]'s scan opens only the
    * `nprobe` cells each query ranked; files of unprobed cells are never
    * listed into the scan (`PartitionFilters` in the plan, spec-asserted).
    * At 100 TB this is the difference between reading nprobe/#cells of the
    * corpus and reading all of it. */
  def writeIvfLayout(corpus: DataFrame, path: String): Unit =
    corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
                  col("label").cast("long").as("label"))
      .write.mode("overwrite").partitionBy("label").parquet(path)

  /** IVF top-k against a [[writeIvfLayout]] directory. Identical results to
    * [[ivfTopK]] over the same corpus; the difference is the read path: the
    * probed cell set (queries × nprobe cells, driver-sized like the
    * quantizer itself) becomes an `IN` predicate on the partition column,
    * so the re-rank scan prunes to exactly those directories. The quantizer
    * is an ingest-time artifact: pass the prebuilt `centroids` frame
    * ([[ivfCentroidTable]]) to keep the probe free of any corpus pass; the
    * fallback recompute exists only for stand-alone use. */
  def ivfTopKFromLayout(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, k: Int, nprobe: Int,
                        centroids: Option[DataFrame] = None): DataFrame = {
    val layout = spark.read.parquet(path)
    val centDf = centroids.getOrElse(ivfCentroidTable(layout))
    val probed = ivfProbeList(queries, centDf, nprobe)
      .localCheckpoint(true) // consumed twice: cell-list collect + re-rank join
    val cells = probed.select(col("__cell")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val pruned = layout.filter(col("label").isin(cells.map(Long.box): _*))
    ivfRerank(pruned, probed, k)
  }

  /** Nearest-centroid cell assignment under a FROZEN quantizer — IVF index
    * maintenance's write-side half. Each batch vector ranks the broadcast
    * centroid table by cosine and keeps the top cell (ties to the lowest
    * cell id, the same pinned order the probe side uses). Only the batch
    * moves: at 100 TB the per-snapshot delta is the small side, the
    * quantizer is driver-sized, and the persisted corpus layout is not
    * touched at all. Returns (vec_id, embedding double, label long). */
  def ivfAssign(batch: DataFrame, centroids: DataFrame): DataFrame =
    ivfProbeList(batch, centroids, nprobe = 1)
      .select(col("query_id").as("vec_id"), col("qv").as("embedding"),
              col("__cell").cast("long").as("label"))

  /** Cross-snapshot incremental ANN (the vector twin of the incremental
    * near-dup probe): answer queries over historical-index ∪ new-batch
    * WITHOUT rebuilding the index. The quantizer stays frozen — standard
    * IVF maintenance: retraining centroids would invalidate the whole
    * layout — so the new batch is [[ivfAssign]]ed to existing cells and
    * unioned into the probed slice of the persisted layout. Results are
    * exactly what a layout with the batch's cells appended would return
    * (spec-pinned via the real partitioned append in IncrementalAnnSpec);
    * the probe itself keeps the read-only lane's shape: partition-pruned
    * layout scan, broadcast probe list, exact re-rank, corpus never
    * shuffled. */
  def ivfIncrementalTopK(spark: org.apache.spark.sql.SparkSession, layoutPath: String,
                         newBatch: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
                         centroids: Option[DataFrame] = None): DataFrame = {
    val layout = spark.read.parquet(layoutPath)
    val centDf = centroids.getOrElse(ivfCentroidTable(layout))
    val assigned = ivfAssign(newBatch, centDf)
    val probed = ivfProbeList(queries, centDf, nprobe)
      .localCheckpoint(true) // consumed twice: cell-list collect + re-rank join
    val cells = probed.select(col("__cell")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val boxed = cells.map(Long.box)
    val prunedHist = layout
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
              col("label").cast("long").as("label"))
      .filter(col("label").isin(boxed: _*)) // partition pruning on the layout
    val prunedNew = assigned.filter(col("label").isin(boxed: _*))
    ivfRerank(prunedHist.unionByName(prunedNew), probed, k)
  }

  /** Per-dimension int8 quantization scales: s_d = 127 / max_i |x_{i,d}|
    * (0.0 for an all-zero dimension — every value quantizes to 0). One
    * corpus pass, `dim` rows collected; an INGEST-TIME artifact at scale,
    * learned from the data like the BPE merges — and embedded the same way
    * into the oracle as literal constants. */
  def quantScales(corpus: DataFrame, dim: Int): Array[Double] = {
    val rows = corpus
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(max(abs(col("v"))).as("m"))
      .collect()
    val scales = Array.fill(dim)(0.0)
    rows.foreach { r =>
      val m = r.getDouble(1)
      if (m > 0.0) scales(r.getInt(0)) = 127.0 / m
    }
    scales
  }

  /** Quantize a float-vector column to int8 range under `scales`:
    * q_d = clamp(⌊x_d·s_d + 0.5⌋, −127, 127). floor(x+0.5) — not round() —
    * because floor is defined identically in every engine (round's
    * half-case differs); all downstream arithmetic is integer-exact, so
    * the quantized vectors (and therefore the candidate sets) are
    * bit-reproducible anywhere the same scales are replayed. */
  def quantize(vec: Column, scales: Array[Double]): Column =
    zip_with(vec.cast("array<double>"), typedLit(scales.toSeq),
      (x, s) => least(greatest(floor(x * s + lit(0.5)), lit(-127.0)), lit(127.0))
        .cast("int"))

  /** Memory-footprint ANN lane: int8 scalar quantization (4× smaller
    * corpus residency than float32 — the reason this lane exists at
    * 100 TB) with an INTEGER dot-product prescreen, then exact float
    * re-rank of the top `candK` quantized candidates per query.
    *
    * The RESULT is deterministic regardless of quantization error: it is
    * defined as "exact cosine top-k OF the quantized top-candK candidate
    * set", and the candidate set itself is integer-exact under the given
    * scales — so the DuckDB oracle replays it bit-for-bit (recall vs true
    * top-k is a separate, spec-tested property). Prescreen is the same
    * broadcast-queries zero-corpus-shuffle shape as [[bruteForceTopK]],
    * at ~1/4 the bytes and integer ALU cost. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int, candK: Int,
                    scales: Array[Double]): DataFrame = {
    val qc = corpus.select(col("vec_id").as("neighbor_id"),
                           quantize(col("embedding"), scales).as("c_q"))
    val qq = queries.select(col("vec_id").as("query_id"),
                            quantize(col("embedding"), scales).as("q_q"))
    prescreenTopK(corpus, queries, qc, qq,
      graft.functions.NativeExprs.intDot(col("q_q"), col("c_q")), candK, k)
  }

  /** Train product-quantization codebooks ([[graft.functions.PqExprs]]):
    * M subspaces × K centroids over a DETERMINISTIC bounded sample (the
    * `sampleN` lowest-id vectors — id order, not partition order), k-means
    * with evenly-spread sample-vector init, `iters` Lloyd rounds,
    * assignment ties to the lowest centroid, means folded in id order so
    * the learned floats are bit-reproducible run to run. An INGEST-TIME
    * artifact at scale (one bounded collect, like `quantScales` /
    * the BPE merges) — and embedded into the oracle the same way. Returns
    * codebooks[m][k][subDim]. */
  def pqTrain(corpus: DataFrame, dim: Int, m: Int, k: Int,
              sampleN: Int = 512, iters: Int = 8)
      : Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sd = dim / m
    val sample = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(col("vec_id")).limit(sampleN)
      .collect()
      .map { r => // unit sphere: PQ targets cosine (PqExprs.readVec order)
        val x = r.getSeq[Double](1).toArray
        var n2 = 0.0; var i = 0
        while (i < x.length) { n2 = n2 + x(i) * x(i); i += 1 }
        if (n2 > 0.0) { val nrm = math.sqrt(n2); i = 0
          while (i < x.length) { x(i) = x(i) / nrm; i += 1 } }
        x
      }
    require(sample.nonEmpty, "empty training corpus")
    val n = sample.length
    Array.tabulate(m) { mi =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sd, (mi + 1) * sd))
      // init: evenly spread over the id-ordered sample
      val cents = Array.tabulate(k)(ki => subs(((ki.toLong * n) / k).toInt).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sd))
        val counts = new Array[Int](k)
        var i = 0
        while (i < n) { // id order: deterministic float fold
          var best = 0; var bestD = Double.MaxValue
          var ki = 0
          while (ki < k) {
            var d = 0.0; var j = 0
            while (j < sd) { val t = subs(i)(j) - cents(ki)(j); d = d + t * t; j += 1 }
            if (d < bestD) { bestD = d; best = ki }
            ki += 1
          }
          var j = 0
          while (j < sd) { sums(best)(j) += subs(i)(j); j += 1 }
          counts(best) += 1
          i += 1
        }
        var ki = 0
        while (ki < k) { // empty cluster keeps its previous centroid
          if (counts(ki) > 0) {
            var j = 0
            while (j < sd) { cents(ki)(j) = sums(ki)(j) / counts(ki); j += 1 }
          }
          ki += 1
        }
        it += 1
      }
      cents
    }
  }

  /** PQ-ANN: encode the corpus to M int8 codes/vector (32× residency
    * reduction at D=64 — the memory-bound lane PQ exists for), broadcast
    * the queries' fixed-point ADC tables, prescreen to the top `candK`
    * by summed-long ADC score, exact-cosine re-rank to top `k`.
    *
    * Deterministic end to end under embedded codebooks (see
    * [[graft.functions.PqExprs]]): codes, LUT entries, the candidate cut,
    * and the re-rank all replay bit-for-bit in the DuckDB oracle. Same
    * zero-corpus-shuffle shape as [[quantizedTopK]]: queries broadcast,
    * the only exchanges carry candidate-sized frames. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, candK: Int,
             codebooks: Array[Array[Array[Double]]], scaleBits: Int = 20): DataFrame = {
    import graft.functions.NativeExprs
    val kCent = codebooks(0).length
    val cc = corpus.select(col("vec_id").as("neighbor_id"),
      NativeExprs.pqEncode(col("embedding").cast("array<double>"), codebooks,
                           normalize = true).as("codes"))
    val ql = queries.select(col("vec_id").as("query_id"),
      NativeExprs.pqLut(col("embedding").cast("array<double>"), codebooks, scaleBits,
                        normalize = true).as("lut"))
    prescreenTopK(corpus, queries, cc, ql,
      NativeExprs.pqAdc(col("codes"), col("lut"), kCent), candK, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * within each embedding CLUSTER, vectors whose cosine similarity to a
    * cluster-mate exceeds `threshold` are duplicates and all but one are
    * dropped. The cluster column is the trained coarse-quantizer assignment
    * (here `label`, the same k-means stand-in as [[ivfTopK]]); the paper's
    * keep-one-random policy becomes deterministic keep-LOWEST-id: a vector
    * is dropped iff a LOWER-id cluster-mate sits within `threshold`.
    *
    * Scale shape: the cluster key bounds the quadratic blast radius — the
    * only join is an equi-join on the cluster column, and #clusters grows
    * with the corpus so per-cluster pairwise work stays bounded (the
    * paper's own argument for clustering before pairwise cosine). The
    * corpus is shuffled once by cluster; no global all-pairs anywhere.
    *
    * The cluster equi-join routes through [[graft.operators.Dedup
    * .saltedBandJoin]] (cluster = the bucket, band pinned to 0): a skewed
    * mega-cluster — exactly what a near-dup-heavy corpus produces — gets its
    * pair grid hash-salted across `skewSalt` reducers instead of funneling
    * through one; corpora with no cluster over `skewCap` rows short-circuit
    * to the plain join, paying only the metadata-sized detection agg.
    *
    * Returns the corpus plus a `kept` boolean (false = semantic duplicate
    * of a lower-id cluster-mate); callers filter `kept` for the deduped
    * corpus. */
  /** Argmax-cosine assignment against a driver-side centroid table embedded
    * as literals: struct(c = cosine(vec, centroid_i), i), folded with a
    * strictly-greater comparison — ties keep the LOWEST centroid index.
    * One projection, no shuffle, no broadcast variable (k·dim literals ride
    * the plan). The per-centroid squared norm the cosine needs is computed
    * by [[graft.functions.NativeExprs.cosineSim]]'s left-assoc loop — the
    * identical IEEE sequence a generated oracle replays with the norm
    * embedded as a literal. */
  def kmeansArgmax(vec: Column, cents: Array[Array[Double]]): Column = {
    // array_max over (c, −i) structs, NOT a when-chain fold: the fold
    // duplicates the partial result per step (2^k expression copies — blows
    // the codegen method limit at k=8 and re-evaluates cosines), while the
    // array form evaluates each cosine once and stays whole-stage-codegen.
    // max of (c, −i) == strictly-greater-advances fold: ties keep lowest i.
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, array(c.toSeq.map(lit): _*)).as("c"),
             lit(-i).as("ni"))
    }: _*)
    val bm = array_max(scored)
    struct(bm.getField("c").as("c"), (-bm.getField("ni")).as("i"))
  }

  /** Distributed fixed-round Lloyd's k-means over the embedding column —
    * the trainer that frees IVF cells / semantic dedup from pre-supplied
    * labels (promotes [[pqTrain]]'s driver-sample k-means to the full
    * corpus). Init = the k vectors with the smallest engine-agnostic
    * multiplicative hash of their id (spread + deterministic, the
    * stratifiedSample rank); each round = ONE corpus scan: centroids ride
    * the plan as literals into an argmax-cosine projection
    * ([[kmeansArgmax]]), then [[labelCentroids]]' decimal-exact
    * per-dimension means (order-independent under any partitioning) are
    * collected — a (k·dim)-sized frame, never the corpus. Empty clusters
    * keep their previous centroid (the pqTrain rule). Fixed round count +
    * exact means + deterministic init/tie-breaks ⇒ bit-reproducible
    * centroids run to run, so they embed into a DuckDB oracle as literals
    * (the pqTrain/srp discipline). An INGEST-TIME artifact at scale. */
  def kmeansTrain(corpus: DataFrame, k: Int, iters: Int)
      : Array[Array[Double]] = {
    val hash = pmod(col("vec_id") * lit(graft.operators.Sampling.Knuth),
                    lit(1000000007L))
    var cents: Array[Array[Double]] = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(hash, col("vec_id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    require(cents.nonEmpty, "kmeansTrain: empty corpus")
    var it = 0
    while (it < iters) {
      val assigned = corpus.withColumn(
        "__label", kmeansArgmax(col("embedding"), cents).getField("i").cast("long"))
      val next = labelCentroids(assigned, "__label")
        .select(col("__label"), col("pos"), col("centroid"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (l, rows) =>
          (l, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
        }
      cents = Array.tabulate(cents.length)(i => next.getOrElse(i.toLong, cents(i)))
      it += 1
    }
    cents
  }

  def semanticDedup(corpus: DataFrame, threshold: Double,
                    skewSalt: Int = 8, skewCap: Long = 2048L): DataFrame = {
    val probe = corpus.select(lit(0).as("band"), col("label").as("bucket"),
                              col("vec_id").as("__id"), col("embedding").as("__v"))
    val mates = corpus.select(lit(0).as("band"), col("label").as("bucket"),
                              col("vec_id").as("__id_b"), col("embedding").as("__v_b"))
    val dropped = Dedup
      .saltedBandJoin(probe, mates, "__id", salt = skewSalt, cap = skewCap)
      .filter(col("__id_b") < col("__id"))
      // score+filter before the distinct: the dedup exchange sees only
      // (id) rows of actual duplicates, not the per-cluster pair grid
      .filter(cosine(col("__v"), col("__v_b")) >= threshold)
      .select(col("__id")).distinct()
      .withColumn("__dropped", lit(true))
    corpus.join(dropped.withColumnRenamed("__id", "vec_id"), Seq("vec_id"), "left")
      .withColumn("kept", col("__dropped").isNull)
      .drop("__dropped")
  }

  /** Embedding near-duplicate pairs: all pairs with cosine >= threshold,
    * found via multi-table SRP buckets (no O(n²) scan), verified exactly.
    * At threshold 0.95 (θ≈18°, p≈0.90) the 8-bit/8-table default catches
    * ≈99% of true pairs while keeping buckets tiny.
    *
    * The bucket self-join routes through [[graft.operators.Dedup
    * .saltedBandJoin]] (table index = the band): a hot SRP bucket —
    * correlated embeddings, the signature of a near-dup-heavy corpus —
    * gets its pair grid hash-salted across `skewSalt` reducers; cold
    * corpora short-circuit to the plain join. */
  def embeddingNearDuplicates(corpus: DataFrame, threshold: Double, dim: Int,
                              nBits: Int = 8, tables: Int = 8,
                              seed: Long = 42L,
                              skewSalt: Int = 8, skewCap: Long = 2048L): DataFrame = {
    val buckets = srpTableBuckets(col("embedding"), nBits, dim, tables, seed)
    val withSig = corpus.select(col("vec_id"), col("embedding"), explode(buckets).as("tb"))
      .select(col("vec_id"), col("embedding"), col("tb.tbl").as("band"), col("tb.bucket"))
    val a = withSig.select(col("band"), col("bucket"), col("vec_id").as("id_a"),
                           col("embedding").as("v_a"))
    val b = withSig.select(col("band"), col("bucket"), col("vec_id").as("id_b"),
                           col("embedding").as("v_b"))
    Dedup.saltedBandJoin(a, b, "id_a", salt = skewSalt, cap = skewCap)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold) // score+filter pre-shuffle: dedup sees survivors only
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }
}
