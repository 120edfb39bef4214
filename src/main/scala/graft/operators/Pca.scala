package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding PCA — the standard dimensionality-reduction stage between
  * raw embeddings and ANN indexing in a 100-TB pipeline (project once at
  * ingest, index/search in r ≪ dim space, exact re-rank at full width).
  *
  * Determinism end to end (the kmeansTrain discipline, strengthened):
  *
  *  1. MOMENT ACCUMULATION IS INTEGER-EXACT. Each float coordinate is
  *     scaled to an integer `z = floor(x·2^20 + 0.5)` (exact double ops),
  *     and the first moments Σz_p plus the upper-triangle second moments
  *     Σz_p·z_q are summed as DECIMALs — order-independent under ANY
  *     partitioning, so the covariance matrix is bit-identical run to run.
  *     One corpus scan; the shuffle carries dim(dim+3)/2 keyed partial
  *     sums per partition (map-side combine), and the collect is the
  *     dim²-bounded moment frame — never the corpus.
  *  2. THE EIGENSOLVER IS A FIXED-ITERATION CYCLIC JACOBI on the driver:
  *     `Sweeps` full (p,q) sweeps, pinned IEEE rotation formulas, no
  *     convergence test — deterministic input ⇒ deterministic components
  *     (a threshold-stopped solver's output would depend on float noise).
  *  3. PROJECTION IS A PINNED LEFT-ASSOC CHAIN over literals: the learned
  *     mean and components embed into the plan (and the DuckDB oracle) as
  *     shortest-repr double literals, so projected coordinates — and
  *     therefore the ANN candidate cut — replay bit-for-bit anywhere.
  *
  * The reduced-dim ANN lane ([[pcaTopK]]) is the quantizedTopK shape:
  * prescreen in r-dim projected space (r ≪ dim of scan residency per
  * vector — the reason the lane exists), exact full-width cosine re-rank
  * of the top-candK candidates, so the RESULT is deterministic regardless
  * of projection error; recall vs the true top-k is the separate
  * spec-gated property (PcaSpec + the RecallCheck lane). */
object Pca {

  /** Fixed-point scale for the moment pass: 2^20 keeps |z| ≤ 2^21 for
    * |x| ≤ 2, products ≤ 2^42 — exact in longs, and corpus sums exact in
    * DECIMAL to ~10^12 rows with room to spare. */
  val ScaleBits = 20
  val Sweeps = 12

  case class Model(mean: Array[Double], comps: Array[Array[Double]],
                   eigvals: Array[Double])

  /** One-pass integer-exact moment frame: key `dim*dim + p` carries Σz_p,
    * key `p*dim + q` (p ≤ q) carries Σz_p·z_q; every key also carries the
    * row count. Returns (n, S, G).
    *
    * Cost shape: the explode emits dim(dim+3)/2 (key, long) pairs per row
    * (2,144 at dim 64), but hash aggregation collapses them map-side — the
    * EXCHANGE carries at most that many partial sums per partition, and
    * the collect is one dim²-bounded frame. The per-row explode CPU is the
    * price of exact decimal sums through stock operators; a corpus at
    * dim ≳ 512 (260k pairs/row) should promote this to a
    * TypedImperativeAggregate with a dim×dim buffer (the KeyedMapAgg
    * pattern) — same exchange shape, no row multiplication. */
  def moments(corpus: DataFrame, dim: Int)
      : (Long, Array[BigInt], Array[Array[BigInt]]) = {
    val scale = lit((1L << ScaleBits).toDouble)
    val z = transform(col("embedding").cast("array<double>"),
                      x => floor(x * scale + lit(0.5)).cast("long"))
    val d = lit(dim)
    val tri = flatten(transform(sequence(lit(0), lit(dim - 1)), p =>
      transform(sequence(p, lit(dim - 1)), q =>
        struct((p * d + q).as("i"),
               (element_at(col("__z"), p + 1) * element_at(col("__z"), q + 1))
                 .as("v")))))
    val firsts = transform(sequence(lit(0), lit(dim - 1)), p =>
      struct((lit(dim * dim) + p).as("i"), element_at(col("__z"), p + 1).as("v")))
    val rows = corpus.select(z.as("__z"))
      .select(explode(concat(tri, firsts)).as("e"))
      .groupBy(col("e.i").as("i"))
      .agg(count(lit(1)).as("n"),
           sum(col("e.v").cast("decimal(38,0)")).as("s"))
      .collect()
    require(rows.nonEmpty, "Pca.moments: empty corpus")
    val n = rows.head.getLong(1)
    val S = Array.fill(dim)(BigInt(0))
    val G = Array.fill(dim, dim)(BigInt(0))
    rows.foreach { r =>
      val i = r.getInt(0)
      val s = BigInt(r.getDecimal(2).toBigInteger)
      if (i >= dim * dim) S(i - dim * dim) = s
      else { val p = i / dim; val q = i % dim; G(p)(q) = s; G(q)(p) = s }
    }
    (n, S, G)
  }

  /** Fixed-sweep cyclic Jacobi on a symmetric matrix: returns (diag
    * eigenvalue estimates, V with eigenvectors as COLUMNS). Pure pinned
    * IEEE double arithmetic; no data-dependent iteration count. */
  def jacobiEigen(a0: Array[Array[Double]], sweeps: Int = Sweeps)
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = Array.tabulate(n, n)((i, j) => a0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var s = 0
    while (s < sweeps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val sign = if (theta >= 0.0) 1.0 else -1.0
            val t = sign / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - sn * aqi
              a(q)(i) = sn * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      s += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Train an r-component model: exact moments → covariance (BigInt
    * n·G − S·Sᵀ, converted once to double with a fixed normalizer) →
    * Jacobi → top-r components by (eigenvalue desc, index asc). */
  def train(corpus: DataFrame, dim: Int, r: Int): Model = {
    val (n, s1, g) = moments(corpus, dim)
    val nb = BigInt(n)
    val norm = n.toDouble * n.toDouble * (1L << (2 * ScaleBits)).toDouble
    val cov = Array.tabulate(dim, dim) { (p, q) =>
      (nb * g(p)(q) - s1(p) * s1(q)).toDouble / norm
    }
    val (vals, vecs) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(i => (-vals(i), i)).take(r)
    val comps = order.map(c => Array.tabulate(dim)(p => vecs(p)(c))).toArray
    val mean = Array.tabulate(dim)(p =>
      s1(p).toDouble / n.toDouble / (1L << ScaleBits).toDouble)
    Model(mean, comps, order.map(vals).toArray)
  }

  /** The r projected coordinates of a float-vector column under `model`,
    * as one pinned left-assoc multiply-add chain per component — the
    * literal-embedding form the oracle replays term for term.
    *
    * REFERENCE FORM ONLY: at dim 64 × r 32 this is a ~2,000-term tree
    * whose generated code overflows Janino's 64 KB method limit, so every
    * execution pays a failed whole-stage compile plus interpreted
    * evaluation (~8 s/run at sf0.1, measured). The runtime form is the
    * bit-identical native [[graft.functions.NativeExprs.pcaProject]]
    * (NativeExprParitySpec pins the equality on the real corpus); the
    * oracle still replays THIS chain term for term in SQL. */
  def project(vec: Column, model: Model): Column = {
    val dim = model.mean.length
    val comps = model.comps.indices.map { c =>
      (0 until dim).map { p =>
        lit(model.comps(c)(p)) *
          (element_at(vec, p + 1).cast("double") - lit(model.mean(p)))
      }.reduceLeft(_ + _)
    }
    array(comps: _*)
  }

  /** Flat (vec_id, comp, proj) projection of the whole corpus. */
  def projectAll(corpus: DataFrame, model: Model): DataFrame =
    corpus.select(col("vec_id"),
        posexplode(graft.functions.NativeExprs.pcaProject(col("embedding"), model))
          .as(Seq("comp", "proj")))
      .select(col("vec_id"), col("comp").cast("long").as("comp"), col("proj"))

  /** Reduced-dim ANN: prescreen by the projected-space dot product (pinned
    * comp-order chain), exact full-width cosine re-rank of the top-candK —
    * the [[Similarity.quantizedTopK]] contract with r doubles per vector
    * in the hot scan instead of dim floats (at scale the projection is a
    * persisted ingest artifact, so the prescreen never touches raw width). */
  def pcaTopK(corpus: DataFrame, queries: DataFrame, k: Int, candK: Int,
              model: Model): DataFrame = {
    val r = model.comps.length
    def dotChain(a: Column, b: Column): Column =
      (0 until r).map(c =>
        element_at(a, c + 1) * element_at(b, c + 1)).reduceLeft(_ + _)
    val pc = corpus.select(col("vec_id").as("neighbor_id"),
                           graft.functions.NativeExprs.pcaProject(col("embedding"), model).as("c_p"))
    val pq = queries.select(col("vec_id").as("query_id"),
                            graft.functions.NativeExprs.pcaProject(col("embedding"), model).as("q_p"))
    Similarity.prescreenTopK(corpus, queries, pc, pq,
      dotChain(col("q_p"), col("c_p")), candK, k)
  }
}
