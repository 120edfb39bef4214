package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import Shared._

/** Embedding search: brute-force, SRP, int8, PQ, PCA and IVF top-k
  * neighbours, k-means assignment and embedding statistics. */
object AnnQueries {
  private val AnnK      = 5
  private val AnnProbes = 8 // vec_id < 8 are the ANN probes

  private def embeddingCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroids(t(s, dir, "embeddings"))
      .orderBy("label", "pos")
  val EmbeddingCentroids = QueryDef("embedding_centroids", embeddingCentroids, () =>
    """WITH f AS (
           SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                  unnest(CAST(embedding AS FLOAT[])) AS e
           FROM embeddings)
         SELECT label, pos,
                CAST(sum(CAST(CAST(e AS VARCHAR) AS DECIMAL(27,12))) AS DOUBLE)
                  / count(*) AS centroid,
                count(*) AS n_vectors
         FROM f GROUP BY label, pos ORDER BY label, pos""")

  private def annTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < AnnProbes), AnnK)
      .orderBy("query_id", "rank")
  }
  val AnnTopkBrute = QueryDef("ann_topk_brute", annTopK, () =>
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id < $AnnProbes),
          s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(q.qv, CAST(CAST(e.embedding AS FLOAT[]) AS DOUBLE[])) AS sim
                FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
          r AS (SELECT query_id, neighbor_id, sim,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, neighbor_id) AS rnk
                FROM s)
          SELECT query_id, rnk AS rank, neighbor_id, round(sim, 4) AS cosine
          FROM r WHERE rnk <= $AnnK ORDER BY query_id, rnk""")

  // embedding dimensionality, probed from the data once per (session, dir)
  // — the generator owns the corpus, so a regen at a different dim must not
  // leave SRP hyperplanes / int8 scales spanning the wrong width. The SRP
  // oracle SQL is generated from the same cached value (the data-dependent
  // oracle pattern: Verify runs every query before dumping oracle_sql.json).
  private def embDim(s: SparkSession, dir: String): Int =
    Artifacts.value(s, dir, "emb_dim", "embeddings") {
      t(s, dir, "embeddings").select(size(col("embedding")).as("d")).head().getInt(0)
    }

  /** DuckDB SQL for `ann_topk_srp`, generated with the SRP hyperplane
    * constants embedded. Exactness argument: each plane coefficient is
    * emitted via `Double.toString` (shortest repr — parses back to the
    * identical double in any engine); each projection is an explicit
    * left-associated `e[1]*p1 + e[2]*p2 + …` chain, the same sequential
    * double accumulation as `SrpSigsExpr.nullSafeEval`'s loop; float→double
    * element casts are exact. Identical inputs + identical IEEE op sequence
    * → identical sign bits → identical buckets → identical candidate set;
    * the re-rank then matches exactly as `ann_topk_brute`'s does. */
  private def srpOracleSql: String = {
    // dim comes from the same per-(session,dir) probe the query used —
    // oracleSql is a def re-evaluated at dump time, AFTER Verify ran the
    // query (the bpe_merges/quant_scales pattern)
    val nBits = 4; val tables = 8; val dim = Artifacts.last[Int]("emb_dim").getOrElse(64); val seed = 42L
    def bucketCol(t: Int): String = {
      // same gaussian stream as SrpSigsExpr / Similarity.hyperplanes
      val rnd = new scala.util.Random(seed + t * 7919L)
      val planes = Array.fill(nBits * dim)(rnd.nextGaussian())
      (0 until nBits).map { j =>
        val chain = (0 until dim).map { i =>
          s"CAST(CAST(embedding[${i + 1}] AS FLOAT) AS DOUBLE) * ${dlit(planes(j * dim + i))}"
        }.mkString(" + ")
        s"(CASE WHEN ($chain) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
    }
    val bucketCols = (0 until tables)
      .map(t => s"(${bucketCol(t)}) AS b$t").mkString(", ")
    val sameBucket = (0 until tables).map(t => s"cb.b$t = qb.b$t").mkString(" OR ")
    s"""WITH b AS (SELECT vec_id, $bucketCols FROM embeddings),
        qb AS (SELECT * FROM b WHERE vec_id < $AnnProbes),
        cb AS (SELECT * FROM b),
        cand AS (
          SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
          FROM cb JOIN qb ON ($sameBucket)
          WHERE cb.vec_id <> qb.vec_id),
        s AS (
          SELECT cand.query_id, cand.neighbor_id,
                 list_cosine_similarity(CAST(CAST(qe.embedding AS FLOAT[]) AS DOUBLE[]),
                                        CAST(CAST(ce.embedding AS FLOAT[]) AS DOUBLE[])) AS sim
          FROM cand
          JOIN embeddings qe ON qe.vec_id = cand.query_id
          JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
        r AS (SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rnk
              FROM s)
        SELECT query_id, rnk AS rank, neighbor_id, round(sim, 4) AS cosine
        FROM r WHERE rnk <= $AnnK ORDER BY query_id, rnk"""
  }

  private def annTopKSrp(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.srpBucketedTopK(emb, emb.filter(col("vec_id") < AnnProbes), AnnK,
        dim = embDim(s, dir))
      .orderBy("query_id", "rank")
  }
  // The SRP pipeline recomputed end-to-end in SQL: the pinned-seed
  // hyperplanes are EMBEDDED as literals (Double.toString round-trips
  // exactly; the projection is an explicit left-associated sum chain, the
  // same sequential double accumulation as SrpSigsExpr's loop), buckets
  // re-derived per table, candidates = same-bucket-in-same-table pairs,
  // then the exact cosine re-rank the brute oracle already hash-matches.
  // This oracles the APPROXIMATE result itself — no recall proviso needed.
  val AnnTopkSrp = QueryDef("ann_topk_srp", annTopKSrp, () => srpOracleSql)

  private val AnnQuantCandK = 40

  // per-dim int8 scales per (session, corpus) — learned from the data like
  // the BPE merges, and fed into the data-dependent oracle the same way
  private def quantScalesFor(s: SparkSession, dir: String): Array[Double] =
    Artifacts.value(s, dir, "quant_scales", "embeddings") {
      Similarity.quantScales(t(s, dir, "embeddings"), dim = embDim(s, dir))
    }

  /** DuckDB SQL for `ann_topk_quant`, generated with the LEARNED per-dim
    * scales embedded (Double.toString shortest-repr literals — identical
    * parse everywhere, the srpOracleSql argument). Quantization is
    * floor(x·s + 0.5) clamped — floor, not round, because round's
    * half-case differs across engines — so the int vectors, the integer
    * prescreen scores (64 products ≤ 127² summed: exact in doubles), the
    * candidate cut, and the exact re-rank all replay bit-for-bit. */
  private def quantOracleSql(scales: Array[Double]): String = {
    val qvList = scales.indices.map { d =>
      s"CAST(LEAST(127.0, GREATEST(-127.0, FLOOR(CAST(CAST(embedding[${d + 1}] AS FLOAT) AS DOUBLE) * ${dlit(scales(d))} + 0.5))) AS INT)"
    }.mkString("[", ", ", "]")
    s"""WITH b AS (SELECT vec_id, $qvList AS qv FROM embeddings),
        qb AS (SELECT * FROM b WHERE vec_id < $AnnProbes),
        sc AS (SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                      CAST(list_dot_product(CAST(cb.qv AS DOUBLE[]),
                                            CAST(qb.qv AS DOUBLE[])) AS BIGINT) AS score
               FROM b cb, qb WHERE cb.vec_id <> qb.vec_id),
        cand AS (SELECT query_id, neighbor_id FROM (
                   SELECT query_id, neighbor_id,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, neighbor_id) AS prn
                   FROM sc) WHERE prn <= $AnnQuantCandK),
        s AS (SELECT cand.query_id, cand.neighbor_id,
                     list_cosine_similarity(CAST(CAST(qe.embedding AS FLOAT[]) AS DOUBLE[]),
                                            CAST(CAST(ce.embedding AS FLOAT[]) AS DOUBLE[])) AS sim
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
        r AS (SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rnk
              FROM s)
        SELECT query_id, rnk AS rank, neighbor_id, round(sim, 4) AS cosine
        FROM r WHERE rnk <= $AnnK ORDER BY query_id, rnk"""
  }

  /** int8-quantized ANN ([[Similarity.quantizedTopK]]): integer prescreen
    * over 4×-smaller vectors, exact re-rank of the top-candK candidates.
    * Deterministic end to end — the oracle replays the learned scales as
    * literals, the quantization/score path is integer-exact, and the
    * re-rank matches ann_topk_brute's. */
  private def annTopKQuant(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < AnnProbes), AnnK,
        AnnQuantCandK, quantScalesFor(s, dir))
      .orderBy("query_id", "rank")
  }
  // Same data-dependent technique: the learned int8 scales are embedded
  // once the query has computed them; the untrained placeholder fails
  // loudly if ever compared.
  val AnnTopkQuant = QueryDef("ann_topk_quant", annTopKQuant, () =>
    Artifacts.last[Array[Double]]("quant_scales").map(quantOracleSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS query_id,
                           CAST(NULL AS BIGINT) AS rank,
                           CAST(NULL AS BIGINT) AS neighbor_id,
                           CAST(NULL AS DOUBLE) AS cosine
                    WHERE 1 = 0"""))

  private val PqM = 16         // subspaces (D=64 → 4 dims each): near-random

  private val PqKCent = 32     // unit vectors need fine subquantizers — the
                               // top-5 cosine signal (~0.2-0.4) sits barely
                               // above the 1/√D noise floor, so residual
                               // variance must be cut hard (K^(-2/sd) ≈ 0.18)

  private val PqScaleBits = 20 // fixed-point ADC precision

  private val PqCandK = 40     // prescreen width, same as the int8 lane

  // PQ sub-codebooks per (session, corpus) — learned ingest-time artifact,
  // embedded into the data-dependent oracle as literals (quantScales twin)
  private def pqCodebooksFor(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    Artifacts.value(s, dir, "pq_codebooks", "embeddings") {
      Similarity.pqTrain(t(s, dir, "embeddings"), dim = embDim(s, dir),
                         m = PqM, k = PqKCent)
    }

  // Retained components: the synthetic corpus's spectrum is FLAT (near-
  // isotropic gaussian vectors — PCA's worst case), so r = dim/2 is what
  // holds prescreen recall ≥ 0.9 at sf0.1 (measured: r=16 → 0.53, r=32 →
  // 0.93 at candK=160). On real embedding corpora (low-rank spectra) the
  // same machinery runs at r ≪ dim; r is a per-corpus knob, not a law.
  private val PcaR = 32

  private val PcaCandK = 160 // prescreen width (recall-driven, see PcaR)

  // learned PCA model per (session, corpus) — ingest-time artifact,
  // embedded into the data-dependent oracle as literals (quantScales twin)
  private def pcaModelFor(s: SparkSession, dir: String): Pca.Model =
    Artifacts.value(s, dir, "pca_model", "embeddings") {
      Pca.train(t(s, dir, "embeddings"), dim = embDim(s, dir), r = PcaR)
    }

  /** The r projection chains of [[Pca.project]] as SQL text: per component
    * a left-assoc `comp*(e_p − mean_p)` multiply-add sequence — the exact
    * IEEE tree the engine's literal chain evaluates ([[dlit]] literals
    * parse back bit-identically). */
  private def pcaChainsSql(m: Pca.Model): Seq[String] = {
    val dim = m.mean.length
    m.comps.indices.map { c =>
      (0 until dim).map { p =>
        s"${dlit(m.comps(c)(p))} * (CAST(CAST(embedding[${p + 1}] AS FLOAT) AS DOUBLE) - ${dlit(m.mean(p))})"
      }.mkString(" + ")
    }
  }

  /** DuckDB SQL for `embedding_pca`: the learned model as literal chains,
    * unnested to the flat (vec_id, comp, proj) contract. */
  private def pcaOracleSql(m: Pca.Model): String = {
    val arr = pcaChainsSql(m).mkString("[", ", ", "]")
    s"""WITH v AS (SELECT vec_id, $arr AS pr FROM embeddings)
        SELECT vec_id, CAST(generate_subscripts(pr, 1) - 1 AS BIGINT) AS comp,
               unnest(pr) AS proj
        FROM v ORDER BY vec_id, comp"""
  }

  /** Embedding PCA projection ([[Pca]]): integer-exact covariance moments,
    * fixed-sweep Jacobi on the driver, top-r components — the projected
    * coordinates of every vector, flat (vec_id, comp, proj). The oracle
    * replays the learned mean/components as literals through the identical
    * left-assoc multiply-add chains. */
  private def embeddingPca(s: SparkSession, dir: String): DataFrame =
    Pca.projectAll(t(s, dir, "embeddings"), pcaModelFor(s, dir))
      .orderBy("vec_id", "comp")
  // PCA twins: learned mean/components as literal multiply-add chains;
  // untrained placeholders fail loudly
  val EmbeddingPca = QueryDef("embedding_pca", embeddingPca, () =>
    Artifacts.last[Pca.Model]("pca_model").map(pcaOracleSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS vec_id,
                           CAST(NULL AS BIGINT) AS comp,
                           CAST(NULL AS DOUBLE) AS proj
                    WHERE 1 = 0"""))

  /** DuckDB SQL for `ann_topk_pca`: projected coordinates via the literal
    * chains, prescreen dot in comp order, candidate cut, exact full-width
    * re-rank — the quantOracleSql shape in PCA space. */
  private def pcaAnnOracleSql(m: Pca.Model): String = {
    val projCols = pcaChainsSql(m).zipWithIndex
      .map { case (ch, c) => s"$ch AS p$c" }.mkString(",\n               ")
    val dotChain = m.comps.indices.map(c => s"q.p$c * c.p$c").mkString(" + ")
    s"""WITH v AS (SELECT vec_id, $projCols FROM embeddings),
        q AS (SELECT * FROM v WHERE vec_id < $AnnProbes),
        sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      $dotChain AS score
               FROM v c, q WHERE c.vec_id <> q.vec_id),
        cand AS (SELECT query_id, neighbor_id FROM (
                   SELECT query_id, neighbor_id,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, neighbor_id) AS prn
                   FROM sc) WHERE prn <= $PcaCandK),
        s AS (SELECT cand.query_id, cand.neighbor_id,
                     list_cosine_similarity(CAST(CAST(qe.embedding AS FLOAT[]) AS DOUBLE[]),
                                            CAST(CAST(ce.embedding AS FLOAT[]) AS DOUBLE[])) AS sim
              FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                        JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
        r AS (SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rnk
              FROM s)
        SELECT query_id, rnk AS rank, neighbor_id, round(sim, 4) AS cosine
        FROM r WHERE rnk <= $AnnK ORDER BY query_id, rnk"""
  }

  /** Reduced-dimension ANN ([[Pca.pcaTopK]]): prescreen in the r-dim
    * projected space (r doubles of scan residency per vector instead of
    * dim floats; a persisted ingest artifact at scale), exact full-width
    * cosine re-rank of the top-candK — result deterministic regardless of
    * projection error (the ann_topk_quant contract); recall vs true top-k
    * is RecallCheck-gated. */
  private def annTopKPca(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Pca.pcaTopK(emb, emb.filter(col("vec_id") < AnnProbes), AnnK, PcaCandK,
        pcaModelFor(s, dir))
      .orderBy("query_id", "rank")
  }
  val AnnTopkPca = QueryDef("ann_topk_pca", annTopKPca, () =>
    Artifacts.last[Pca.Model]("pca_model").map(pcaAnnOracleSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS query_id,
                           CAST(NULL AS BIGINT) AS rank,
                           CAST(NULL AS BIGINT) AS neighbor_id,
                           CAST(NULL AS DOUBLE) AS cosine
                    WHERE 1 = 0"""))

  private val KmK = 8      // clusters

  private val KmIters = 4  // fixed Lloyd rounds — determinism, not convergence

  // learned k-means centroids per (session, corpus) — ingest-time artifact,
  // embedded into the data-dependent oracle as literals (pqTrain twin)
  private def kmeansFor(s: SparkSession, dir: String): Array[Array[Double]] =
    Artifacts.value(s, dir, "kmeans_centroids", "embeddings") {
      Similarity.kmeansTrain(t(s, dir, "embeddings"), KmK, KmIters)
    }

  /** Distributed Lloyd's k-means ([[Similarity.kmeansTrain]]) — cluster
    * assignment over LEARNED centroids (no pre-supplied labels): per
    * vector, argmax cosine against the k trained centroids, ties to the
    * lowest index. The oracle replays the learned centroids as literals
    * through the identical IEEE chains (dot / norms / argmax fold), the
    * srpOracleSql discipline; KmeansSpec pins retrain determinism and
    * assignment == brute argmax-cosine. */
  private def kmeansAssignQ(s: SparkSession, dir: String): DataFrame = {
    val best = Similarity.kmeansArgmax(col("embedding"), kmeansFor(s, dir))
    t(s, dir, "embeddings")
      .select(col("vec_id"),
              best.getField("i").cast("long").as("label"),
              round(best.getField("c"), 4).as("cosine"))
      .orderBy("vec_id")
  }
  // Learned k-means centroids replayed as literals (pqTrain/srp
  // discipline): identical dot/norm/argmax IEEE trees on both engines.
  val KmeansAssign = QueryDef("kmeans_assign", kmeansAssignQ, () =>
    Artifacts.last[Array[Array[Double]]]("kmeans_centroids").map(kmeansOracleSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS vec_id,
                           CAST(NULL AS BIGINT) AS label,
                           CAST(NULL AS DOUBLE) AS cosine
                    WHERE 1 = 0"""))

  /** DuckDB SQL for `kmeans_assign` with the learned centroids embedded.
    * Exactness: per-vector dot and squared-norm chains are the explicit
    * left-assoc sequences CosineSimExpr's loop runs; each centroid's
    * squared norm is computed driver-side by the SAME loop and embedded as
    * a literal (shortest-repr doubles parse back identically); the argmax
    * fold is the engine's strictly-greater/keep-earlier comparison
    * unrolled. Identical inputs + identical IEEE trees ⇒ identical labels
    * and cosines. */
  private def kmeansOracleSql(cents: Array[Array[Double]]): String = {
    val dim = cents(0).length
    def e(j: Int) = s"CAST(CAST(embedding[${j + 1}] AS FLOAT) AS DOUBLE)"
    val nx = (0 until dim).map(j => s"${e(j)} * ${e(j)}").mkString(" + ")
    val dots = cents.map(c =>
      (0 until dim).map(j => s"${e(j)} * ${dlit(c(j))}").mkString(" + "))
    val nys = cents.map { c =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      s
    }
    val cosCols = cents.indices.map { i =>
      s"""CASE WHEN sqrt(nx) * sqrt(${dlit(nys(i))}) = 0.0 THEN 0.0
               ELSE d$i / (sqrt(nx) * sqrt(${dlit(nys(i))})) END AS c$i"""
    }.mkString(",\n                ")
    // unrolled argmax fold: (m, l) starts at (c0, 0); strictly-greater
    // advances — the kmeansArgmax when(b.c > a.c, b) tie rule
    val (mExpr, lExpr) = cents.indices.drop(1).foldLeft(("c0", "0")) {
      case ((m, l), i) =>
        (s"CASE WHEN c$i > $m THEN c$i ELSE $m END",
         s"CASE WHEN c$i > $m THEN $i ELSE $l END")
    }
    s"""WITH b AS (SELECT vec_id,
                ${dots.zipWithIndex.map { case (d, i) => s"$d AS d$i" }
                      .mkString(",\n                ")},
                $nx AS nx
              FROM embeddings),
        s AS (SELECT vec_id,
                $cosCols
              FROM b)
        SELECT vec_id, CAST($lExpr AS BIGINT) AS label,
               round($mExpr, 4) AS cosine
        FROM s ORDER BY vec_id"""
  }

  /** DuckDB SQL for `ann_topk_pq`, generated with the LEARNED sub-codebooks
    * embedded as a VALUES literal table (the quantOracleSql technique). The
    * per-subspace encode distance and the query·centroid dots are written
    * as left-assoc `+` chains — the exact IEEE sequence the engine's
    * ascending loops execute — and the ADC entries are fixed-point longs,
    * so codes, LUTs, the candidate cut, and the exact re-rank replay
    * bit-for-bit. */
  private def pqOracleSql(cb: Array[Array[Array[Double]]]): String = {
    val m = cb.length; val kc = cb(0).length; val sd = cb(0)(0).length
    val centVals = (for (mi <- 0 until m; ki <- 0 until kc) yield {
      val arr = cb(mi)(ki).map(dlit).mkString("[", ", ", "]")
      s"($mi, $ki, CAST($arr AS DOUBLE[]))"
    }).mkString(", ")
    val distChain = (1 to sd).map(j =>
      s"(e[m*$sd+$j]-c[$j])*(e[m*$sd+$j]-c[$j])").mkString(" + ")
    val dotChain = (1 to sd).map(j => s"e[m*$sd+$j]*c[$j]").mkString(" + ")
    // unit-sphere projection (PqExprs.readVec): ascending squared-sum chain,
    // one sqrt, element-wise divide — the engine's exact IEEE sequence
    val n2Chain = (1 to m * sd).map(j => s"e[$j]*e[$j]").mkString(" + ")
    s"""WITH cent(m, cidx, c) AS (VALUES $centVals),
        v0 AS (SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS e
               FROM embeddings),
        vn AS (SELECT vec_id, e, $n2Chain AS n2 FROM v0),
        v AS (SELECT vec_id,
                     CASE WHEN n2 > 0 THEN list_transform(e, x -> x / sqrt(n2))
                          ELSE e END AS e
              FROM vn),
        d AS (SELECT vec_id, m, cidx, $distChain AS dist FROM v, cent),
        code AS (SELECT vec_id, m, cidx FROM (
            SELECT vec_id, m, cidx,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, cidx) AS rn
            FROM d) WHERE rn = 1),
        lut AS (SELECT vec_id AS query_id, m, cidx,
                       CAST(floor(($dotChain) * ${(1L << PqScaleBits).toDouble} + 0.5) AS BIGINT) AS l
                FROM v, cent WHERE vec_id < $AnnProbes),
        sc AS (SELECT l.query_id, co.vec_id AS neighbor_id,
                      CAST(sum(l.l) AS BIGINT) AS score
               FROM code co JOIN lut l ON l.m = co.m AND l.cidx = co.cidx
               WHERE co.vec_id <> l.query_id GROUP BY 1, 2),
        cand AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS prn
            FROM sc) WHERE prn <= $PqCandK),
        s AS (SELECT cand.query_id, cand.neighbor_id,
                     list_cosine_similarity(CAST(CAST(qe.embedding AS FLOAT[]) AS DOUBLE[]),
                                            CAST(CAST(ce.embedding AS FLOAT[]) AS DOUBLE[])) AS sim
              FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                        JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
        r AS (SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rnk
              FROM s)
        SELECT query_id, rnk AS rank, neighbor_id, round(sim, 4) AS cosine
        FROM r WHERE rnk <= $AnnK ORDER BY query_id, rnk"""
  }

  /** Product-quantized ANN ([[Similarity.pqTopK]]): the memory-bound lane —
    * M=8 byte codes per vector (32× residency cut vs float32 at D=64),
    * fixed-point ADC prescreen (sum of longs: addition-order-exact), exact
    * re-rank of the top-candK. The oracle replays the learned codebooks as
    * literals; encoding argmin and ADC entries are pinned IEEE chains. */
  private def annTopKPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < AnnProbes), AnnK,
        PqCandK, pqCodebooksFor(s, dir), PqScaleBits)
      .orderBy("query_id", "rank")
  }
  // PQ twin of the scales embedding: learned sub-codebooks as literals,
  // pinned-IEEE encode/ADC chains; untrained placeholder fails loudly
  val AnnTopkPq = QueryDef("ann_topk_pq", annTopKPq, () =>
    Artifacts.last[Array[Array[Array[Double]]]]("pq_codebooks").map(pqOracleSql)
    .getOrElse("""SELECT CAST(NULL AS BIGINT) AS query_id,
                           CAST(NULL AS BIGINT) AS rank,
                           CAST(NULL AS BIGINT) AS neighbor_id,
                           CAST(NULL AS DOUBLE) AS cosine
                    WHERE 1 = 0"""))

  private val IvfProbes = 3

  /** Shared DuckDB oracle for the two IVF lanes: ann_topk_ivf (in-memory)
    * and ann_topk_ivf_disk (cell-partitioned layout + pruned probe scan) —
    * same quantizer, probe ranking and candidate sets by construction. */
  private def ivfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v
                   FROM embeddings),
          f AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                       unnest(CAST(embedding AS FLOAT[])) AS x
                FROM embeddings),
          cent AS (
            SELECT label, pos,
                   CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(27,12))) AS DOUBLE)
                     / count(*) AS c
            FROM f GROUP BY label, pos),
          centarr AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
          q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $AnnProbes),
          probe AS (
            SELECT query_id, qv, label,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY list_cosine_similarity(qv, cv) DESC, label) AS pr
            FROM q CROSS JOIN centarr),
          cand AS (
            SELECT p.query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(p.qv, e.v) AS sim
            FROM (SELECT * FROM probe WHERE pr <= $IvfProbes) p
            JOIN e ON e.label = p.label
            WHERE e.vec_id <> p.query_id),
          r AS (SELECT query_id, neighbor_id, sim,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, neighbor_id) AS rnk
                FROM cand)
          SELECT query_id, rnk AS rank, neighbor_id, round(sim, 4) AS cosine
          FROM r WHERE rnk <= $AnnK ORDER BY query_id, rnk"""

  private def annTopKIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < AnnProbes), AnnK, IvfProbes)
      .orderBy("query_id", "rank")
  }
  // IVF reproduced end-to-end: exact decimal centroids per label cell,
  // probe the 3 nearest cells per query, exact re-rank inside them. The
  // centroid math mirrors embedding_centroids so both engines agree bitwise.
  val AnnTopkIvf = QueryDef("ann_topk_ivf", annTopKIvf, () => ivfOracleSql)

  /** Stable per-(session,sfDir) IVF disk layout — the cell-partitioned
    * corpus directory is an INGEST-TIME artifact (same amortization class as
    * `lsh_index_hist`): built once, probed by every `ann_topk_ivf_disk`
    * execution. At 100 TB the alternative — rewriting the corpus per probe —
    * would make a read query pay a full ingest. */
  private def ivfLayoutFor(s: SparkSession, dir: String): String =
    Artifacts.tree(s, dir, "ivf_layout", "embeddings") { p =>
      Similarity.writeIvfLayout(t(s, dir, "embeddings"), p)
    }

  /** The IVF coarse quantizer (cell → centroid), the layout's companion
    * ingest-time artifact — broadcast-sized, built once per (session, dir). */
  private def ivfCentroidsFor(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "ivf_centroids", "embeddings") {
      Similarity.ivfCentroidTable(t(s, dir, "embeddings"))
    }

  /** The IVF DISK lane's steady-state op: probe a PERSISTED cell-partitioned
    * layout ([[ivfLayoutFor]], warmed at ingest) through partition pruning +
    * exact re-rank. Result is defined to be identical to [[annTopKIvf]] —
    * same quantizer, same probe ranking, same candidates — so it shares that
    * oracle; what this query additionally exercises is the pruned read path
    * (PartitionFilters plan shape is spec-asserted in PipelineOpsSpec). */
  private def annTopKIvfDisk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopKFromLayout(s, ivfLayoutFor(s, dir),
        emb.filter(col("vec_id") < AnnProbes), AnnK, IvfProbes,
        centroids = Some(ivfCentroidsFor(s, dir)))
      .orderBy("query_id", "rank")
  }
  // the disk lane is DEFINED to produce the in-memory lane's results —
  // same quantizer, probe ranking, candidates; only the read path differs
  val AnnTopkIvfDisk = QueryDef("ann_topk_ivf_disk", annTopKIvfDisk, () => ivfOracleSql)

  /** The HISTORICAL snapshot's IVF index — layout + frozen quantizer built
    * over the corpus minus the incoming batch (`vec_id % 5 != 0`, the same
    * snapshot split the document-side incremental operators use). Ingest
    * artifacts: a production pipeline builds them when the historical
    * snapshot lands, then every subsequent batch probes/appends. */
  private def ivfHistLayoutFor(s: SparkSession, dir: String): String =
    Artifacts.tree(s, dir, "ivf_hist_layout", "embeddings") { p =>
      Similarity.writeIvfLayout(
        t(s, dir, "embeddings").filter(col("vec_id") % 5 =!= 0), p)
    }

  private def ivfHistCentroidsFor(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "ivf_hist_centroids", "embeddings") {
      Similarity.ivfCentroidTable(
        t(s, dir, "embeddings").filter(col("vec_id") % 5 =!= 0))
    }

  /** The incremental lane reproduced end-to-end in SQL: centroids from the
    * HISTORICAL snapshot only (frozen quantizer), the new batch assigned to
    * its nearest centroid (nprobe=1, ties to the lowest cell — the same
    * pinned order the engine's probe ranking uses), and the probe running
    * over historical ∪ assigned exactly as the engine's updated index. */
  private def incrementalIvfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v
                   FROM embeddings),
          f AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                       unnest(CAST(embedding AS FLOAT[])) AS x
                FROM embeddings WHERE vec_id % 5 <> 0),
          cent AS (
            SELECT label, pos,
                   CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(27,12))) AS DOUBLE)
                     / count(*) AS c
            FROM f GROUP BY label, pos),
          centarr AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
          hist AS (SELECT vec_id, CAST(label AS BIGINT) AS cell, v
                   FROM e WHERE vec_id % 5 <> 0),
          assign AS (
            SELECT vec_id, cell, v FROM (
              SELECT n.vec_id, n.v, CAST(c.label AS BIGINT) AS cell,
                     row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY list_cosine_similarity(n.v, c.cv) DESC, c.label) AS rn
              FROM (SELECT vec_id, v FROM e WHERE vec_id % 5 = 0) n
              CROSS JOIN centarr c) WHERE rn = 1),
          updated AS (SELECT * FROM hist UNION ALL SELECT * FROM assign),
          q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $AnnProbes),
          probe AS (
            SELECT query_id, qv, CAST(label AS BIGINT) AS cell,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY list_cosine_similarity(qv, cv) DESC, label) AS pr
            FROM q CROSS JOIN centarr),
          cand AS (
            SELECT p.query_id, u.vec_id AS neighbor_id,
                   list_cosine_similarity(p.qv, u.v) AS sim
            FROM (SELECT * FROM probe WHERE pr <= $IvfProbes) p
            JOIN updated u ON u.cell = p.cell
            WHERE u.vec_id <> p.query_id),
          r AS (SELECT query_id, neighbor_id, sim,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, neighbor_id) AS rnk
                FROM cand)
          SELECT query_id, rnk AS rank, neighbor_id, round(sim, 4) AS cosine
          FROM r WHERE rnk <= $AnnK ORDER BY query_id, rnk"""

  /** Cross-snapshot incremental ANN: the new batch (`vec_id % 5 == 0`)
    * joins the persisted historical index under the FROZEN quantizer
    * ([[Similarity.ivfIncrementalTopK]]), and the standard probe set —
    * which spans both snapshots — is answered over the updated index.
    * The timed op is the steady-state maintenance + probe; index build is
    * the warmed ingest artifact, exactly as for `ann_topk_ivf_disk`. */
  private def annIncrementalIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfIncrementalTopK(s, ivfHistLayoutFor(s, dir),
        newBatch = emb.filter(col("vec_id") % 5 === 0),
        queries = emb.filter(col("vec_id") < AnnProbes),
        AnnK, IvfProbes, centroids = Some(ivfHistCentroidsFor(s, dir)))
      .orderBy("query_id", "rank")
  }
  val AnnIncrementalIvf = QueryDef("ann_incremental_ivf", annIncrementalIvf, () =>
    incrementalIvfOracleSql)

  /** The synthetic corpus holds no true near-duplicate pairs (max pairwise
    * cosine ≈ 0.51 at sf0.01), which made a threshold-0.95 run vacuously
    * empty. The contract query therefore PLANTS near-dups: every 25th vector
    * gets a perturbed copy (pos-0 component ×1.25 in double space, id shifted
    * by 1e6) unioned into the corpus — each copy must pair with its source at
    * ≥0.95 (cosine ≈ 0.999) and with nothing else. Deterministic and
    * reproducible in SQL, so the query is exactly oracle-checked. */
  private def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              transform(col("embedding"),
                        (x, i) => when(i === 0, x * lit(1.25)).otherwise(x)).as("embedding"))
    Similarity.embeddingNearDuplicates(base.unionByName(planted),
                                       threshold = 0.95, dim = embDim(s, dir))
      .orderBy("id_a", "id_b")
  }
  // Brute-force rendition of the planted-near-dup query (see the Spark
  // side): perturbed copies of every 25th vector, all-pairs exact cosine.
  val EmbeddingNeardup = QueryDef("embedding_neardup", embeddingNearDup, () =>
    """WITH base AS (SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v FROM embeddings),
          p AS (SELECT vec_id + 1000000 AS vec_id,
                       list_concat([v[1] * 1.25], v[2:]) AS v
                FROM base WHERE vec_id % 25 = 0),
          c AS (SELECT * FROM base UNION ALL SELECT * FROM p),
          pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                           list_cosine_similarity(a.v, b.v) AS cos
                    FROM c a JOIN c b ON a.vec_id < b.vec_id)
          SELECT id_a, id_b, round(cos, 4) AS cosine
          FROM pairs WHERE cos >= 0.95 ORDER BY id_a, id_b""")

  /** The family's ingest-time artifacts (see [[graft.Warmup]]): the learned
    * int8 scales, k-means centroids and PCA model, and the IVF layouts —
    * the cell-partitioned corpus with its quantizer, and the historical
    * snapshot index with its frozen quantizer for the incremental lane. */
  def warmIngestArtifacts(s: SparkSession, dir: String): Unit = {
    quantScalesFor(s, dir)
    kmeansFor(s, dir)
    pcaModelFor(s, dir)
    ivfLayoutFor(s, dir)
    ivfCentroidsFor(s, dir)
    ivfHistLayoutFor(s, dir)
    ivfHistCentroidsFor(s, dir)
  }
}
