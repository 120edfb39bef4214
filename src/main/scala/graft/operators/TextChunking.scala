package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Sequence-prep operators for training pipelines: fixed-size token chunking
  * with overlap, and deterministic hash sampling.
  */
object TextChunking {

  /** Split each document into token chunks of `chunkTokens` with `overlap`
    * tokens shared between consecutive chunks. Pure per-row explode — no
    * shuffle; output is (id, chunk_idx, chunk_text, n_chunk_tokens).
    * Empty documents produce no chunks. */
  def chunk(docs: DataFrame, chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens) — a negative overlap would silently skip tokens")
    val step = chunkTokens - overlap
    val toks = TextAnalysis.tokens(col("text"))
    docs
      .withColumn("__toks", toks)
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"),
              posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(step)))
                .as(Seq("chunk_idx", "start")),
              col("__toks"))
      .select(col("doc_id"), col("chunk_idx"),
              array_join(slice(col("__toks"), col("start") + 1, lit(chunkTokens)), " ")
                .as("chunk_text"),
              size(slice(col("__toks"), col("start") + 1, lit(chunkTokens)))
                .as("n_chunk_tokens"))
  }

  /** Greedy sequence packing — assign each chunk to a fixed-token-budget
    * pack (the context-window packing step of a training pipeline): chunks
    * are taken in `chunk_idx` order; a chunk that would overflow the open
    * pack starts a new one (a chunk alone larger than the budget gets its
    * own pack). Returns (doc_id, chunk_idx, pack_id, pack pos is implied by
    * order).
    *
    * Packing is SEQUENTIAL by definition, so the distributable form packs
    * within a key (per document here; per shard for corpus-level packing —
    * carry the shard as `doc_id`). Per-key chunk counts are bounded by
    * document length, so the collect_list + fold runs in O(chunks/key)
    * state — the same bounded-group shape as the funnel DP. The fold is a
    * pure integer recurrence, reproducible in any engine. */
  def packChunks(chunks: DataFrame, budgetTokens: Int): DataFrame =
    chunks.groupBy(col("doc_id"))
      // casts pin the fold's accumulator element type (array<struct<int,…>>)
      // for any integral input width; per-doc chunk counts and budgets fit int
      .agg(sort_array(collect_list(struct(col("chunk_idx").cast("int").as("i"),
        col("n_chunk_tokens").cast("int").as("t")))).as("cs"))
      .select(col("doc_id"), explode(expr(
        s"""aggregate(cs,
              named_struct(
                'out', cast(array() as array<struct<i:int,t:int,pack_id:int>>),
                'pack', -1, 'used', ${budgetTokens + 1}),
              (acc, x) -> named_struct(
                'out', array_append(acc.out, named_struct('i', x.i, 't', x.t,
                  'pack_id', if(acc.used + x.t <= $budgetTokens, acc.pack, acc.pack + 1))),
                'pack', if(acc.used + x.t <= $budgetTokens, acc.pack, acc.pack + 1),
                'used', if(acc.used + x.t <= $budgetTokens, acc.used + x.t, x.t)),
              acc -> acc.out)""")).as("o"))
      .select(col("doc_id"), col("o.i").as("chunk_idx"), col("o.t").as("n_chunk_tokens"),
              col("o.pack_id"))
}

/** Reproducible corpus sampling: engine-agnostic multiplicative hashing, so
  * the SAME sample comes out of any engine and any partitioning (unlike
  * `df.sample`, whose RNG is partition-dependent, and unlike engine hash
  * functions, which differ between systems). */
object Sampling {
  val Knuth = 2654435761L // 2^32 · φ⁻¹, the classic multiplicative constant

  /** Keep ~pct% of rows: (id·K) mod 100 < pct. `idCol` must be integral and
    * below ~2^30 to stay ANSI-overflow-safe (id·K < 2^62). The constant-pct
    * special case of [[tieredSample]] — one hash definition, one place to
    * change it. */
  def hashSample(df: DataFrame, idCol: String, pct: Int): DataFrame =
    tieredSample(df, idCol, lit(pct))

  /** Tiered downsampling — the "downsample low-quality data instead of
    * dropping it" knob of a training pipeline: keep each row with a per-ROW
    * percentage (`pctCol`, integral 0–100, typically a CASE over quality
    * tiers). Same engine-agnostic multiplicative hash as [[hashSample]]:
    * all-integer arithmetic, so any engine reproduces the identical kept
    * set and the keep decision is independent of partitioning. */
  def tieredSample(df: DataFrame, idCol: String, pctCol: Column): DataFrame =
    df.filter(pmod(col(idCol) * lit(Knuth), lit(100L)) < pctCol)

  /** Deterministic stratified sample: the `perGroup` rows with the smallest
    * hash within each group — reproducible "random" representatives. */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String,
                       perGroup: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(pmod(col(idCol) * lit(Knuth), lit(1000000007L)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perGroup)
      .drop("__rn")
  }

  /** Mixture rebalancing — the data-mixing knob of a multi-source training
    * corpus (downsample over-represented sources to target counts):
    * `targets` is a (groupCol, k) frame, and each group keeps EXACTLY
    * min(k, |group|) rows — the ones with the smallest multiplicative hash,
    * so the kept set is engine- and partitioning-independent, and shrinking
    * a target yields a SUBSET of the larger sample (hash order is stable).
    * The generalization of [[stratifiedSample]] from one constant k to a
    * per-group target; `targets` is group-cardinality-sized → broadcast. */
  def mixtureSample(df: DataFrame, groupCol: String, idCol: String,
                    targets: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(pmod(col(idCol) * lit(Knuth), lit(1000000007L)), col(idCol))
    df.join(broadcast(targets), Seq(groupCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("k"))
      .drop("__rn", "k")
  }

  /** Per-domain hard-cap + mixture sampling — the RefinedWeb discipline: no
    * single DOMAIN (url host, dump shard, language …) may contribute more
    * than `cap` rows to the mixture, regardless of the per-GROUP targets.
    * Stage 1 keeps each domain's `cap` smallest-hash rows
    * ([[stratifiedSample]]); stage 2 applies the per-group targets over the
    * capped survivors ([[mixtureSample]]) — so a template-flood domain is
    * truncated BEFORE it can consume a group's budget. Both stages rank by
    * the same engine-agnostic multiplicative hash: the kept set is
    * partitioning-independent, and shrinking `cap` or any target yields a
    * SUBSET of the larger sample. Two partitioned-window shuffles (domain,
    * then group), each a plain hash repartition — no driver data path. */
  def domainCappedSample(df: DataFrame, domainCol: String, cap: Int,
                         groupCol: String, idCol: String,
                         targets: DataFrame): DataFrame =
    mixtureSample(stratifiedSample(df, domainCol, idCol, cap),
                  groupCol, idCol, targets)
}
