package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract: every query, in run order, with its DuckDB oracle.
  *
  * Each query is one [[QueryDef]] in its family object under
  * `graft.queries`, which holds the query's body, its oracle SQL over the
  * same parquet tables and their constants. This object only orders them:
  * `queries` and `oracleSql` are both derived from the one registry below.
  *
  * Determinism rules applied throughout (the driver hash-compares values):
  *  - every query ends in a total ORDER BY;
  *  - double aggregates go through exact DECIMAL sums and cast back, so
  *    summation order can never change a digit;
  *  - every tie-breaking window has a unique trailing key.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("seg_naive")(spark, "/root/testdata/sf0.001")

  // Run order == registry order, published as Bench's run order: new
  // queries APPEND at the end so existing queries keep their run position
  // round-over-round (a hash-ordered map reshuffles the order whenever an
  // entry is added, which made cold-start cost land on different queries
  // every round and manufactured phantom regressions). query_order.txt
  // pins it.
  private val registry: Seq[QueryDef] = Seq(
    SegmentQueries.SegNaive,
    SegmentQueries.SegIdempotent,
    SegmentQueries.SegIdempotentApprox,
    SegmentQueries.SegW4Any,
    SegmentQueries.SegW4Latest,
    SegmentQueries.SegLatestEvent,
    SegmentQueries.SegFirstEvent,
    SegmentQueries.SegEventtime,
    SegmentQueries.SegMicrobatchEquiv,
    SegmentQueries.SegStreamEquiv,
    SegmentQueries.SegRetentionStream,
    SegmentQueries.SegStreamNative,
    SegmentQueries.SegStreamStateful,
    SegmentQueries.SegStreamAttribution,
    SegmentQueries.SegMulti,
    SegmentQueries.SkewSaltedCounts,
    SegmentQueries.AsofAssignment,
    EventQueries.RangeJoinOrders,
    EventQueries.RangeOverlapSessions,
    StatsQueries.WinsorizedStats,
    StatsQueries.CorrValueHour,
    StatsQueries.HistValue,
    EventQueries.SessionsStats,
    StatsQueries.AggMoments,
    DedupQueries.DocChunks,
    DedupQueries.PackedChunks,
    EventQueries.PivotUserActivity,
    TextQueries.TextRepetition,
    EventQueries.UnpivotUserActivity,
    TpchQueries.NtileOrders,
    EventQueries.SampleEventsHash,
    EventQueries.StratifiedSample,
    TextQueries.DocsFilteredStats,
    FunnelQueries.FunnelLevels,
    FunnelQueries.SequenceMatch,
    FunnelQueries.SequenceCount,
    FunnelQueries.CohortRetention,
    SegmentQueries.SegMicrobatchHll,
    TpchQueries.Q1Pricing,
    TpchQueries.Q2MinCostSupplier,
    SegmentQueries.SegOverlapHll,
    TpchQueries.Q3Revenue,
    TpchQueries.Q5Revenue,
    TpchQueries.SemiCustomers,
    TpchQueries.AntiCustomers,
    TpchQueries.WindowTop2Orders,
    EventQueries.AggEventStats,
    EventQueries.EventsDaily,
    EventQueries.EventsDailyFilled,
    EventQueries.EventsLocf,
    EventQueries.EventsInterp,
    EventQueries.EventsRunningUsers,
    EventQueries.EventsMovingAvg,
    EventQueries.EventsDeltaSum,
    EventQueries.EventsBoundingRatio,
    TpchQueries.Q15TopSupplier,
    TpchQueries.Q18LargeOrders,
    SegmentQueries.SegStreamEnrich,
    DedupQueries.SemanticDedup,
    TextQueries.GopherQuality,
    TextQueries.PhraseSearch,
    TpchQueries.WeightedMedianPrice,
    EventQueries.TwaValue,
    FunnelQueries.CohortMatrix,
    DedupQueries.DedupKeepBest,
    EventQueries.Rolling7dUsers,
    TextQueries.QualityClassifier,
    EventQueries.IntervalUnionDays,
    TextQueries.TopkWordsBySource,
    SegmentQueries.SegBitmapAlgebra,
    SegmentQueries.SegThetaAlgebra,
    EventQueries.ThetaWeeklyRetention,
    EventQueries.Rolling30dUsersHll,
    EventQueries.EventsPropsExtract,
    TpchQueries.Q6Revenue,
    TpchQueries.Q4LateShipments,
    TpchQueries.Q14Promo,
    TpchQueries.Q17SmallQty,
    TpchQueries.Q19Disjunctive,
    TpchQueries.Q7Volume,
    TpchQueries.Q10ReturnedTop20,
    TpchQueries.RollupPricing,
    TpchQueries.CubePricing,
    TpchQueries.GroupingSetsPricing,
    EventQueries.UserEventTypes,
    EventQueries.IntersectUsers,
    EventQueries.ExceptUsers,
    TpchQueries.Top10Customers,
    EventQueries.AggValueStatsExt,
    EventQueries.EventsHourlyWindows,
    TpchQueries.OuterNationSuppliers,
    EventQueries.FullOuterDaily,
    TpchQueries.WindowOrderGaps,
    StatsQueries.PctValueByType,
    StatsQueries.PctValueSketch,
    TpchQueries.SqlOrdersPerCustomer,
    DedupQueries.DedupExactDemo,
    DedupQueries.DedupExactStats,
    TextQueries.TextQuality,
    TokenizerQueries.BpeTokens,
    TokenizerQueries.BpeEncodeHash,
    AnnQueries.EmbeddingCentroids,
    DedupQueries.DedupClusters,
    DedupQueries.IncrementalClusters,
    TextQueries.TextLangDist,
    DedupQueries.DocFingerprints,
    DedupQueries.DocFingerprintsExt,
    AnnQueries.AnnTopkBrute,
    AnnQueries.AnnTopkSrp,
    AnnQueries.AnnTopkIvf,
    AnnQueries.AnnTopkIvfDisk,
    AnnQueries.AnnTopkQuant,
    DedupQueries.MinhashNeardup,
    DedupQueries.NgramJaccardNeardup,
    DedupQueries.ContainmentNeardup,
    DedupQueries.EditdistNeardup,
    TextQueries.Bm25Search,
    DedupQueries.LeakageSplit,
    TextQueries.QualityTieredSample,
    DedupQueries.IncrementalNeardup,
    TextQueries.TfidfTopTerms,
    EventQueries.ZorderEventKeys,
    DedupQueries.SimhashNeardup,
    AnnQueries.EmbeddingNeardup,
    TextQueries.MultimodalBytestats,
    TextQueries.ContaminationCheck,
    TextQueries.ContaminationBloom,
    TextQueries.DupNgramFrac,
    DedupQueries.DedupSpans,
    TextQueries.SourceRebalance,
    DedupQueries.MediaPhashNeardup,
    TextQueries.TextBigramRarity,
    TextQueries.PiiRedaction,
    TextQueries.VocabTopWords,
    TextQueries.VocabDrift,
    TextQueries.TopkWordsSketch,
    TextQueries.PipelineCleanStats,
    TextQueries.MultimodalDecode,
    SegmentQueries.SessionsStreamClosed,
    TpchQueries.Q21WaitingSupplier,
    TpchQueries.Q22SalesOpportunity,
    TpchQueries.Q8MarketShare,
    TpchQueries.Q13OrderDistribution,
    TpchQueries.Q16SupplierCnt,
    TpchQueries.Q20DominantSupplier,
    TpchQueries.Q9ProductProfit,
    DedupQueries.ExactSubstringSpans,
    AnnQueries.AnnIncrementalIvf,
    FunnelQueries.FunnelStrictOrder,
    FunnelQueries.FunnelStrictDedup,
    FunnelQueries.FunnelStrictIncrease,
    SegmentQueries.OptimizeFinalCollapse,
    SegmentQueries.CdcMergeApply,
    SegmentQueries.CdcMergeStream,
    EventQueries.MapAggEvents,
    TextQueries.FixMojibake,
    EventQueries.UniqUptoEvents,
    EventQueries.MapAggStateMerge,
    TextQueries.HtmlExtract,
    AnnQueries.AnnTopkPq,
    TokenizerQueries.UnigramTokens,
    TextQueries.DomainCappedSample,
    EventQueries.MapAggFiltered,
    EventQueries.EventsMovingSum,
    StatsQueries.AbTtestValue,
    StatsQueries.Chi2Cohort,
    StatsQueries.MannwhitneyValue,
    DedupQueries.ChunkDedup,
    StatsQueries.LinregValueHour,
    DedupQueries.IncrementalChunkDedup,
    StatsQueries.KsTestValue,
    SegmentQueries.AsofForwardTolerance,
    SegmentQueries.AsofBackwardTolerance,
    EventQueries.EventsEma,
    StatsQueries.CramersVCohort,
    TokenizerQueries.CcnetPerplexityBuckets,
    AnnQueries.KmeansAssign,
    TextQueries.UrlDomainCaps,
    TextQueries.HybridRrfSearch,
    TokenizerQueries.WordpieceTokens,
    TextQueries.DsirSample,
    EventQueries.EventsDecayMax,
    StatsQueries.AnovaValue,
    EventQueries.EventsLttb,
    EventQueries.EventsHolt,
    StatsQueries.MadValue,
    EventQueries.CmsUserCounts,
    FunnelQueries.SeqNextNode,
    FunnelQueries.EventTransitions,
    TokenizerQueries.BytebpeTokens,
    AnnQueries.EmbeddingPca,
    AnnQueries.AnnTopkPca,
    StatsQueries.SpearmanValueHour,
    StatsQueries.EntropyValue,
    TpchQueries.Q11ImportantParts,
    TpchQueries.Q12ShipPriority,
    StatsQueries.TheilsUCohort,
    EventQueries.IntervalConcurrency,
  // ----------------------------------------------------------------------
  // DuckDB oracles — one per query; the rows-only set is EMPTY since round
  // 4. Approximate operators gate through deterministic est_ok/rank-gate
  // envelope columns over exact quantities; pinned-seed LSH (ann_topk_srp)
  // gates through generated SQL with the hash constants embedded.
  // ----------------------------------------------------------------------
  )
  locally {
    val dups = registry.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.mkString(", ")}")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(registry.map(d => d.name -> d.run): _*)

  /** Every query's DuckDB oracle. A def: the data-dependent oracles embed
    * constants their query learned, so they are re-read on every call —
    * Verify runs every query before it dumps this. */
  def oracleSql: Map[String, String] = registry.map(d => d.name -> d.oracle()).toMap
}
