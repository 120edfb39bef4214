package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, max, struct, xxhash64}

import graft.queries._

/** The untimed warm-up Bench and the profiling mains run before they
  * measure. A warm step that fails must be LOUD: `warmStreamingRuntime`
  * once died silently for a whole round behind a `catch Throwable`, and
  * every stateful family ran cold in the timed loop. So failures never stop
  * the later steps, but each is printed and returned by step name. */
object Warmup {
  val tables = Seq("lineitem", "events", "documents", "embeddings", "orders",
    "customer", "part", "supplier", "nation", "region")

  /** Runs each named step; returns `step -> "Exception: first line"` for
    * every step that threw (empty when all warmed). */
  def steps(steps: Seq[(String, () => Unit)]): ListMap[String, String] =
    ListMap(steps.flatMap { case (name, body) =>
      try { body(); None } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1)
          .mkString.take(200)
        System.err.println(s"[warm] $name FAILED: ${e.getClass.getSimpleName}: $msg")
        Some(name -> s"${e.getClass.getSimpleName}: $msg")
      }
    }: _*)

  /** The engine warm sequence over `sfDir`:
    *  - `table:<t>`: an all-column hash-agg per table. It reads DATA PAGES;
    *    `count()` is answered from parquet footers and leaves pages cold.
    *  - `join`: one throwaway shuffle-join + agg plan, which JITs the
    *    exchange / hash-join / hash-agg codegen paths queries share.
    *  - `ingest_artifacts`: each query family's `warmIngestArtifacts`, the
    *    artifacts production builds at ingest, not at query time.
    *  - `streaming_runtime`: [[SegmentQueries.warmStreamingRuntime]], the
    *    per-JVM class loading and plan compiles of the streaming runtime. */
  def run(spark: SparkSession, sfDir: String): ListMap[String, String] =
    steps(engineSteps(spark, sfDir))

  /** The named steps of [[run]], in order. */
  def engineSteps(spark: SparkSession, sfDir: String): Seq[(String, () => Unit)] =
    tables.map { t => s"table:$t" -> { () =>
      val df = Tables.load(spark, sfDir, t)
      // max, not sum: a sum of 64-bit hashes overflows under ANSI mode
      df.agg(max(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)))).first()
      ()
    }} ++ Seq(
      "join" -> { () =>
        Tables.load(spark, sfDir, "orders").join(
            Tables.load(spark, sfDir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment")).agg(count(col("*"))).first()
        ()
      },
      "ingest_artifacts" -> { () =>
        DedupQueries.warmIngestArtifacts(spark, sfDir)
        TextQueries.warmIngestArtifacts(spark, sfDir)
        TokenizerQueries.warmIngestArtifacts(spark, sfDir)
        AnnQueries.warmIngestArtifacts(spark, sfDir)
        SegmentQueries.warmIngestArtifacts(spark, sfDir)
        EventQueries.warmIngestArtifacts(spark, sfDir)
      },
      "streaming_runtime" -> (() => SegmentQueries.warmStreamingRuntime(spark, sfDir)))
}
