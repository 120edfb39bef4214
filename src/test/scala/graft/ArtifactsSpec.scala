package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/** The artifact registry's contract: a rewritten source rebuilds in place, a
  * failed build names its label and is retried, builds may nest, and every
  * (dir, label) pair stays resident however many labels and dirs are live —
  * the r15–r17 "incremental_clusters spike" was an LRU evicting warmed
  * artifacts once the plan-warm dir joined the bench dir. */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  /** Click events for users `1..users`, `clicks` each, with event ids of
    * both parities (the retention replay shards on `event_id % 2`). */
  private def writeEvents(dir: String, users: Int, clicks: Int): Unit =
    (for (u <- 1 to users; k <- 1 to clicks) yield
        ((u * 100 + k).toLong, u.toLong, "click", 1.0, "{}", 1700000000000000L + k))
      .toDF("event_id", "user_id", "event_type", "value", "props", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
              col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def retention(dir: String): Set[String] =
    SparkEntry.queries("seg_retention_stream")(spark, dir).collect().map(_.toString).toSet

  test("rewriting events.parquet rebuilds the retention replay source") {
    val dir = tmpDir("artifacts_stale")
    writeEvents(dir, users = 3, clicks = 12)
    val before = retention(dir)
    val srcBefore = Artifacts.last[String]("retention_src")
    writeEvents(dir, users = 5, clicks = 13)
    val after = retention(dir)
    val fresh = tmpDir("artifacts_fresh")
    writeEvents(fresh, users = 5, clicks = 13)
    assert(Artifacts.last[String]("retention_src") != srcBefore)
    assert(after != before, "the rewrite must change the segment")
    assert(after == retention(fresh), "a rewritten dir must answer like a fresh one")
  }

  test("a failed build names its label, is not cached, and is retried") {
    val dir = tmpDir("artifacts_fail")
    val builds = new AtomicInteger()
    def get(): Int = Artifacts.value(spark, dir, "spec_flaky") {
      if (builds.incrementAndGet() == 1) throw new RuntimeException("injected")
      42
    }
    val e = intercept[IllegalStateException](get())
    assert(e.getMessage.contains("spec_flaky") && e.getCause.getMessage == "injected")
    assert(get() == 42 && get() == 42)
    assert(builds.get() == 2)
  }

  test("nested builds complete") {
    val dir = tmpDir("artifacts_nested")
    val outer = Artifacts.value(spark, dir, "spec_outer") {
      val inner = Artifacts.frame(spark, dir, "spec_inner") { spark.range(5).toDF() }
      Artifacts.value(spark, dir, "spec_inner_sum") {
        inner.agg(sum("id")).head().getLong(0)
      } + 1
    }
    assert(outer == 11L)
  }

  test("two dirs x every label: each artifact builds exactly once") {
    // a bench dir plus the plan-warm dir, with more labels than the
    // contract has: nothing may be evicted and rebuilt
    val dirs = Seq(tmpDir("artifacts_bench"), tmpDir("artifacts_warm"))
    val labels = (1 to 60).map(i => s"spec_label_$i")
    val builds = new java.util.concurrent.ConcurrentHashMap[(String, String), AtomicInteger]()
    def built(d: String, l: String): Unit =
      builds.computeIfAbsent((d, l), _ => new AtomicInteger()).incrementAndGet()
    def touchAll(): Unit = for (d <- dirs; (l, i) <- labels.zipWithIndex) i % 3 match {
      case 0 => Artifacts.frame(spark, d, l, "documents") { built(d, l); spark.range(1).toDF() }
      case 1 => Artifacts.value(spark, d, l, "documents") { built(d, l); i }
      case _ => Artifacts.tree(spark, d, l, "documents") { _ => built(d, l) }
    }
    (1 to 3).foreach(_ => touchAll())
    assert(builds.size == dirs.size * labels.size)
    builds.forEach((k, n) => assert(n.get() == 1, s"$k built ${n.get()} times"))
  }
}
