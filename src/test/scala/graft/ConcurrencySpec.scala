package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.functions._
import graft.sources.Mutations

object ConcurrencySpec {
  // read by a UDF inside Spark tasks (local mode: the spec's own JVM)
  val evaluations = new AtomicInteger()
  val siblingDone = new AtomicBoolean()
}

/** Failures are loud and concurrent Spark actions finish before an error is
  * rethrown: `concurrently`, the warm-up steps, and mergeApply's probes. */
class ConcurrencySpec extends SparkSpec {
  import ConcurrencySpec._

  test("concurrently waits for every action, then rethrows the first failure") {
    val slowDone = new AtomicBoolean()
    val (first, second) = (new RuntimeException("first"), new RuntimeException("second"))
    val e = intercept[RuntimeException](Concurrency.concurrently(
      () => throw first,
      () => { Thread.sleep(300); slowDone.set(true) },
      () => { Thread.sleep(100); throw second }))
    assert(e eq first)
    assert(slowDone.get(), "rethrown while a sibling action was still running")
    assert(e.getSuppressed.toSeq == Seq(second))
  }

  test("concurrently: one failure surfaced by two actions is not self-suppressed") {
    val shared = new RuntimeException("shared")
    val e = intercept[RuntimeException](
      Concurrency.concurrently(() => throw shared, () => throw shared))
    assert((e eq shared) && e.getSuppressed.isEmpty)
  }

  test("concurrently returns results in action order") {
    assert(Concurrency.concurrently(() => { Thread.sleep(50); 1 }, () => 2) == Seq(1, 2))
  }

  test("a warm step that throws is returned by name; later steps still run") {
    var ran = false
    val failed = Warmup.steps(Seq(
      "boom" -> (() => throw new IllegalStateException("injected\nsecond line")),
      "ok" -> (() => ran = true)))
    assert(ran)
    assert(failed == Map("boom" -> "IllegalStateException: injected"))
  }

  test("the table warm steps read every table without failing") {
    val failed = Warmup.steps(Warmup.engineSteps(spark, "/root/testdata/sf0.001")
      .filter(_._1.startsWith("table:")))
    assert(failed.isEmpty)
  }

  test("mergeApply: a failing probe leaves no Spark job running when it throws") {
    val dir = tmpDir("mutm_fail")
    import spark.implicits._
    Seq((1L, 1L, "a"), (2L, 2L, "b")).toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(dir)
    evaluations.set(0); siblingDone.set(false)
    // both probes first-compute the same one-partition batch: the first
    // evaluation fails after a pause, the probe that recomputes it succeeds
    // slowly — one probe fails while the other is still mid-job
    val flaky = udf { (v: Long) =>
      if (evaluations.incrementAndGet() == 1) {
        Thread.sleep(500); throw new IllegalStateException("injected probe failure")
      }
      Thread.sleep(1000); siblingDone.set(true); v
    }
    val changes = spark.range(0, 1, 1, 1).select(lit(2L).as("user_id"),
      flaky(col("id") + 5L).as("score"), lit("b").as("cohort"), lit("U").as("op"))
    val e = intercept[Exception](Mutations.mergeApply(spark, dir, changes,
      Seq("user_id"), "op", "cohort", Seq("user_id")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected probe failure")))
    assert(siblingDone.get(), "mergeApply threw while its sibling probe was running")
    org.apache.spark.SpecBus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }
}
