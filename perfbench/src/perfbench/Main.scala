package perfbench

import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM:
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--data DIR] [--inject]
  * writes the run's outcome as one JSON object to FILE.
  * `perfbench.Main --layers` prints the per-layer metric names;
  * `perfbench.Main --gen-digest SEED` prints the generators' content digests. */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    if (argv.headOption.contains("--layers")) {
      Layers.names.foreach { case (n, u) => println(s"$n\t$u") }
      return
    }
    if (argv.headOption.contains("--gen-digest")) {
      val seed = argv(1).toLong
      val spark = Session.build(2)
      println(s"live\t${LiveGen.digest(seed, 3)}")
      println(s"backfill\t${Digest.of(BackfillGen.frame(spark, seed,
        BackfillGen.Params(events = 200000L)))}")
      spark.stop()
      return
    }
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val inject = argv.contains("--inject")
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val out = new Outcome(t0)
    val spark = out.phase("session")(Session.build(cores))
    val tr = new Tracer(spark.sparkContext, traced)
    try {
      workload match {
        case "live_microbatch" => Live.run(spark, tr, out, work, seed, seconds, inject)
        case "backfill_history" => Backfill.run(spark, tr, out, work, seed, seconds, inject)
        case "contract_slice" => Contract.run(spark, tr, out, work, a("data"), seconds, inject)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // JVM work during the timed loop: a slow run shows where it went
      val (gc, jit) = Outcome.jvmSeconds()
      out.details ++= Seq("loop_gc_s" -> (gc - out.jvmAtSetupEnd._1),
        "loop_jit_s" -> (jit - out.jvmAtSetupEnd._2))
    } finally spark.stop()

    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)
    if (traced) {
      out.metrics.get("op_mean_s").foreach { case (v, _) => out.metric("traced.op_mean_s", v, "s") }
      Seq("session", "generate", "warm").foreach(p =>
        out.metric(s"setup.${p}_s", out.setup.getOrElse(p, 0.0), "s"))
    } else {
      out.metric("setup_s", out.setupS, "s")
      out.metric("heap_retained_mb", out.heapRetainedMb, "MB")
    }
    val result = Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "failures" -> out.failures.toSeq, "warm_errors" -> out.warmErrors,
      "setup_phases_s" -> out.setup, "peak_rss_mb" -> peakRssMb, "details" -> out.details,
      "metrics" -> out.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.writeString(Paths.get(a("out")), Json.value(result))
  }
}
