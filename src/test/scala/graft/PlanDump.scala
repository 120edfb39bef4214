package graft

/** Dumps `explain("formatted")` of contract queries to files — the
  * optimization-round evidence artifacts (`plans/<tag>/<query>_<suffix>.txt`).
  * Runs on a [[GraftSession]] at sf0.1 after the bench warm-up, so the
  * captured initial plans are the ones the bench executes (set
  * `SPARK_GRAFT_CPUS` to the bench's core count). Eagerly-executed lifecycles (stream
  * scopes, mutations) run their pipeline during construction and return a
  * checkpoint scan — their files record that honestly.
  *
  *   `Test/runMain graft.PlanDump <outDir> <suffix> [query...]`
  * (no query names = the full contract surface). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r17")
    val suffix = if (args.length > 1) args(1) else "before"
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // a dead warmup changes the captured plans (missing cached artifacts
    // plan differently); Warmup prints every failed step by name
    Warmup.run(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] $name: UNKNOWN")
        case Some(fn) =>
          val txt =
            try fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            catch { case t: Throwable =>
              s"PLAN FAILED: ${t.getClass.getName}: ${t.getMessage}" }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
