package graft

/** Ad-hoc inspection main: `runMain graft.Debug <sfDir> <query> [explain]` —
  * prints row count, wall time, and optionally the formatted physical plan
  * of one SparkEntry query. Development tool for plan/skew hunting; with
  * `SPARK_GRAFT_CPUS=4` and sf0.001 it shows the plan PlanShuffleCount pins,
  * for eyeballing before a re-pin.
  */
object Debug {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val name = args.lift(1).getOrElse("seg_naive")
    val spark = GraftSession()
    // time construction + action together: streaming contract queries run
    // their (eager) streaming work while the DataFrame is being built
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("explain")) df.explain("formatted")
    val n = df.count()
    println(f"[debug] $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
