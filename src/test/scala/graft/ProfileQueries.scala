package graft

/** Warm profiling for individual contract queries: runs each named query
  * twice (cold, warm) against sf0.1 and prints both timings. Bench noise is
  * ±15%; believe a regression only if the warm pass shows it too. */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // same untimed warm-up as Bench, so profiled numbers match what its
    // timed pass sees
    Warmup.run(spark, sfDir)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[profile] $name: UNKNOWN")
        case Some(fn) =>
          def once(): Double = {
            val t0 = System.nanoTime(); fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          val cold = once(); val warm = once()
          println(f"[profile] $name: cold $cold%.2f s, warm $warm%.2f s")
      }
    }
    spark.stop()
  }
}
