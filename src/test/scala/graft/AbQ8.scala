package graft

/** Throwaway: q8's FINAL (AQE-executed) plan at bench scale + interleaved
  * timing, to confirm runtime broadcast conversion after the hint drop. */
object AbQ8 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
      .foreach(t => Tables.load(spark, sfDir, t).count())
    val names = if (args.nonEmpty) args.toSeq else Seq("q8_market_share")
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      (1 to 4).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        println(f"[abq8] $q run $i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      df.count()
      println(df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("Exchange") || l.contains("ShuffleRead"))
        .mkString("\n"))
    }
    spark.stop()
  }
}
