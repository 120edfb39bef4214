package graft

/** Warm profiling for individual contract queries: runs each named query
  * once cold, then [[WarmPasses]] times warm, against sf0.1 and prints the
  * cold time, the warm median and the warm interquartile range. One warm
  * sample spreads too widely to judge a sub-second query; compare medians
  * across interleaved runs and believe a change only when it is larger than
  * the IQR. */
object ProfileQueries {
  private val WarmPasses = 10

  /** Linear-interpolated quantile `q` of a sorted, non-empty sample. */
  private def quantile(sorted: IndexedSeq[Double], q: Double): Double = {
    val pos = q * (sorted.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

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
          val cold = once()
          val warm = IndexedSeq.fill(WarmPasses)(once()).sorted
          val iqr = quantile(warm, 0.75) - quantile(warm, 0.25)
          println(f"[profile] $name: cold $cold%.3f s, warm median ${quantile(warm, 0.5)}%.3f s" +
            f" IQR $iqr%.3f s ($WarmPasses passes)")
      }
    }
    spark.stop()
  }
}
