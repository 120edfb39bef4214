package graft

/** Recall probe for the SRP path: compares `ann_topk_srp` against the exact
  * `ann_topk_brute` top-k at each test scale. On this corpus the two DIVERGE
  * (weakly-similar embeddings, cosines ≈ 0.25-0.36, so 4-bit/8-table buckets
  * miss some true neighbors) — which is precisely why the driver oracle for
  * `ann_topk_srp` recomputes the SRP pipeline itself in SQL (embedded
  * hyperplanes, `AnnQueries.srpOracleSql`) instead of assuming brute parity.
  * Run this when tuning (nBits, tables) to see the recall trade-off.
  * `Test/runMain graft.SrpParityCheck [sfDir...]` */
object SrpParityCheck {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
               else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                        "/root/testdata/sf0.1")
    val spark = GraftSession()
    for (dir <- dirs) {
      val brute = SparkEntry.queries("ann_topk_brute")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val srp = SparkEntry.queries("ann_topk_srp")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = (brute & srp).size.toDouble / brute.size
      println(f"[srp-parity] $dir: brute=${brute.size} srp=${srp.size} " +
        f"top-k recall=$recall%.2f" +
        (if (recall == 1.0) " (EXACT this run)" else ""))
    }
    spark.stop()
  }
}
