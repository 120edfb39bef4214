package graft

import org.apache.spark.sql.functions._

/** Throwaway interleaved A-B for the editdist verify lane: long-gram count
  * filter vs int-gram (g32) count filter, alternating in ONE JVM so host
  * contention episodes hit both arms equally. Not part of the contract. */
object AbEditdist {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Warmup.run(spark, sfDir)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 64).as("key"))
    // both keys frames carry the SAME schema (id, s, len, g, g32); the long
    // arm aliases the 64-bit grams into the verify-carry column
    val keysInt = graft.operators.Dedup.editDistanceKeys(docs, q = 2, keyCol = "key")
      .localCheckpoint(true)
    val keysLong = keysInt.withColumn("g32", col("g")).localCheckpoint(true)
    def run(tag: String, keys: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup.editDistancePairs(docs, maxDist = 8, q = 2,
        keyCol = "key", precomputedKeys = Some(keys)).count()
      println(f"[ab] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s (n=$n)")
    }
    run("warm-int", keysInt); run("warm-long", keysLong)
    (1 to 4).foreach { _ => run("int ", keysInt); run("long", keysLong) }
    spark.stop()
  }
}
