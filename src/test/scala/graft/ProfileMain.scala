package graft
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val docs = Tables.documents(spark, "/root/testdata/sf0.1")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    docs.count()
    val masked = time("redact+checkpoint") {
      docs.select(col("doc_id"), col("lang"),
          TextAnalysis.redactPii(col("text")).as("text"))
        .localCheckpoint(true)
    }
    time("stopwordRatio gate") {
      masked.filter(TextAnalysis.stopwordRatio(col("text")) >= 0.05).count()
    }
    time("tokenCount gate") {
      masked.filter(TextAnalysis.tokenCount(col("text")) >= 20).count()
    }
    time("repetitionRatio gate") {
      masked.filter(TextAnalysis.repetitionRatio(col("text")) < 0.2).count()
    }
    time("dedup window") {
      graft.operators.Dedup.dropExactDuplicates(masked).count()
    }
    time("full WARM") {
      val gated = masked.filter(
        TextAnalysis.stopwordRatio(col("text")) >= 0.05 &&
        TextAnalysis.tokenCount(col("text")) >= 20 &&
        TextAnalysis.repetitionRatio(col("text")) < 0.2)
      graft.operators.Dedup.dropExactDuplicates(gated)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("sum_tokens"))
        .count()
    }
    spark.stop()
  }
}
