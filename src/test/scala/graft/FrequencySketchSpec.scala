package graft

import org.apache.spark.sql.functions._
import graft.functions.FrequencySketch

/** Frequent-items read-out order: the top-k result is a total order
  * (estimate desc, then item), so equal estimates that straddle the k cut
  * resolve by item, as the exact `ORDER BY n DESC, word LIMIT k` oracles of
  * the top-k queries do. */
class FrequencySketchSpec extends SparkSpec {
  import spark.implicits._

  test("top-k: ties straddling the k cut come back ordered by item") {
    // 'top' ×3, then ten items tied at ×2 inserted in reverse name order,
    // then 'tail' ×1; k = 4 cuts through the tie after three of the ten
    val tied = "jihgfedcba".map(c => s"tie_$c")
    val words = Seq.fill(3)("top") ++ tied.flatMap(w => Seq(w, w)) :+ "tail"
    val top = words.toDF("word")
      .select((monotonically_increasing_id() % 2).as("part"), $"word")
      .groupBy($"part").agg(FrequencySketch.topKState($"word").as("st"))
      .agg(FrequencySketch.topKMergeState($"st").as("m"))
      .select(explode(FrequencySketch.topKEstimate($"m", 4)).as("t"))
      .select($"t.item", $"t.est").as[(String, Long)].collect().toSeq
    assert(top === Seq("top" -> 3L, "tie_a" -> 2L, "tie_b" -> 2L, "tie_c" -> 2L))
  }
}
