package graft

import org.apache.spark.sql.functions.col

import graft.streaming.StreamScope

/** The streaming lifecycle's failure paths: a scope that fails while it
  * sets up must leave the shared session as it found it, and a streaming
  * warm-up that cannot build its sample must fail loudly by step name. */
class StreamScopeSpec extends SparkSpec {

  test("a stream scope whose setup fails restores every conf it touches") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val sessionKeys = Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.adaptive.enabled",
      "spark.sql.streaming.checkpointFileManagerClass",
      "spark.sql.streaming.minBatchesToRetain",
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val committerKey = "mapreduce.fileoutputcommitter.algorithm.version"
    def snapshot() =
      (sessionKeys.map(k => k -> spark.conf.getOption(k)), Option(hconf.get(committerKey)))
    val original = snapshot()
    // values the scope would change, so a leak of any of them shows
    val pinned = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "false",
      "spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "3")
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val before = snapshot()
      // a prefix holding '/' makes createTempDirectory throw mid-setup
      intercept[IllegalArgumentException] {
        StreamScope.withStreamScope(spark, "graft/bad_prefix")(_ => spark.range(1).toDF())
      }
      assert(snapshot() == before)
    } finally
      original._1.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a streaming warm-up over events with no click rows fails as streaming_runtime") {
    val dir = tmpDir("graft_noclick")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .filter(col("event_type") =!= "click")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val failures = Warmup.steps(
      Warmup.engineSteps(spark, dir).filter(_._1 == "streaming_runtime"))
    assert(failures.keySet == Set("streaming_runtime"))
    assert(failures("streaming_runtime").contains("no 'click' rows"))
  }
}
