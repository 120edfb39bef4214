package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Isolates the FIXED cost of one AvailableNow streaming lifecycle — query
  * start (checkpoint dirs, metadata, source listing), per-batch offset/commit
  * log writes and incremental planning, and stop — from the per-batch work
  * the contract pipelines do. Timed 3× each: a no-op foreachBatch drain
  * (pure lifecycle), the same drain counting the batch (adds one data
  * scan), and the no-op drain under minBatchesToRetain=1 and under the
  * FileSystem-based checkpoint manager (the two knobs withStreamScope now
  * sets — this tool measured them in). Run:
  * `Test/runMain graft.ProfileStreamFloor` */
object ProfileStreamFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    Tables.events(spark, sfDir).count()

    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[floor] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    def drain(extraConf: Map[String, String] = Map.empty,
              body: org.apache.spark.sql.DataFrame => Unit = _ => ()): Unit = {
      val prev = extraConf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      extraConf.foreach { case (k, v) => spark.conf.set(k, v) }
      val tmp = java.nio.file.Files.createTempDirectory("floor").toString
      try {
        val reader = spark.readStream.schema(Tables.eventsRawSchema(spark, sfDir))
        val src = reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
        val q = src.writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => body(b) }
          .start()
        q.awaitTermination()
      } finally {
        prev.foreach { case (k, vo) => vo.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }

    (1 to 3).foreach { i =>
      time(s"noop lifecycle #$i") { drain() }
    }
    (1 to 3).foreach { i =>
      time(s"noop + count #$i") { drain(body = b => { b.count(); () }) }
    }
    (1 to 3).foreach { i =>
      time(s"noop minRetain=1 #$i") {
        drain(Map("spark.sql.streaming.minBatchesToRetain" -> "1"))
      }
    }
    (1 to 3).foreach { i =>
      time(s"noop fs-ckpt-mgr #$i") {
        drain(Map(
          "spark.sql.streaming.checkpointFileManagerClass" ->
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"))
      }
    }
    spark.stop()
  }
}
