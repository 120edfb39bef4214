package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.Tables

/** The lifecycle every streaming contract query runs in: the events file
  * stream, a scope that sizes the session for a scratch AvailableNow drain
  * and restores it after, the drain itself, and the reaper that deletes the
  * scratch trees off the query's wall-clock. */
object StreamScope {

  /** The raw events file-stream source with `ts` normalized to micros
    * TimestampType, unit-agnostic: the stream schema types `ts` exactly as
    * the parquet footer stores it (probed batch-side in [[Tables]]) and the
    * same normalization as the batch path runs on top — a micros file can
    * never be silently read as raw int64 again. */
  private[graft] def eventsStream(s: SparkSession, dir: String,
                                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    var reader = s.readStream.schema(Tables.eventsRawSchema(s, dir))
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n.toString))
    // Layout-probed source path: testdata ships events.parquet as a single
    // FILE (streamed as $dir + a name glob — the file source's basePath must
    // be a directory, so the file cannot be the path itself), but a regen
    // via df.write.parquet would ship a DIRECTORY of part files, which the
    // name glob would silently match NOTHING for (zero rows, no error) —
    // that layout streams the directory directly. Both lanes are spec-pinned
    // in EventsTsUnitSpec.
    val path = s"$dir/events.parquet"
    val src =
      if (Files.isDirectory(Paths.get(path))) reader.parquet(path)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    Tables.normalizeEventsTs(s, dir, src) // type + long-unit from batch probes
  }

  /** Drains `writer` to the end of its source: one AvailableNow run,
    * checkpointed under `ckpt`, started and awaited. */
  private[graft] def drain(writer: DataStreamWriter[_], ckpt: String): Unit =
    writer.trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt)
      .start().awaitTermination()

  /** One setting the scope changes: read, written and restored through the
    * store it lives in (the session conf or the SparkContext-wide Hadoop
    * configuration). */
  private final case class Scoped(key: String, value: String,
                                  get: String => Option[String],
                                  set: (String, String) => Unit,
                                  unset: String => Unit)

  /** Scopes a streaming contract query: sets the confs below for the
    * duration of the (eagerly executed) streaming run and restores every
    * one after, whether the setup, the body or the read-back fails; hands
    * the body a fresh temp dir (state store / sink / checkpoint) and deletes
    * it once the result is materialized (localCheckpoint). No session conf
    * or /tmp residue leaks into later bench queries. */
  private[graft] def withStreamScope(s: SparkSession, prefix: String,
                                     statePartitions: Int = 2)
                                    (body: String => DataFrame): DataFrame = {
    val hconf = s.sparkContext.hadoopConfiguration
    def session(key: String, value: String) =
      Scoped(key, value, s.conf.getOption, s.conf.set(_: String, _: String), s.conf.unset)
    def hadoop(key: String, value: String) =
      Scoped(key, value, k => Option(hconf.get(k)), hconf.set(_: String, _: String), hconf.unset)
    val scoped = Seq(
      session("spark.sql.legacy.parquet.nanosAsLong", "true"),
      // Everything under this scope is explicitly sized already — writes are
      // coalesced from observed batch key counts, shuffles run at the scoped
      // statePartitions — so AQE has nothing to re-plan, but it still charges
      // a driver re-optimization pause between every pair of tiny stages
      // (ProfileJobs: ~0.45 s of inter-job gaps in one seg_stream_equiv run,
      // the single largest slice of the query). Streaming stateful plans
      // disable AQE internally anyway; this extends that to the scope's batch
      // reads/writes. A 100 TB deployment re-enables it per-pipeline where
      // stage sizes are unknown.
      session("spark.sql.adaptive.enabled", "false"),
      // Checkpoint-log I/O is a measured ~half of the bare AvailableNow
      // lifecycle here (a no-op drain: 0.25 s -> 0.13 s warm): the default
      // FileContext-based manager re-resolves a FileContext per metadata write,
      // while the FileSystem-based one reuses the cached FileSystem handle with
      // the same write-temp-then-rename atomicity. These checkpoints are
      // per-run scratch (fresh dir, deleted below), so recovery-across-restart
      // subtleties don't apply; production pipelines on object stores would
      // pick the manager to match the store's rename semantics anyway.
      session("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"),
      // scratch checkpoints are never restarted from: retain the minimum
      session("spark.sql.streaming.minBatchesToRetain", "1"),
      // v2 commit: task output renames directly into the table dir instead of
      // task-temp -> job-temp -> final double renames. The state tables these
      // pipelines write per micro-batch are small-file-heavy, so commit
      // renames are a real slice of per-batch cost; v2's weaker guarantee
      // (a failed task may leave partial files) is immaterial for per-run
      // scratch state on a local FS, and production object-store deployments
      // substitute a cloud committer here regardless.
      hadoop("mapreduce.fileoutputcommitter.algorithm.version", "2"),
      // state-store partition count follows shuffle.partitions at query start;
      // per-partition checkpoint/delta files dominate the WRITE-heavy pipelines
      // (foreachBatch state-table queries), so those scope streaming to few,
      // fatter state partitions — but operators whose per-batch cost is per-KEY
      // STATE COMPUTE (flatMapGroupsWithState sessionization, stream-stream
      // join state, watermarked dedup+agg) serialize genuine work into that
      // count (ProfileJobs: sessions_stream_closed's one batch = 2 tasks x
      // ~450 ms), so they ask for more via `statePartitions`. A fresh
      // checkpoint dir per run means the count never has to match an older
      // checkpoint; on a cluster this is the operator's state-shard count.
      session("spark.sql.shuffle.partitions", statePartitions.toString),
      // no contract query emits on event-time TIMEOUT (inner joins and
      // update-mode aggregates emit during data batches), so the trailing
      // no-data watermark-finalization batch is pure trigger overhead here.
      // Operators that close state on timeout (statefulSessionize) need it ON
      // — their specs run outside this scope with the default.
      session("spark.sql.streaming.noDataMicroBatches.enabled", "false"))
    val prev = scoped.map(c => c.get(c.key))
    try {
      // the hadoopConfiguration is SparkContext-wide, so for the scope's
      // duration v2 also governs the oracle-checked SINK writes, not just
      // scratch checkpoints. That is only safe because these runs are serial
      // local-mode with no task re-attempts (a failed task aborts the job
      // before any read-back); assert the no-re-attempt assumptions instead
      // of trusting them silently. A cluster deployment must instead scope
      // the committer per-path (or use a cloud committer) — v2 under retry/
      // speculation can leave partial files that a read-back double-counts.
      require(!s.sparkContext.getConf.getBoolean("spark.speculation", false),
        "withStreamScope sets fileoutputcommitter v2 on the shared hadoopConf; " +
          "unsafe with speculative execution — scope the committer per-path instead")
      scoped.foreach(c => c.set(c.key, c.value))
      val tmp = Files.createTempDirectory(prefix).toString
      // the result is already materialized (localCheckpoint), so nothing
      // reads `tmp` again — hand the walk+unlink of a few hundred
      // checkpoint/state/sink files to the reaper thread instead of billing
      // it to the query
      try body(tmp).localCheckpoint(true) finally deleteTreeAsync(tmp)
    } finally
      scoped.zip(prev).foreach { case (c, p) => p.fold(c.unset(c.key))(c.set(c.key, _)) }
  }

  private[graft] def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.toSeq
      .sortBy(-_.getNameCount)
      .foreach(p => Files.deleteIfExists(p))
  }

  /** Single daemon reaper for per-run scratch trees: deletion is ordered
    * (one queue), off the query's wall-clock, and still guaranteed best-effort
    * at JVM exit for anything not yet drained. */
  private val reaperQueue = new java.util.concurrent.LinkedBlockingQueue[String]()
  // trees the daemon has take()n but not yet (or not successfully) deleted:
  // a dir in flight at JVM exit, or one whose deletion FAILED, lands here so
  // the shutdown-hook drain retries it — silently swallowing failures would
  // let scratch residue accumulate across a long bench session
  private val reaperPending =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def reapFailed(dir: String, e: Throwable, next: String): Unit =
    System.err.println(
      s"[graft] scratch reap failed for $dir (${e.getClass.getSimpleName}); $next")
  private lazy val reaper: Thread = locally {
    val t = new Thread(() => {
      while (true) {
        val dir = reaperQueue.take()
        reaperPending.add(dir)
        try { deleteTree(dir); reaperPending.remove(dir) } catch {
          case _: InterruptedException => throw new InterruptedException
          case e: Throwable => // stays in reaperPending for the exit retry
            reapFailed(dir, e, "will retry at exit")
        }
      }
    }, "graft-scratch-reaper")
    t.setDaemon(true)
    t.start()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def reapAtExit(dir: String): Unit =
        try deleteTree(dir) catch { case e: Throwable => reapFailed(dir, e, "left at exit") }
      var dir = reaperQueue.poll()
      while (dir != null) {
        reapAtExit(dir)
        dir = reaperQueue.poll()
      }
      reaperPending.forEach(d => reapAtExit(d))
    }))
    t
  }
  private[graft] def deleteTreeAsync(dir: String): Unit = { reaper; reaperQueue.put(dir) }
}
