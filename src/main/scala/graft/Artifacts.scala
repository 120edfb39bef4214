package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry for artifacts built once and reused across queries:
  * corpus constants and learned models ([[value]]), materialized frames
  * ([[frame]]) and on-disk trees ([[tree]]) — what production persists at
  * ingest time instead of recomputing per query.
  *
  * Key rule: one entry per `(dir, label)`. Each entry is stamped with the
  * session that built it (held weakly) and the fingerprint of the source
  * table(s) its build reads; a lookup whose stamp differs rebuilds the entry
  * in place. So the registry never holds more than labels × dirs entries —
  * nothing is evicted behind a consumer's back — and a new session or a
  * rewritten source never sees a stale artifact.
  *
  * Builds run outside any registry-wide lock: the map only installs a
  * per-key once-cell, and the build runs under that cell alone, so a build
  * may request other artifacts. A failed build leaves no cell behind (the
  * next call retries) and is rethrown naming its label.
  */
object Artifacts {
  private final class Cell(owner: SparkSession, val fp: Long) {
    private val session = new WeakReference(owner)
    private var built: Option[Any] = None
    def stampedFor(s: SparkSession, fp: Long): Boolean =
      (session.get() eq s) && this.fp == fp
    def get(build: => Any): Any = synchronized {
      built.getOrElse { val v = build; built = Some(v); v }
    }
  }

  private val cells = new ConcurrentHashMap[(String, String), Cell]()
  private val served = new ConcurrentHashMap[String, Any]()

  /** A value built once per stamp of `(dir, label)`; `sources` name the
    * tables under `dir` the build reads. */
  def value[V](s: SparkSession, dir: String, label: String, sources: String*)
              (build: => V): V = {
    val fp = sources.foldLeft(17L)((h, t) => h * 31 + Tables.tableFingerprint(dir, t))
    val key = (dir, label)
    val cell = cells.compute(key, (_, old) =>
      if (old != null && old.stampedFor(s, fp)) old else new Cell(s, fp))
    val v = try cell.get(build) catch { case e: Throwable =>
      cells.remove(key, cell)
      throw new IllegalStateException(s"artifact '$label' for $dir failed to build", e)
    }
    served.put(label, v)
    v.asInstanceOf[V]
  }

  /** A `localCheckpoint`ed frame — the in-session stand-in for a table
    * production writes at ingest (pair lists, LSH indexes). */
  def frame(s: SparkSession, dir: String, label: String, sources: String*)
           (build: => DataFrame): DataFrame =
    value(s, dir, label, sources: _*)(build.localCheckpoint(true))

  /** A parquet tree `write` lays out in a fresh temp dir, for fixtures a
    * query must consume from disk; returns the path. Deleted at JVM exit. */
  def tree(s: SparkSession, dir: String, label: String, sources: String*)
          (write: String => Unit): String =
    value(s, dir, label, sources: _*) {
      val p = java.nio.file.Files.createTempDirectory(s"graft_art_$label").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try graft.streaming.StreamScope.deleteTree(p) catch { case _: Throwable => () }))
      write(p)
      p
    }

  /** The value most recently served under `label`, in any dir. The
    * data-dependent oracles embed the constants a query learned; Verify runs
    * every query before it dumps the oracle SQL, so this is that query's. */
  def last[V](label: String): Option[V] =
    Option(served.get(label)).map(_.asInstanceOf[V])
}
