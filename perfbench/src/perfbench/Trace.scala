package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine, and a SparkListener
  * that charges each Spark job, with its stages and tasks, to the innermost
  * span open when the job was submitted. The client is one thread in a
  * closed loop, so at most one chain of nested spans is open at a time.
  *
  * When tracing is off, [[span]] only runs its body: no listener is
  * registered and nothing is recorded. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var depth = 0
  private val listener = new Recorder
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val rec = SpanRec(name, depth, System.currentTimeMillis(), System.nanoTime())
      depth += 1
      try body finally {
        depth -= 1
        rec.endMs = System.currentTimeMillis()
        rec.wallS = (System.nanoTime() - rec.t0) / 1e9
        spans += rec
      }
    }

  /** Forgets the spans recorded so far (the untimed warm-up's). */
  def clear(): Unit = spans.clear()

  /** Per span name: calls and the summed accounting of its own jobs. */
  def summary(): Map[String, SpanStats] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    val jobs = listener.jobList
    // innermost open span at the job's submission: the deepest one covering it
    val owner: Map[Int, SpanRec] = jobs.flatMap { j =>
      spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .maxByOption(s => (s.depth, s.startMs)).map(j.id -> _)
    }.toMap
    val byName = mutable.LinkedHashMap.empty[String, SpanStats]
    spans.foreach { s =>
      val st = byName.getOrElseUpdate(s.name, new SpanStats)
      val own = jobs.filter(j => owner.get(j.id).contains(s))
      st.calls += 1
      st.wallS += s.wallS
      st.jobs += own.size
      own.foreach { j =>
        val stages = j.stageIds.flatMap(listener.stage)
        st.stages += stages.count(_.tasks > 0)
        stages.foreach { g =>
          st.tasks += g.tasks
          st.taskS += g.runMs / 1000.0
          st.shuffleWriteBytes += g.shuffleWrite
          st.spillBytes += g.spill
          st.inputRecords += g.inputRecords
          st.outputBytes += g.outputBytes
        }
      }
      // driver gap: the span's wall time not covered by any of its own jobs
      val covered = union(own.map(j => (j.startMs max s.startMs, j.endMs min s.endMs)))
      st.driverGapS += math.max(0.0, s.wallS - covered / 1000.0)
    }
    byName.toMap
  }

  /** Task seconds of every job submitted within [startMs, endMs]. */
  def taskSecondsBetween(startMs: Long, endMs: Long): Double =
    listener.jobList.filter(j => j.startMs >= startMs && j.startMs <= endMs)
      .flatMap(_.stageIds.flatMap(listener.stage)).map(_.runMs / 1000.0).sum
}

object Tracer {
  final case class SpanRec(name: String, depth: Int, startMs: Long, t0: Long) {
    var endMs: Long = startMs
    var wallS: Double = 0.0
  }

  final class SpanStats {
    var calls = 0L
    var wallS, taskS, driverGapS = 0.0
    var jobs, stages, tasks, shuffleWriteBytes, spillBytes, inputRecords, outputBytes = 0L

    /** Per-call means, keyed by the metric suffix. */
    def perCall: Seq[(String, Double, String)] = {
      val c = math.max(1L, calls).toDouble
      Seq(("wall_s", wallS / c, "s"), ("jobs", jobs / c, "count"),
          ("stages", stages / c, "count"), ("tasks", tasks / c, "count"),
          ("task_s", taskS / c, "s"), ("driver_gap_s", driverGapS / c, "s"),
          ("shuffle_write_bytes", shuffleWriteBytes / c, "bytes"),
          ("spill_bytes", spillBytes / c, "bytes"),
          ("input_records", inputRecords / c, "count"),
          ("output_bytes", outputBytes / c, "bytes"))
    }
  }

  final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }

  final class StageRec {
    var tasks = 0L
    var runMs, shuffleWrite, spill, inputRecords, outputBytes = 0L
  }

  /** Total length of the union of [start, end] intervals, in ms. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private final class Recorder extends SparkListener {
    private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    def jobList: Seq[JobRec] = {
      import scala.jdk.CollectionConverters._
      jobs.values.asScala.toSeq
    }
    def stage(id: Int): Option[StageRec] = Option(stages.get(id))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobRec(e.jobId, e.time, e.stageIds))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stages.computeIfAbsent(e.stageId, _ => new StageRec)
      g.synchronized {
        g.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          g.runMs += m.executorRunTime
          g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          g.inputRecords += m.inputMetrics.recordsRead
          g.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}
