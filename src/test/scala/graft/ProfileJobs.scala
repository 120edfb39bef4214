package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.concurrent.TrieMap

/** Per-JOB timing of one contract query: every action (checkpoint
  * materialization, count, broadcast-relation build that surfaces as a job,
  * final collect) prints its wall-clock, so the serial job chain inside a
  * fused operator is visible. Run:
  *   `Test/runMain graft.ProfileJobs <queryName> [repeats]` */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("incremental_neardup")
    // reps = the single numeric arg anywhere in the list (default 3). This
    // is a measurement tool: a second numeric arg or reps < 1 would silently
    // record nothing — reject both with a usage message instead.
    val numericArgs = args.flatMap(a => scala.util.Try(a.toInt).toOption)
    require(numericArgs.length <= 1,
      s"usage: ProfileJobs <query...> [reps]  — got ${numericArgs.length} numeric args: ${numericArgs.mkString(", ")}")
    val reps = numericArgs.headOption.getOrElse(3)
    require(reps >= 1, s"reps must be >= 1 (got $reps): zero recorded runs is a misread profile, not a profile")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Warmup.run(spark, sfDir)

    val starts = TrieMap.empty[Int, (Long, String)]
    val lastJobEnd = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val taskTimes = TrieMap.empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val stages = js.stageInfos.map(si => s"${si.stageId}:${si.name.takeWhile(_ != '\n').take(60)}(${si.numTasks})").mkString(" | ")
        starts.put(js.jobId, (System.nanoTime(), stages))
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (record)
          taskTimes.getOrElseUpdate(te.stageId,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += te.taskInfo.duration
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, desc) =>
          if (record) {
            // gap: driver-side time between the PREVIOUS job's end and this
            // job's start — where per-batch planning / offset-log / commit
            // scaffolding hides in a streaming lifecycle
            val gap = math.max(0L, t0 - lastJobEnd.get()) / 1e9
            lastJobEnd.set(System.nanoTime())
            val wall = (System.nanoTime() - t0) / 1e9
            // per-job task skew: median vs max task millis of its slowest stage
            val skew = taskTimes.toSeq.flatMap(_._2) match {
              case ts if wall > 0.5 && ts.nonEmpty =>
                val sorted = ts.sorted
                f"  [tasks n=${ts.size} med=${sorted(ts.size / 2)}ms max=${sorted.last}ms]"
              case _ => ""
            }
            taskTimes.clear()
            println(f"[job] ${je.jobId}%4d $wall%6.3f s  (gap $gap%5.3f)  $desc$skew")
          }
        }
    })

    // gap semantics caveat: `gap` measures this job's start against the end
    // of whichever job finished LAST anywhere in the JVM (one global clock),
    // which is exact for a SERIAL job chain — the documented use case — but
    // under OVERLAPPING jobs (streaming micro-batch scaffolding, concurrent
    // actions) gaps are under-reported/mis-attributed. Do not read gap≈0 as
    // "no driver time" when jobs overlap.
    println("[note] gap = driver-side time since the previous job END (global; exact only for serial job chains)")
    // Multi-query form: every non-numeric arg is a query name, profiled
    // back-to-back in ONE JVM (reps from the single numeric arg, default 3) —
    // the per-invocation sbt+warmup cost is paid once for the whole list.
    val names =
      if (args.isEmpty) Seq(name)
      else args.toSeq.filter(a => scala.util.Try(a.toInt).isFailure) match {
        case Seq() => Seq(name)
        case ns    => ns
      }
    names.foreach { qname =>
      val fn = SparkEntry.queries(qname)
      fn(spark, sfDir).count() // warm pass, unrecorded
      (1 to reps).foreach { i =>
        println(s"=== $qname run $i ===")
        record = true
        lastJobEnd.set(System.nanoTime())
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"[total] $qname ${(System.nanoTime() - t0) / 1e9}%.2f s")
        record = false
        Thread.sleep(200)
      }
    }
    spark.stop()
  }
}
