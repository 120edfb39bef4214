package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Session {
  /** The settings of `graft.Bench` / `graft.Verify`, copied because the
    * engine has no shared session factory yet. */
  def build(cores: Int): SparkSession = {
    System.setProperty("graft.fp.ttlMs", "3600000")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RewriteLatestWinsWindow
    spark
  }
}

/** Order-independent content digest of a whole result. Every output column
  * feeds the hash, so no column can be pruned away the way `.count()` lets
  * Catalyst drop a query's work. Columns are hashed in name order, so two
  * results with the same columns in another order digest alike. */
final case class Digest(rows: Long, hiSum: Long, xor: Long) {
  override def toString: String = s"$rows/$hiSum/$xor"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val cols = df.columns.sorted.map(c => df.col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
           coalesce(bit_xor(col("h")), lit(0L)))
      .first()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, n). With fewer than eleven samples it is the
    * minimum, percentile 0. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val k = math.max(0, n - 10) // samples at or below the tail value
    val pct = if (n == 0) 0.0 else 100.0 * math.max(0, k - 1) / math.max(1, n - 1)
    (if (k == 0) xs.min else xs.sorted.apply(k - 1), pct, n)
  }
}

/** Minimal JSON writing: numbers, strings, booleans, maps and sequences. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** What one run hands back: timed operations, their failures, and metrics. */
final class Outcome(t0: Long) {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  val warmErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def check(op: String, ok: Boolean, why: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += s"$op: $why"
    }
  }

  /** A warm step runs untimed; its failure is recorded by name, never
    * swallowed, and makes the run incorrect. */
  def warm(step: String)(body: => Unit): Unit =
    try body catch { case e: Throwable =>
      warmErrors(step) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        .linesIterator.take(1).mkString.take(300)
    }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Seconds spent in each named set-up phase. */
  val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var setupS = 0.0

  def phase[T](name: String)(body: => T): T = {
    val s = System.nanoTime()
    try body finally setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - s) / 1e9
  }

  /** The end-to-end metrics of a run's timed operations. The median and
    * the tail of the samples go to the details, the tail with its
    * percentile and sample count. */
  def operations(samples: Seq[Double], meanS: Double, eventsPerS: Double): Unit = {
    val (tail, pct, n) = Stats.tail(samples)
    metric("op_mean_s", meanS, "s")
    metric("events_per_s", eventsPerS, "1/s")
    details ++= Seq("n" -> n, "p50_s" -> Stats.median(samples), "tail_s" -> tail,
      "tail_percentile" -> pct, "samples_s" -> samples)
  }

  var heapRetainedMb = 0.0

  /** Marks the end of set-up: everything since the run began, and a full GC
    * after which the heap still in use is what the warmed session keeps
    * alive (caches, artifacts, state). */
  def setupEnd(): Unit = {
    System.gc()
    heapRetainedMb =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    setupS = (System.nanoTime() - t0) / 1e9
    jvmAtSetupEnd = Outcome.jvmSeconds()
  }

  /** (GC, JIT) seconds the JVM spent when set-up ended. */
  var jvmAtSetupEnd = (0.0, 0.0)
}

object Outcome {
  /** Seconds the JVM has spent so far in garbage collection and in JIT
    * compilation. */
  def jvmSeconds(): (Double, Double) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    (gc / 1000.0, ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0)
  }
}
