package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session for this engine: every main and the spec
  * suite go through here, so they all plan with the same settings and the
  * same optimizer rules.
  *
  *  - `local[cores]`, with `cores` shuffle partitions. The core count is a
  *    deployment setting and defaults to `SPARK_GRAFT_CPUS` (4 when unset).
  *  - AQE on: it replans skewed and small shuffles at runtime (measured 48%
  *    faster than AQE off at bench scale). Stream scopes and mutation
  *    lifecycles switch it off locally; nothing switches it off globally.
  *  - A 64 MB broadcast ceiling keeps every dimension table on the hash side
  *    (orders at bench scale is ~15 MB — cheaper to ship to all executors
  *    than to shuffle lineitem).
  *  - [[GraftExtensions]] is the session's `spark.sql.extensions`: the graft
  *    SQL functions plus the `RewriteLatestWinsWindow` optimizer rule.
  *    Range joins need no rule: the queries call
  *    `graft.operators.RangeJoin` directly.
  */
object GraftSession {
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with the session confs `kvs` set, then puts each key back
    * as it was (unset if it was unset), also when `body` throws. */
  private[graft] def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
