package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{LatestWins, SegmentDef, Segments}
import graft.sources.Ingest

/** Seeded event history. Every column of a row derives from its event id and
  * the seed, so a redelivered row (same id) repeats the whole event. */
object BackfillGen {
  final case class Params(
      events: Long = 500000L,
      users: Int = 50000,
      skew: Double = 2.0,       // user = users * u^skew: low ids are hot
      dupShare: Double = 0.05,  // share of rows that redeliver the previous event id
      days: Int = 30,
      startDay: String = "2024-01-01")

  val Kinds: Seq[(String, Double)] =
    Seq("click" -> 0.35, "view" -> 0.75, "purchase" -> 0.85, "signup" -> 0.93, "error" -> 1.0)

  /** Uniform [0, 1) from a hash of `c`, the seed and a stream number. */
  private def unif(c: Column, seed: Long, stream: Int): Column =
    shiftrightunsigned(xxhash64(c, lit(seed), lit(stream)), 11).cast("double") / math.pow(2, 53)

  def frame(spark: SparkSession, seed: Long, p: Params = Params()): DataFrame = {
    val startMicros = java.time.LocalDate.parse(p.startDay)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
    val stepMicros = p.days * 86400L * 1000000L / p.events
    val id = col("id")
    val eid = col("event_id")
    val u = unif(eid, seed, 3)
    val kind = Kinds.init.foldRight(lit(Kinds.last._1)) { case ((k, c), rest) =>
      when(u < c, lit(k)).otherwise(rest) }
    spark.range(0, p.events, 1, 8)
      .select(when(id > 0 && unif(id, seed, 1) < p.dupShare, id - 1).otherwise(id).as("event_id"))
      .select(eid,
        floor(pow(unif(eid, seed, 2), p.skew) * p.users).cast("long").as("user_id"),
        kind.as("event_type"),
        timestamp_micros(lit(startMicros) + eid * stepMicros +
          (unif(eid, seed, 4) * 60e6).cast("long")).as("ts"))
      .withColumn("day", to_date(col("ts")))
  }
}

object Backfill {
  sealed trait Req { def kind: String }
  final case class Naive(t: String, n: Long) extends Req { val kind = "operators.Segments.naive" }
  final case class Exact(t: String, n: Long) extends Req { val kind = "operators.Segments.idempotentExact" }
  final case class Approx(t: String, n: Long) extends Req { val kind = "operators.Segments.idempotentApprox" }
  final case class Many(segs: Seq[(String, Long)]) extends Req { val kind = "operators.Segments.evaluateMany" }
  final case class MaxBy(t: String) extends Req { val kind = "operators.LatestWins.maxBy" }

  private val Types = BackfillGen.Kinds.map(_._1)
  private val Thresholds = Seq(3L, 5L, 10L, 20L)

  /** The seeded request stream: the five request types in turn. The approx
    * requests share one event type, checked once against exact counts. */
  def requests(seed: Long, count: Int): Seq[Req] = {
    val r = new scala.util.Random(seed)
    def t() = Types(r.nextInt(Types.size))
    def n() = Thresholds(r.nextInt(Thresholds.size))
    val approxType = t()
    (0 until count).map(i => (i % 5) match {
      case 0 => Naive(t(), n())
      case 1 => Exact(t(), n())
      case 2 => Approx(approxType, n())
      case 3 => Many(r.shuffle(Types).take(3).map(_ -> n()))
      case _ => MaxBy(t())
    })
  }

  def evaluate(events: DataFrame, q: Req): DataFrame = q match {
    case Naive(t, n) => Segments.naive(events, SegmentDef(t, n))
    case Exact(t, n) => Segments.idempotentExact(events, SegmentDef(t, n))
    case Approx(t, n) => Segments.idempotentApprox(events, SegmentDef(t, n))
    case Many(segs) => Segments.evaluateMany(events, segs.map { case (t, n) => SegmentDef(t, n) })
    case MaxBy(t) => LatestWins.maxBy(events.filter(col("event_type") === t), Seq("user_id"),
      col("ts"), Seq("event_id"), Seq(col("event_id")))
  }

  def run(spark: SparkSession, tr: Tracer, out: Outcome, work: String, seed: Long,
          seconds: Double, inject: Boolean): Unit = {
    val p = BackfillGen.Params()
    val path = s"$work/history"
    out.phase("generate") {
      Ingest.appendSorted(BackfillGen.frame(spark, seed, p), path,
        Seq("user_id", "event_type", "ts"), Some("day"))
    }
    val events = spark.read.parquet(path)
    val reqs = requests(seed, 100000)

    // the reference: one exact GROUP BY over the history, written in SQL
    // apart from the engine's operators, from which every request's
    // expected result is derived
    val cube = out.phase("reference") {
      events.createOrReplaceTempView("perfbench_history")
      val c = spark.sql(
        """SELECT user_id, event_type, count(*) AS n, count(DISTINCT event_id) AS nd,
          |       max(struct(ts, event_id)).event_id AS last_id
          |FROM perfbench_history GROUP BY user_id, event_type""".stripMargin).cache()
      c.count()
      c
    }
    val approxType = reqs.collectFirst { case Approx(t, _) => t }.get
    // the approx estimates, held to the envelope of SparkEntry's `est_ok`
    // against the exact distinct counts: |est - exact| <= max(1, 0.15 exact)
    var approxRef: DataFrame = null
    out.phase("warm") {
      out.warm("backfill.approx_envelope") {
        val est = Segments.idempotentApprox(events, SegmentDef(approxType, 1))
          .select(col("user_id"), col("n_unique")).cache()
        approxRef = est
        val bad = est.join(cube.filter(col("event_type") === approxType), Seq("user_id"), "full_outer")
          .filter(col("n_unique").isNull || col("nd").isNull ||
            abs(col("n_unique") - col("nd")) > greatest(lit(1.0), col("nd") * 0.15))
          .count()
        require(bad == 0, s"$bad users outside the approx error envelope")
      }
    }

    def expected(q: Req): DataFrame = {
      def of(t: String) = cube.filter(col("event_type") === t)
      q match {
        case Naive(t, n) => of(t).select(col("user_id"), col("n").as("n_events"),
          (col("n") >= n).as("in_segment"))
        case Exact(t, n) => of(t).select(col("user_id"), col("nd").as("n_unique"),
          (col("nd") >= n).as("in_segment"))
        case Approx(_, n) => approxRef.select(col("user_id"), col("n_unique"),
          (col("n_unique") >= n).as("in_segment"))
        case Many(segs) =>
          val counts = segs.map { case (t, _) =>
            sum(when(col("event_type") === t, col("n")).otherwise(0L)).as(s"${t}_n") }
          val agg = cube.filter(col("event_type").isin(segs.map(_._1): _*))
            .groupBy("user_id").agg(counts.head, counts.tail: _*)
          segs.foldLeft(agg) { case (df, (t, n)) => df.withColumn(s"${t}_in", col(s"${t}_n") >= n) }
        case MaxBy(t) => of(t).select(col("user_id"), col("last_id").as("event_id"))
      }
    }
    val want = mutable.HashMap.empty[Req, Digest]
    /** None when `got` is the digest of the request's expected result. */
    def mismatch(q: Req, got: Digest): Option[String] = {
      val w = want.getOrElseUpdate(q, Digest.of(expected(q)))
      if (got == w) None else Some(s"$q: digest $got, want $w")
    }

    // warm: one request of each type, untimed, checked like timed ones
    out.phase("warm") {
      reqs.take(5).foreach { q =>
        out.warm(s"backfill.warm.${q.kind}") {
          mismatch(q, Digest.of(evaluate(events, q))).foreach(m => throw new AssertionError(m))
        }
      }
    }
    out.setupEnd()

    tr.clear()
    val lat = mutable.ArrayBuffer.empty[Double]
    val loopStartMs = System.currentTimeMillis()
    val loop0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - loop0) / 1e9 < seconds) {
      val q = reqs(5 + k)
      val t0 = System.nanoTime()
      val d = tr.span(q.kind)(Digest.of(evaluate(events, q)))
      lat += (System.nanoTime() - t0) / 1e9
      val got = if (inject && k == 0) d.copy(xor = d.xor ^ 1L) else d
      val m = mismatch(q, got)
      out.check(s"request $k", m.isEmpty, m.get)
      k += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val loopEndMs = System.currentTimeMillis()
    out.operations(lat.toSeq, Stats.mean(lat.toSeq), p.events.toDouble * k / loopS)
    out.details ++= Seq("op" -> "segment-evaluation request",
      "requests" -> k, "history_events" -> p.events,
      "p50_by_type_s" -> lat.zip(reqs.drop(5)).groupBy(_._2.kind)
        .map { case (kd, xs) => kd -> Stats.median(xs.map(_._1).toSeq) })

    if (tr.enabled) {
      Layers.report(out, tr.summary())
      out.metric("busy_share", tr.taskSecondsBetween(loopStartMs, loopEndMs) /
        (loopS * spark.sparkContext.defaultParallelism), "ratio")
    }
  }
}
