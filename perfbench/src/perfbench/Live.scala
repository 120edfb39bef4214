package perfbench

import java.sql.Timestamp
import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.SegmentDef
import graft.sources.Ingest
import graft.state.{MicroBatchPipeline, StateStorePaths}

/** One generated event of the live stream. `procMs` is processing time (the
  * micro-batch cursor column), `eventMs` the event's own time. */
final case class LiveEvent(id: Long, user: Long, kind: String, procMs: Long, eventMs: Long)

/** Seeded live event stream: skewed users, redelivered ids, late events.
  * Batch `i` covers processing time [start + i * spanMs, start + (i+1) * spanMs).
  * The stream starts ten minutes before midnight, so batches cross a day
  * boundary, and a share of events lag by hours into the previous day. */
final class LiveGen(seed: Long, val p: LiveGen.Params = LiveGen.Params()) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var nextId = 0L
  private val recent = mutable.ArrayBuffer.empty[LiveEvent] // redelivery pool
  private var batchNo = 0

  def next(): Seq[LiveEvent] = {
    val lo = p.startMs + batchNo * p.spanMs
    batchNo += 1
    val out = mutable.ArrayBuffer.empty[LiveEvent]
    while (out.size < p.batchEvents) {
      val proc = lo + rnd.nextLong(p.spanMs)
      if (recent.nonEmpty && rnd.nextDouble() < p.dupShare) {
        // redelivery: the same event (id, user, kind, event time) again,
        // seen at a later processing time
        out += recent(rnd.nextInt(recent.size)).copy(procMs = proc)
      } else {
        val user = (p.users * math.pow(rnd.nextDouble(), p.skew)).toLong
        val u = rnd.nextDouble()
        val kind = LiveGen.Kinds.find(_._2 > u).map(_._1).getOrElse("view")
        val lag =
          if (rnd.nextDouble() < p.lateShare) (3600000L + rnd.nextLong(3L * 3600000L))
          else (-math.log(1.0 - rnd.nextDouble()) * p.lagMeanMs).toLong
        val e = LiveEvent(nextId, user, kind, proc, proc - lag)
        nextId += 1
        out += e
        recent += e
        if (recent.size > 4 * p.batchEvents) recent.remove(0, p.batchEvents)
      }
    }
    out.toSeq
  }

  def window(i: Int): (Timestamp, Timestamp) =
    (new Timestamp(p.startMs + i * p.spanMs), new Timestamp(p.startMs + (i + 1) * p.spanMs))
}

object LiveGen {
  final case class Params(
      users: Int = 20000,
      skew: Double = 2.5,          // user = users * u^skew: low ids are hot
      batchEvents: Int = 2000,
      dupShare: Double = 0.05,     // share of deliveries that repeat an earlier event
      lagMeanMs: Long = 20000L,    // event time lags processing time by Exp(20 s)
      lateShare: Double = 0.01,    // ... or, for this share, by 1-4 hours
      spanMs: Long = 10000L,       // processing time one batch covers
      startMs: Long = Instant.parse("2024-03-01T23:50:00Z").toEpochMilli)

  /** Cumulative kind shares. */
  val Kinds: Seq[(String, Double)] =
    Seq("click" -> 0.35, "view" -> 0.75, "purchase" -> 0.85, "signup" -> 0.93, "error" -> 1.0)

  def json(e: LiveEvent): String =
    s"""{"event_id":${e.id},"user_id":${e.user},"event_type":"${e.kind}",""" +
    s""""ts":"${Instant.ofEpochMilli(e.procMs)}","event_time":"${Instant.ofEpochMilli(e.eventMs)}"}"""

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampType),
    StructField("event_time", TimestampType)))

  /** SHA-256 over the first `batches` batches' JSON lines. */
  def digest(seed: Long, batches: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val g = new LiveGen(seed)
    (0 until batches).foreach(_ => g.next().foreach(e => md.update((json(e) + "\n").getBytes("UTF-8"))))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Brute-force segment membership from the delivered events: users with at
  * least `minCount` distinct click ids, with their latest click event time. */
final class LiveReference(seg: SegmentDef) {
  private val ids = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
  private val lastMs = mutable.HashMap.empty[Long, Long]

  /** Adds a batch; returns the number of users it touched. */
  def add(batch: Seq[LiveEvent]): Int = {
    val touched = mutable.HashSet.empty[Long]
    batch.filter(_.kind == seg.eventType).foreach { e =>
      ids.getOrElseUpdate(e.user, mutable.HashSet.empty) += e.id
      lastMs(e.user) = math.max(lastMs.getOrElse(e.user, Long.MinValue), e.eventMs)
      touched += e.user
    }
    touched.size
  }

  /** user -> last event time in whole seconds (`unix_timestamp`). */
  def members: Map[Long, Long] =
    ids.collect { case (u, s) if s.size >= seg.minCount => u -> Math.floorDiv(lastMs(u), 1000L) }.toMap

  def users: Int = ids.size
}

object Live {
  val Seg = SegmentDef("click", 12)
  val CompactEvery = 10

  def run(spark: SparkSession, tr: Tracer, out: Outcome, work: String, seed: Long,
          seconds: Double, inject: Boolean): Unit = {
    val warmBatches = 3
    def pipeline(dir: String) = new MicroBatchPipeline(spark, Seg, StateStorePaths(dir),
      eventTimeCol = Some("event_time"))

    /** One micro-batch, events handed to Ingest until members() is read. */
    def batch(pipe: MicroBatchPipeline, g: LiveGen, i: Int, events: Seq[LiveEvent])
        : (Array[org.apache.spark.sql.Row], Double, Double, Double) = {
      val lines = events.map(LiveGen.json)
      val t0 = System.nanoTime()
      val ds = spark.createDataset(lines)(Encoders.STRING)
      val parsed = tr.span("sources.Ingest.jsonLines")(Ingest.jsonLines(spark, ds, LiveGen.Schema))
      val deduped = tr.span("sources.Ingest.dedupByMessageId")(Ingest.dedupByMessageId(parsed))
      val (lo, hi) = g.window(i)
      val t1 = System.nanoTime()
      tr.span("state.MicroBatchPipeline.processBatch")(pipe.processBatch(deduped, lo, hi))
      val t2 = System.nanoTime()
      val rows = tr.span("state.MicroBatchPipeline.members")(pipe.members().collect())
      val t3 = System.nanoTime()
      (rows, (t3 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }

    // warm-up on a throwaway store with its own stream: the first batches
    // pay class loading, codegen and JIT
    out.phase("warm") {
      out.warm("live.warm_batches") {
        val g = new LiveGen(seed ^ 0x5eed5eedL)
        val pipe = pipeline(s"$work/warm_store")
        (0 until warmBatches).foreach(i => batch(pipe, g, i, g.next()))
        pipe.compact(g.window(warmBatches)._1)
        pipe.members().collect()
      }
    }
    out.setupEnd()

    val g = new LiveGen(seed)
    val ref = new LiveReference(Seg)
    val pipe = pipeline(s"$work/store")
    val fresh, commit, readback = mutable.ArrayBuffer.empty[Double]
    var delivered, touchedTotal, membersTotal = 0L
    var compactions = 0
    var i = 0
    tr.clear()
    val loopStartMs = System.currentTimeMillis()
    val loop0 = System.nanoTime()
    while ((System.nanoTime() - loop0) / 1e9 < seconds) {
      val events = g.next()
      val (rows, f, c, r) = batch(pipe, g, i, events)
      delivered += events.size
      fresh += f; commit += c; readback += r
      touchedTotal += ref.add(events)
      membersTotal += rows.length
      val want = ref.members
      val got = rows.map(x => x.getLong(0) -> x.getLong(2)).toMap
      val seen = if (inject && i == 0) got.drop(1) else got
      out.check(s"batch $i", seen == want && rows.forall(_.getBoolean(1)),
        s"members: got ${seen.size}, want ${want.size}, differing ${
          (seen.toSet diff want.toSet).size + (want.toSet diff seen.toSet).size}")
      i += 1
      if (i % CompactEvery == 0) {
        tr.span("state.MicroBatchPipeline.compact")(pipe.compact(g.window(i)._1))
        compactions += 1
      }
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val loopEndMs = System.currentTimeMillis()

    out.operations(fresh.toSeq, Stats.mean(fresh.toSeq), delivered / loopS)
    out.details ++= Seq("op" -> "micro-batch freshness",
      "commit_p50_s" -> Stats.median(commit.toSeq), "readback_p50_s" -> Stats.median(readback.toSeq),
      "batches" -> i, "compactions" -> compactions, "events_delivered" -> delivered,
      "members_final" -> ref.members.size, "users_with_clicks" -> ref.users)

    if (tr.enabled) {
      val spans = tr.summary()
      Layers.report(out, spans)
      def records(name: String) = spans.get(name).map(_.inputRecords.toDouble).getOrElse(0.0)
      // the merge's only parquet read is the state table; the read-back's
      // only read is the assignment log
      out.metric("state.merge_records_per_touched_user",
        records("state.MicroBatchPipeline.processBatch") / math.max(1L, touchedTotal), "ratio")
      out.metric("state.readback_records_per_member",
        records("state.MicroBatchPipeline.members") / math.max(1L, membersTotal), "ratio")
      out.metric("state.store_files", storeFiles(s"$work/store").toDouble, "count")
      out.metric("busy_share", tr.taskSecondsBetween(loopStartMs, loopEndMs) /
        (loopS * spark.sparkContext.defaultParallelism), "ratio")
    }
  }

  private def storeFiles(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
    }
  }
}
