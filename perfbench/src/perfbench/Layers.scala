package perfbench

/** The per-layer metrics of a traced run. Every traced run reports all of
  * them, whatever its workload; a span the workload never opens reads 0.
  * Every span that was opened, listed here or not, also goes to the run's
  * details with its full accounting. */
object Layers {
  /** Spans with the full accounting. */
  val FullSpans: Seq[String] = Seq(
    "state.MicroBatchPipeline.processBatch",
    "state.MicroBatchPipeline.members",
    "state.MicroBatchPipeline.compact") ++
    Contract.Families.map(f => s"SparkEntry.$f")

  /** Lazy calls: they only build a plan, so only wall time and jobs. */
  val LazySpans: Seq[String] = Seq(
    "sources.Ingest.jsonLines",
    "sources.Ingest.dedupByMessageId")

  /** Metrics a workload computes itself, beside the span accounting. */
  val Derived: Seq[(String, String)] = Seq(
    "state.merge_records_per_touched_user" -> "ratio",
    "state.readback_records_per_member" -> "ratio",
    "state.store_files" -> "count",
    "busy_share" -> "ratio")

  private val zero = new Tracer.SpanStats

  def report(out: Outcome, spans: Map[String, Tracer.SpanStats]): Unit = {
    def put(name: String, keep: String => Boolean): Unit =
      spans.getOrElse(name, zero).perCall.foreach { case (field, v, unit) =>
        if (keep(field)) out.metric(s"$name.$field", v, unit)
      }
    FullSpans.foreach(put(_, _ => true))
    LazySpans.foreach(put(_, Set("wall_s", "jobs")))
    Derived.foreach { case (n, u) => if (!out.metrics.contains(n)) out.metric(n, 0.0, u) }
    out.details("spans") = spans.map { case (name, st) =>
      name -> (("calls" -> st.calls.toDouble) +: st.perCall.map { case (f, v, _) => f -> v }).toMap
    }
  }

  /** Every per-layer metric name with its unit, in report order. */
  def names: Seq[(String, String)] = {
    val o = new Outcome(0L)
    report(o, Map.empty)
    o.metrics.toSeq.map { case (n, (_, u)) => n -> u } ++
      Seq("setup.session_s" -> "s", "setup.generate_s" -> "s", "setup.warm_s" -> "s",
          "traced.op_mean_s" -> "s")
  }
}
