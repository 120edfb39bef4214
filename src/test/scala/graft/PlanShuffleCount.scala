package graft

/** Measures the shuffle-exchange count of each non-streaming contract query's
  * physical plan (sf0.001, a 4-core [[GraftSession]]; AQE stays on, and the
  * count is read from the INITIAL plan, since nothing is executed) and
  * REGENERATES the golden ledger PlanLintSpec pins against
  * (`src/test/resources/shuffle_golden.txt`),
  * printing a diff of every changed entry first — a legitimate plan change is
  * re-pinned by running this tool and committing the ledger diff it shows,
  * never by hand-editing numbers. Run: `Test/runMain graft.PlanShuffleCount`. */
object PlanShuffleCount {
  // shuffle exchanges only: hash/range/single-partition repartitions; a
  // BroadcastExchange is a different (cheap, build-side) animal
  private val ShuffleRe = "Exchange (hash|range|Single)".r

  def count(plan: String): Int = ShuffleRe.findAllIn(plan).length

  val goldenPath = "src/test/resources/shuffle_golden.txt"

  /** `goldenPath` resolved against the repo root — the nearest ancestor of
    * the process CWD containing `build.sbt` — so a run launched from any
    * subdirectory still reads/writes the SAME ledger the source tree holds,
    * instead of silently splitting between a CWD-relative path and the
    * (possibly stale) classpath copy. Falls back to the CWD-relative path
    * when no ancestor qualifies (e.g. a packaged run outside the repo). */
  def goldenFile(): java.io.File = {
    val start = new java.io.File(sys.props.getOrElse("user.dir", ".")).getAbsoluteFile
    Iterator.iterate(start)(_.getParentFile)
      .takeWhile(_ != null)
      .take(16)
      .find(d => new java.io.File(d, "build.sbt").isFile)
      .map(root => new java.io.File(root, goldenPath))
      .getOrElse(new java.io.File(goldenPath))
  }

  /** The pinned ledger: `name count` lines, sorted by name. Read from the
    * source tree when present (so a just-regenerated file is seen without a
    * recompile), falling back to the test classpath copy with a loud
    * warning — the classpath copy is only as fresh as the last compile. */
  def loadGolden(): Map[String, Int] = {
    val file = goldenFile()
    val src =
      if (file.isFile) Some(scala.io.Source.fromFile(file, "UTF-8"))
      else {
        System.err.println(s"[shufflecount] WARN: ${file.getPath} not found " +
          "on disk; pinning against the (possibly stale) classpath copy")
        Option(getClass.getResourceAsStream("/shuffle_golden.txt"))
          .map(scala.io.Source.fromInputStream(_, "UTF-8"))
      }
    src.fold(Map.empty[String, Int]) { s =>
      try s.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          l.split("\\s+") match {
            case Array(n, c) if c.forall(ch => ch.isDigit || ch == '-') =>
              n -> c.toInt
            case _ => throw new IllegalStateException(
              s"malformed ledger line in $goldenPath: '$l' (expected 'name count')")
          }
        }.toMap
      finally s.close()
    }
  }

  val streamingQueries = Set("seg_stream_equiv", "seg_stream_native",
    "seg_stream_stateful", "seg_retention_stream", "seg_stream_enrich",
    "seg_stream_attribution", "sessions_stream_closed")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(4)
    val prev = loadGolden()
    val measured = (for ((name, fn) <- SparkEntry.queries.toSeq
                         if !streamingQueries(name)) yield {
      val n = try count(fn(spark, "/root/testdata/sf0.001")
                          .queryExecution.executedPlan.toString)
              catch { case _: Throwable => -1 }
      name -> n
    }).toMap
    spark.stop()

    var changed = 0
    (prev.keySet ++ measured.keySet).toSeq.sorted.foreach { name =>
      (prev.get(name), measured.get(name)) match {
        case (Some(p), Some(m)) if m < 0 =>
          println(s"[shufflecount] ERROR   $name: measurement failed, keeping pin $p")
        case (None, Some(m)) if m < 0 =>
          println(s"[shufflecount] ERROR   $name: measurement failed and no " +
            "previous pin — left OUT of the ledger (PlanLintSpec will demand one)")
        case (Some(p), Some(m)) if p != m =>
          println(s"[shufflecount] CHANGED $name: $p -> $m"); changed += 1
        case (None, Some(m)) =>
          println(s"[shufflecount] NEW     $name: $m"); changed += 1
        case (Some(p), None) =>
          println(s"[shufflecount] REMOVED $name (was $p)"); changed += 1
        case _ => ()
      }
    }
    // measurement failures keep their previous pin (or stay out of the
    // ledger entirely when there is none) rather than poisoning it with -1
    val out = measured.flatMap { case (n, c) =>
      if (c >= 0) Some(n -> c) else prev.get(n).map(n -> _)
    }
    val body = ("# Pinned shuffle-exchange counts per contract query " +
      "(hash/range/single-partition; broadcasts excluded).\n" +
      "# Regenerate with: Test/runMain graft.PlanShuffleCount — commit the " +
      "diff it prints, never hand-edit.\n") +
      out.toSeq.sorted.map { case (n, c) => s"$n $c" }.mkString("", "\n", "\n")
    val dest = goldenFile()
    java.nio.file.Files.write(dest.toPath, body.getBytes("UTF-8"))
    println(s"[shufflecount] wrote ${out.size} entries to ${dest.getPath} " +
      s"($changed changed)")
  }
}
