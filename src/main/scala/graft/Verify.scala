package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The dump loop and
  * oracle writer are factored out so SimGateSpec can run the same end-to-end
  * gate in-process (without main's spark.stop()). */
object Verify {
  /** Runs every selected query against `sfDir`, writing one parquet dir per
    * query under `outDir` plus `<name>_FAILED.txt` markers; returns the
    * failures. A failing query must be LOUD in the artifacts, not just
    * stderr — an absent oracle row can never read as "not checked" (r06
    * silently shrank the correctness file from 134 to 82 entries this way). */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
                  only: Set[String] = Set.empty): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          errors(name) = msg.linesIterator.take(1).mkString.take(300)
          System.err.println(s"[verify] $name FAILED: $msg")
          Files.writeString(Paths.get(s"$outDir/${name}_FAILED.txt"), msg + "\n")
        }
      }
    scala.collection.immutable.ListMap(errors.toSeq: _*)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dumps SparkEntry.oracleSql (re-evaluated NOW — data-dependent oracles
    * cache their learned constants when the query runs, so call this AFTER
    * [[dumpQueries]]) as `outDir/oracle_sql.json`. */
  def writeOracleJson(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: restrict the dump to these query names (dev use)
    val only = args.drop(2).toSet
    val spark = GraftSession()
    val errors = dumpQueries(spark, sfDir, outDir, only)
    writeOracleJson(outDir)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
