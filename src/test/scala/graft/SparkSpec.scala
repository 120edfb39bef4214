package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh temp dir per call, cleaned by JVM exit. */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  // 4 cores whatever the host: plan shapes and shuffle counts are pinned
  // against a 4-partition session (PlanShuffleCount measures the same)
  lazy val session: SparkSession = GraftSession(4)
}
