package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM, forked by sbt); a
  * spec that stops it gets a new one on the next call.
  */
object SparkTestSession {
  private var session: SparkSession = _

  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped) {
      session = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      session.sparkContext.setLogLevel("WARN")
      graft.plans.LogHygiene.suppressBoundedWindowWarn()
    }
    session
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  def spark: SparkSession = SparkTestSession.spark
  def sfDir: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }
}
