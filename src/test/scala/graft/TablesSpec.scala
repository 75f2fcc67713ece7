package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType

/** `Tables` resolves each source once per session: repeated reads start no
  * job, stay independently joinable, and a rewrite or a new session
  * resolves afresh.
  */
class TablesSpec extends SparkSpec {

  /** `body`'s result and the number of jobs started while it ran. */
  private def jobsDuring[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val n = new AtomicInteger
    val tap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerFlush.waitUntilEmpty(sc, 60000)
    sc.addSparkListener(tap)
    try {
      val r = body
      ListenerFlush.waitUntilEmpty(sc, 60000)
      (r, n.get)
    } finally sc.removeSparkListener(tap)
  }

  /** A new directory holding a copy of the fixture's `lineitem`. */
  private def lineitemCopy(): Path = {
    val d = tmpDir("tables")
    Files.copy(Paths.get(sfDir, "lineitem.parquet"),
      d.resolve("lineitem.parquet"))
    d
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("a second read of a table in the same session starts no job") {
    val d = lineitemCopy().toString
    val (_, first) = jobsDuring(spark)(Tables.lineitem(spark, d))
    val (again, second) = jobsDuring(spark)(Tables.lineitem(spark, d))
    first should be >= 1
    second shouldBe 0
    rows(again) shouldBe rows(spark.read.parquet(s"$d/lineitem.parquet"))
  }

  test("two reads of one table join on their own columns") {
    def joined(l1: DataFrame, l2: DataFrame): DataFrame =
      l1.filter(col("l_quantity") < 10)
        .join(l2, l1("l_orderkey") === l2("l_orderkey"))
        .select(l1("l_orderkey"), l1("l_linenumber"),
          l2("l_linenumber").as("l2_linenumber"))
    val bare = s"$sfDir/lineitem.parquet"
    val want = rows(joined(spark.read.parquet(bare), spark.read.parquet(bare)))
    want should not be empty
    rows(joined(Tables.lineitem(spark, sfDir),
      Tables.lineitem(spark, sfDir))) shouldBe want
  }

  test("a table rewritten at the same path is read afresh in the session") {
    val d = lineitemCopy()
    val file = d.resolve("lineitem.parquet")
    val before = Tables.lineitem(spark, d.toString).count()
    val out = tmpDir("rewrite").resolve("few").toString
    spark.read.parquet(file.toString).filter(col("l_quantity") < 10)
      .coalesce(1).write.parquet(out)
    val want = rows(spark.read.parquet(out))
    val part = Files.list(Paths.get(out)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    val after = Tables.lineitem(spark, d.toString)
    rows(after) shouldBe want
    want.size should be < before.toInt
  }

  test("events.ts is a TimestampType on a cache hit") {
    // under nanosAsLong a TIMESTAMP(NANOS) column reads as ns Longs,
    // which is what this fixture stores
    val d = tmpDir("events").toString
    spark.range(5)
      .select(col("id").as("event_id"),
        (col("id") * 86400000000000L + 123456789L).as("ts"))
      .coalesce(1).write.parquet(s"$d/events.parquet")
    val first = Tables.events(spark, d)
    val (hit, jobs) = jobsDuring(spark)(Tables.events(spark, d))
    jobs shouldBe 0
    first.schema("ts").dataType shouldBe TimestampType
    hit.schema("ts").dataType shouldBe TimestampType
    rows(hit) shouldBe rows(first)
  }

  test("a single file's identity is path|length|mtime, as artifact keys had it") {
    val f = new java.io.File(s"$sfDir/documents.parquet")
    Tables.sourceIdentity(spark, f.getPath) shouldBe
      s"${f.getAbsolutePath}|${f.length}|${f.lastModified}"
  }

  test("a missing table still fails with Spark's path error") {
    val e = intercept[AnalysisException](
      Tables.lineitem(spark, tmpDir("empty").toString))
    e.getMessage should include("lineitem.parquet")
  }

  test("a new session does not serve a stopped session's relation") {
    val d = lineitemCopy().toString
    val old = spark
    val want = rows(Tables.lineitem(old, d))
    old.stop()
    val fresh = spark
    fresh should not be theSameInstanceAs(old)
    val (df, jobs) = jobsDuring(fresh)(Tables.lineitem(fresh, d))
    jobs should be >= 1
    rows(df) shouldBe want
  }
}
