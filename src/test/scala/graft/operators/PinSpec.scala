package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `Pin` is the one observe-on-pin primitive: an eager local checkpoint
  * whose pin job also delivers the caller's metrics.
  */
class PinSpec extends SparkSpec {

  test("a pin holds the stored rows as a checkpoint leaf and returns the " +
      "metrics its job observed") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)).toDF("id", "x")
    val p = Pin(df.filter(col("id") > 1), "PinSpec",
      Seq(count(lit(1)).as("n"), max(col("x")).as("top")),
      _.select(col("id")))
    p.long("n") shouldBe 2L
    p.metrics.getAs[Double]("top") shouldBe 6.0
    p.frame.columns.toSeq shouldBe Seq("id")
    p.frame.queryExecution.logical shouldBe a[LogicalRDD]
    p.frame.as[Long].collect().sorted shouldBe Array(2L, 3L)
  }

  test("a metric whose aggregate is NULL reads as null, not 0") {
    val sp = spark; import sp.implicits._
    val p = Pin(Seq.empty[(Long, Double)].toDF("id", "x"), "PinSpec",
      Seq(count(lit(1)).as("n"), avg(col("x")).as("mean")))
    p.long("n") shouldBe 0L
    p.metrics.getAs[java.lang.Double]("mean") shouldBe null
  }

  test("source scan: observations live only in Pin, and PipelineMain " +
      "neither persists nor caches") {
    val main = Paths.get("src", "main")
    Files.isDirectory(main) shouldBe true
    val sources = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (main.relativize(p).toString,
        new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq
    sources.collect {
      case (p, src) if src.contains("Observation(") || src.contains(".observe(") => p
    } shouldBe Seq(Paths.get("scala", "graft", "operators", "Pin.scala").toString)
    val pipeline = sources.collectFirst {
      case (p, src) if p == Paths.get("scala", "graft", "PipelineMain.scala").toString => src
    }.get
    Seq("persist(", "cache(", "unpersist(").filter(pipeline.contains) shouldBe empty
  }
}
