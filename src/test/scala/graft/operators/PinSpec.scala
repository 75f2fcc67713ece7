package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge

import graft.SparkSpec

/** `Pin` is the one pin primitive: an eager local checkpoint whose pin job
  * also delivers the caller's metrics, and whose leaf reports the measured
  * size of its blocks.
  */
class PinSpec extends SparkSpec {

  /** Ten rows whose plan (an inner join of two 20k-row ranges) Catalyst
    * estimates at the product of its sides' sizes.
    */
  private def tenRows: DataFrame =
    spark.range(0, 20000).toDF("id")
      .join(spark.range(0, 20000).filter(col("id") < 10).toDF("id"), "id")

  /** The physical plan adaptive execution starts from, before any stage
    * has run and re-planned it.
    */
  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

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

  test("a pin's statistics are its checkpoint's block bytes, far below " +
      "the estimate of the plan it replaced") {
    val raw = tenRows
    val p = Pin(raw)
    val rdd = p.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    val size = p.queryExecution.optimizedPlan.stats.sizeInBytes
    size shouldBe BigInt(DatasetBridge.blockBytes(rdd))
    size should be > BigInt(0)
    size should be < BigInt(spark.sessionState.conf.autoBroadcastJoinThreshold)
    raw.queryExecution.optimizedPlan.stats.sizeInBytes should be > size * 1000000
    size should be < BigInt(spark.sessionState.conf.defaultSizeInBytes) / 1000000
    // the status store, fed by the listener bus, saw the same blocks
    ListenerFlush.waitUntilEmpty(spark.sparkContext, 30000)
    val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id).get
    BigInt(info.memSize + info.diskSize) shouldBe size
  }

  test("a join with a small pin plans a broadcast up front, with no " +
      "shuffle over the pinned leaf") {
    // 16 MB estimated: too big to broadcast itself
    val big = spark.range(0, 2000000).toDF("id")
    val plan = initialPlan(big.join(Pin(tenRows), "id"))
    plan.collect { case j: BroadcastHashJoinExec => j } should have size 1
    plan.collect { case e: ShuffleExchangeExec => e } shouldBe empty
    // a bare checkpoint leaf keeps the replaced plan's estimate: the same
    // join starts as a sort-merge join that shuffles both sides
    val bare = initialPlan(big.join(tenRows.localCheckpoint(), "id"))
    bare.collect { case j: SortMergeJoinExec => j } should have size 1
    bare.collect { case e: ShuffleExchangeExec => e } should have size 2
    big.join(Pin(tenRows), "id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted shouldBe (0L until 10L).toArray
  }

  test("the metric-free form leaves a pin under renames as it is and " +
      "pins a computed column or an unstored leaf") {
    val p = Pin(tenRows)
    val renamed = p.select(col("id").as("k"))
    Pin(renamed) should be theSameInstanceAs renamed
    val computed = p.withColumn("k", col("id") + 1)
    Pin(computed) should not be theSameInstanceAs(computed)
    Pin(computed).queryExecution.logical shouldBe a[LogicalRDD]
    // a leaf over an RDD that stores no rows re-runs its lineage
    val unstored = DatasetBridge.pinShuffle(tenRows)
    Pin(unstored) should not be theSameInstanceAs(unstored)
  }

  test("a pin's jobs carry the call site of Pin's caller") {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => sites.add(s.name))
    }
    spark.sparkContext.addSparkListener(tap)
    try {
      Pin(tenRows)
      ListenerFlush.waitUntilEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(tap)
    sites.asScala.toSet should not be empty
    all(sites.asScala.toSet) should startWith("localCheckpoint at PinSpec.scala:")
    spark.sparkContext.getLocalProperty("callSite.short") shouldBe null
  }

  /** Every main source file, as (path under src/main, text). */
  private def mainSources: Seq[(String, String)] = {
    val main = Paths.get("src", "main")
    Files.isDirectory(main) shouldBe true
    Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (main.relativize(p).toString,
        new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq
  }

  private val pinSource = Paths.get("scala", "graft", "operators", "Pin.scala").toString

  test("source scan: observations live only in Pin, and PipelineMain " +
      "neither persists nor caches") {
    val sources = mainSources
    sources.collect {
      case (p, src) if src.contains("Observation(") || src.contains(".observe(") => p
    } shouldBe Seq(pinSource)
    val pipeline = sources.collectFirst {
      case (p, src) if p == Paths.get("scala", "graft", "PipelineMain.scala").toString => src
    }.get
    Seq("persist(", "cache(", "unpersist(").filter(pipeline.contains) shouldBe empty
  }

  test("source scan: checkpoints live only in Pin") {
    mainSources.collect { case (p, src) if src.contains("localCheckpoint(") => p } shouldBe
      Seq(pinSource)
  }
}
