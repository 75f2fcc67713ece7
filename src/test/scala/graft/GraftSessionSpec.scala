package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.SparkListener

/** A listener installed through `spark.extraListeners`; counts the contexts
  * that started with it.
  */
class GraftSessionSpecListener extends SparkListener {
  GraftSessionSpecListener.started.incrementAndGet()
}

object GraftSessionSpecListener {
  val started = new AtomicInteger
}

/** `GraftSession.create` is the one session policy every main runs under. */
class GraftSessionSpec extends SparkSpec {

  test("a created session carries the session policy and the native SQL functions") {
    withNewSession() { s =>
      s should not be theSameInstanceAs(spark)
      s.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      s.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
      s.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
      s.sparkContext.getConf.get("spark.ui.enabled") shouldBe "false"
      plans.ScaleLint.mode(s) shouldBe "off"
      s.sql("SELECT size(minhash_sig(array('x', 'y'), 8))").head().getInt(0) shouldBe 8
    }
  }

  test("a conf override wins over the policy") {
    withNewSession("spark.sql.shuffle.partitions" -> "8") { s =>
      s.conf.get("spark.sql.shuffle.partitions") shouldBe "8"
    }
    withNewSession(plans.ScaleLint.ConfKey -> "fail") { s =>
      plans.ScaleLint.mode(s) shouldBe "fail"
    }
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
  }

  test("matching static settings reuse the running context") {
    val sc = spark.sparkContext
    withNewSession() { s =>
      s.sparkContext should be theSameInstanceAs sc
    }
    GraftSession.create("graft-test-other-app", 4).sparkContext should be theSameInstanceAs sc
    sc.isStopped shouldBe false
  }

  test("a reused context gets no warning that its settings may not take effect") {
    val sc = spark.sparkContext
    val warnings = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-session-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(s"${e.getLevel} ${e.getLoggerName}: " +
          e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try GraftSession.create("graft-test-reuse", 4).sparkContext should
      be theSameInstanceAs sc
    finally { root.removeAppender(capture); capture.stop() }
    warnings.asScala.filter(_.contains("Using an existing Spark session")) shouldBe empty
  }

  test("a different master starts a new context and stops the old one") {
    val old = spark.sparkContext
    val s = GraftSession.create("graft-test-master", 2)
    try {
      s.sparkContext should not be theSameInstanceAs(old)
      s.sparkContext.master shouldBe "local[2]"
      old.isStopped shouldBe true
    } finally s.stop()
  }

  test("a spark.extraListeners system property starts a context that carries it; " +
      "clearing it starts another") {
    val key = "spark.extraListeners"
    val old = spark.sparkContext
    val before = GraftSessionSpecListener.started.get
    System.setProperty(key, classOf[GraftSessionSpecListener].getName)
    val traced = try GraftSession.create("graft-test", 4).sparkContext
    finally System.clearProperty(key)
    traced should not be theSameInstanceAs(old)
    old.isStopped shouldBe true
    traced.getConf.get(key) shouldBe classOf[GraftSessionSpecListener].getName
    GraftSessionSpecListener.started.get shouldBe before + 1
    // without the property the traced context is not what a new one would
    // start with: the next session gets a context without the listener
    spark.sparkContext should not be theSameInstanceAs(traced)
    traced.isStopped shouldBe true
    spark.sparkContext.getConf.getOption(key) shouldBe None
    GraftSessionSpecListener.started.get shouldBe before + 1
  }

  test("a runtime conf keeps the context and applies to the new session") {
    val sc = spark.sparkContext
    withNewSession("spark.sql.shuffle.partitions" -> "7",
        plans.ScaleLint.ConfKey -> "warn") { s =>
      s.sparkContext should be theSameInstanceAs sc
      s.conf.get("spark.sql.shuffle.partitions") shouldBe "7"
      plans.ScaleLint.mode(s) shouldBe "warn"
    }
    sc.isStopped shouldBe false
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    plans.ScaleLint.mode(spark) shouldBe "off"
  }

  test("no main builds its own session: only GraftSession calls SparkSession.builder") {
    val main = Paths.get("src", "main")
    Files.isDirectory(main) shouldBe true
    val builders = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder"))
      .map(p => main.relativize(p).toString).toSeq
    builders shouldBe Seq(Paths.get("scala", "graft", "GraftSession.scala").toString)
  }
}
