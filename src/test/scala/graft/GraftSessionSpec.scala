package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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
