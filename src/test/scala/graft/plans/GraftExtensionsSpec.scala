package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end test of the PRODUCTION injection route: a SparkSession built
  * through `GraftExtensions` must get the native SQL functions and all
  * three ScaleLint hooks without any explicit registration. The config
  * form (`spark.sql.extensions=graft.plans.GraftExtensions`) is a STATIC
  * conf read at SparkContext creation, which a shared-context test JVM
  * cannot exercise — so this spec builds its sessions through
  * `GraftSession.create`, which takes the equivalent public
  * `builder.withExtensions(new GraftExtensions)` route (same class, same
  * hooks; only the class-name parsing is Spark's own machinery).
  *
  * Constructing the extension sizes Spark's JVM-wide codegen cache (a
  * system property read by every new SparkConf) unless a size was set.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions route registers the native SQL functions") {
    withNewSession() { s =>
      val r = s.sql(
        """SELECT float_vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                                array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
                  size(word_shingles('a b c d', 3)) AS ns,
                  size(minhash_sig(array('x','y'), 16)) AS k
        """).collect()(0)
      r.getDouble(0) shouldBe 11.0 +- 1e-6
      r.getInt(1) shouldBe 2 // "a b c", "b c d"
      r.getInt(2) shouldBe 16
    }
  }

  test("injected physical lint fires at execution under AQE and non-AQE") {
    def offender(s: SparkSession) = {
      import s.implicits._
      (1 to 100).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
        .toDF("vec_id", "embedding")
        .repartition(2, col("vec_id")) // embedding rides the exchange
    }
    for (aqe <- Seq("true", "false"))
      withNewSession(
        "spark.sql.adaptive.enabled" -> aqe,
        ScaleLint.ConfKey -> "fail") { s =>
        val ex = intercept[Exception] { offender(s).collect() }
        val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
          .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
          .mkString("\n")
        withClue(s"aqe=$aqe: ") {
          msgs should include("float-vector payload")
        }
        // the blessed shape executes clean: ids-only shuffle, vectors
        // re-attach via broadcast
        import s.implicits._
        val e = (1 to 100).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
          .toDF("vec_id", "embedding")
        val ids = e.select(col("vec_id")).repartition(2, col("vec_id"))
        ids.join(broadcast(e), "vec_id").collect().length shouldBe 100
      }
  }

  test("injected logical lint flags a global window at plan time") {
    withNewSession(ScaleLint.ConfKey -> "fail") { s =>
      import s.implicits._
      val df = (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      val bad = df.select(org.apache.spark.sql.functions.ntile(4)
        .over(org.apache.spark.sql.expressions.Window.orderBy(col("v"))).as("q"))
      val ex = intercept[Exception] { bad.collect() }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
        .mkString("\n")
      msgs should include("global window")
    }
  }

  private val cacheKey = GraftExtensions.CodegenCacheKey

  /** Runs `f` with the cache-size property set to `v` (None: unset) and
    * restores what the JVM had afterwards.
    */
  private def withCacheProperty[A](v: Option[String])(f: => A): A = {
    val saved = Option(System.getProperty(cacheKey))
    def put(p: Option[String]): Unit =
      p.fold(System.clearProperty(cacheKey))(System.setProperty(cacheKey, _))
    put(v)
    try f finally put(saved)
  }

  test("constructing the extension sizes the codegen cache when no size is set") {
    withCacheProperty(None) {
      new GraftExtensions
      System.getProperty(cacheKey) shouldBe "384"
    }
  }

  test("constructing the extension leaves a user-set codegen cache size alone") {
    withCacheProperty(Some("1000")) {
      new GraftExtensions
      System.getProperty(cacheKey) shouldBe "1000"
    }
  }

  test("a fresh context built withExtensions gets the cache size; a builder .config wins") {
    def fresh(conf: (String, String)*): String = {
      val s = graft.GraftSession.create("graft-test-fresh", 2, conf: _*)
      try s.conf.get(cacheKey) finally s.stop()
    }
    withCacheProperty(None) {
      spark.stop() // the size is a static conf, read when a context starts
      fresh() shouldBe "384"
      fresh(cacheKey -> "200") shouldBe "200"
    }
  }
}
