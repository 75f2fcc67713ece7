package graft.plans

import graft.SparkSpec

/** The native expressions are registered as SQL functions via
  * SparkSessionExtensions, which every `GraftSession` (the shared test
  * session too) injects from `registrations`.
  */
class ExtensionsSpec extends SparkSpec {

  test("native functions callable from SQL after registration") {
    val r = spark.sql(
      """SELECT
        |  float_vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        |  simhash64(array('a','b','c')) AS sh,
        |  minhash_sig(array('x','y'), 4) AS sig,
        |  word_shingles('a b c d', 2) AS shingles,
        |  lsh_buckets(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4, 1, 2) AS lsh
        |""".stripMargin).collect()(0)
    r.getDouble(0) shouldBe 11.0
    r.getSeq[Long](2).length shouldBe 4
    r.getSeq[String](3) shouldBe Seq("a b", "b c", "c d")
    val lsh = r.getSeq[Long](4)
    lsh.length shouldBe 2                       // one bucket per seed
    all(lsh) should (be >= 0L and be < 16L)     // 4-bit buckets
  }

  test("extension class exposes the same registrations for spark.sql.extensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; registrations wired
    GraftExtensions.registrations.map(_._1).toSet shouldBe
      Set("float_vec_dot", "simhash64", "minhash_sig", "word_shingles",
        "lsh_buckets")
  }
}
