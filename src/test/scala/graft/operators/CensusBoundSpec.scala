package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** r19 pins for the exact-set collapse hardening (r18 VERDICT task 5 +
  * ADVICE): the bucketed census bounds row width at any class size, an
  * empty side folds to the trivial collapse instead of NPEing the
  * streaming sink, the keyed-append path caps STANDING band-key df, and
  * phantomRepStats sees tombstoned appended docs.
  */
class CensusBoundSpec extends SparkSpec {

  test("count-only census stays exact on a planted 10^6-member identical class") {
    val sp = spark; import sp.implicits._
    val m = 1000 * 1000
    // 10^6 byte-identical docs (one giant exact-set class) + a distinct
    // tail. The r20 census is count-only (min/count per class key): row
    // width is fixed at ANY class size by construction — no id list ever
    // materializes — so the pin is exact counts, not a chunk-width bound.
    val sh = (0 until 12).map(i => s"giant$i")
    val docs = spark.range(m)
      .select(col("id").as("doc_id"), typedLit(sh).as("sh"))
      .unionByName(Seq((5000000L, (0 until 12).map(i => s"tail$i")))
        .toDF("doc_id", "sh"))
    val (maxClass, classes) = NearDup.censusStats(docs)
    maxClass shouldBe m.toLong
    classes shouldBe 2L
  }

  test("census bucketing keeps collapse exact: pairs on a planted class match brute expectations") {
    val sp = spark; import sp.implicits._
    // a 7-member identical class + its near-dup + unrelated: within-class
    // pairs all 1.0, cross pairs expand to every member
    val base = (0 until 30).map(i => s"w$i")
    val docs = ((1L to 7L).map(i => (i, base)) :+
      (10L, base.tail :+ "CHANGED") :+
      (20L, (0 until 30).map(i => s"z$i"))).toDF("doc_id", "sh")
    val pairs = NearDup.jaccardPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val within = (for (a <- 1L to 7L; b <- 1L to 7L if a < b) yield (a, b)).toSet
    val cross = (1L to 7L).map(a => (a, 10L)).toSet
    pairs shouldBe (within ++ cross)
  }

  test("empty side folds to the trivial collapse — no NPE on a poison-pill batch (r18 ADVICE)") {
    val sp = spark; import sp.implicits._
    val shA = (0 until 20).map(i => s"alpha$i")
    val idx = NearDup.buildBandIndex(Seq((100L, shA)).toDF("doc_id", "sh"))
    // a micro-batch whose every doc filters to empty shingles
    val empty = Seq((1L, Seq.empty[String])).toDF("doc_id", "sh")
    NearDup.matchAgainstBandIndex(empty, idx).count() shouldBe 0L
    // batch-side kernels on an all-empty corpus
    NearDup.jaccardPairs(empty).count() shouldBe 0L
    // an EMPTY STATIC side through the index builder
    val emptyIdx = NearDup.buildBandIndex(
      Seq.empty[(Long, Seq[String])].toDF("doc_id", "sh"))
    NearDup.matchAgainstBandIndex(
      Seq((1L, shA)).toDF("doc_id", "sh"), emptyIdx).count() shouldBe 0L
  }

  test("keyed appends cap STANDING band-key df and stay replay-idempotent (r18 ADVICE)") {
    val sp = spark; import sp.implicits._
    val shA = (0 until 20).map(i => s"alpha$i")
    val dir = tmpDir("graft_append_cap").toString
    NearDup.saveBandIndex(Seq((100L, shA)).toDF("doc_id", "sh"), dir)
    val baseBanded = spark.read.parquet(s"$dir/banded").count()
    baseBanded should be > 0L

    // batch b0: 3 identical-to-corpus docs — accumulated df per key is
    // base(1) + 3 = 4 = cap, kept in full
    val b0 = Seq((10L, shA), (11L, shA), (12L, shA)).toDF("doc_id", "sh")
    NearDup.appendToBandIndexKeyed(b0, spark, dir, "b0", maxBandDf = 4)
    val b0Banded = spark.read.parquet(s"$dir/appends/b0/banded").count()
    b0Banded shouldBe 3 * baseBanded

    // batch b1: 3 more of the same clique — every key now over cap, so
    // b1's banded rows trim to zero (docs still land: declared trim
    // semantics, the doc is simply not band-matchable)
    val b1 = Seq((20L, shA), (21L, shA), (22L, shA)).toDF("doc_id", "sh")
    NearDup.appendToBandIndexKeyed(b1, spark, dir, "b1", maxBandDf = 4)
    spark.read.parquet(s"$dir/appends/b1/banded").count() shouldBe 0L
    spark.read.parquet(s"$dir/appends/b1/docs").count() shouldBe 3L

    // standing df per band key never exceeds cap + one batch's worth
    val allBanded = spark.read.parquet(s"$dir/banded",
      s"$dir/appends/b0/banded", s"$dir/appends/b1/banded")
    val maxDf = allBanded.groupBy(col("bandKey"))
      .agg(count(lit(1)).as("df")).agg(max(col("df"))).collect()(0).getLong(0)
    maxDf should be <= 4L

    // at-least-once replay of b0 REWRITES its subtree under the same cap
    // decision (its own prior rows are excluded from the standing count)
    NearDup.appendToBandIndexKeyed(b0, spark, dir, "b0", maxBandDf = 4)
    spark.read.parquet(s"$dir/appends/b0/banded").count() shouldBe b0Banded

    // capped docs remain loadable; b0 docs still match through bands
    val idx = NearDup.loadBandIndex(spark, dir)
    idx.docs.count() shouldBe 7L
    val matches = NearDup.matchAgainstBandIndex(
        Seq((30L, shA)).toDF("doc_id", "sh"), idx)
      .select(col("matched_id")).collect().map(_.getLong(0)).toSet
    matches should contain allOf (100L, 10L, 11L)
  }

  test("phantomRepStats counts tombstoned APPENDED docs (r18 ADVICE)") {
    val sp = spark; import sp.implicits._
    val shA = (0 until 20).map(i => s"alpha$i")
    val shB = (0 until 20).map(i => s"beta$i")
    val dir = tmpDir("graft_phantom_app").toString
    NearDup.saveBandIndex(
      Seq((100L, shA), (200L, shB)).toDF("doc_id", "sh"), dir)
    NearDup.appendToBandIndexKeyed(
      Seq((300L, (0 until 20).map(i => s"gamma$i"))).toDF("doc_id", "sh"),
      spark, dir, "b0")
    NearDup.phantomRepStats(spark, dir) shouldBe ((0L, 3L))
    // tombstone the APPENDED doc: its identity rep is now fully dead —
    // r18 read only the base member table and reported 0 phantoms here
    Tombstones.deleteIds(dir, Seq(300L).toDF("doc_id"))
    NearDup.phantomRepStats(spark, dir) shouldBe ((1L, 3L))
  }

  test("an observation whose plan never ran fails with the operator's " +
      "name instead of blocking") {
    val sp = spark; import sp.implicits._
    val obs = org.apache.spark.sql.Observation("neverRan")
    Seq(1L, 2L).toDF("x").observe(obs, count(lit(1)).as("n")) // no action
    val e = intercept[IllegalStateException](Observed.row(obs,
      "CensusBoundSpec", scala.concurrent.duration.Duration(200, "ms")))
    e.getMessage should (include("CensusBoundSpec") and include("neverRan"))
    // the same read after an action returns the metric
    val ran = org.apache.spark.sql.Observation("ran")
    Seq(1L, 2L).toDF("x").observe(ran, count(lit(1)).as("n")).collect()
    Observed.row(ran, "CensusBoundSpec").getAs[Long]("n") shouldBe 2L
  }
}
