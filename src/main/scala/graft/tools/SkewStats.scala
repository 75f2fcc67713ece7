package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{HammingBands, Pin}

/** Skew probe for the hot-key classes the planted-skew stress targets
  * (SCALE.md §skew): one JSON line of the fixture's ACTUAL skew numbers —
  * the evidence behind cap defaults (HammingBands.DefaultMaxBandDf,
  * NearDup maxDf) and the input to per-family verdicts.
  *
  *   - simhash: distinct 64-bit sketches, largest exact-hash class, and
  *     the hottest 16-bit band key over DISTINCT hashes (what the
  *     banded self-join actually fans out on after pre-collapse)
  *   - phash: same three numbers for the picture table's dHashes
  *   - span: the hottest 50-token window key df (what maxDf caps)
  *   - join: the hottest l_suppkey share of lineitem rows
  *
  * Usage: runMain graft.tools.SkewStats <sfDir>
  */
object SkewStats {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SkewStats <sfDir>")
    val dir = args(0)
    val spark = graft.GraftSession.create("graft-skew-stats", graft.GraftSession.cpus(32))

    def hashStats(hashed: org.apache.spark.sql.DataFrame, bands: Int)
        : (Long, Long, Long) = {
      val classes = hashed.groupBy(col("h")).agg(count(lit(1)).as("m"))
        .agg(count(lit(1)), max(col("m"))).collect()(0)
      val maxDf = HammingBands.overCapBandKeys(hashed, bands, 0, 1)
        .agg(max(col("df"))).collect()(0)
      (classes.getLong(0), classes.getLong(1),
        if (maxDf.isNullAt(0)) 0L else maxDf.getLong(0))
    }

    val docs = graft.Tables.documents(spark, dir)
    val simHashed = Pin(docs.select(col("doc_id").as("id"),
      graft.functions.TextFunctions.simHash(col("text")).as("h")))
    val (simDistinct, simMaxClass, simMaxBandDf) = hashStats(simHashed, 4)
    // Trim-exposure budget: the pair mass the df cap declines to
    // generate, as a share of all distinct-hash pairs — the gate asserts
    // it stays below a declared fraction so a fixture change cannot
    // silently trade recall for the cap.
    val (simOverKeys, simExposure, simExposureShare) =
      HammingBands.trimExposure(simHashed, 4)

    val phHashed = Pin(graft.operators.Multimodal.hashMedia(
        graft.operators.Multimodal.pictureTable(spark, dir))
      .select(col("media_id").as("id"), col("ph").as("h")))
    val (phDistinct, phMaxClass, phMaxBandDf) = hashStats(phHashed,
      graft.operators.Multimodal.PhashBands)
    val (phOverKeys, phExposure, phExposureShare) = HammingBands.trimExposure(
      phHashed, graft.operators.Multimodal.PhashBands)

    val spanMaxDf = docs
      .select(explode(graft.functions.TextFunctions.wordShingles(
        col("text"), graft.operators.NearDup.DefaultSpanTokens)).as("w"))
      .groupBy(xxhash64(col("w"))).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    // span-family trim-exposure (r18 task 5): the window-key df cap gets
    // the same ≤1% budget simhash/phash already carry
    val (spanOverKeys, spanExposure, spanExposureShare) =
      graft.operators.NearDup.spanTrimExposure(docs)
    // minhash band-key trim-exposure (r18 — the skew gate's clique find):
    // the LSH family's new df cap, budgeted like the rest
    val (mhOverKeys, mhExposure, mhExposureShare) =
      graft.operators.NearDup.minhashTrimExposure(docs.select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh")))

    // exact-set census (r20): the production census is count-only
    // (fixed-width rows at any class size); the gate records the
    // fixture's largest identical-set class and class count so a fixture
    // change that plants a giant class is visible
    val (censusMaxClass, censusClasses) = graft.operators.NearDup
      .censusStats(docs.select(col("doc_id"),
        graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh")))

    val li = graft.Tables.lineitem(spark, dir)
    val joinHot = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("maxn"), sum(col("n")).as("total")).collect()(0)
    val hotShare = joinHot.getLong(0).toDouble / math.max(1L, joinHot.getLong(1))

    println(s"""{"sf":"$dir","simhash_distinct":$simDistinct,""" +
      s""""simhash_max_class":$simMaxClass,""" +
      s""""simhash_max_band_df":$simMaxBandDf,""" +
      s""""simhash_overcap_keys":$simOverKeys,""" +
      s""""simhash_trim_exposure":$simExposure,""" +
      s""""simhash_trim_exposure_share":${f"$simExposureShare%.6f"},""" +
      s""""phash_distinct":$phDistinct,"phash_max_class":$phMaxClass,""" +
      s""""phash_max_band_df":$phMaxBandDf,""" +
      s""""phash_overcap_keys":$phOverKeys,""" +
      s""""phash_trim_exposure":$phExposure,""" +
      s""""phash_trim_exposure_share":${f"$phExposureShare%.6f"},""" +
      s""""span_max_df":$spanMaxDf,""" +
      s""""span_overcap_keys":$spanOverKeys,""" +
      s""""span_trim_exposure":$spanExposure,""" +
      s""""span_trim_exposure_share":${f"$spanExposureShare%.6f"},""" +
      s""""minhash_overcap_keys":$mhOverKeys,""" +
      s""""minhash_trim_exposure":$mhExposure,""" +
      s""""minhash_trim_exposure_share":${f"$mhExposureShare%.6f"},""" +
      s""""census_max_class":$censusMaxClass,""" +
      s""""census_classes":$censusClasses,""" +
      s""""join_hot_key_share":${f"$hotShare%.4f"}}""")
    spark.stop()
  }
}
