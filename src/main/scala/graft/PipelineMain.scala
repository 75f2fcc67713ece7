package graft

import org.apache.spark.graft.ListenerFlush
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.{DedupClusters, Pin}

/** End-to-end LLM training-data pipeline over a documents table — the
  * engine's flagship composition, runnable:
  *
  *   sbt "runMain graft.PipelineMain <sfDir> <outDir>"
  *
  * Stages (each a declared operator elsewhere in the registry):
  *   0. expectations gate — refuse empty docs / duplicate ids up front
  *   1. exact dedup      — sha256 hash-groupBy, keep min doc_id
  *   2. near-dup dedup   — shingle MinHash → LSH bands → verified pairs →
  *                         connected components → keep each cluster's
  *                         best-quality member (ties to smallest id)
  *   3. quality filter   — length band + mean-token-length + punctuation
  *   3.5 decontamination — drop the eval split and any train doc sharing
  *                         a 3-token shingle with it (q_decontaminate)
  *   4. enrichment       — PII scrub, token counts, language-ID,
  *                         fingerprint, corpus-trained LM NLL score
  *   5. sequence packing — next-fit into 512-token context windows
  *   5.5 shard manifest  — GlobalIndex round-robin by token count,
  *                         balance ratio reported in the summary line
  *   6. write            — parquet partitioned by lang (+ pack manifest)
  *
  * Prints one JSON line of per-stage counts. Nothing collects to the
  * driver except those counters; every stage is the scale-shaped variant
  * (see SCALE.md). Each stage boundary is a [[Pin]]: the stage's count
  * rides its pin job, and every later query plans over the pinned blocks,
  * not the whole upstream pipeline.
  *
  * The session stays alive when `main` returns: the next run in the same
  * JVM reuses its SparkContext through [[GraftSession.create]] and with it
  * the generated code of the same plans. A standalone run's context stops
  * at JVM exit, through Spark's shutdown hook. Before returning, `main`
  * drains the listener bus, so a listener has seen every job of the run.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_pipeline_out")
    val spark = GraftSession.create("graft-pipeline", GraftSession.cpus(8))
    // session-ready to summary-line wall clock: the pipeline bench anchor
    // (BASELINE.md) reads this, so it excludes sbt/JVM/session startup
    val tStart = System.nanoTime()

    val docs = Tables.documents(spark, sfDir)

    // 0. pre-flight expectations gate (the q_expectations shape): the
    // pipeline refuses obviously-broken input instead of writing garbage.
    // One narrow aggregate — no payload moves — which also supplies the
    // input count (no separate docs.count() scan). coalesce: on EMPTY
    // input sum() is NULL, and the gate must still report cleanly.
    val gate = docs.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("n_chars") <= 0, 1L).otherwise(0L)), lit(0L))
        .as("empty_docs"),
      (count(lit(1)) - count_distinct(col("doc_id"))).as("dup_ids")).head()
    val total = gate.getLong(0)
    require(gate.getLong(1) == 0 && gate.getLong(2) == 0,
      s"input fails the expectations gate: ${gate.getLong(1)} empty docs, " +
        s"${gate.getLong(2)} duplicate doc_ids")

    // 1. exact dedup (only the digest + id shuffle). Pinned: the stage
    // output feeds the shingle pipeline, the anti-join and the write —
    // without the pin the groupBy+join lineage would re-execute for each.
    val exactKeep = docs
      .groupBy(sha2(col("text").cast("binary"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exactPin = Pin(exactKeep.join(docs, "doc_id"), "PipelineMain.exact",
      Seq(count(lit(1)).as("n")))
    val afterExact = exactPin.frame
    val nExact = exactPin.long("n")

    // 2. near-dup dedup: the shared MinHash/LSH + Jaccard pipeline
    //    (operators.NearDup — same parameters as q_dedup_minhash_lsh) →
    //    connected components → keep each cluster's BEST-QUALITY member
    //    (q_dedup_clusters_best rule: quality argmax, ties to min id —
    //    a dedup pass should keep the best page, not an arbitrary one).
    //    components() runs once; keeper selection reuses its labels.
    val withShingles = afterExact
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
    val verified = graft.operators.NearDup.verifiedPairs(withShingles)
      .select("id_a", "id_b")
    val labels = Pin(DedupClusters.components(verified))
    val keepers = DedupClusters.keepersByLabels(labels,
        afterExact.select(col("doc_id"),
          qualityScore(col("text"), col("n_chars")).as("score")))
      .select(col("keeper"))
    val dropNearDups = labels
      .join(keepers, labels("doc_id") === keepers("keeper"), "left_anti")
      .select(col("doc_id"))
    // the near pin also counts the survivors of stage 3's filter
    val quality = qualityOk(col("text"), col("n_chars"))
    val nearPin = Pin(afterExact.join(dropNearDups, Seq("doc_id"), "left_anti"),
      "PipelineMain.near",
      Seq(count(lit(1)).as("n"), count(when(quality, 1)).as("quality")))
    val afterNear = nearPin.frame
    val nNear = nearPin.long("n")

    // 3. quality filter — the same predicates as q_quality_score
    val q = afterNear.filter(quality)
    val nQuality = nearPin.long("quality")

    // 3.5 eval-split decontamination — the shared operator behind
    // q_decontaminate: the held-out split (doc_id % 50 == 0) never enters
    // the training corpus, and neither does any surviving train doc
    // sharing a 3-token shingle with it. Eval shingles come from the RAW
    // split (not dedup/quality survivors): an eval doc dropped upstream —
    // exact dedup keeps the min doc_id, which may be a TRAIN duplicate —
    // must still contribute its shingles, or its text leaks into training
    // via that surviving duplicate. Pinned: the flagged-join subtree
    // feeds the enrichment/write lineage; its count rides the pin.
    val contaminated = graft.operators.Decontaminate.flagged(
      q.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), k = 3)
      .select("doc_id")
    val trainPin = Pin(q.filter(col("doc_id") % 50 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti"),
      "PipelineMain.decontam", Seq(count(lit(1)).as("n")))
    val train = trainPin.frame
    val nDecontam = trainPin.long("n")

    // 4. enrichment projections (no shuffle). Scrub FIRST (withColumn, so
    // downstream refs see the scrubbed text — inside a single select the
    // other columns would still resolve against the raw input), then
    // derive every feature from what is actually written: token counts,
    // fingerprint and n_chars must describe the stored text or downstream
    // packing/dedup against the output diverges.
    val scrubbed = train
      .withColumn("text", scrubPii(col("text")))
      .withColumn("n_chars", length(col("text")))
    // lm_nll: corpus-trained unigram NLL (operators.LmScore, the same
    // impl as q_lm_score) — trained on the POST-dedup/quality/scrub
    // corpus, which is the distribution the signal should describe.
    // Left join: token-less docs simply carry null. The corpus mean rides
    // the pin; it is NULL when no doc has a score (an empty corpus).
    val nllByDoc = graft.operators.LmScore.nll(
      scrubbed.select(col("doc_id"), tokens(lower(col("text"))).as("toks")))
      .select(col("doc_id"), col("nll").as("lm_nll"))
    val enrichPin = Pin(scrubbed.select(
      col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"),
      tokenCount(col("text")).as("n_tokens"),
      bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
      langIdHeuristic(col("text")).as("lang_pred"),
      fingerprint(col("text")).as("fp"))
      .join(nllByDoc, Seq("doc_id"), "left_outer"),
      "PipelineMain.enrich", Seq(round(avg(col("lm_nll")), 4).as("mean_lm_nll")))
    val enriched = enrichPin.frame
    val meanNll = Option(enrichPin.metrics.getAs[java.lang.Double]("mean_lm_nll"))
      .fold("null")(_.toString)

    // 5. sequence packing: doc→pack manifest at a 512-token budget
    val packs = graft.operators.SeqPack.pack(
      enriched.select(col("doc_id"), col("n_bpeish").as("n_tokens")),
      budget = 512, numPartitions = 8).toDF()
    packs.write.mode("overwrite").parquet(s"$outDir/packs")
    // read-backs take the written frame's schema: no inference job
    val nPacks = spark.read.schema(packs.schema).parquet(s"$outDir/packs")
      .select(countDistinct(col("pack_id"))).head().getLong(0)

    // 5.5 balanced shard manifest: docs ranked by token count descending
    // get round-robin shard slots (operators.GlobalIndex — range exchange
    // + zipWithIndex, no single-partition window), manifest one row per
    // shard. The balance ratio (max/min shard token load) lands in the
    // summary line — the number an export job alarms on.
    val ranked = graft.operators.GlobalIndex.withOrdinal(
      enriched.select(col("doc_id"), col("n_bpeish").as("n_toks")),
      "ord", col("n_toks").desc, col("doc_id"))
    val manifest = ranked
      .withColumn("shard", pmod(col("ord") - 1, lit(8L)).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_toks"))
    // collect the manifest ONCE (O(#shards) rows, never O(docs)) and
    // derive both the write and the balance ratio from it — neither a
    // read-back of the written file nor a recompute of the ranking
    // lineage for a second aggregate
    val mrows = manifest.collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(mrows.toIndexedSeq, 1), manifest.schema)
      .write.mode("overwrite").parquet(s"$outDir/shard_manifest")
    val toks = mrows.map(_.getAs[Long]("total_toks"))
    val bal =
      if (toks.isEmpty) 1.0 else toks.max.toDouble / math.max(1L, toks.min)
    val shardBalance = math.rint(bal * 10000) / 10000

    // 6. partitioned write
    enriched.write.mode("overwrite").partitionBy("lang").parquet(s"$outDir/docs")
    // a partitioned read puts the partition column last
    val docsSchema = org.apache.spark.sql.types.StructType(
      enriched.schema.filterNot(_.name == "lang") :+ enriched.schema("lang"))
    val written = spark.read.schema(docsSchema).parquet(s"$outDir/docs")
      .count()

    // 7. maintenance: compact the pack manifest (a per-partition write
    // leaves one file per task — the small-file aftermath §SCALE.md) to
    // ~1 MiB targets, digest-verified. On the fixture this collapses the
    // 8 task files to 1; at 100 TB the same call is the nightly job.
    val compacted = graft.copy.StructuredCopy.compact(
      spark, s"$outDir/packs", s"$outDir/packs_compacted",
      targetFileBytes = 1L << 20)
    require(compacted.digestMatch, "pack compaction digest mismatch")

    val outJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(outDir) // paths may contain quotes/backslashes
    println(s"""{"input":$total,"after_exact_dedup":$nExact,""" +
      s""""after_near_dedup":$nNear,"after_quality":$nQuality,""" +
      s""""after_decontam":$nDecontam,""" +
      s""""mean_lm_nll":$meanNll,"n_packs":$nPacks,"written":$written,""" +
      s""""shard_balance":$shardBalance,""" +
      s""""pack_files_before":${compacted.filesBefore},""" +
      s""""pack_files_after":${compacted.filesAfter},""" +
      s""""elapsed_sec":${math.rint((System.nanoTime() - tStart) / 1e7) / 100},""" +
      s""""out":$outJson}""")
    try ListenerFlush.waitUntilEmpty(spark.sparkContext, 30000)
    catch { case _: java.util.concurrent.TimeoutException => () }
  }
}
