package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Pin

/** Deterministic fixture scale-up for stress passes (SCALE.md §stress).
  *
  * Writes a `factor`× replica of the heavy-family tables (documents,
  * embeddings) plus unchanged copies of the small tables, so `graft.Bench`
  * subset mode can time the dedup/ANN/clusters family at sf1-equivalent
  * volume using the SAME query code paths.
  *
  * Replicas must be DISTINCT data, not clones: cloning every document
  * `factor`× would make every doc a member of a `factor`-clique, so
  * candidate volume per LSH bucket would grow as the square of the
  * replication — a data artifact, not an engine property. Two replica
  * modes, because the fixture's text vocabulary is TINY (31 words → a
  * ~27.6k-trigram space that is already saturated at sf0.1):
  *
  *   - `shard` (default, the Heaps-law-ish realistic shape): replica k>0
  *     tags every word with `_k`, so each replica is an ISOMORPHIC copy
  *     of the original corpus over a disjoint vocabulary — within-replica
  *     dup/near-dup structure, shingle dfs, and jaccard values are
  *     exactly the original's; cross-replica overlap is zero. Shingle
  *     vocabulary grows ×factor and Σdf² grows linearly, which is how
  *     real corpora grow. Use this mode to measure engine scaling
  *     exponents.
  *   - `permute` (the adversarial hot-shingle stress): replica k>0
  *     permutes word order by sorting on xxhash64(word, k). "New"
  *     trigrams land in the SAME saturated 31-word trigram space, so
  *     document frequencies explode (sf1: max df 13,410 vs 25, Σdf²
  *     ×3000 for ×10 data) and every inverted-index candidate join
  *     degenerates toward all-pairs — by construction, for ANY engine.
  *     Use this mode to check the engine SURVIVES df-degenerate data,
  *     not to measure scaling.
  *
  * Embeddings: replica k>0 circularly rotates the float vector by k
  * positions — norms and per-dimension distributions are preserved while
  * direction (the cosine signal) decorrelates; the 64-dim continuous
  * space does not saturate, so rotation is fine in both modes.
  *
  * All transforms are pure functions of (row, k): re-running produces a
  * byte-identical fixture, so recorded stress numbers are reproducible.
  *
  *   - `skew` (r16, the planted-skew stress — VERDICT r15 task 5): the
  *     `shard` replication PLUS three adversarial hot-key classes the
  *     uniform fixtures cannot produce, each a deterministic override:
  *     (1) ONE EXACT-DUPLICATE DOC CLASS at 1% of the corpus (doc_id %
  *     100 == 17 all carry the same boilerplate text) — identical
  *     sha2/simhash/minhash fingerprints, the site-chrome/spacer-GIF
  *     shape that makes un-collapsed pair generators quadratic; (2) ONE
  *     BOILERPLATE 50-TOKEN SPAN stitched onto 2% of docs (doc_id % 50
  *     == 3) — a window key at ~100× the default maxDf, which the span
  *     family must TRIM, not expand; (3) ONE HOT JOIN KEY: 10% of
  *     lineitem rows point at l_suppkey = 1 (and l_partkey = 1), the
  *     skew the salted-join family exists for. Embeddings get (4) an
  *     exact-duplicate VECTOR class at 1% (vec_id % 100 == 17). n_chars
  *     is recomputed where text changes. The stress leg runs the
  *     dedup/join families over this fixture with ScaleLint in FAIL
  *     mode — SCALE.md §skew records the per-family verdicts.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> <factor> [shard|permute|skew]
  */
object ScaleUp {
  private val IdStride = 100000000L // replica id namespace; >> any fixture

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleUp <srcSfDir> <outDir> <factor> [shard|permute|skew]")
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, "factor must be >= 1")
    val mode = if (args.length == 4) args(3) else "shard"
    require(mode == "shard" || mode == "permute" || mode == "skew",
      s"unknown mode '$mode': use shard | permute | skew")
    val cpus = graft.GraftSession.cpus(32)
    val spark = graft.GraftSession.create("graft-scale-up", cpus)

    // Dimensions stay fixed (the realistic fact-growth-at-fixed-dims
    // shape: new orders/events arrive, the customer/part/supplier
    // universe doesn't grow 10×); fact tables replicate with
    // FK-CONSISTENT key offsets — replica k's lineitem rows point at
    // replica k's orders via the same +k·stride on the orderkey, and
    // event replicas are NEW users (user_id offset) with the original
    // per-user event structure, so per-key group/window state stays
    // bounded while key CARDINALITY scales — exactly how these tables
    // grow in production.
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    def replicateFacts(t: String, keyOffsets: Map[String, Boolean]): Unit = {
      val df = spark.read.parquet(s"$src/$t.parquet")
      (0 until factor).map { k =>
        if (k == 0) df
        else df.select(df.columns.toSeq.map { c =>
          if (keyOffsets.getOrElse(c, false))
            (col(c) + lit(k * IdStride)).as(c)
          else col(c)
        }: _*)
      }.reduce(_.unionByName(_))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    replicateFacts("orders", Map("o_orderkey" -> true))
    replicateFacts("lineitem", Map("l_orderkey" -> true))
    if (mode == "skew") {
      // hot join key: 10% of lineitem rows point at supplier 1 / part 1
      // (written after the replicated base so the override covers every
      // replica); deterministic on the orderkey so re-runs are identical
      val li = Pin(spark.read.parquet(s"$out/lineitem.parquet"))
      li.withColumn("l_suppkey",
          when(pmod(col("l_orderkey"), lit(10)) === 7, lit(1L))
            .otherwise(col("l_suppkey")))
        .withColumn("l_partkey",
          when(pmod(col("l_orderkey"), lit(10)) === 7, lit(1L))
            .otherwise(col("l_partkey")))
        .write.mode("overwrite").parquet(s"$out/lineitem_skew.parquet")
      graft.operators.ArtifactPaths.delete(
        new java.io.File(s"$out/lineitem.parquet"))
      // renameTo reports failure by Boolean only — a dropped rename here
      // would leave the fixture with NO lineitem.parquet (r16 ADVICE)
      require(new java.io.File(s"$out/lineitem_skew.parquet")
          .renameTo(new java.io.File(s"$out/lineitem.parquet")),
        s"rename $out/lineitem_skew.parquet -> lineitem.parquet failed")
    }
    replicateFacts("events", Map("event_id" -> true, "user_id" -> true))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docReps = (0 until factor).map { k =>
      if (k == 0) docs
      else {
        val newText = mode match {
          case "shard" | "skew" => // skew = shard replication + overrides
            // disjoint-vocabulary isomorphic copy: every word tagged _k
            expr(s"array_join(transform(split(text, ' '), " +
              s"w -> concat(w, '_$k')), ' ')")
          case "permute" =>
            // hash-sort permutation of word order, seeded by replica id
            expr(s"""array_join(
                       array_sort(split(text, ' '),
                         (l, r) -> CASE WHEN xxhash64(l, $k) < xxhash64(r, $k) THEN -1
                                   WHEN xxhash64(l, $k) > xxhash64(r, $k) THEN 1
                                   ELSE 0 END),
                       ' ')""")
        }
        docs.select(
          (col("doc_id") + lit(k * IdStride)).as("doc_id"),
          newText.as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
    }
    val docsAll = docReps.reduce(_.unionByName(_))
    val docsOut =
      if (mode != "skew") docsAll
      else {
        // (1) one exact-dup class at 1% of the corpus; (2) one
        // boilerplate 50-token span on 2% of docs (~100x the span
        // family's default maxDf=20 at any fixture scale)
        val boilerDoc = (1 to 60).map(i => s"chrome$i").mkString(" ")
        val boilerSpan = (1 to 50).map(i => s"legal$i").mkString(" ")
        docsAll.withColumn("text",
            when(pmod(col("doc_id"), lit(100)) === 17, lit(boilerDoc))
              .when(pmod(col("doc_id"), lit(50)) === 3,
                concat(col("text"), lit(" " + boilerSpan)))
              .otherwise(col("text")))
          .withColumn("n_chars", length(col("text")).cast("int"))
      }
    docsOut
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embReps = (0 until factor).map { k =>
      if (k == 0) emb
      else emb.select(
        (col("vec_id") + lit(k * IdStride)).as("vec_id"),
        // circular rotation by k: slice(k+1..end) ++ slice(1..k)
        expr(s"concat(slice(embedding, ${k + 1}, size(embedding)), " +
          s"slice(embedding, 1, $k))").as("embedding"),
        col("label"))
    }
    val embAll = embReps.reduce(_.unionByName(_))
    val embOut =
      if (mode != "skew") embAll
      else {
        // (4) one exact-duplicate vector class at 1% of the corpus
        val dupVec = array((0 until 64).map(i =>
          lit(math.sin(i.toDouble).toFloat)): _*)
        embAll.withColumn("embedding",
          when(pmod(col("vec_id"), lit(100)) === 17, dupVec)
            .otherwise(col("embedding")))
      }
    embOut
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val nd = spark.read.parquet(s"$out/documents.parquet").count()
    val ne = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"[scaleup] wrote $out: documents=$nd embeddings=$ne " +
      s"factor=$factor mode=$mode")
    spark.stop()
  }
}
