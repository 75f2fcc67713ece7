package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.PqIndex

/** Similarity search over the `embeddings` fixture (ArrayType(FloatType),
  * dim 64) — approximate-nearest-neighbor surface (SURVEY.md Part B).
  *
  * Scale posture: brute-force top-k is the correctness baseline (O(Q·N),
  * fine when the query set is small and broadcast); the LSH-bucketed
  * variant is the 100 TB path — candidates come from shared hyperplane
  * buckets so the join is equi on bucket id (shuffle ∝ data, not data²).
  * Norms are precomputed once per side, never per pair.
  */
object VectorQueries extends QueryModule {

  /** Occupancy-targeted hyperplane bucket width: the smallest b with
    * n/2^b ≤ target (floor 4). Pair-join candidate volume is n²/2^b, so
    * holding OCCUPANCY (not b) constant is what keeps the LSH pair join
    * linear in n — b=4 at the 2k fixture, 8 at 10×, ~17 at 10⁷ vectors.
    */
  private[queries] def lshBitsFor(n: Long, target: Long = 125L): Int =
    math.max(4, 64 - java.lang.Long.numberOfLeadingZeros((n.max(1L) - 1) / target))

  // Cosine near-duplicate pairs above 0.45 (the fixture's synthetic
  // vectors max out near 0.51 — a 0.95 threshold would be vacuous).
  // DuckDB oracle uses list_cosine_similarity over DOUBLE[] casts.
  //
  // SCOPE: this is the EXACT oracle-baseline twin — deliberately all-pairs
  // (O(n²), BroadcastNestedLoopJoin) so DuckDB can replay it verbatim, and
  // only ever run at oracle scale. The production operator at corpus scale
  // is q_dedup_embedding_lsh below: identical filter, candidates routed
  // through hyperplane LSH buckets (shuffle ∝ data, not data²),
  // recall-pinned against this baseline by spec.
  private val qCosineNearDup = Q(
    "q_dedup_embedding_cosine",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      // Spread the STREAMED side of the nested-loop join: the fixture
      // scan is one split, so the O(n²) dot-product verify otherwise
      // runs as a single task (r19 opt — measured 2.3 CPU-s all on one
      // core). Only the IDS ride the spreading exchange (the engine's
      // own ScaleLint forbids float vectors on a shuffle); the vectors
      // re-attach by broadcast, which is in-bounds here BY CONTRACT —
      // this query is scaleBound-fenced to oracle scale, where the
      // corpus always fits a broadcast.
      val a = QueryUtil.spread(e.select(col("vec_id").as("id_a")))
        .join(broadcast(e.select(col("vec_id").as("id_a"),
          col("embedding").as("v_a"), col("n2").as("n2_a"))), "id_a")
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"), col("n2").as("n2_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos",
          dot(col("v_a"), col("v_b")) / (sqrt(col("n2_a")) * sqrt(col("n2_b"))))
        .filter(col("cos") > 0.45)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 4) AS cos
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) > 0.45
           ORDER BY id_a, id_b"""),
    // the ONE registry plan that must never run at scale (O(corpus²) by
    // declared design — the oracle baseline for the LSH twin); the field
    // makes the exclusion contractual for any sf > 0.1 bench
    scaleBound = Some(0.15))

  // Semantic dedup at CLUSTER granularity — operator composition: the
  // exact cosine pair generator above feeds the same pointer-jumping
  // connected-components operator the jaccard family uses
  // (operators/DedupClusters), labeling each semantic duplicate group
  // with one keeper — the dedup decision a pipeline actually applies
  // (drop all but one per cluster), not just the pair list. Oracle: the
  // recursive transitive-closure CTE over DuckDB's own cosine pairs —
  // both stages value-checked end to end. Inherits the pair stage's
  // scaleBound (exact O(n²) baseline, oracle scale only); the corpus
  // path swaps in the LSH pair generator (q_dedup_embedding_lsh) ahead
  // of the identical clusters operator, exactly as the jaccard family
  // swaps prefix-filter for all-pairs.
  private val qEmbeddingClusters = Q(
    "q_dedup_embedding_clusters",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      // same ids-spread + broadcast re-attach as q_dedup_embedding_cosine
      // (r19 opt; scaleBound-fenced, so the broadcast is in-bounds)
      val a = QueryUtil.spread(e.select(col("vec_id").as("id_a")))
        .join(broadcast(e.select(col("vec_id").as("id_a"),
          col("embedding").as("v_a"), col("n2").as("n2_a"))), "id_a")
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"),
        col("n2").as("n2_b"))
      val pairs = a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos",
          dot(col("v_a"), col("v_b")) / (sqrt(col("n2_a")) * sqrt(col("n2_b"))))
        .filter(col("cos") > 0.45)
        .select(col("id_a"), col("id_b"))
      graft.operators.DedupClusters.keepers(pairs)
    },
    Some("""WITH RECURSIVE jp AS (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b
             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])) > 0.45),
           e AS MATERIALIZED (
             SELECT id_a AS u, id_b AS v FROM jp
             UNION
             SELECT id_b AS u, id_a AS v FROM jp),
           reach(u, v) AS (
             SELECT u, v FROM e
             UNION
             SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
           lbl AS (
             SELECT u AS doc_id, least(u, min(v)) AS cluster_id
             FROM reach GROUP BY u)
           SELECT cluster_id, cluster_id AS keeper, count(*) AS n_members
           FROM lbl GROUP BY cluster_id ORDER BY cluster_id"""),
    scaleBound = Some(0.15))

  // LSH-routed embedding near-dup (the 100 TB path for the query above):
  // every vector lands in 8 × b-bit hyperplane buckets; candidate pairs
  // are bucket-equi-join collisions (ids only through the distinct), then
  // exact cosine verification via the codegen'd FloatVecDot re-attach.
  // No oracle (bucket membership is engine-defined); recall vs the exact
  // baseline is pinned by spec.
  //
  // Bucket WIDTH must scale with the corpus: per-bucket occupancy is
  // n/2^b, so candidate pairs grow as n²/2^b and fixed b turns
  // quadratic at scale (measured: 12.4× wall-clock for 10× rows at
  // b=4 — SCALE.md §stress). Default is occupancy-targeted —
  // b = max(4, ⌈log2(n/125)⌉), which keeps ~125 vectors/bucket at any
  // corpus size (b=4 at the 2k-vector fixture, so the recall spec's
  // pinned setting IS the default there; b=7 at 10×, measured 5.4×
  // faster than fixed b=4). The n comes from a parquet-stat count
  // (metadata-only job). Wider buckets thin marginal-pair collisions
  // (per-table prob p^b), so production also grows the table count
  // with b — here the 8 tables stay fixed and `spark.graft.lsh.bits`
  // overrides b explicitly when the trade needs pinning.
  private val qEmbeddingLsh = Q(
    "q_dedup_embedding_lsh",
    (s, d) => {
      val bits = s.conf.getOption("spark.graft.lsh.bits").map(_.toInt)
        .getOrElse(lshBitsFor(Tables.embeddings(s, d).count()))
      val seeds = Seq(1, 2, 3, 4, 5, 6, 7, 8)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
        .withColumn("buckets", lshBuckets(col("embedding"), bits, seeds))
      // SQ8 quantized pre-filter (r10 verdict task 1, the SemDedup.pairs
      // shape): each side of the bucket self-join carries its byte-packed
      // SQ8 code (~dim B/row through the exchange — ids + codes, never
      // float vectors), the approximate cosine is computed map-side in
      // the join output, and only pairs clearing threshold - margin reach
      // exact verification — SemDedup.exactVerifyPairs' shuffle-join
      // re-attach (r12 task 1: the previous survivor broadcast scaled
      // with the DUPLICATE RATE — O(corpus) floats on a high-dup crawl).
      import graft.operators.{SemDedup, Sq8Index}
      val grid = Sq8Index.train(e)
      val coded = Sq8Index.packCodes(Sq8Index.encode(e, grid), grid)
      val binned = e.select(col("vec_id"),
          posexplode(col("buckets")).as(Seq("tbl", "bkt")))
        .join(coded, "vec_id")
      val aSide = binned.select(col("vec_id").as("id_a"), col("tbl"),
        col("bkt"), col("bcode").as("code_a"), col("an2").as("an2_a"))
      val bSide = binned.select(col("vec_id").as("id_b"),
        col("tbl").as("tbl_b"), col("bkt").as("bkt_b"),
        col("bcode").as("code_b"), col("an2").as("an2_b"))
      // equi keys (tbl, bkt) carry the join; id_a < id_b is a post-filter
      // on the hash join, never a nested-loop condition; one fused
      // Sq8CodeDot per pair, norms precomputed map-side in packCodes
      val survivors = aSide.join(bSide,
          col("tbl") === col("tbl_b") && col("bkt") === col("bkt_b") &&
            col("id_a") < col("id_b"))
        .withColumn("acos",
          sq8Dot(col("code_a"), col("code_b"), grid.lo, grid.step) /
            (sqrt(col("an2_a")) * sqrt(col("an2_b"))))
        .filter(col("acos") > 0.45 - SemDedup.QuantMargin)
        .select(col("id_a"), col("id_b")).distinct()
      SemDedup.exactVerifyPairs(survivors, e, 0.45)
        .orderBy(col("id_a"), col("id_b"))
    })

  // Brute-force cosine top-k for a small query set (vec_id < 10): the exact
  // baseline every ANN variant is measured against.
  private val qBruteTopK = Q(
    "q_sim_topk_brute",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      val queries = broadcast(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("n2").as("qn2")))
      val cand = e.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("n2").as("nn2"))
      val scored = queries.join(cand, col("qid") =!= col("nid"))
        .withColumn("cos", dot(col("qv"), col("nv")) / (sqrt(col("qn2")) * sqrt(col("nn2"))))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      scored
        .withColumn("rn", row_number().over(w).cast("long")) // BIGINT like
        .filter(col("rn") <= 5)                                // the oracle
        .select(col("qid"), col("rn"), col("nid"), round(col("cos"), 4).as("cos"))
        .orderBy(col("qid"), col("rn"))
    },
    Some("""SELECT qid, rn, nid, round(cos, 4) AS cos FROM (
             SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) AS cos,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])) DESC,
                          c.vec_id) AS rn
             FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             WHERE q.vec_id < 10) t
           WHERE rn <= 5 ORDER BY qid, rn"""))

  // LSH-bucketed ANN (the scale path): 4-bit random-hyperplane buckets ×
  // 8 hash tables (standard Indyk-Motwani OR-amplification). Per-bit
  // collision prob for angle θ is 1-θ/π ≈ 0.63 at cos 0.4, so one 4-bit
  // table catches ~16% and 8 tables ~75% — near-uniform synthetic vectors
  // are LSH's worst case; real embedding clusters do much better. No
  // oracle — recall vs the brute-force baseline is pinned by spec.
  private val qAnnLsh = Q(
    "q_sim_topk_ann_lsh",
    (s, d) => {
      val seeds = Seq(1, 2, 3, 4, 5, 6, 7, 8)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
        .withColumn("buckets", lshBuckets(col("embedding"), 4, seeds))
      // candidate pairs carry only ids through the multi-table distinct;
      // vectors re-attach afterwards (distinct over 64-float arrays would
      // shuffle ~512 B of payload per duplicate collision)
      val cand = e.select(col("vec_id").as("nid"),
          posexplode(col("buckets")).as(Seq("tbl", "bkt")))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          posexplode(col("buckets")).as(Seq("qtbl", "qbkt")))
      val pairIds = broadcast(queries)
        .join(cand, col("qtbl") === col("tbl") && col("qbkt") === col("bkt") &&
          col("qid") =!= col("nid"))
        .select(col("qid"), col("nid")).distinct()
      // Candidate scoring via the SQ8 quantized pre-filter (r10 verdict
      // task 1): candidates join the byte-packed code table by id through
      // a shuffle (ids + codes, never float vectors — shuffles scale),
      // approx-score map-side, and only the per-query approx top-pool
      // reach exact float re-rank where the SMALL survivor-id set
      // broadcasts and the corpus streams (PqIndex.poolRerank). Replaces
      // the full-corpus broadcast pin, which held only to ~10⁷ vectors.
      import graft.operators.Sq8Index
      val grid = Sq8Index.train(e)
      Sq8Index.prefilterRerank(pairIds, annQueries(e),
          Sq8Index.encode(e, grid), e, grid, k = 5, pool = 15)
        .orderBy(col("qid"), col("rn"))
    })

  // IVF ANN (the other standard scale path, next to LSH): coarse-quantize
  // into k cells, probe the 3 nearest per query. k is a parameter the
  // caller sizes — production uses k ≈ √n so |cell| ≈ √n and probe cost
  // is nProbe·√n (IvfIndex scaladoc); the registry pins k=16 (≈ √2000·⅓)
  // because the recall spec's expectations are calibrated to it at
  // fixture cardinality. No oracle — recall vs brute force pinned by
  // spec.
  private val qIvf = Q(
    "q_sim_topk_ivf",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      val cents = graft.operators.IvfIndex.centroids(s, e, 16)
      val indexed = graft.operators.IvfIndex.assign(e, cents)
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("n2").as("qn2"))
      graft.operators.IvfIndex.topK(queries, indexed, cents, k = 5, nProbe = 3)
    })

  // Scalar-quantized (int8-grid) ANN: per-dimension global [min,max] →
  // 256-step uniform grid; candidate scoring runs entirely on the
  // quantized approximation (at scale: 64 B/vector instead of 256 B — a
  // 4× scan/memory-bandwidth cut, the classic first move when the corpus
  // stops fitting in cluster memory), then the top 3k approx candidates
  // per query are rescored with exact float cosine and cut to k. The
  // range pass is one partial+final agg collapsing to dim rows (O(dim)
  // driver bytes, like IVF centroids); quantize+dequantize is a pure
  // map-side projection against broadcast-literal grids, and the scoring
  // pass reuses the codegen'd FloatVecDot. No oracle (grid membership is
  // engine-defined); recall vs brute force pinned by spec.
  // Since r7 the query routes through operators/Sq8Index (train → encode
  // → dequantized scoring → shared poolRerank), the same kernel the
  // persisted artifact uses — in-memory and loaded paths cannot diverge.
  // Quantize-then-reconstruct arithmetic is bit-identical to the old
  // inline grid reconstruction, so the pinned recall spec is unchanged.
  private val qSq8 = Q(
    "q_sim_topk_sq8",
    (s, d) => {
      import graft.operators.Sq8Index
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      val grid = Sq8Index.train(e)
      Sq8Index.topKFrom(annQueries(e), Sq8Index.encode(e, grid), e, grid,
          k = 5, pool = 15)
        .orderBy(col("qid"), col("rn"))
    })

  // Loaded-artifact twin (same class as the PQ/IVF loaded twins): grid +
  // int codes persisted once per fixture identity, queries answer from
  // the stored codes — the form in which SQ8's 4× bandwidth cut actually
  // exists at rest.
  private val qSq8Loaded = Q(
    "q_sim_topk_sq8_loaded",
    (s, d) => {
      import graft.operators.{ArtifactPaths, Sq8Index}
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      val path = ArtifactPaths.keyed(s, "sq8", s"$d/embeddings.parquet",
        "dim=64,v=1")
      if (!ArtifactPaths.exists(path)) {
        val grid = Sq8Index.train(e)
        Sq8Index.save(path, grid, Sq8Index.encode(e, grid))
      }
      val (grid, codes) = Sq8Index.load(s, path)
      Sq8Index.topKFrom(annQueries(e), codes, e, grid, k = 5, pool = 15)
        .orderBy(col("qid"), col("rn"))
    })

  // Per-label centroid + spread: grouped vector aggregation via element-wise
  // array fold (posexplode → groupBy(label, pos) → avg), the distributed
  // layout for any "mean vector per class" job.
  private val qCentroids = Q(
    "q_vector_centroids",
    (s, d) => Tables.embeddings(s, d)
      // slice BEFORE the generator: a post-explode filter would fan every
      // row out to 64 elements and discard 60
      .select(col("label"), posexplode(slice(col("embedding"), 1, 4)).as(Seq("pos", "el")))
      .groupBy(col("label"), col("pos"))
      .agg(
        round(avg(col("el").cast("double")), 4).as("centroid"),
        round(stddev_samp(col("el").cast("double")), 4).as("spread"),
        count(lit(1)).as("n"))
      .select(col("label"), (col("pos") + 1).as("pos"), col("centroid"), col("spread"), col("n"))
      .orderBy(col("label"), col("pos")),
    Some("""SELECT label, CAST(i AS INT) AS pos,
             round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS centroid,
             round(stddev_samp(CAST(embedding[i] AS DOUBLE)), 4) AS spread,
             count(*) AS n
           FROM embeddings, generate_series(1, 4) AS t(i)
           GROUP BY label, i ORDER BY label, pos"""))

  // Product-quantization ANN (8 subspaces × 16 codewords → 8-byte codes,
  // 32× smaller than the float vectors): ADC lookup-table scoring +
  // exact re-rank of the top-25 pool. No oracle (codebook training is
  // engine-specific) — recall vs the brute baseline is pinned by
  // PqIndexSpec. See operators/PqIndex for the full scale posture.
  private val qPq = Q(
    "q_sim_topk_pq",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      val books = graft.operators.PqIndex.train(s, e, dim = 64, m = 8, k = 16)
      val encoded = graft.operators.PqIndex.encode(e, books)
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("n2").as("qn2"))
      graft.operators.PqIndex.topK(queries, encoded, books, k = 5, pool = 25)
        .orderBy(col("qid"), col("rn"))
    })

  // IVF-PQ (the standard FAISS-style composition): coarse IVF cells prune
  // candidates to nProbe cells per query BEFORE the PQ/ADC scan, making
  // the code pass sub-linear in corpus size; ADC pool + exact re-rank as
  // in q_sim_topk_pq. No oracle (cells and codebooks are engine-defined)
  // — recall vs brute force and the pruning plan shape are spec-pinned.
  private val qIvfPq = Q(
    "q_sim_topk_ivfpq",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      val cents = graft.operators.IvfIndex.centroids(s, e, 16)
      val indexed = graft.operators.IvfIndex.assign(e, cents)
      val books = graft.operators.PqIndex.train(s, e, dim = 64, m = 8, k = 16)
      val encoded = graft.operators.PqIndex.encode(indexed, books)
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("n2").as("qn2"))
      graft.operators.PqIndex.topKIvf(queries, encoded, books, cents,
        k = 5, pool = 25, nProbe = 6)
        .orderBy(col("qid"), col("rn"))
    })

  // --- Loaded-artifact ANN twins (train-once → save → load at query time,
  // --- the production shape at 100 TB: retraining codebooks inside every
  // --- query is the one posture a real user hits on query #2). Each twin
  // --- builds its artifact once per (fixture identity, params) — the
  // --- fingerprinted path makes "build if absent" pure in the query
  // --- inputs — then answers from the LOADED index: the ADC/cell scan
  // --- reads only the payload-free artifact; float vectors re-attach from
  // --- the corpus table for pool survivors. Training is deterministic, so
  // --- each twin's output is pinned equal to its in-memory sibling by
  // --- AnnPersistenceSpec (no oracle — codebooks/cells are
  // --- engine-defined, same class as the siblings).

  private def embWithNorm(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))

  private def annQueries(e: org.apache.spark.sql.DataFrame) =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("n2").as("qn2"))

  private val qPqLoaded = Q(
    "q_sim_topk_pq_loaded",
    (s, d) => {
      import graft.operators.{ArtifactPaths, PqIndex}
      val e = embWithNorm(s, d)
      val path = ArtifactPaths.keyed(s, "pq", s"$d/embeddings.parquet",
        "dim=64,m=8,k=16,v=1")
      if (!ArtifactPaths.exists(path)) {
        val books = PqIndex.train(s, e, dim = 64, m = 8, k = 16)
        PqIndex.save(path, books, PqIndex.encode(e, books))
      }
      val idx = PqIndex.load(s, path)
      PqIndex.topKFrom(annQueries(e), idx.codes, e, idx.books, k = 5, pool = 25)
        .orderBy(col("qid"), col("rn"))
    })

  private val qIvfLoaded = Q(
    "q_sim_topk_ivf_loaded",
    (s, d) => {
      import graft.operators.{ArtifactPaths, IvfIndex}
      val e = embWithNorm(s, d)
      val path = ArtifactPaths.keyed(s, "ivf", s"$d/embeddings.parquet",
        "dim=64,k=16,v=1")
      if (!ArtifactPaths.exists(path)) {
        val cents = IvfIndex.centroids(s, e, 16)
        IvfIndex.save(path, cents, IvfIndex.assign(e, cents))
      }
      val (cents, cells) = IvfIndex.load(s, path)
      IvfIndex.topKFrom(annQueries(e), cells, e, cents, k = 5, nProbe = 3)
    })

  private val qIvfPqLoaded = Q(
    "q_sim_topk_ivfpq_loaded",
    (s, d) => {
      import graft.operators.{ArtifactPaths, IvfIndex, PqIndex}
      val e = embWithNorm(s, d)
      val path = ArtifactPaths.keyed(s, "ivfpq", s"$d/embeddings.parquet",
        "dim=64,m=8,k=16,cells=16,v=1")
      if (!ArtifactPaths.exists(path)) {
        val cents = IvfIndex.centroids(s, e, 16)
        val books = PqIndex.train(s, e, dim = 64, m = 8, k = 16)
        PqIndex.save(path, books,
          PqIndex.encode(IvfIndex.assign(e, cents), books), Some(cents))
      }
      val idx = PqIndex.load(s, path)
      PqIndex.topKIvfFrom(annQueries(e), idx.codes, e, idx.books,
          idx.cents.get, k = 5, pool = 25, nProbe = 6)
        .orderBy(col("qid"), col("rn"))
    })

  // Hard-negative mining for contrastive training: for each query vector,
  // the top-3 most-similar neighbors with a DIFFERENT class label — the
  // pairs a triplet/InfoNCE loss learns the most from. Same broadcast-
  // query one-corpus-pass shape as q_sim_topk_brute (the label predicate
  // only narrows the candidate stream); the corpus-scale variant is
  // q_hard_negatives_lsh below — candidates route through the LSH buckets
  // with the label predicate applied pre-top-k.
  private val qHardNegatives = Q(
    "q_hard_negatives",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          normSq(col("embedding")).as("n2"))
      val queries = broadcast(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("embedding").as("qv"), col("n2").as("qn2")))
      val cand = e.select(col("vec_id").as("nid"), col("label").as("nlabel"),
        col("embedding").as("nv"), col("n2").as("nn2"))
      val scored = queries.join(cand, col("qlabel") =!= col("nlabel"))
        .withColumn("cos", dot(col("qv"), col("nv")) / (sqrt(col("qn2")) * sqrt(col("nn2"))))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      scored
        .withColumn("rn", row_number().over(w).cast("long")) // BIGINT like the oracle
        .filter(col("rn") <= 3)
        .select(col("qid"), col("qlabel"), col("rn"), col("nid"),
          col("nlabel"), round(col("cos"), 4).as("cos"))
        .orderBy(col("qid"), col("rn"))
    },
    Some("""SELECT qid, qlabel, rn, nid, nlabel, round(cos, 4) AS cos FROM (
             SELECT q.vec_id AS qid, q.label AS qlabel,
               c.vec_id AS nid, c.label AS nlabel,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) AS cos,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])) DESC,
                          c.vec_id) AS rn
             FROM embeddings q JOIN embeddings c ON q.label <> c.label
             WHERE q.vec_id < 10) t
           WHERE rn <= 3 ORDER BY qid, rn"""))

  // LSH-routed hard negatives (the 100 TB twin of q_hard_negatives):
  // candidates come from the SAME hyperplane buckets as q_sim_topk_ann_lsh
  // — an equi join on (table, bucket), shuffle ∝ collisions, never a
  // label-mismatch nested loop over the corpus — with the label-mismatch
  // predicate applied at candidate time (pre-top-k), so same-label
  // collisions drop before any ranking. Ids-only through the distinct;
  // vectors + labels re-attach for survivors. No oracle (bucket membership
  // is engine-defined); recall vs the broadcast-brute baseline is pinned
  // by spec, as is the no-nested-loop plan shape.
  private val qHardNegativesLsh = Q(
    "q_hard_negatives_lsh",
    (s, d) => {
      val seeds = Seq(1, 2, 3, 4, 5, 6, 7, 8)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          normSq(col("embedding")).as("n2"))
        .withColumn("buckets", lshBuckets(col("embedding"), 4, seeds))
      val cand = e.select(col("vec_id").as("nid"), col("label").as("nlabel"),
        posexplode(col("buckets")).as(Seq("tbl", "bkt")))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          posexplode(col("buckets")).as(Seq("qtbl", "qbkt")))
      // (qtbl, qbkt) = (tbl, bkt) carries the join; the label-mismatch
      // predicate is a post-filter on the hash join — never a nested loop
      val pairIds = broadcast(queries)
        .join(cand, col("qtbl") === col("tbl") && col("qbkt") === col("bkt") &&
          col("qlabel") =!= col("nlabel"))
        .select(col("qid"), col("nid")).distinct()
      // Same SQ8 pre-filter route as q_sim_topk_ann_lsh (see the comment
      // there): the label-mismatch predicate already narrowed pairIds, so
      // the quantized scorer sees only cross-label candidates. Labels
      // re-attach LAST, to the ≤ 3·|Q| final rows — broadcast the tiny
      // result, stream the ids+labels projection of the corpus.
      // In-session SQ8 train+encode on every run (r19 optimization
      // round: a plainly-timed query must not load persisted
      // intermediates keyed on the fixture — the artifact route is the
      // *_loaded rows' declared semantics, not this query's).
      import graft.operators.Sq8Index
      val grid = Sq8Index.train(e)
      val topk = Sq8Index.prefilterRerank(pairIds, annQueries(e),
        Sq8Index.encode(e, grid), e, grid, k = 3, pool = 15)
      val labels = e.select(col("vec_id"), col("label"))
      broadcast(topk)
        .join(labels.select(col("vec_id").as("qid"), col("label").as("qlabel")), "qid")
        .join(labels.select(col("vec_id").as("nid"), col("label").as("nlabel")), "nid")
        .select(col("qid"), col("qlabel"), col("rn"), col("nid"),
          col("nlabel"), col("cos"))
        .orderBy(col("qid"), col("rn"))
    })

  // SemDeDup (Abbas et al. 2023 — public literature): the corpus-scale
  // semantic-dedup route that REPLACES the scaleBound-fenced all-pairs
  // pair stage above — k-means cells via the IVF trainer, exact cosine
  // pairs WITHIN cells only (operators/SemDedup scaladoc has the full
  // posture: ids-only self-join, occupancy-targeted cell count, broadcast
  // float re-attach after pair selection). Same 0.45 threshold and output
  // shape as the exact twin, so recall pins directly against it
  // (TextVectorSpec, the LSH-twin pattern); every emitted pair is
  // exact-verified ⇒ zero false positives by construction. No oracle
  // (k-means cell assignment is engine-defined); NO scaleBound — this is
  // the plan that rides any scale rung.
  private val qEmbeddingSemDedup = Q(
    "q_dedup_embedding_semdedup",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      val k = graft.operators.SemDedup.cellsFor(
        Tables.embeddings(s, d).count())
      graft.operators.SemDedup.pairs(s, e, k, 0.45)
        .orderBy(col("id_a"), col("id_b"))
    })

  // Incremental SemDeDup (r10 verdict task 4): cells + SQ8 grid frozen
  // at build over the standing corpus (vec_id % 10 ≠ 0), today's batch
  // (vec_id % 10 = 0) assigned map-side against the frozen model and
  // probed for batch-vs-standing within-cell pairs — the daily-ingest
  // semantic dedup. The registry row uses the read-only probe (idempotent
  // under bench re-runs); the MUTATING append lifecycle is exercised by
  // IndexMain (build-semdedup / append-semdedup) and SemDedupSpec. No
  // oracle (k-means cells are engine-defined); spec pins append ==
  // re-assign-at-frozen-model, planted cross-batch duplicate recovery,
  // batch-purity, and exact-verified zero false positives.
  private val qSemDedupIncremental = Q(
    "q_dedup_semdedup_incremental",
    (s, d) => {
      import graft.operators.{ArtifactPaths, SemDedup}
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      val base = e.filter(col("vec_id") % 10 =!= 0)
      val k = SemDedup.cellsFor(base.count())
      val path = ArtifactPaths.keyed(s, "semdedup", s"$d/embeddings.parquet",
        s"k=$k,p=3,corpus=mod10ne0,v=1")
      if (!ArtifactPaths.exists(path)) SemDedup.save(path, base, k)
      SemDedup.probeBatch(s, path, e.filter(col("vec_id") % 10 === 0),
          e, 0.45)
        .orderBy(col("id_a"), col("id_b"))
    })

  // Topic-balanced resampling (r12 verdict task 9): cap every k-means
  // cell of the embedding space at a fixed keeper quota, chosen by
  // deterministic hash rank (operators/ClusterSample — zero RNG state;
  // GlobalIndex range-exchange ordinal, never a per-cell single-task
  // window). Output is the per-cell audit: population before the cap,
  // keepers after, and the keeper id-range — deterministic across runs.
  // k-means is not SQL-expressible → rows-only; the quota/determinism/
  // skew contract is ClusterSampleSpec's.
  private val qSampleClusterBalanced = Q(
    "q_sample_cluster_balanced",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          normSq(col("embedding")).as("n2"))
      graft.operators.ClusterSample.balanced(s, e, k = 16, perCell = 50)
        .groupBy(col("cell"))
        .agg(first(col("n_total")).as("n_total"),
          count(lit(1)).as("n_kept"),
          min(col("vec_id")).as("first_kept"),
          max(col("vec_id")).as("last_kept"))
        .orderBy(col("cell"))
    })

  override def queries: Seq[Q] = Seq(
    qCosineNearDup, qEmbeddingClusters, qEmbeddingLsh, qEmbeddingSemDedup,
    qSemDedupIncremental, qBruteTopK, qAnnLsh,
    qIvf, qSq8, qCentroids,
    qHardNegatives, qHardNegativesLsh, qPq, qIvfPq,
    qPqLoaded, qIvfLoaded, qIvfPqLoaded, qSq8Loaded,
    qSampleClusterBalanced)
}
