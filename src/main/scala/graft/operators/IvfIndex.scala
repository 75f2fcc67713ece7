package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbor: partition the vector
  * space by a small set of coarse centroids; at query time probe only the
  * `nProbe` nearest cells. The other standard ANN scale path next to LSH
  * bucketing (cf. IVF in FAISS / the original Sivic-Zisserman video-google
  * scheme — public literature).
  *
  * Centroid selection here is deterministic reservoir-free sampling (every
  * (n/k)-th vector by id) + one Lloyd refinement step, all as DataFrame
  * ops — no mllib dependency, no driver-side iteration over vectors. The
  * centroid table is tiny (k × dim) and broadcast; assignment is a
  * broadcast join + argmin, so the big side never shuffles. At 100 TB:
  * cells ≈ √n keeps |cell| ≈ √n, probe cost nProbe·√n per query.
  */
object IvfIndex {

  /** Persist an IVF index under `path`: the `centroids` table (k tiny
    * rows) and the `cells` assignment projected to (vec_id, cell, n2) —
    * no float payload, vectors re-attach from the corpus table at query
    * time (same artifact posture as PqIndex.save). `meta` is written LAST
    * as the commit marker (ArtifactPaths.exists).
    */
  def save(path: String, cents: DataFrame, indexed: DataFrame): Unit = {
    val spark = indexed.sparkSession
    import spark.implicits._
    ArtifactPaths.rebuild(path)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    indexed.select(col("vec_id"), col("cell"), col("n2"))
      .write.mode("overwrite").parquet(s"$path/cells")
    Seq(Tuple1("ivf")).toDF("kind")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a saved IVF index → (centroids, cells). Tombstoned ids drop
    * out of the ids-only cell table here, so every probe honors deletes.
    */
  def load(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/centroids"),
      Tombstones.exclude(spark.read.parquet(s"$path/cells"), spark, path,
        "vec_id"))

  /** Incremental index maintenance: assign `vectors` (vec_id, embedding,
    * n2) to the artifact's FROZEN centroids and append the new (vec_id,
    * cell, n2) rows to `cells`. Assignment is a pure per-row function of
    * (vector, centroids), so the appended index equals a fresh assign of
    * the union against the same centroids (AnnPersistenceSpec). Centroid
    * drift costs recall (retrain cadence), never correctness — probed
    * cells still contain exactly the vectors assigned to them. Caller
    * owns vec_id uniqueness vs the already-indexed corpus.
    */
  def append(spark: SparkSession, path: String, vectors: DataFrame): Unit = {
    val (cents, _) = load(spark, path)
    assign(vectors, cents)
      .select(col("vec_id"), col("cell"), col("n2"))
      .write.mode("append").parquet(s"$path/cells")
  }

  /** Assign each vector to its nearest centroid cell.
    * Returns (vec_id, embedding, n2, cell).
    *
    * The centroid table is tiny (k × dim) by construction, so it is
    * collected once (O(k·dim) driver bytes) and shipped inside a native
    * argmin expression — the corpus is assigned entirely map-side with NO
    * exchange. The previous formulation (cross join + per-vector window)
    * shuffled all n·k candidate rows, which at 100 TB with k ≈ √n is
    * n·√n rows through the wire.
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val rows = centroids.select(col("cell"), col("cvec"), col("cn2"))
      .collect().sortBy(_.getInt(0))
    val cells = rows.map(_.getInt(0))
    val cvecs = rows.map(_.getSeq[Float](1).toArray)
    val cn2s  = rows.map(_.getDouble(2))
    vectors
      .withColumn("cell", nearestCell(col("embedding"), cells, cvecs, cn2s))
      .select(col("vec_id"), col("embedding"), col("n2"), col("cell"))
  }

  /** SOFT assignment: each vector's top-`p` nearest cells, exploded to
    * (vec_id, cell) — one row per (vector, probed cell). Same map-side
    * zero-shuffle posture as [[assign]] (centroid matrix collected once,
    * shipped inside a native top-p expression). SemDeDup's boundary fix:
    * a near-dup pair split by one k-means boundary still co-locates in
    * some top-p cell; the corpus-side analog of the query-side
    * [[probeCells]] (which ranks via a per-qid window — fine for bounded
    * query sets, quadratic if applied to the corpus since k grows with n).
    */
  def assignTop(vectors: DataFrame, centroids: DataFrame, p: Int): DataFrame = {
    val rows = centroids.select(col("cell"), col("cvec"), col("cn2"))
      .collect().sortBy(_.getInt(0))
    val cells = rows.map(_.getInt(0))
    val cvecs = rows.map(_.getSeq[Float](1).toArray)
    val cn2s  = rows.map(_.getDouble(2))
    vectors
      .withColumn("cell",
        explode(nearestCells(col("embedding"), cells, cvecs, cn2s, p)))
      .select(col("vec_id"), col("cell"))
  }

  /** Deterministic coarse centroids: hash-sample ~k seed vectors (the
    * filter runs distributed; only the ≤k survivors pass through the tiny
    * ranking window — never rank the full table through one partition),
    * refined by one Lloyd step (mean of assigned vectors per cell).
    */
  def centroids(spark: SparkSession, vectors: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val n = vectors.count()
    val stride = math.max(1L, n / k)
    // deterministic TakeOrdered (bare limit() takes whichever rows arrive
    // first), then number the ≤k survivors on the DRIVER: assign() below
    // collects the centroid matrix anyway, so an O(k) collect here is the
    // same bound — and it replaces the former single-partition ranking
    // window (the one whitelisted WindowExec "No Partition Defined" spam
    // source in every bench/test log)
    val sampled = vectors
      .filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .orderBy(col("vec_id"))
      .limit(k)
      .select(col("embedding"), col("n2"))
      .collect()
    // the stride sample's expected yield is exactly k, but at small n the
    // variance can take it to ZERO survivors — an empty centroid table
    // would fail every downstream assignment. Fallback (taken only when
    // the sample is empty, so established seed sets are unchanged):
    // deterministic hash-ordered top-k — same TakeOrdered bound, never a
    // full-table single-partition rank.
    val seedRows = if (sampled.nonEmpty) sampled
      else vectors
        .orderBy(pmod(xxhash64(col("vec_id")), lit(1000003L)), col("vec_id"))
        .limit(k)
        .select(col("embedding"), col("n2"))
        .collect()
    val seeds = seedRows
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0), r.getDouble(1)) }
      .toSeq.toDF("cell", "cvec", "cn2")

    // one Lloyd refinement: mean of members per cell, element-wise
    val assigned = assign(vectors, seeds)
    val refined = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("float")).as("cvec"))
    refined.select(col("cell"), col("cvec"), normSq(col("cvec")).as("cn2"))
  }

  /** Per-query `nProbe` nearest cells → (qid, cell). Payload-free probe
    * ranking: the distance is computed in a projection that DROPS the
    * query/centroid vectors, so the probe window's exchange carries
    * (qid, cell, dist) only; vectors re-attach downstream wherever scoring
    * needs them. The ONE probe implementation — IVF and IVF-PQ both route
    * through here, so probe ranking (distance formula, tie-break) cannot
    * diverge between them.
    */
  def probeCells(queriesDf: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    val wq = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("cell"))
    // explicit crossJoin (not join(.., lit(true))): the |Q| × k centroid
    // product is the deliberate bounded-side pattern, and stating it as a
    // cross join is what keeps ScaleLint's cartesian check satisfied when
    // the centroid side is a LOADED artifact scan (no Aggregate below it
    // for the lint to recognize as bounded)
    queriesDf
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("cell"),
        (col("qn2") + col("cn2") - lit(2.0) * dot(col("qv"), col("cvec"))).as("dist"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cell"))
  }

  /** Top-k cosine neighbors for `queries` probing `nProbe` cells. */
  def topK(queriesDf: DataFrame, indexed: DataFrame, cents: DataFrame,
      k: Int, nProbe: Int): DataFrame =
    topKFrom(queriesDf, indexed, indexed, cents, k, nProbe)

  /** topK with the candidate side (`cells`: vec_id, cell — e.g. a LOADED
    * artifact) separated from the scoring side (`corpus`: vec_id,
    * embedding, n2): the cell probe join touches only the payload-free
    * assignment table.
    *
    * Candidate scoring routes through the SQ8 quantized pre-filter
    * ([[Sq8Index.prefilterRerank]]) — the r10 verdict's task 1. The old
    * shape pinned `broadcast()` on the full float-corpus re-attach,
    * which was correct at the sf10 fixture but an OOM cliff past ~10⁷
    * vectors; now candidate ids join the byte-packed code table through
    * a shuffle (ids + ~dim-byte codes, shuffles scale), and only the
    * per-query approx top-`pool` reach exact float re-rank, where the
    * SMALL candidate-id set broadcasts and the corpus streams. Zero
    * full-corpus broadcasts, zero float arrays on exchanges, at any
    * corpus size.
    *
    * `quant` supplies pre-built (codes, grid) — e.g. a persisted
    * [[Sq8Index]] artifact maintained next to the IVF cells, the
    * production posture so the grid isn't re-trained per query batch;
    * None trains + encodes from `corpus` inline (one agg scan + one
    * map-side pass). `pool` < 0 → the 3·k convention of the SQ8 query.
    */
  def topKFrom(queriesDf: DataFrame, cells: DataFrame, corpus: DataFrame,
      cents: DataFrame, k: Int, nProbe: Int,
      quant: Option[(DataFrame, Sq8Index.Grid)] = None,
      pool: Int = -1): DataFrame = {
    val probes = probeCells(queriesDf, cents, nProbe)
    // candidate ids first, vectors re-attached after the distinct (same
    // payload-free-shuffle rationale as the LSH query)
    val pairIds = probes.select(col("qid"), col("cell"))
      .join(cells.select(col("cell").as("icell"), col("vec_id").as("nid")),
        col("cell") === col("icell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
    val (codes, grid) = quant.getOrElse {
      val g = Sq8Index.train(corpus)
      (Sq8Index.encode(corpus, g), g)
    }
    // Candidate-coverage gate for the ARTIFACT route: prefilterRerank's
    // inner join would silently DROP any candidate whose vec_id has no
    // code row — exactly what happens when the side-car SQ8 artifact
    // lags the IVF cells (ivf appended, sq8 not). Dropped candidates are
    // silent recall loss; fail loudly instead. One anti-join probe over
    // two ids-only frames with an early-out limit — O(1) rows moved.
    val pids =
      if (quant.isEmpty) pairIds
      else {
        // materialize once (ids only, O(candidates)·16 B) so the gate and
        // the scoring join don't recompute the candidate generation
        val pinned = Pin(pairIds)
        val missing = pinned.select(col("nid")).distinct()
          .join(codes.select(col("vec_id").as("nid")), Seq("nid"), "left_anti")
          .limit(1).collect()
        if (missing.nonEmpty) throw new IllegalStateException(
          s"IvfIndex.topKFrom: candidate vec_id ${missing.head.getLong(0)} " +
            "has no code row in the supplied SQ8 quantization — the SQ8 " +
            "artifact lags the IVF cells (append reached one but not the " +
            "other). Append the same batch to the SQ8 artifact (IndexMain " +
            "append-sq8) or rebuild it; silently dropping candidates would " +
            "be invisible recall loss.")
        pinned
      }
    Sq8Index.prefilterRerank(pids, queriesDf, codes, corpus, grid, k,
        if (pool > 0) pool else 3 * k)
      .orderBy(col("qid"), col("rn"))
  }
}
