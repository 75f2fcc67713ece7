package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.normSq

/** Scalar quantization (int8 grid) as a persistable index — the stored
  * form that makes SQ8's bandwidth argument real: per-dimension global
  * [min, max] → 256-step uniform grid, vectors stored as
  * `ARRAY<INT>` codes (64 values/vector; 64 B in the tinyint layout the
  * parquet encoder dictionary-packs), scoring runs on the map-side
  * dequantized approximation, exact re-rank restores float ordering via
  * the shared `PqIndex.poolRerank` (one audited pool-selection shape for
  * SQ8/PQ/IVF-PQ). Cites the SQ posture of `q_sim_topk_sq8`
  * (queries/VectorQueries.scala) — that query now routes through this
  * kernel, so the in-memory and loaded paths cannot diverge.
  *
  * Artifact layout under `path` (same contract as PqIndex/IvfIndex:
  * `meta` written LAST is the ArtifactPaths.exists commit marker):
  *   grid/  (pos, lo, step)  — dim tiny rows
  *   codes/ (vec_id, code)   — the payload-free scan side
  *   meta/  (dim)
  * Grid drift as the corpus grows (new global min/max) costs
  * reconstruction ACCURACY at the range edges — rebuild cadence, never
  * correctness: scores are exact w.r.t. the stored codes and the pool
  * is exact-rescored from corpus floats.
  */
object Sq8Index {

  final case class Grid(lo: Array[Double], step: Array[Double])

  /** Per-dimension [min, max] → (lo, step) grid: one partial+final agg
    * collapsing to dim rows — O(dim) driver bytes, like IVF centroids.
    */
  def train(vectors: DataFrame): Grid = {
    val ranges = vectors
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
      .orderBy(col("pos"))
      .collect()
    val lo = ranges.map(_.getDouble(1))
    val step = ranges.map { r =>
      val w = r.getDouble(2) - r.getDouble(1); if (w > 0) w / 255.0 else 1.0
    }
    Grid(lo, step)
  }

  private def loLit(g: Grid): Column = array(g.lo.map(lit).toSeq: _*)
  private def stepLit(g: Grid): Column = array(g.step.map(lit).toSeq: _*)

  /** Map-side quantize: float vector → int codes (0..255 per dim). */
  def encode(vectors: DataFrame, grid: Grid): DataFrame = {
    val l = loLit(grid); val st = stepLit(grid)
    vectors.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        round((x.cast("double") - element_at(l, i + 1)) /
          element_at(st, i + 1), 0).cast("int")).as("code"))
  }

  /** Map-side dequantize: codes → the grid reconstruction the scoring
    * kernel sees (identical arithmetic to quantize-then-reconstruct on
    * the float path, so loaded == in-memory exactly).
    */
  def dequant(code: Column, grid: Grid): Column = {
    val l = loLit(grid); val st = stepLit(grid)
    transform(code, (c, i) =>
      (element_at(l, i + 1) + c.cast("double") * element_at(st, i + 1))
        .cast("float"))
  }

  def save(path: String, grid: Grid, codes: DataFrame): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    ArtifactPaths.rebuild(path)
    grid.lo.indices.map(i => (i, grid.lo(i), grid.step(i)))
      .toDF("pos", "lo", "step")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/grid")
    codes.select(col("vec_id"), col("code"))
      .write.mode("overwrite").parquet(s"$path/codes")
    Seq(Tuple1(grid.lo.length)).toDF("dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def load(spark: SparkSession, path: String): (Grid, DataFrame) = {
    val rows = spark.read.parquet(s"$path/grid").collect()
      .sortBy(_.getAs[Int]("pos"))
    (Grid(rows.map(_.getAs[Double]("lo")), rows.map(_.getAs[Double]("step"))),
      // tombstoned ids drop out of the ids-only code scan at load
      Tombstones.exclude(spark.read.parquet(s"$path/codes"), spark, path,
        "vec_id"))
  }

  /** Incremental maintenance: encode new vectors with the FROZEN grid
    * and append — same contract as PqIndex.append (encoding is a pure
    * per-row function of (vector, grid); caller owns vec_id uniqueness).
    */
  def append(spark: SparkSession, path: String, vectors: DataFrame): Unit = {
    val (grid, _) = load(spark, path)
    encode(vectors, grid).write.mode("append").parquet(s"$path/codes")
  }

  /** Quantize-then-reconstruct of the FLOAT query side under `grid` —
    * the one implementation both the full-scan path ([[topKFrom]]) and
    * the candidate pre-filter ([[prefilterRerank]]) use, so query-side
    * approximation arithmetic cannot diverge between them. Returns the
    * broadcast frame (qid, qa, qan2).
    */
  private[operators] def quantizeQueries(queriesDf: DataFrame, grid: Grid): DataFrame = {
    val l = loLit(grid); val st = stepLit(grid)
    broadcast(queriesDf
      .select(col("qid"),
        transform(col("qv"), (x, i) => {
          val lo = element_at(l, i + 1); val s = element_at(st, i + 1)
          // clamp to the grid ([0, 255]) exactly like packCodes saturates:
          // an out-of-grid query value under a FROZEN drifted grid must
          // reconstruct to the same point on BOTH the float path (here)
          // and the byte-code path, or the documented bit-equality between
          // topKFrom and prefilterRerank breaks at the range edges
          (lo + greatest(lit(0.0),
            least(lit(255.0), round((x.cast("double") - lo) / s, 0))) * s)
            .cast("float")
        }).as("qa"))
      .withColumn("qan2", normSq(col("qa"))))
  }

  /** Approx-score everything on the dequantized codes, exact re-rank the
    * top pool. `queriesDf` is the FLOAT query set (qid, qv, qn2) — the
    * query side is quantized with the same grid so both paths score
    * approximation-vs-approximation, exactly like the in-memory twin.
    */
  def topKFrom(queriesDf: DataFrame, codes: DataFrame, corpus: DataFrame,
      grid: Grid, k: Int, pool: Int): DataFrame = {
    val approx = codes
      .select(col("vec_id").as("nid"), dequant(col("code"), grid).as("na"))
      .withColumn("nan2", normSq(col("na")))
    val scored = quantizeQueries(queriesDf, grid)
      .join(approx, col("qid") =!= col("nid"))
      .withColumn("acos", graft.functions.VectorFunctions.dot(col("qa"), col("na")) /
        (sqrt(col("qan2")) * sqrt(col("nan2"))))
      .select(col("qid"), col("nid"), col("acos"))
    PqIndex.poolRerank(scored, broadcast(queriesDf), corpus, k, pool)
  }

  // --- Exchange-compact code packing ------------------------------------
  // The candidate pre-filter ships corpus codes THROUGH a shuffle (ids +
  // codes, never float vectors), so the code column is packed to signed
  // bytes map-side first: c - 128 ∈ [-128, 127] — dim bytes/row in the
  // tungsten row instead of 4·dim for ARRAY<INT> (and ArrayType(ByteType)
  // is exempt from ScaleLint's float-payload exchange check by design).
  // The shift is an exact integer round-trip: dequantByte restores the
  // identical 0..255 value before the identical grid arithmetic, so
  // packed scoring is bit-equal to [[dequant]] on the int codes.

  /** (vec_id, code ARRAY<INT>) → (vec_id, bcode ARRAY<TINYINT>, an2) —
    * the approximate squared norm is precomputed HERE, map-side before
    * any exchange, so downstream pair scoring evaluates each code array
    * exactly once (one fused [[graft.plans.Sq8CodeDot]] per pair) instead
    * of re-running the dequant transform for every use.
    *
    * Codes SATURATE at the grid edge ([0, 255]) before packing: vectors
    * encoded under a FROZEN grid (incremental appends) can fall outside
    * the trained [min, max] and the int-code path extrapolates there,
    * but a byte can't — clamping is exactly the documented grid-drift
    * posture (accuracy degrades at the range edges, correctness never:
    * scores stay exact w.r.t. the stored codes and survivors are
    * exact-rescored from floats).
    */
  def packCodes(codes: DataFrame, grid: Grid): DataFrame =
    codes.select(col("vec_id"),
        transform(col("code"), c =>
          (greatest(lit(0), least(lit(255), c)) - 128).cast("byte"))
          .as("bcode"))
      .withColumn("an2",
        graft.functions.VectorFunctions.sq8Dot(col("bcode"), col("bcode"),
          grid.lo, grid.step))

  /** Byte-packed twin of [[dequant]]: bit-identical reconstruction. */
  def dequantByte(bcode: Column, grid: Grid): Column = {
    val l = loLit(grid); val st = stepLit(grid)
    transform(bcode, (c, i) =>
      (element_at(l, i + 1) +
        (c.cast("double") + lit(128.0)) * element_at(st, i + 1))
        .cast("float"))
  }

  /** Quantized PRE-FILTER + exact re-rank for a CANDIDATE pair stream
    * (qid, nid) — the scale route past the broadcast re-attach ceiling
    * on candidate-generating ANN paths (LSH buckets, IVF probes). The
    * old shape broadcast the full float corpus to re-attach vectors to
    * candidates: correct to ~10⁷ vectors, a driver/executor OOM cliff
    * past that. Here candidates join the byte-packed code table by id
    * (ids + ~dim-byte codes through the exchange — shuffles scale,
    * broadcasts don't), score approximately against the quantized query
    * side entirely map-side, and only the per-query top-`pool` approx
    * survivors reach exact float scoring through the shared
    * [[PqIndex.poolRerank]] (which broadcasts the ≤ pool·|Q| candidate
    * ids and STREAMS the corpus — the small side broadcasts, at any
    * corpus size). Zero float arrays on any exchange, no full-corpus
    * broadcast anywhere.
    */
  def prefilterRerank(pairIds: DataFrame, queriesDf: DataFrame,
      codes: DataFrame, corpus: DataFrame, grid: Grid, k: Int,
      pool: Int): DataFrame = {
    val packed = packCodes(codes, grid)
      .select(col("vec_id").as("nid"), col("bcode"), col("an2").as("nan2"))
    val cand = pairIds.join(packed, "nid")
    // query side quantized to CODES with the same grid (code-vs-code
    // scoring = the approximation-vs-approximation arithmetic of
    // [[topKFrom]]'s float path, bit-equal via the shared Sq8CodeDot
    // reconstruction) — |Q| rows, broadcast
    val qPacked = broadcast(packCodes(
        encode(queriesDf.select(col("qid").as("vec_id"),
          col("qv").as("embedding")), grid), grid)
      .select(col("vec_id").as("qid"), col("bcode").as("qcode"),
        col("an2").as("qan2")))
    val scored = cand.join(qPacked, "qid")
      .withColumn("acos",
        graft.functions.VectorFunctions.sq8Dot(col("qcode"), col("bcode"),
          grid.lo, grid.step) / (sqrt(col("qan2")) * sqrt(col("nan2"))))
      .select(col("qid"), col("nid"), col("acos"))
    PqIndex.poolRerank(scored,
      broadcast(queriesDf.select(col("qid"), col("qv"), col("qn2"))),
      corpus, k, pool)
  }
}
