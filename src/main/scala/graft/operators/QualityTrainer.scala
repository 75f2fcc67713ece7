package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{QualityClassifier, TextFunctions}

/** In-engine TRAINING for the hashed char-trigram classifier — the half
  * of the quality family the engine was missing: `functions
  * .QualityClassifier` scores with a weight vector; this learns one, by
  * batch logistic regression over the SAME feature space
  * (plans.HashedNgramCounts shares the md5-bucket arithmetic with the
  * scoring expression, spec-pinned `dot(counts, w) == logit`), so a
  * trained vector plugs straight into the existing inference path with
  * zero feature skew. The fastText-classifier recipe (Joulin et al.
  * 2016, public literature): hashed n-gram bag → linear logit →
  * sigmoid; teacher labels come from any binary column (the registry
  * query distills the fixture's language label — the fastText-langid
  * use; a quality-seed teacher is the same call).
  *
  * Determinism (the UnigramTrainer standard — bit-identical across
  * runs, partitionings, and cluster sizes):
  *  - the per-doc gradient factor quantizes to a fixed-point Long
  *    BEFORE any cross-row combine, so the per-bucket gradient is an
  *    INTEGER sum — associative + commutative, partition-order-proof
  *    (float accumulation across partitions would be order-dependent);
  *  - weight updates happen on the driver over the 256-long gradient in
  *    one fixed order.
  *
  * Scale posture: features are extracted ONCE (one DataFrame pass over
  * the docs — training seed sets are the SMALL curated side of a
  * curation stack) into a cached typed RDD, and each GD iteration is ONE
  * single-stage `RDD.aggregate` folding per-partition integer gradient
  * buffers straight to the driver — O(dim) bytes per partition, no
  * shuffle at all (MLlib's own iterative optimizers use exactly this
  * treeAggregate-per-iteration shape). The earlier DataFrame-aggregate
  * fold planned a partial→exchange→final pair, i.e. TWO scheduled
  * stages per iteration; at fixture scale the 40-iteration loop was
  * wall-bound on that fixed per-job latency (r13 verdict #4), not on
  * compute. Per-doc per-bucket contribution is bounded by GradScale
  * (counts_j ≤ n_grams cancels the 1/n), so the Long sums hold past
  * 10⁹ docs.
  */
object QualityTrainer {

  /** Fixed-point scale of the quantized per-doc gradient factor. */
  val GradScale = 100000000L // 1e8

  /** The ONE default base learning rate, shared by [[train]], [[trainDf]]
    * and the IndexMain train-quality CLI — three entry points with three
    * drifting defaults silently trained different models depending on
    * which API was called (r13 ADVICE). Callers wanting a different rate
    * pass it explicitly (the registry query pins its own).
    */
  val DefaultLr = 1.0

  /** One cached training example: label, dense hashed-trigram counts,
    * total gram count. Public + primitive/array-only for the encoder
    * that deserializes it out of the feature DataFrame exactly once.
    */
  case class FeatRow(y: Long, counts: Array[Long], n: Long)

  /** Train fixed-point (weights, bias) by `iters` batch ADAGRAD steps
    * at base rate `lr` from zero init; model z = meanLogit + bias/S
    * (the intercept absorbs the class prior — without it an imbalanced
    * teacher pins every prediction to the majority class). Adagrad's
    * per-coordinate scaling is load-bearing: the intercept's
    * z-sensitivity is 1/S while a bucket carrying fraction f of a doc's
    * grams has f/S — they differ by orders of magnitude, so one global
    * rate either diverges on the bias or crawls on the features; the
    * accumulator normalizes both to ~lr-sized first steps
    * (deterministic: accumulators live on the DRIVER and fold the same
    * integer gradient sums the update uses, in one fixed order).
    * `docs` must carry `textCol` (string) and `labelCol` (0/1). The
    * weights feed `QualityClassifier.ngramLogit(text, w)`; the keep
    * rule is `logit + bias·n_grams > 0` (i.e. mean-logit above the
    * TRAINED threshold −bias/S — [[keeps]]).
    */
  def train(docs: DataFrame, textCol: String, labelCol: String,
      iters: Int = 8, lr: Double = DefaultLr,
      dim: Int = QualityClassifier.Dim): (Array[Long], Long) = {
    require(iters >= 1, s"need at least one iteration: $iters")
    val spark = docs.sparkSession
    import spark.implicits._
    val S = QualityClassifier.Scale
    // features once: (y, counts, n_grams) extracted in one DataFrame
    // pass (HashedNgramCounts — the md5-bucket arithmetic shared with
    // the scoring expression), then deserialized ONCE into a cached
    // typed RDD the iteration loop folds over
    val feat = docs.select(
        col(labelCol).cast("long").as("y"),
        TextFunctions.ngramCounts(lower(col(textCol)), dim = dim).as("counts"))
      .withColumn("n", aggregate(col("counts"), lit(0L), (a, x) => a + x))
      .filter(col("n") > 0)
      .select(col("y"), col("counts"), col("n"))
      .as[(Long, Seq[Long], Long)]
      .rdd.map { case (y, c, nG) => FeatRow(y, c.toArray, nG) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // an empty/fully-filtered training set would otherwise train a
    // degenerate all-zero model silently — fail with the real reason
    require(!feat.isEmpty(),
      "QualityTrainer.train: no trainable documents — every input row " +
        s"is empty or has zero hashed $dim-bucket n-grams in '$textCol'")
    var w = new Array[Long](dim)
    var bS = 0L
    val acc = new Array[Double](dim) // adagrad Σ grad² per bucket
    var accB = 0.0
    val gradScaleD = GradScale.toDouble
    var it = 0
    while (it < iters) {
      // ONE single-stage job per iteration: per-partition integer
      // gradient buffers fold directly to the driver (no exchange — the
      // DataFrame-aggregate form scheduled a partial→shuffle→final pair
      // per iteration and the loop went latency-bound, r13 verdict #4).
      // z = mean logit + bias; p = sigmoid(z); the per-doc factors
      // quantize to fixed point (HALF_UP, the Spark round() rule)
      // BEFORE the cross-row integer sums, so every sum is exact and
      // partition-order-proof.
      val wCur = w // immutable within the job; captured by the closure
      val bCur = bS
      val folded = feat.aggregate((new Array[Long](dim), 0L, 0L))(
        seqOp = { case ((g, bsum, nd), r) =>
          var logitS = 0L
          var j = 0
          while (j < dim) { logitS += r.counts(j) * wCur(j); j += 1 }
          val z = logitS.toDouble / (S.toDouble * r.n.toDouble) +
            bCur.toDouble / S.toDouble
          val p = 1.0 / (1.0 + math.exp(-z))
          val gq = BigDecimal((p - r.y.toDouble) / r.n.toDouble * gradScaleD)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          val bq = BigDecimal((p - r.y.toDouble) * gradScaleD)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          var k = 0
          while (k < dim) { g(k) += r.counts(k) * gq; k += 1 }
          (g, bsum + bq, nd + 1L)
        },
        combOp = { case ((g1, b1, n1), (g2, b2, n2)) =>
          var j = 0
          while (j < dim) { g1(j) += g2(j); j += 1 }
          (g1, b1 + b2, n1 + n2)
        })
      val (g, bsum, nd) = folded
      val nDocs = math.max(1L, nd)
      var j = 0
      while (j < dim) {
        // ΔwS_j = lr · S · mean_j / √acc_j, mean_j = G_j / (GradScale·nDocs)
        val mean = g(j).toDouble / (gradScaleD * nDocs)
        acc(j) += mean * mean
        if (acc(j) > 0.0)
          w(j) = w(j) - math.round(lr * S.toDouble * mean / math.sqrt(acc(j)))
        j += 1
      }
      val meanB = bsum.toDouble / (gradScaleD * nDocs)
      accB += meanB * meanB
      if (accB > 0.0)
        bS = bS - math.round(lr * S.toDouble * meanB / math.sqrt(accB))
      it += 1
    }
    feat.unpersist(blocking = false)
    (w, bS)
  }

  /** The keep decision under a trained (weights, bias): mean-logit above
    * the trained threshold, in exact integer arithmetic —
    * logit + bias·n_grams > 0.
    */
  def keeps(nGrams: Column, logit: Column, biasS: Long): Column =
    nGrams > 0L && logit + lit(biasS) * nGrams > 0L


  /** Registry form: `dim`+1 rows, deterministic — the trained bias
    * (intercept) rides at bucket −1, the feature weights at 0..dim−1.
    */
  def trainDf(docs: DataFrame, textCol: String, labelCol: String,
      iters: Int = 8, lr: Double = DefaultLr,
      dim: Int = QualityClassifier.Dim): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (w, bS) = train(docs, textCol, labelCol, iters, lr, dim)
    ((-1, bS) +: w.zipWithIndex.map { case (x, j) => (j, x) }.toSeq)
      .toDF("bucket", "weight")
  }

  // --- Persisted weight artifact ---------------------------------------
  //   <dir>/v_<stamp>/weights (bucket, weight) — dim tiny rows, fixed-
  //   point Scale; <dir>/v_<stamp>/meta (dim, bias, iters, lr) written
  //   LAST (the version's commit marker); <dir>/CURRENT — a one-line
  //   pointer file naming the live version, swapped in with an ATOMIC
  //   rename. A standing scorer (StreamingOps.qualityScoreSink reloads
  //   per micro-batch) therefore always reads either the old committed
  //   version or the new one, never a deleted/partial weights dir or new
  //   weights paired with stale meta — retraining over a live artifact
  //   is safe (r14 ADVICE #1). One superseded version is retained for
  //   readers that resolved CURRENT just before a swap; older ones are
  //   pruned at the next save.

  def save(spark: org.apache.spark.sql.SparkSession, dir: String,
      weights: Array[Long], biasS: Long, iters: Int, lr: Double): Unit = {
    import spark.implicits._
    val version = s"v_${System.currentTimeMillis}_" +
      java.util.UUID.randomUUID.toString.take(8)
    weights.zipWithIndex.map { case (x, j) => (j, x) }.toSeq
      .toDF("bucket", "weight")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$version/weights")
    Seq((weights.length, biasS, iters, lr)).toDF("dim", "bias", "iters", "lr")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$version/meta")
    val previous = currentVersion(dir) // before the swap, for pruning
    val tmp = java.nio.file.Paths.get(dir, s".CURRENT.$version")
    java.nio.file.Files.write(tmp, version.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // prune everything except the new current and its immediate
    // predecessor (a reader may hold the predecessor mid-read)
    val keep = Set(version) ++ previous
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v_") &&
        !keep(f.getName))
      .foreach(ArtifactPaths.delete)
  }

  private def currentVersion(dir: String): Option[String] = {
    val cur = new java.io.File(dir, "CURRENT")
    if (!cur.isFile) None
    else Some(new String(
      java.nio.file.Files.readAllBytes(cur.toPath), "UTF-8").trim)
      .filter(_.nonEmpty)
  }

  /** Root of the committed live version: the CURRENT pointer's target,
    * or the pre-versioning flat layout (weights/meta directly under
    * `dir`) for artifacts written before r15.
    */
  private def liveRoot(dir: String): String =
    currentVersion(dir).map(v => s"$dir/$v").getOrElse(dir)

  /** Committed-weights existence under either layout — callers deciding
    * train-if-absent must use this, not ArtifactPaths.exists(dir).
    */
  def exists(dir: String): Boolean = ArtifactPaths.exists(liveRoot(dir))

  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Long], Long) = {
    val root = liveRoot(dir)
    require(ArtifactPaths.exists(root),
      s"no committed classifier weights at $dir")
    val rows = spark.read.parquet(s"$root/weights").orderBy("bucket").collect()
    val meta = spark.read.parquet(s"$root/meta").collect().head
    val dim = meta.getAs[Int]("dim")
    require(rows.length == dim && rows.iterator.zipWithIndex.forall {
        case (r, j) => r.getInt(0) == j },
      s"classifier weight artifact at $dir is not a dense 0..${dim - 1} vector")
    (rows.map(_.getLong(1)), meta.getAs[Long]("bias"))
  }
}
