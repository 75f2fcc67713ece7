package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Product quantization (PQ) approximate nearest neighbor (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", public literature):
  * split each dim-D vector into `m` subvectors, learn a tiny `k`-codeword
  * codebook per subspace, store each vector as `m` small codes (8 bytes
  * here vs 256 bytes of floats — the 32× memory ratio is the point at
  * 100 TB), and score queries against codes through per-query lookup
  * tables (ADC) built once per query.
  *
  * Scale posture: codebooks train on a BOUNDED deterministic sample
  * (hash-selected, capped — never a full-corpus iteration), the corpus
  * pass is encode-only via the same zero-shuffle native argmin the IVF
  * assign uses (one map-side pass, no exchange), and query scoring is a
  * broadcast of (query, its m×k table) against the code column — the
  * corpus never shuffles and the per-pair cost is m table lookups
  * instead of D multiplies. Exact re-rank of the top `pool` candidates
  * (re-attached float vectors) restores ordering fidelity, the standard
  * PQ + re-rank pipeline.
  */
object PqIndex {

  /** A persisted PQ (optionally IVF-PQ) index, reloaded: trained codebooks
    * plus the codes table `(vec_id, n2, code[, cell])` — the float vectors
    * are deliberately NOT part of the artifact (they re-attach from the
    * corpus table at re-rank time), so the artifact stays ~32× smaller
    * than the corpus, which is the point of PQ at 100 TB.
    */
  final case class LoadedPq(
      books: Array[Array[Array[Float]]],
      codes: DataFrame,
      cents: Option[DataFrame])

  /** Persist a trained index under `path`: `codebooks` (m·k tiny rows),
    * `codes` = `encoded` projected to (vec_id, n2, code[, cell]) — the
    * ADC scan side, no float payload — and, for IVF-PQ, the `centroids`
    * table. The `meta` table is written LAST (the ArtifactPaths commit
    * protocol). This is the train-once → save → probe-many production
    * shape: at query time the ADC pass reads this artifact and the float
    * corpus is touched only to re-attach pool survivors.
    */
  def save(path: String, books: Array[Array[Array[Float]]],
      encoded: DataFrame, cents: Option[DataFrame] = None): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    ArtifactPaths.rebuild(path)
    val m = books.length
    val kWords = books(0).length
    books.zipWithIndex.flatMap { case (words, s) =>
      words.zipWithIndex.map { case (w, c) => (s, c, w.toSeq) }
    }.toSeq.toDF("s", "c", "word")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val codeCols = Seq("vec_id", "n2", "code") ++
      (if (encoded.columns.contains("cell")) Seq("cell") else Nil)
    encoded.select(codeCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$path/codes")
    cents.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids"))
    Seq((m, kWords, books(0)(0).length, cents.isDefined))
      .toDF("m", "k", "subDim", "hasCells")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a saved index. Codebooks are O(m·k·subDim) driver bytes (the
    * same bound training already collects); the codes table stays a
    * DataFrame scan.
    */
  def load(spark: SparkSession, path: String): LoadedPq = {
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val m = meta.getAs[Int]("m")
    val kWords = meta.getAs[Int]("k")
    val subDim = meta.getAs[Int]("subDim")
    val books = Array.fill(m, kWords)(new Array[Float](subDim))
    spark.read.parquet(s"$path/codebooks").collect().foreach { r =>
      books(r.getAs[Int]("s"))(r.getAs[Int]("c")) =
        r.getSeq[Float](r.fieldIndex("word")).toArray
    }
    val cents =
      if (meta.getAs[Boolean]("hasCells"))
        Some(spark.read.parquet(s"$path/centroids"))
      else None
    // deleted ids drop out of the ids-only ADC scan side right here, so
    // every probe path (plain and IVF-routed) honors tombstones for free
    LoadedPq(books,
      Tombstones.exclude(spark.read.parquet(s"$path/codes"), spark, path,
        "vec_id"),
      cents)
  }

  /** Incremental index maintenance — the daily-ingest shape: encode
    * `vectors` (vec_id, embedding, n2) with the artifact's FROZEN
    * codebooks (and, for IVF-PQ, assign cells with its frozen centroids)
    * and append the new code rows to `codes`. Encoding is a pure per-row
    * function of (vector, codebooks), so an appended index is
    * row-identical to re-encoding the union with the same books
    * (AnnPersistenceSpec pins this). Codebook drift as the corpus grows
    * is a RECALL concern (retrain on a cadence, like any ANN index),
    * never a correctness one: ADC scores stay exact w.r.t. the stored
    * codes and the top-pool is exact-rescored from corpus floats anyway.
    * The append lands via Spark's parquet commit protocol (task files
    * stage under _temporary, which readers ignore), so a crashed append
    * leaves the artifact readable; the caller owns vec_id uniqueness vs
    * the already-indexed corpus.
    */
  def append(spark: SparkSession, path: String, vectors: DataFrame): Unit = {
    val idx = load(spark, path)
    val withCell = idx.cents match {
      case Some(c) => IvfIndex.assign(vectors, c)
      case None    => vectors
    }
    val codeCols = Seq("vec_id", "n2", "code") ++
      (if (idx.cents.isDefined) Seq("cell") else Nil)
    encode(withCell, idx.books)
      .select(codeCols.map(col): _*)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Per-subspace codebooks: `books(s)(c)` = codeword c of subspace s
    * (each of length dim/m). Trained as: deterministic hash-sample capped
    * at `64·k` vectors → k seed subvectors per subspace → one Lloyd
    * refinement (mean of assigned sample members; empty cells keep their
    * seed).
    */
  def train(spark: SparkSession, vectors: DataFrame, dim: Int, m: Int,
      k: Int): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val sample = Pin(vectors
      .filter(pmod(xxhash64(col("vec_id")), lit(4L)) === 0)
      .orderBy(col("vec_id")).limit(64 * k)
      .select(col("vec_id"), col("embedding")))
    // ONE seeds collect + ONE all-subspace mean pass (r19 opt, guide
    // §1.2): every subspace's seed rows are the SAME first-k sample rows
    // by vec_id, sliced — collecting them once and slicing driver-side
    // replaces m seed jobs; and the Lloyd means for all m subspaces ride
    // one aggregate over the posexploded full vectors (s = pos/subDim,
    // subpos = pos%subDim, code looked up from the per-subspace code
    // array computed map-side), replacing m mean jobs. Identical
    // arithmetic per (subspace, code, position) group → identical
    // codebooks; was 2·m driver jobs over the checkpointed sample.
    val seedVecs = sample.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val seedBooks = (0 until m).toArray.map { s =>
      seedVecs.map(v => v.slice(s * subDim, (s + 1) * subDim))
    }
    val codeCols = (0 until m).map { s =>
      val words = seedBooks(s)
      nearestCell(slice(col("embedding"), s * subDim + 1, subDim),
        words.indices.toArray, words,
        words.map(w => w.map(x => x.toDouble * x).sum))
    }
    val sCol = (col("pos") / lit(subDim)).cast("int")
    val means = sample
      .select(array(codeCols: _*).as("codes"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(sCol.as("s"),
        element_at(col("codes"), sCol + 1).as("code"),
        pmod(col("pos"), lit(subDim)).cast("int").as("subpos"),
        col("x"))
      .groupBy(col("s"), col("code"), col("subpos"))
      .agg(avg(col("x").cast("double")).as("mv"))
      .collect()
    val words = seedBooks.map(_.map(_.clone())) // empty cells keep their seed
    means.foreach { r =>
      words(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
    }
    words
  }

  /** Map-side encode: appends `code ARRAY<INT>` — one native-argmin column
    * per subspace, no exchange anywhere. Other columns (e.g. an IVF `cell`
    * from IvfIndex.assign) pass through untouched, which is what lets
    * IVF-PQ compose.
    */
  def encode(vectors: DataFrame, books: Array[Array[Array[Float]]]): DataFrame = {
    val m = books.length
    val subDim = books(0)(0).length
    val codeCols = (0 until m).map { s =>
      val words = books(s)
      nearestCell(slice(col("embedding"), s * subDim + 1, subDim),
        words.indices.toArray, words,
        words.map(w => w.map(x => x.toDouble * x).sum))
    }
    vectors.withColumn("code", array(codeCols: _*))
  }

  /** ADC top-k: per-query inner-product lookup tables (m×k floats each,
    * built driver-side from the BOUNDED query set), broadcast against the
    * code column, approximate-cosine top-`pool` per query, exact re-rank.
    * Output (qid, rn, nid, cos) — rn by exact cosine.
    *
    * Pool selection is payload-free and two-stage: the ADC scoring join
    * touches only `(qid, nn2, code)` on the corpus side (never the float
    * vectors), projects to `(qid, nid, acos)` before any exchange, takes a
    * local top-`pool` per (qid, input partition) so no single task ever
    * ranks a qid's full unpruned candidate set, then a global top-`pool`
    * over the ≤ pool·partitions survivors. Float vectors re-attach only
    * for the ≤ pool·|Q| pool members (broadcast-joined — the corpus never
    * shuffles). At 100 TB this keeps the rank exchange at ~24 B/row and
    * the per-task rank input bounded by pool, independent of corpus size.
    */
  def topK(queriesDf: DataFrame, encoded: DataFrame,
      books: Array[Array[Array[Float]]], k: Int, pool: Int): DataFrame =
    topKFrom(queriesDf, encoded, encoded, books, k, pool)

  /** topK with the ADC scan side (`codes`: vec_id, n2, code — e.g. a
    * LOADED artifact, no float payload) separated from the re-rank side
    * (`corpus`: vec_id, embedding, n2). This is the loaded-index query
    * shape: the scan never touches the float corpus; vectors re-attach
    * only for pool survivors inside poolRerank.
    */
  def topKFrom(queriesDf: DataFrame, codes: DataFrame, corpus: DataFrame,
      books: Array[Array[Array[Float]]], k: Int, pool: Int): DataFrame = {
    val queries = queryTables(queriesDf, books)
    val scored = queries.select(col("qid"), col("qn2"), col("tbl"))
      .join(codes.select(col("vec_id").as("nid"), col("n2").as("nn2"),
        col("code")), col("qid") =!= col("nid"))
      .withColumn("acos", adcExpr(books) / (sqrt(col("qn2")) * sqrt(col("nn2"))))
      .select(col("qid"), col("nid"), col("acos"))
    poolRerank(scored, queries, corpus, k, pool)
  }

  /** IVF-PQ: ADC scoring routed through IVF cell probes — the standard
    * composition that makes the PQ scan sub-linear. `encoded` must carry
    * the `cell` column (IvfIndex.assign → PqIndex.encode), `cents` the
    * matching centroid table. Per query, only the `nProbe` nearest cells'
    * codes are ADC-scored: the probe set (qid, cell) is tiny and
    * broadcast, so candidate pruning is a hash join on cell BEFORE any
    * scoring — at 100 TB the ADC pass touches nProbe/cells of the corpus
    * instead of all of it, and the corpus still never shuffles.
    */
  def topKIvf(queriesDf: DataFrame, encoded: DataFrame,
      books: Array[Array[Array[Float]]], cents: DataFrame, k: Int, pool: Int,
      nProbe: Int): DataFrame =
    topKIvfFrom(queriesDf, encoded, encoded, books, cents, k, pool, nProbe)

  /** topKIvf with scan side / re-rank side split exactly as in topKFrom;
    * `codes` additionally carries the IVF `cell` column.
    */
  def topKIvfFrom(queriesDf: DataFrame, codes: DataFrame, corpus: DataFrame,
      books: Array[Array[Array[Float]]], cents: DataFrame, k: Int, pool: Int,
      nProbe: Int): DataFrame = {
    val queries = queryTables(queriesDf, books)
    // nearest nProbe cells per query (|Q| × k centroid rows — tiny);
    // shared probe ranking with plain IVF (IvfIndex.probeCells)
    val probes = IvfIndex.probeCells(queriesDf, cents, nProbe)
    val scored = broadcast(probes)
      .join(codes.select(col("vec_id").as("nid"), col("n2").as("nn2"),
        col("code"), col("cell").as("ncell")), col("cell") === col("ncell") &&
        col("qid") =!= col("nid"))
      .join(queries.select(col("qid").as("tq"), col("qn2"), col("tbl")),
        col("qid") === col("tq"))
      .withColumn("acos", adcExpr(books) / (sqrt(col("qn2")) * sqrt(col("nn2"))))
      .select(col("qid"), col("nid"), col("acos"))
    poolRerank(scored, queries, corpus, k, pool)
  }

  /** Broadcast frame (qid, qv, qn2, tbl): each query's flat m·k table of
    * <q_sub, codeword> inner products, built driver-side from the BOUNDED
    * query set.
    */
  private def queryTables(queriesDf: DataFrame,
      books: Array[Array[Array[Float]]]): DataFrame = {
    val m = books.length
    val kWords = books(0).length
    val subDim = books(0)(0).length
    val qRows = queriesDf.select(col("qid"), col("qv"), col("qn2")).collect()
    val spark = queriesDf.sparkSession
    import scala.jdk.CollectionConverters._
    val tblRows = qRows.map { r =>
      val qv = r.getSeq[Float](1).toArray
      val tbl = Array.tabulate(m * kWords) { i =>
        val s = i / kWords; val c = i % kWords
        var acc = 0.0
        var j = 0
        while (j < subDim) {
          acc += qv(s * subDim + j).toDouble * books(s)(c)(j).toDouble
          j += 1
        }
        acc.toFloat
      }
      org.apache.spark.sql.Row(r.getLong(0), r.getSeq[Float](1), r.getDouble(2), tbl.toSeq)
    }
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qv",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("qn2", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("tbl",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    broadcast(spark.createDataFrame(tblRows.toList.asJava, qSchema))
  }

  /** ADC inner product: m lookups into the query's flat table. */
  private def adcExpr(books: Array[Array[Array[Float]]]): Column = {
    val m = books.length
    val kWords = books(0).length
    expr(
      s"""aggregate(sequence(0, ${m - 1}), CAST(0.0 AS DOUBLE),
          (acc, i) -> acc + CAST(element_at(tbl, i * $kWords + element_at(code, i + 1) + 1) AS DOUBLE))""")
  }

  /** Payload-free two-stage pool selection + exact re-rank over
    * `scored (qid, nid, acos)`:
    * stage 1 takes a local top-`pool` per (qid, input partition) — the
    * exchange carries ~24 B/row and no single task ever ranks a qid's
    * full unpruned candidate set; stage 2 ranks the ≤ pool·partitions
    * survivors globally; float vectors re-attach (broadcast join — the
    * corpus never shuffles) only for the ≤ pool·|Q| pool members.
    *
    * Public because this is the ONE audited implementation of the
    * pool-selection shape (the r4 scale-killer class): every approx-score
    * ANN path (PQ, IVF-PQ, SQ8) routes its (qid, nid, acos) frame through
    * here. `queries` needs (qid, qv, qn2); `encoded` needs
    * (vec_id, embedding, n2); extra columns are ignored.
    */
  def poolRerank(scored: DataFrame, queries: DataFrame,
      encoded: DataFrame, k: Int, pool: Int): DataFrame = {
    val wLocal = Window.partitionBy(col("qid"), col("pid"))
      .orderBy(col("acos").desc, col("nid"))
    val localTop = scored.withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= pool)
    val wa = Window.partitionBy(col("qid")).orderBy(col("acos").desc, col("nid"))
    val cand = localTop.withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= pool)
      .select(col("qid"), col("nid"))
    val exact = broadcast(cand)
      .join(encoded.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("n2").as("nn2")), "nid")
      .join(queries.select(col("qid"), col("qv"), col("qn2")), "qid")
      .withColumn("cos", dot(col("qv"), col("nv")) / (sqrt(col("qn2")) * sqrt(col("nn2"))))
      .select(col("qid"), col("nid"), col("cos"))
    val we = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    exact
      .withColumn("rn", row_number().over(we))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), round(col("cos"), 4).as("cos"))
  }
}
