package graft.copy

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured (format-aware) copy: the raw byte-copy engine's sibling for
  * data with a schema — read source format, optionally transform, write
  * destination format/partitioning. This is the engine's north-star shape
  * (distributed read → transformations → write) as a job API, and the A16
  * "structured data" destination path from SURVEY §2.
  *
  * Verification analog of A9: instead of MD5 over bytes (which format
  * conversion invalidates by design), an order-insensitive table digest
  * over a canonical projection is computed on both sides — same role
  * (end-to-end integrity), format-agnostic.
  */
object StructuredCopy {

  final case class Spec(
      srcPath: String, srcFormat: String,
      dstPath: String, dstFormat: String,
      partitionBy: Seq[String] = Nil,
      options: Map[String, String] = Map.empty,
      transform: DataFrame => DataFrame = identity)

  final case class Result(rows: Long, digestMatch: Boolean,
      srcDigest: String, dstDigest: String)

  def read(spark: SparkSession, path: String, format: String,
      options: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(r.schema).load(path)
  }

  /** Run the copy; digest both sides over all columns of the TRANSFORMED
    * schema, so the check covers exactly what was written. The source is
    * persisted for the duration (it is scanned by the write AND the digest
    * — without persist that is two full source reads).
    */
  def run(spark: SparkSession, spec: Spec): Result = {
    import org.apache.spark.sql.functions._
    val src = spec.transform(read(spark, spec.srcPath, spec.srcFormat, spec.options))
      .persist()
    val writer = src.write.format(spec.dstFormat).mode("overwrite")
      .options(spec.options)
    (if (spec.partitionBy.nonEmpty) writer.partitionBy(spec.partitionBy: _*)
     else writer).save(spec.dstPath)

    // \u0001 field separator + \u0000 null sentinel: with no separator,
    // ("1","23") and ("12","3") would render identically and corruption
    // could digest as a match.
    def digestOf(df: DataFrame): String = {
      val canonical = df.select(concat_ws("\u0001",
        df.columns.sorted.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
        .as("row"))
      canonical.agg(graft.functions.TableDigest.digest(col("row")))
        .collect()(0).getString(0)
    }
    // verify-read uses the written schema: partition-column type inference
    // from directory names could otherwise re-type values (e.g. "007" → 7)
    // and flag a false digest mismatch on a correct copy
    val back = read(spark, spec.dstPath, spec.dstFormat, spec.options,
      schema = Some(src.schema))
    val srcD = digestOf(src)
    val dstD = digestOf(back)
    src.unpersist()
    // row count is the digest's trailing component - no extra dest scan
    Result(dstD.split("-").last.toLong, srcD == dstD, srcD, dstD)
  }

  final case class CompactResult(
      filesBefore: Int, bytesBefore: Long, filesAfter: Int,
      digestMatch: Boolean)

  /** Small-file compaction — the table-maintenance operator every 100 TB
    * store needs: streaming ingest and fine-grained partitioned writes
    * leave directories of thousands of KB-to-MB files, and at scale the
    * per-file overheads (namenode metadata, footer reads, scan-planning
    * splits, task startup) come to dominate the actual I/O. Compaction
    * rewrites the directory into ⌈bytes / targetFileBytes⌉ files.
    *
    * `repartition(n)` (round-robin, one shuffle) rather than
    * `coalesce(n)`: coalesce merges whole input partitions without a
    * shuffle, so a skewed input (one big file + many tiny ones) stays
    * skewed — uniform output file sizes are the point of compaction.
    * Integrity is the same digest check the structured copy uses (A9's
    * format-agnostic analog).
    */
  def compact(spark: SparkSession, srcPath: String, dstPath: String,
      targetFileBytes: Long, format: String = "parquet"): CompactResult = {
    require(targetFileBytes > 0,
      s"targetFileBytes must be positive, got $targetFileBytes")
    val conf = spark.sparkContext.hadoopConfiguration
    // Hidden-ness of the input applies to every path COMPONENT, not just
    // the leaf: a streaming sink's _spark_metadata/ holds files named "0",
    // "1", "19.compact" whose leaf names look like data — counting them
    // inflates bytesBefore (and thus the output file count) with metadata
    // the parquet read never includes.
    val (files, bytes) = countFiles(conf, srcPath,
      _.split("/").forall(!hidden(_)))
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val res = run(spark, Spec(srcPath, format, dstPath, format,
      transform = _.repartition(nOut)))
    // report files ACTUALLY written — empty partitions and writer-side
    // file splits make the planned nOut a lie at the edges
    val (written, _) = countFiles(conf, dstPath,
      rel => !hidden(rel.substring(rel.lastIndexOf('/') + 1)))
    CompactResult(files, bytes, written, res.digestMatch)
  }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** Count and total length of the files under `path` whose path relative
    * to it passes `keep`. Walks listStatus (CopyEngine.walkIterator),
    * not listFiles: each LocatedFileStatus loads its file's permission,
    * which on a local filesystem without libhadoop forks an `ls -ld` per
    * file.
    */
  private def countFiles(conf: Configuration, path: String,
      keep: String => Boolean): (Int, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.makeQualified(p)
    CopyEngine.walkIterator(fs, root, root.toUri.getPath)
      .filter(m => !m.isDir && keep(m.relPath))
      .foldLeft((0, 0L)) { case ((n, b), m) => (n + 1, b + m.length) }
  }

  /** Surgical partition backfill — how late or corrected data lands in a
    * date/lang-partitioned 100 TB store: rewrite ONLY the partitions the
    * patch actually contains (`partitionOverwriteMode=dynamic`), leaving
    * every other partition's files physically untouched (no read, no
    * rewrite, no metadata churn). The default STATIC overwrite mode
    * would truncate the whole table root first — at scale that is the
    * difference between rewriting one day and rewriting three years.
    * Dynamic mode is a PER-WRITE DataFrameWriter option, deliberately
    * not a session-conf set/restore: mutating the session conf would
    * leak dynamic semantics to concurrent writers on the same session
    * (and two concurrent backfills could restore each other's setting
    * mid-write — reintroducing the truncation this operator prevents).
    */
  def backfill(spark: SparkSession, tablePath: String, patch: DataFrame,
      partitionCols: Seq[String], format: String = "parquet"): Unit = {
    require(partitionCols.nonEmpty, "backfill needs at least one partition column")
    patch.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .format(format).save(tablePath)
  }
}
