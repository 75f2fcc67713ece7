package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge

/** Fixture loader for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md + FIXTURES.md).
  *
  * All tables are read straight from parquet so Catalyst sees a real
  * `FileSourceScanExec` — predicate pushdown / column pruning apply (we
  * assert this in PlanSpec). At 100 TB these would be partitioned
  * directories; the loader takes a directory so the same code serves any
  * scale factor.
  *
  * Each table is resolved once per session: the first read lists the
  * files and infers the parquet schema (one job); later reads of the same
  * source reuse the resolved relation from the session catalog's relation
  * cache and start no job. The cache key is the [[sourceIdentity]] of the
  * table's path (path, length and mtime of every leaf file), so a table
  * rewritten at the same path is resolved again. The cache lives as long
  * as the session and is bounded by Spark
  * (`spark.sql.filesourceTableRelationCacheSize`); it holds schemas and
  * file lists, never rows.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = DatasetBridge.cachedRelation(spark,
      md5Hex(sourceIdentity(spark, path)), spark.read.parquet(path))
    // An events.ts stored as TIMESTAMP(NANOS) parquet reads only as a raw
    // Long (spark.sql.legacy.parquet.nanosAsLong — set in every session we
    // build); normalize it to TimestampType (µs, floor) right at the scan.
    // The fixtures store microseconds without a zone, which Spark reads as
    // TIMESTAMP_NTZ and which passes through unchanged.
    if (name == "events") normalizeNanosTs(df) else df
  }

  /** Identity of the file or directory at `path`, read through the Hadoop
    * `FileSystem` (so `hdfs://` paths key too): `path|length|mtime` for a
    * file; for a directory its path, then `relative path|length|mtime` of
    * every leaf file below it in path order. A rewrite at the same path
    * changes it. A missing path reads as length 0, mtime 0 (the
    * `java.io.File` convention), so reading it still fails as usual. Local
    * paths print without their `file:` scheme.
    */
  def sourceIdentity(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val root =
      if (qualified.toUri.getScheme == "file") qualified.toUri.getPath
      else qualified.toString
    val status =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status match {
      case None => s"$root|0|0"
      case Some(st) if st.isFile =>
        s"$root|${st.getLen}|${st.getModificationTime}"
      case Some(_) =>
        val leaves = fs.listFiles(p, true)
        Iterator.continually(leaves).takeWhile(_.hasNext).map(_.next())
          .map(st => (st.getPath.toString.stripPrefix(s"$qualified/"), st))
          .toSeq.sortBy(_._1)
          .map { case (rel, st) =>
            s"$rel|${st.getLen}|${st.getModificationTime}" }
          .mkString(s"$root|", ",", "")
    }
  }

  /** Hex MD5 of a string: the fixed-width form of a [[sourceIdentity]]. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** ns-Long `ts` → TimestampType (µs, floor). Shared by batch scans and
    * the streaming replay path so both bucket identically pre-epoch.
    */
  def normalizeNanosTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // floor division via pmod (plain `div` truncates toward zero, which
      // would round pre-epoch timestamps the wrong way)
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")))
    else df

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
