package graft.operators

import org.apache.spark.sql.SparkSession

/** Deterministic artifact directories for build-once / load-many index
  * artifacts (PQ/IVF codebooks + codes, near-dup prefix and band indexes).
  *
  * The registry's loaded-index queries must derive their artifact location
  * from the query inputs alone, so directories are keyed on the SOURCE
  * identity (`Tables.sourceIdentity`: path | size | mtime of each file —
  * the same staleness key as `Tables`' relation cache and the streaming
  * replay stager, streaming/StreamMain.scala) plus the build
  * parameter string: a regenerated fixture or a changed parameter set
  * lands in a fresh directory instead of silently serving a stale index.
  * At production scale the path would be an explicit warehouse location
  * (HDFS/S3) owned by the pipeline — the fingerprint scheme is the
  * local-fixture convenience that makes "build if absent, else load" a
  * pure function of (table path, parameters).
  */
object ArtifactPaths {

  /** `<tmpdir>/graft_<kind>_<md5-16>` keyed on source identity + params. */
  def keyed(spark: SparkSession, kind: String, sourcePath: String,
      params: String): String = {
    val key = graft.Tables.md5Hex(
      s"${graft.Tables.sourceIdentity(spark, sourcePath)}|$params").take(16)
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${kind}_$key").toString
  }

  /** Complete-artifact marker. Every save here writes its `meta` table
    * LAST, so meta's parquet `_SUCCESS` doubles as the artifact's commit
    * point: a crashed half-written save is invisible to `exists` and gets
    * rebuilt rather than half-loaded.
    */
  def exists(path: String): Boolean =
    new java.io.File(s"$path/meta/_SUCCESS").isFile
}
