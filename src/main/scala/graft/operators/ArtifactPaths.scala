package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic artifact directories for build-once / load-many index
  * artifacts (PQ/IVF codebooks + codes, near-dup prefix and band indexes),
  * and the one commit protocol every persisted artifact follows.
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
  *
  * Commit protocol. Each operator owns its layout and leaf names; the
  * rules below are shared by every kind (Bloom, band, jaccard, span,
  * IVF, PQ, SQ8, SemDedup, phash) and live only here:
  *   - Meta last. A save writes its data tables first and its `meta`
  *     table LAST, so meta's parquet `_SUCCESS` is the artifact's commit
  *     point ([[exists]]): a crashed half-written save is invisible and
  *     gets rebuilt rather than half-loaded.
  *   - Meta first on rebuild. A save or compaction over a committed
  *     artifact starts with [[rebuild]], which deletes `meta` BEFORE any
  *     data is touched, so a crash mid-rebuild leaves a torn index
  *     invisible to [[exists]] instead of an old commit marker over
  *     half-rewritten data. It then clears the tombstones (the rebuild's
  *     input already excludes removed rows — stale tombstones must not
  *     suppress fresh ids, see [[Tombstones]]) and every keyed append
  *     (the fresh base holds every live row, so stale append subtrees
  *     must not survive to double-count them).
  *   - Keyed subtrees. A keyed append (the streaming-maintenance shape)
  *     lands under `appends/<key>/<leaf>` ([[appendSubtree]]) with
  *     overwrite semantics; the commit leaf is written last and its own
  *     `_SUCCESS` commits the append, so a torn append is invisible to
  *     every loader ([[committedAppends]]). A loader may exclude one key:
  *     a replayed micro-batch probes with its own subtree carved out, so
  *     it sees exactly the pre-batch corpus.
  *   - Replay and collision ([[replayed]]). A committed subtree holding
  *     the SAME rows is an at-least-once replay: the caller skips its
  *     writes, because mode-overwrite deletes before it
  *     writes and a crash mid-rewrite would tear a previously committed
  *     append (its rows silently vanish from every load until the next
  *     replay). A committed subtree holding DIFFERENT rows means two
  *     distinct jobs collided on one append key (e.g. a shared jobKey
  *     after a checkpoint wipe, batch ids restarting at 0): overwriting
  *     would permanently drop the earlier job's rows from the index —
  *     for the Bloom kind its keys would leave the exact-confirm side
  *     while their bits stay set in the filter, so their future
  *     duplicates would be admitted forever. It is refused loudly.
  */
object ArtifactPaths {

  private val Success = "_SUCCESS"

  /** `<tmpdir>/graft_<kind>_<md5-16>` keyed on source identity + params. */
  def keyed(spark: SparkSession, kind: String, sourcePath: String,
      params: String): String = {
    val key = graft.Tables.md5Hex(
      s"${graft.Tables.sourceIdentity(spark, sourcePath)}|$params").take(16)
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${kind}_$key").toString
  }

  /** Complete-artifact marker: meta's `_SUCCESS` (meta is written last). */
  def exists(path: String): Boolean = committed(s"$path/meta")

  /** Has the parquet table at `dir` committed (its `_SUCCESS` written)? */
  private def committed(dir: String): Boolean =
    new java.io.File(dir, Success).isFile

  /** The one recursive delete (a no-op when `f` is absent). */
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    if (f.exists()) f.delete(): Unit
  }

  /** Invalidate a committed artifact before it is rewritten: meta first,
    * then tombstones and keyed appends. Every save and compaction calls
    * this before its first write.
    */
  def rebuild(path: String): Unit = {
    delete(new java.io.File(s"$path/meta"))
    Tombstones.clear(path)
    delete(new java.io.File(s"$path/appends"))
  }

  /** `path/appends/<key>/<leaf>`, after checking that `key` is a
    * filesystem-safe token.
    */
  def appendSubtree(path: String, key: String, leaf: String): String = {
    require(key.nonEmpty && key.forall(c => c.isLetterOrDigit || c == '_' ||
      c == '-' || c == '='), s"append key '$key' must be a filesystem-safe token")
    s"$path/appends/$key/$leaf"
  }

  /** Keys of the committed keyed appends (those whose `<leaf>/_SUCCESS`
    * exists), sorted, without `exclude`.
    */
  def committedAppends(path: String, leaf: String,
      exclude: Option[String] = None): Seq[String] = {
    val d = new java.io.File(s"$path/appends")
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq
      .filter(k => committed(s"${k.getPath}/$leaf"))
      .map(_.getName).filterNot(exclude.contains).sorted
  }

  /** The replay/collision guard for a keyed append about to write `rows`
    * to `subtree` ([[appendSubtree]]): true when the subtree is committed
    * with the same rows (the caller skips its writes), false when it is
    * not committed; throws when it is committed with different rows.
    * `what` names the rows in the message ("key set", "set of docs").
    */
  def replayed(subtree: String, rows: DataFrame, what: String): Boolean =
    committed(subtree) && {
      val existing = rows.sparkSession.read.parquet(subtree)
      val differs = existing.exceptAll(rows).head(1).nonEmpty ||
        rows.exceptAll(existing).head(1).nonEmpty
      if (differs) {
        val keyDir = new java.io.File(subtree).getParentFile
        throw new IllegalStateException(
          s"committed append subtree '${keyDir.getName}' under " +
            s"${keyDir.getParentFile.getParent} holds a different $what " +
            "than the incoming batch — two jobs are colliding on one " +
            "append key (distinct jobKey per job, stable across restarts " +
            "of the same checkpointed query). Overwriting would drop the " +
            "earlier job's rows from the index.")
      }
      true
    }
}
