package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Id-tombstone table for persisted index artifacts — the takedown /
  * right-to-erasure path (the most common unplanned event in an LLM data
  * pipeline). A delete appends the removed ids to `<path>/tombstones`;
  * every probe path anti-joins the tombstone set out of its ids-only
  * scan side at LOAD time, so removal costs O(removed) instead of a
  * full O(corpus) rebuild, and a probe after a delete is row-identical
  * to a probe against an index rebuilt without those ids
  * (TombstoneSpec pins this for all six artifact kinds).
  *
  * Scale posture: the tombstone table is O(removed ids) — a weekly
  * takedown batch is thousands of rows against a billion-row corpus —
  * so it is broadcast into a left-anti hash join against the ids-only
  * index scan (codes/cells/prefix/banded), which is already the cheap
  * payload-free side of every probe. The corpus never shuffles and the
  * probe plan shape is unchanged.
  *
  * Semantics and lifecycle:
  *   - Deletes are idempotent (anti-join ignores duplicate ids) and land
  *     via Spark's parquet commit protocol (task files stage under
  *     _temporary, ignored by readers), so a crashed delete leaves the
  *     artifact readable with the previous tombstone set.
  *   - A tombstone suppresses the id everywhere in the artifact,
  *     including rows added by a LATER append: deletion is durable until
  *     the next rebuild. Re-admitting a previously-deleted id therefore
  *     requires a rebuild (by design — silent resurrection via append is
  *     the dangerous default for takedown data).
  *   - Every `save` (rebuild) starts by clearing the tombstone table:
  *     the rebuild's input already excludes removed docs, so the rebuilt
  *     artifact is the compacted form and stale tombstones must not
  *     carry over to suppress fresh ids.
  */
object Tombstones {

  /** Append `ids` (any single-column frame; first column is taken,
    * cast to long) to the artifact's tombstone table.
    */
  def deleteIds(path: String, ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).cast("long").as("id")).distinct()
      .coalesce(1) // O(removed) rows — one file per delete batch
      .write.mode("append").parquet(s"$path/tombstones")

  /** The current tombstone set (empty frame if none recorded). */
  def ids(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    if (exists(path)) spark.read.parquet(s"$path/tombstones")
    else Seq.empty[Long].toDF("id")
  }

  /** Anti-join the tombstone set out of `df` on `idCol`. No-op (the
    * unchanged plan, no join node) when no delete has ever been issued —
    * the common case pays nothing.
    */
  def exclude(df: DataFrame, spark: SparkSession, path: String,
      idCol: String): DataFrame =
    if (!exists(path)) df
    else {
      // side-qualified join key: an input that itself carries an `id`
      // column must not capture the tombstone side's
      val t = ids(spark, path)
      df.join(broadcast(t), df(idCol).cast("long") === t("id"), "left_anti")
    }

  def count(spark: SparkSession, path: String): Long =
    if (exists(path)) ids(spark, path).count() else 0L

  /** Rebuild-time compaction: a fresh save's input already excludes
    * deleted docs, so the tombstone table resets with it.
    */
  def clear(path: String): Unit =
    ArtifactPaths.delete(new java.io.File(s"$path/tombstones"))

  private def exists(path: String): Boolean = {
    val d = new java.io.File(s"$path/tombstones")
    d.isDirectory && d.listFiles().exists(_.getName.endsWith(".parquet"))
  }
}
