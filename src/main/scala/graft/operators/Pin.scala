package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.DatasetBridge

/** The one pin primitive: an eager local checkpoint of a frame, optionally
  * with the metrics the caller needs from it computed on the same job.
  *
  * The pinned frame's plan is a leaf over the checkpointed blocks, so every
  * later query on it analyses, plans, describes and ships one stage instead
  * of the whole upstream lineage (a `persist()`ed frame carries its full
  * plan into each consumer). The metrics ride the pin job through
  * `Dataset.observe`: a count or a scalar of the pinned rows costs no job of
  * its own. Blocks are reclaimed by the ContextCleaner once the pinned frame
  * is unreachable; nothing is registered with the CacheManager.
  *
  * A pin's statistics are measured: the leaf reports the bytes its blocks
  * hold (memory + disk, [[DatasetBridge.withBlockSize]]), read on the
  * driver after the pin job. A bare checkpoint leaf keeps the estimate of
  * the plan it replaced, which for a join is the product of its sides'
  * sizes, so Catalyst planned every join on a pin as a shuffle join and
  * adaptive execution re-planned it to a broadcast only after both sides
  * had shuffled; a `persist()`ed frame never had that gap, as its cached
  * relation reports its real size. With measured sizes a small pin
  * broadcasts at plan time. Only join strategies change, never results.
  */
object Pin {

  /** A pinned frame and the row of metrics its pin job observed, one field
    * per metric column in the order given. A field is NULL where its
    * aggregate is (an `avg` over no rows): read a nullable metric boxed
    * (`getAs[java.lang.Double]`), as `getAs[Double]` would unbox NULL to 0.0.
    */
  final case class Pinned(frame: DataFrame, metrics: Row) {
    def long(name: String): Long = metrics.getAs[Long](name)
  }

  /** Pins `df` with `metrics` observed on the pin job, then reads them
    * through [[Observed]] (bounded wait; `operator` names the caller in the
    * error). `stored` derives the frame the pin holds from the observed
    * one, so the metrics may read columns the pin does not store.
    */
  def apply(df: DataFrame, operator: String, metrics: Seq[Column],
      stored: DataFrame => DataFrame = identity): Pinned = {
    val obs = Observation()
    val frame = checkpoint(stored(df.observe(obs, metrics.head, metrics.tail: _*)))
    Pinned(frame, Observed.row(obs, operator))
  }

  /** Pins `df` for several consumers, unless it already is a pin under
    * column selections and renames: then it is returned as it is, as a
    * second copy of the same rows would buy nothing (the streaming image
    * sink hands the same pinned corpus hash table to
    * [[HammingBands.probePairs]] on every micro-batch; re-pinning it would
    * copy the whole table once per trigger).
    */
  def apply(df: DataFrame): DataFrame =
    if (pinned(df.queryExecution.analyzed)) df else checkpoint(df)

  /** The checkpoint's jobs carry the call site Spark would give a
    * `localCheckpoint` in Pin's caller (unless the caller set one), so a
    * job table still tells the pins apart.
    */
  private def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val unset = sc.getLocalProperty("callSite.short") == null
    if (unset) Thread.currentThread.getStackTrace.iterator.drop(1)
      .find(_.getClassName.takeWhile(_ != '$') != "graft.operators.Pin")
      .foreach(f =>
        sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    try DatasetBridge.withBlockSize(df.localCheckpoint())
    finally if (unset) sc.clearCallSite()
  }

  /** A checkpointed leaf under column selections and renames. Only those
    * projections peel: a computed column, deterministic or not, would
    * evaluate again in each consumer (a non-deterministic one, such as
    * monotonically_increasing_id, even differently), which is what pinning
    * exists to prevent. A leaf whose RDD is not checkpointed (a
    * `foreachBatch` micro-batch, [[DatasetBridge.pinShuffle]]) stores no
    * rows, so it is pinned too.
    */
  @annotation.tailrec
  private def pinned(p: LogicalPlan): Boolean = p match {
    case n: Project if n.projectList.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      } => pinned(n.child)
    case n: SubqueryAlias => pinned(n.child)
    case r: LogicalRDD => r.rdd.isCheckpointed
    case _ => false
  }
}
