package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QualifiedTableName
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge into Spark's private[sql] DataFrame constructors, for the three
  * patterns the public API cannot express: a relation resolved once and
  * reused by later reads ([[cachedRelation]]), a checkpoint leaf that
  * reports the size of its blocks ([[withBlockSize]]), and SEVERAL passes
  * over ONE physical shuffle ([[pinShuffle]]).
  *
  * [[pinShuffle]] freezes a DataFrame's physical plan into a single RDD
  * instance and re-wraps it as a DataFrame (LogicalRDD). Every job that
  * later consumes the result shares that RDD — and Spark's scheduler
  * reuses a ShuffleDependency's map outputs across jobs on the same RDD
  * lineage — so the plan's exchanges execute exactly once, while the
  * narrow tail (e.g. a within-partition sort) replays cheaply from the
  * frozen shuffle files. Unlike a local checkpoint this stores NO rows
  * (the measured checkpoint rescans cost 3–9 CPU-s per million-row scan;
  * a shuffle re-read is a fraction of that), and unlike relying on
  * physical-plan ReuseExchange it cannot be silently defeated by
  * per-branch optimization: column pruning can rewrite two consumers'
  * exchange subtrees differently, at which point they sample INDEPENDENT
  * range boundaries and any (partition id, local index) bookkeeping
  * computed on one branch is garbage on the other (the r14 GlobalIndex
  * regression this replaces — caught by the sf0.01 value gate).
  *
  * Building the result materializes the plan's exchanges eagerly (AQE
  * stage materialization), same as the eager localCheckpoint it
  * replaces. Determinism contract: shuffle-read fetch order varies
  * across stage replays, so consumers must either re-sort (the pinned
  * frame's own tail sort does) or be order-insensitive.
  */
object DatasetBridge {
  /** A new DataFrame over the relation the session catalog caches under
    * `key`, resolving it with `resolve` on a miss. The cache is the one
    * Spark keeps for datasource tables: per session, bounded by
    * `spark.sql.filesourceTableRelationCacheSize`, dropped with the session.
    * It holds the analyzed relation (schema and file index), never rows.
    * Each call takes `newInstance()` of it, so two reads of one source
    * carry distinct attribute ids and can be joined with each other.
    */
  def cachedRelation(spark: SparkSession, key: String,
      resolve: => DataFrame): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val plan = s.sessionState.catalog.getCachedPlan(
      QualifiedTableName("graft", "sources", key),
      () => resolve.queryExecution.analyzed)
    classic.Dataset.ofRows(s,
      plan.asInstanceOf[MultiInstanceRelation].newInstance())
  }

  /** Bytes the block managers hold for `rdd`'s blocks, memory plus disk,
    * read in one driver-local ask to the block manager master. The master
    * learns of a block before the task that stored it ends, so after an
    * eager checkpoint's job this is the whole checkpoint.
    */
  def blockBytes(rdd: RDD[_]): Long = {
    val id = rdd.id
    rdd.sparkContext.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(`id`, _), b) => b.memSize + b.diskSize }
      .sum
  }

  /** `pinned`, a frame whose plan is a checkpoint's [[LogicalRDD]] leaf,
    * re-wrapped so the leaf's statistics report [[blockBytes]] of its
    * checkpoint. The leaf otherwise keeps the estimate of the plan it
    * replaced (for a join, the product of its sides' sizes), and Catalyst
    * picks join strategies from it.
    */
  def withBlockSize(pinned: DataFrame): DataFrame = {
    val s = pinned.sparkSession.asInstanceOf[classic.SparkSession]
    val leaf = pinned.queryExecution.logical.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(s, leaf.copy()(s,
      Some(Statistics(sizeInBytes = blockBytes(leaf.rdd))),
      Some(leaf.constraints)))
  }

  def pinShuffle(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
  }
}
