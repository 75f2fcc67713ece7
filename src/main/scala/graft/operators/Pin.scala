package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The one observe-on-pin primitive: an eager `localCheckpoint` of a frame
  * whose pin job also computes the metrics the caller needs from it.
  *
  * The pinned frame's plan is a leaf over the checkpointed blocks, so every
  * later query on it analyses, plans, describes and ships one stage instead
  * of the whole upstream lineage (a `persist()`ed frame carries its full
  * plan into each consumer). The metrics ride the pin job through
  * `Dataset.observe`: a count or a scalar of the pinned rows costs no job of
  * its own. Blocks are reclaimed by the ContextCleaner once the pinned frame
  * is unreachable; nothing is registered with the CacheManager.
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
    val frame =
      stored(df.observe(obs, metrics.head, metrics.tail: _*)).localCheckpoint()
    Pinned(frame, Observed.row(obs, operator))
  }
}
