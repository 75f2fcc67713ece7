package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.internal.config.ConfigEntry
import org.apache.spark.sql.internal.SQLConf

/** Bridge to the `private[spark]` lookups behind `graft.GraftSession`'s
  * context reuse rule. Same package-bridge pattern as [[ListenerFlush]].
  */
object ContextBridge {
  /** The JVM's running SparkContext, if any. */
  def active: Option[SparkContext] = SparkContext.getActive

  /** True when a session can take `key` at runtime: the test Spark's
    * `RuntimeConfig.set` applies, which refuses static SQL confs and
    * registered core confs. Any other key, an unregistered one such as
    * `spark.graft.scalelint` included, lives in the session's own conf.
    */
  def isRuntime(key: String): Boolean =
    !SQLConf.isStaticConfigKey(key) &&
      (ConfigEntry.findEntry(key) == null || SQLConf.get.isModifiable(key))
}
