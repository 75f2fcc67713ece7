package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ContextBridge
import org.apache.spark.sql.SparkSession

/** The one place the engine's session policy lives: every main builds its
  * SparkSession here, so a setting changes for all of them at once.
  *
  * A JVM keeps one SparkContext across callers. `create` reuses the running
  * context when it was started with the static settings this call would
  * start a new one with, so a second run in the JVM hits Spark's codegen
  * cache (keyed to the context's executor class loader); otherwise it stops
  * that context and starts a new one. A caller that returns without
  * stopping leaves the context to the next caller, and Spark's shutdown
  * hook stops it when the JVM exits.
  */
object GraftSession {

  /** Local cores to run on: `SPARK_GRAFT_CPUS`, else the main's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The context `create` last started, with the static settings it was
    * started with.
    */
  private var started: Option[(SparkContext, Map[String, String])] = None

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, a TIMESTAMP(NANOS) parquet column read as Long
    * (`Tables.events` converts it), no UI, and the native SQL functions,
    * ScaleLint hooks and codegen-cache size of [[plans.GraftExtensions]].
    * Each `conf` pair is applied after the policy, so it wins.
    *
    * The static settings are the master, every `spark.*` system property
    * and each policy or `conf` pair a session cannot take at runtime
    * ([[ContextBridge.isRuntime]]). A running context this object started
    * is reused only if it was started with exactly these; one started
    * elsewhere only if its conf holds all of them. Runtime pairs apply to
    * the returned session, as Spark's `getOrCreate` applies them; on a kept
    * context they are all the builder gets, as its static settings already
    * match (any more makes Spark warn that they may not take effect).
    */
  def create(app: String, cpus: Int, conf: (String, String)*): SparkSession =
    synchronized {
      // constructed first: it may set the codegen-cache system property,
      // which is one of the static settings
      val extensions = new plans.GraftExtensions
      val settings = Seq(
        "spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.ui.enabled" -> "false") ++ conf
      val live = ContextBridge.active
      val kept = live.filter(reusable(_, static(settings)))
      if (kept.isEmpty) live.foreach(_.stop())
      val (base, pairs) =
        if (kept.isEmpty) (SparkSession.builder().appName(app), settings)
        else (SparkSession.builder(), settings.filter(p => runtime(p._1)))
      val spark = pairs
        .foldLeft(base.withExtensions(extensions)) { case (b, (k, v)) => b.config(k, v) }
        .getOrCreate()
      // classified after the start: core confs register as Spark loads them
      if (kept.isEmpty) started = Some(spark.sparkContext -> static(settings))
      spark.sparkContext.setLogLevel("WARN")
      plans.LogHygiene.suppressBoundedWindowWarn()
      spark
    }

  /** What a new context would start with: the `spark.*` system properties
    * a new SparkConf loads, overridden by the static `settings`.
    */
  private def static(settings: Seq[(String, String)]): Map[String, String] =
    sys.props.toMap.filter(_._1.startsWith("spark.")) ++ settings.filterNot(p => runtime(p._1))

  /** True when a session takes `key` at runtime. */
  private def runtime(key: String): Boolean =
    key != "spark.master" && ContextBridge.isRuntime(key)

  private def reusable(live: SparkContext, wanted: Map[String, String]): Boolean =
    started match {
      case Some((sc, had)) if sc eq live => had == wanted
      case _ =>
        val conf = live.getConf
        wanted.forall { case (k, v) => conf.getOption(k).contains(v) }
    }
}
