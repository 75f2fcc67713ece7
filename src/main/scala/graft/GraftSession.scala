package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's session policy lives: every main builds its
  * SparkSession here, so a setting changes for all of them at once.
  */
object GraftSession {

  /** Local cores to run on: `SPARK_GRAFT_CPUS`, else the main's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, a TIMESTAMP(NANOS) parquet column read as Long
    * (`Tables.events` converts it), no UI, and the native SQL functions,
    * ScaleLint hooks and codegen-cache size of [[plans.GraftExtensions]].
    * Each `conf` pair is applied after the policy, so it wins.
    */
  def create(app: String, cpus: Int, conf: (String, String)*): SparkSession = {
    val policy = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new plans.GraftExtensions)
    val spark = conf.foldLeft(policy) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.LogHygiene.suppressBoundedWindowWarn()
    spark
  }
}
