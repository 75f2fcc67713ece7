package perfbench

import java.io.File
import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerFlush
import org.apache.spark.sql.SparkSession

/** The `tpch` workload: registry queries from `SparkEntry.queries`, one
  * after another in sorted order, each built with `fn(spark, dir)` and run
  * through the `noop` sink.
  */
object Registry {
  def tpch: Seq[String] =
    graft.SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted
}

final class Registry(a: Args, names: Seq[String]) extends Workload {
  private val data = a("data")
  private val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
    sys.error(s"no query named $n in SparkEntry.queries")))
  private var spark: SparkSession = _
  private val jobTap = new JobTap
  private val planTap = new PlanTap
  private var opId = 0

  def setup(round: Int, last: Boolean): Unit = {
    Session.freshTmp(new File(a.work, s"tmp$round"))
    spark = Session.build(a.int("cpus"))
    Session.warmUp(spark, data)
    if (!last) spark.stop()
  }

  def pass(p: Int, traced: Boolean): Seq[Op] = {
    val sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(jobTap)
      spark.listenerManager.register(planTap)
    }
    val ops = fns.map { case (name, fn) =>
      opId += 1
      val job0 = if (traced) { ListenerFlush.waitUntilEmpty(sc, 60000); jobTap.lastJobId } else 0
      val plan0 = planTap.snapshot
      val t0 = Clock.ms()
      var tb = Double.NaN
      var err: Option[String] = None
      try {
        val df = fn(spark, data)
        tb = Clock.ms()
        Session.run(df)
      } catch { case NonFatal(e) => err = Some(Session.error(e)) }
      val t1 = Clock.ms()
      if (tb.isNaN) tb = t1
      if (traced) {
        ListenerFlush.waitUntilEmpty(sc, 60000)
        val jobs = jobTap.jobsAfter(job0)
        val plan = planTap.snapshot.zip(plan0).map { case (x, y) => (x - y).toDouble }
        val op = tracer.add(0, opId, name, t0, t1)
        tracer.add(op, opId, "queries.build", t0, tb)
        tracer.add(op, opId, "exec.run", tb, t1)
        tracer.addJobs(opId, jobs)
        val tables = Jobs.tables(jobs)
        layers += p -> (Jobs.exec(jobs) ++ Map(
          "tables.jobs" -> tables.size.toDouble,
          "tables.job_ms" -> Jobs.spanMs(tables),
          "queries.build_ms" -> (tb - t0),
          "queries.build_jobs" -> jobs.count(_.startMs < tb).toDouble,
          "exec.run_ms" -> (t1 - tb),
          "exec.driver_gap_ms" -> math.max(0.0, (t1 - t0) - Jobs.spanMs(jobs)),
          "operators.pin_jobs" -> Jobs.pins(jobs).size.toDouble,
          "operators.collect_jobs" -> Jobs.collects(jobs).size.toDouble,
          "operators.driver_gap_ms" -> Jobs.operatorGapMs(jobs),
          "plans.qes" -> plan(0),
          "plans.analysis_ms" -> plan(1),
          "plans.optimization_ms" -> plan(2),
          "plans.planning_ms" -> plan(3)))
      }
      Op(name, t0, t1, err, Map("build_s" -> (tb - t0) / 1000))
    }
    if (traced) {
      ListenerFlush.waitUntilEmpty(sc, 60000)
      sc.removeSparkListener(jobTap)
      spark.listenerManager.unregister(planTap)
    }
    ops
  }

  private val checkDir = new File(a.work, "check")
  private val checkErrors = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]

  /** The warm pass writes each query's result as parquet, as `graft.Verify`
    * writes it, for the row-count, digest and oracle checks made from
    * outside.
    */
  override def warmPass(): Seq[Op] = fns.map { case (name, fn) =>
    val t0 = Clock.ms()
    val err =
      try { fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name"); None }
      catch { case NonFatal(e) => Some(Session.error(e)) }
    checkErrors(name) = err
    Op(name, t0, Clock.ms(), err)
  }

  def check(): Map[String, Any] = Map("dir" -> checkDir.getAbsolutePath,
    "errors" -> checkErrors,
    "oracle" -> graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })

  def probeRoot: String = data

  def close(): Unit = spark.stop()
}
