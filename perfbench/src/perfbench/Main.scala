package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: a query (build plus run), a pipeline run or a copy
  * task from submit to terminal status.
  */
final case class Op(name: String, startMs: Double, endMs: Double,
    error: Option[String], extra: Map[String, Any] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1000
}

/** A workload: set-up, timed passes, and the output checks made after them.
  * In a traced pass the workload also returns per-layer counters for each
  * operation and records spans in `tracer`.
  */
abstract class Workload {
  val tracer = new Tracer
  val layers: ArrayBuffer[(Int, Map[String, Double])] = ArrayBuffer.empty
  def setup(round: Int, last: Boolean): Unit
  def pass(p: Int, traced: Boolean): Seq[Op]
  /** The untimed pass between set-up and the timed passes: it lets the JIT
    * and the caches warm up, and yields outputs for the checks.
    */
  def warmPass(): Seq[Op] = pass(-1, traced = false)
  /** Untimed work after a pass: output checks and clean-up. */
  def afterPass(p: Int, ops: Seq[Op]): Unit = ()
  /** Untimed output checks after the last pass, as JSON. */
  def check(): Map[String, Any]
  /** Files whose listing, copy and MD5 the traced run probes. */
  def probeRoot: String
  def close(): Unit
}

/** Session set-up shared by the workloads: the session `graft.Bench`
  * builds, and its warm-up.
  */
object Session {
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.scalelint", "fail")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    run(graft.SparkEntry.queries("q_scan_agg")(spark, data))
  }

  /** Points `java.io.tmpdir`, where Spark's scratch space and the program's
    * keyed index artifacts go, at a new empty directory.
    */
  def freshTmp(dir: File): Unit = {
    dir.mkdirs()
    System.setProperty("java.io.tmpdir", dir.getAbsolutePath)
  }

  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
}

final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def work: File = new File(apply("work"))
}

object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections. Spark's context cleaner releases
    * broadcast and shuffle state asynchronously once a collection has found
    * it unreachable, so the reading is taken after a third collection.
    */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Exits when the run ends, whatever threads the program left behind. */
  def main(argv: Array[String]): Unit = {
    val status =
      try { run(Args(argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(status)
  }

  private def run(a: Args): Unit = {
    graft.plans.LogHygiene.suppressBoundedWindowWarn()
    val traceRun = a("trace") == "1"
    val w: Workload = a("workload") match {
      case "tpch" => new Registry(a, Registry.tpch.take(a.int("queries")))
      case "pipeline" => new Pipeline(a)
      case "copy" => new Copy(a)
      case other => sys.error(s"unknown workload $other")
    }
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = Clock.ms()
      try body finally phases(name) = (Clock.ms() - t0) / 1000
    }
    val setups = (1 to a.int("setups")).map { r =>
      val t0 = Clock.ms()
      w.setup(r, r == a.int("setups"))
      (Clock.ms() - t0) / 1000
    }
    // Closed loop, one caller: whole passes until the measuring time is
    // used up. A traced run alternates untraced and traced passes, so the
    // two sides of the tracing overhead see the same machine state.
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    def record(p: Int, traced: Boolean, passOps: Seq[Op]): Unit = passOps.foreach { o =>
      ops += Map("pass" -> p, "traced" -> traced, "name" -> o.name,
        "lat_s" -> o.seconds, "error" -> o.error) ++ o.extra
    }
    val warm = phase("warm_s")(if (a("warm") == "1") w.warmPass() else Nil)
    w.afterPass(-1, warm)
    record(-1, traced = false, warm)
    val tTimed = Clock.ms()
    val minPasses = if (traceRun) 2 else 1
    val deadline = Clock.ms() + a.int("seconds") * 1000.0
    var p = 0
    while (p < minPasses || Clock.ms() < deadline) {
      val traced = traceRun && p % 2 == 1
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMs
      val t0 = Clock.ms()
      val passOps = w.pass(p, traced)
      val t1 = Clock.ms()
      val cpu1 = os.getProcessCpuTime
      val gc1 = gcMs
      w.afterPass(p, passOps)
      passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> (t1 - t0) / 1000,
        "cpu_s" -> (cpu1 - cpu0) / 1e9, "gc_ms" -> (gc1 - gc0).toDouble,
        "heap_live_mb" -> liveHeapMb())
      record(p, traced, passOps)
      p += 1
    }
    phases("timed_s") = (Clock.ms() - tTimed) / 1000
    val checks = w.check()
    val probes = phase("probes_s")(if (traceRun) Probes.run(w.probeRoot, a.work) else Map.empty)
    phase("close_s")(w.close())
    val result = Map(
      "workload" -> a("workload"),
      "setup_s" -> setups,
      "passes" -> passes,
      "ops" -> ops,
      "layers" -> w.layers.map { case (pass, m) => Map("pass" -> pass) ++ m },
      "probes" -> probes,
      "checks" -> checks,
      "phases" -> phases)
    java.nio.file.Files.writeString(new File(a("out")).toPath, Json.render(result))
    if (traceRun)
      java.nio.file.Files.writeString(new File(a("spans")).toPath,
        Json.render(w.tracer.json))
  }
}
