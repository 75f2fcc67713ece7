package perfbench

import java.io.File
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.Instant
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.graft.ListenerFlush
import org.apache.spark.sql.SparkSession

import graft.copy.{CopyEngine, CopyHttpServer, CopyTaskService, FsFactory}

/** The `copy` workload: one client drives a `CopyHttpServer` on an
  * ephemeral port. Each pass submits one unthrottled task (the wide tree and
  * the large files, one item each), polls it at a fixed interval until a
  * terminal status, then scrapes `/metrics`. The task for the single file
  * throttled per stream runs once, in the warm phase: its duration is set by
  * the requested rate, not by the program. Every task writes to a fresh
  * destination, checked against the source after the pass.
  */
final class Copy(a: Args) extends Workload {
  private val mapper = new ObjectMapper()
  private val pollMs = 10L
  private val bandwidth = a.int("copy_bw_mbps")
  private var spark: SparkSession = _
  private var service: CopyTaskService = _
  private var http: CopyHttpServer = _
  private var source: Source = _
  private val jobTap = new JobTap
  private val planTap = new PlanTap
  private val failures = ArrayBuffer.empty[String]
  private var opId = 0

  def setup(round: Int, last: Boolean): Unit = {
    Session.freshTmp(new File(a.work, s"tmp$round"))
    spark = Session.build(a.int("cpus"))
    Session.warmUp(spark, a("data"))
    source = Source.generate(new File(a.work, s"copy_src$round"), a.int("seed"),
      a.int("copy_dirs"), a.int("copy_files"), a.int("copy_large"),
      a.int("copy_large_mib"), bandwidth)
    val confDir = new File(a.work, "hadoop-conf/bench")
    confDir.mkdirs()
    Seq("core-site.xml", "hdfs-site.xml").foreach { f =>
      java.nio.file.Files.writeString(new File(confDir, f).toPath,
        "<configuration></configuration>\n")
    }
    service = new CopyTaskService(new CopyEngine(spark),
      new FsFactory(confDir.getParent))
    http = new CopyHttpServer(service, 0)
    http.start()
    if (!last) stop()
  }

  private def stop(): Unit = {
    http.stop()
    service.shutdown()
    spark.stop()
  }

  private def call(method: String, path: String, body: String = null): (Int, String, Double) = {
    val t0 = Clock.ms()
    val c = new URL(s"http://127.0.0.1:${http.boundPort}$path")
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      os.write(body.getBytes(UTF_8))
      os.close()
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, text, Clock.ms() - t0)
  }

  private def task(name: String, items: Seq[(String, String)], bw: Option[Int],
      p: Int, traced: Boolean): Op = {
    opId += 1
    val sc = spark.sparkContext
    val job0 = if (traced) { ListenerFlush.waitUntilEmpty(sc, 60000); jobTap.lastJobId } else 0
    val plan0 = planTap.snapshot
    val body = Json.render(Map("namespace" -> "bench",
      "items" -> items.map { case (s, d) => Map("hdfsPath" -> s, "localPath" -> d) },
      "bandwidth" -> bw))
    val t0 = Clock.ms()
    val (code, resp, submitMs) = call("POST", "/api/v1/copy", body)
    if (code != 202) return Op(name, t0, Clock.ms(), Some(s"submit answered $code: $resp"))
    val id = mapper.readTree(resp).get("requestId").asText
    val statusMs = ArrayBuffer.empty[Double]
    var status: JsonNode = null
    while (status == null || Set("PENDING", "IN_PROGRESS")(status.get("status").asText)) {
      Thread.sleep(pollMs)
      val (c, r, ms) = call("GET", s"/api/v1/copy/$id")
      if (c != 200) return Op(name, t0, Clock.ms(), Some(s"status answered $c"))
      statusMs += ms
      status = mapper.readTree(r)
    }
    val t1 = Clock.ms()
    val (_, _, metricsMs) = call("GET", "/metrics")
    val completed = Instant.parse(status.get("completedAt").asText)
    val completedMs = completed.getEpochSecond * 1000.0 + completed.getNano / 1e6
    val itemRows = status.get("items").elements().asScala.map { n =>
      Map("src" -> n.get("hdfsPath").asText, "dst" -> n.get("localPath").asText,
        "status" -> n.get("status").asText, "bytes" -> n.get("bytesCopied").asLong,
        "duration_ms" -> n.get("durationMs").asLong,
        "verified" -> n.get("checksumVerified").asBoolean,
        "error" -> Option(n.get("errorMessage")).filterNot(_.isNull).map(_.asText))
    }.toSeq
    if (traced) {
      ListenerFlush.waitUntilEmpty(sc, 60000)
      val jobs = jobTap.jobsAfter(job0)
      val plan = planTap.snapshot.zip(plan0).map { case (x, y) => (x - y).toDouble }
      val op = tracer.add(0, opId, name, t0, t1)
      tracer.add(op, opId, "copy.http_submit", t0, t0 + submitMs)
      tracer.addJobs(opId, jobs)
      layers += p -> (Jobs.exec(jobs) ++ Map(
        "exec.driver_gap_ms" -> math.max(0.0, (t1 - t0) - Jobs.spanMs(jobs)),
        "operators.pin_jobs" -> Jobs.pins(jobs).size.toDouble,
        "operators.collect_jobs" -> Jobs.collects(jobs).size.toDouble,
        "operators.driver_gap_ms" -> Jobs.operatorGapMs(jobs),
        "tables.jobs" -> Jobs.tables(jobs).size.toDouble,
        "tables.job_ms" -> Jobs.spanMs(Jobs.tables(jobs)),
        "plans.qes" -> plan(0),
        "plans.analysis_ms" -> plan(1),
        "plans.optimization_ms" -> plan(2),
        "plans.planning_ms" -> plan(3),
        "copy.job_span_ms" -> Jobs.spanMs(jobs),
        "copy.tasks" -> 1.0))
    }
    val status0 = status.get("status").asText
    Op(name, t0, t1, if (status0 == "COMPLETED") None else Some(s"task ended $status0"),
      Map("throttled" -> bw.isDefined, "submit_ms" -> submitMs,
        "status_ms" -> statusMs.toSeq, "metrics_ms" -> metricsMs,
        "poll_lag_ms" -> (t1 - completedMs), "items" -> itemRows))
  }

  private def dest(p: Int) = new File(a.work, s"copy_dst/$p")

  def pass(p: Int, traced: Boolean): Seq[Op] = {
    val sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(jobTap)
      spark.listenerManager.register(planTap)
    }
    val d = dest(p).getAbsolutePath
    val ops = Seq(task("copy",
      Seq(source.tree -> s"$d/tree", source.large -> s"$d/large"), None, p, traced))
    if (traced) {
      ListenerFlush.waitUntilEmpty(sc, 60000)
      sc.removeSparkListener(jobTap)
      spark.listenerManager.unregister(planTap)
    }
    ops
  }

  /** Every item COMPLETED and verified, its bytes equal to the source's,
    * and every destination file's MD5 equal to its source file's.
    */
  override def afterPass(p: Int, ops: Seq[Op]): Unit = {
    ops.foreach { op =>
      op.extra.get("items").toSeq.flatMap(_.asInstanceOf[Seq[Map[String, Any]]]).foreach { it =>
        val src = it("src").asInstanceOf[String]
        val dst = new File(it("dst").asInstanceOf[String])
        val expected = source.md5.filter { case (rel, _) => (source.root + "/" + rel).startsWith(src) }
        val problems = ArrayBuffer.empty[String]
        if (it("status") != "COMPLETED") problems += s"status ${it("status")}: ${it("error")}"
        if (it("verified") != true) problems += "checksumVerified is false"
        val bytes = expected.keys.toSeq.map(rel => new File(source.root, rel).length).sum
        if (it("bytes") != bytes) problems += s"bytes ${it("bytes")} != source $bytes"
        expected.foreach { case (rel, md5) =>
          val relDst = (source.root + "/" + rel).stripPrefix(src)
          val f = if (relDst.isEmpty) dst else new File(dst, relDst)
          if (!f.isFile) problems += s"missing $f"
          else if (Source.md5(f) != md5) problems += s"MD5 differs for $f"
        }
        if (problems.nonEmpty) failures += s"pass $p ${op.name} $src: ${problems.take(3).mkString("; ")}"
      }
    }
    Files.delete(new File(a.work, "copy_dst"))
  }

  /** Two untimed passes, as the JIT is still compiling the copy path after
    * one, then the throttled task.
    */
  override def warmPass(): Seq[Op] = pass(-2, traced = false) ++ pass(-1, traced = false) :+
    task("copy_throttled", Seq(source.throttled -> s"${dest(-1).getAbsolutePath}/throttled.bin"),
      Some(bandwidth), -1, traced = false)

  def check(): Map[String, Any] = Map(
    "failures" -> failures.toSeq,
    "registry_tasks" -> service.statusCounts.values.sum,
    "requested_mbps" -> bandwidth,
    "source" -> Map("tree_files" -> source.md5.count(_._1.startsWith("tree/")),
      "tree_b" -> source.bytes("tree/"), "large_b" -> source.bytes("large/"),
      "throttled_b" -> source.bytes("throttled.bin")))

  def probeRoot: String = source.root

  def close(): Unit = stop()
}

/** The generated copy source: a wide tree of small files under `tree/`
  * (more top-level subdirectories than `CopyEngine`'s distributed-listing
  * threshold of 32), large files under `large/`, and `throttled.bin`, whose
  * size is a whole number of per-second budgets at the requested rate.
  */
final case class Source(root: String, md5: Map[String, String]) {
  def tree: String = s"$root/tree"
  def large: String = s"$root/large"
  def throttled: String = s"$root/throttled.bin"
  def bytes(prefix: String): Long =
    md5.keys.toSeq.filter(_.startsWith(prefix)).map(r => new File(root, r).length).sum
}

object Source {
  def generate(root: File, seed: Int, dirs: Int, files: Int, large: Int,
      largeMib: Int, throttledMib: Int): Source = {
    val rnd = new java.util.SplittableRandom(seed.toLong)
    val md5 = scala.collection.mutable.Map.empty[String, String]
    def write(rel: String, n: Int): Unit = {
      val bytes = new Array[Byte](n)
      var i = 0
      while (i < n) {
        var r = rnd.nextLong()
        var k = 0
        while (k < 8 && i < n) { bytes(i) = r.toByte; r >>>= 8; k += 1; i += 1 }
      }
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
      md5(rel) = hex(MessageDigest.getInstance("MD5").digest(bytes))
    }
    for (d <- 0 until dirs; s <- 0 until 2; f <- 0 until files)
      write(f"tree/d$d%03d/s$s/f$f%02d.bin", 1024 + rnd.nextInt(15 * 1024))
    for (l <- 0 until large) write(s"large/part-$l.bin", largeMib << 20)
    write("throttled.bin", throttledMib << 20)
    Source(root.getAbsolutePath, md5.toMap)
  }

  def md5(f: File): String = {
    val md = MessageDigest.getInstance("MD5")
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n != -1) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    hex(md.digest())
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
}

/** Direct probes of the copy engine's public functions on a workload's own
  * files: listing the tree, streaming the largest files without checksum,
  * and hashing them.
  */
object Probes {
  def run(root: String, work: File): Map[String, Any] = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileSystem, Path}
    val conf = new Configuration()
    val fs = FileSystem.getLocal(conf).getRawFileSystem
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def timeMs(body: => Unit): Double = { val t0 = Clock.ms(); body; Clock.ms() - t0 }
    // the driver-side walk behind CopyEngine.listRecursive, which needs no
    // session (the pipeline workload has none alive here)
    val qualified = fs.makeQualified(new Path(root))
    def list() = CopyEngine.walk(fs, qualified, qualified.toUri.getPath)
    val listing = list()
    val biggest = listing.filterNot(_.isDir).sortBy(f => (-f.length, f.relPath)).take(3)
    val mib = biggest.map(_.length).sum / 1048576.0
    val out = new File(work, "probe")
    out.mkdirs()
    val stream = (1 to 5).map(_ => timeMs(biggest.zipWithIndex.foreach { case (f, i) =>
      val r = CopyEngine.copyOne(conf, f.path, s"${out.getAbsolutePath}/$i", None,
        checksumEnabled = false, None)
      require(r.error == null, r.error)
    }))
    val md5 = (1 to 5).map(_ => timeMs(biggest.foreach(f => CopyEngine.md5Of(fs, new Path(f.path)))))
    Files.delete(out)
    Map(
      "copy.list_ms" -> median((1 to 5).map(_ => timeMs(list()))),
      "copy.stream_ms_per_mib" -> median(stream) / mib,
      "copy.md5_ms_per_mib" -> median(md5) / mib,
      "copy.probe_mib" -> mib,
      "copy.listed_entries" -> listing.size)
  }
}
