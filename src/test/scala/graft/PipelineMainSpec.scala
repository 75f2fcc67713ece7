package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graft.ContextBridge
import org.apache.spark.metrics.source.CodegenMetrics

/** `PipelineMain` leaves its session to the next run in the JVM, and a
  * standalone run still exits on its own.
  */
class PipelineMainSpec extends SparkSpec {

  private def summaryOf(out: String): String =
    out.split('\n').map(_.trim).filter(_.startsWith("{\"input\"")).last

  /** The summary fields that describe the data, not the run. */
  private def counts(summary: String): Map[String, String] =
    new ObjectMapper().readTree(summary).properties().asScala
      .map(e => e.getKey -> e.getValue.toString).toMap - "elapsed_sec" - "out"

  test("a second run in the JVM reuses the context and its generated code") {
    def run(): (String, String, Long) = {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val buf = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(buf, true, "UTF-8")) {
        PipelineMain.main(Array(sfDir, tmpDir("graft_pipeline_rerun").toString))
      }
      (summaryOf(buf.toString("UTF-8")), ContextBridge.active.get.applicationId,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)
    }
    val (first, app1, _) = run()
    val (second, app2, compiles2) = run()
    counts(second) shouldBe counts(first)
    counts(first)("input").toLong should be > 0L
    app2 shouldBe app1
    compiles2 should be <= 10L
  }

  test("a standalone run prints its summary and exits without calling stop") {
    val out = tmpDir("graft_pipeline_standalone")
    val log = new File(out.toFile, "stdout.log")
    // the module and log options of this JVM; a small heap of its own
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dlog4j2"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.PipelineMain", sfDir, out.resolve("run").toString)
    val pb = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    val exited = p.waitFor(240, TimeUnit.SECONDS)
    if (!exited) p.destroyForcibly().waitFor()
    val output = new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
    withClue(output.takeRight(2000)) {
      exited shouldBe true
      p.exitValue() shouldBe 0
      counts(summaryOf(output))("input").toLong should be > 0L
    }
  }
}
