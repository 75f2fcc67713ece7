package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graft.ContextBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** `PipelineMain` leaves its session to the next run in the JVM, and a
  * standalone run still exits on its own. Its stage boundaries are pins,
  * so later queries plan over one stage, not the whole upstream pipeline.
  */
class PipelineMainSpec extends SparkSpec {

  private def summaryOf(out: String): String =
    out.split('\n').map(_.trim).filter(_.startsWith("{\"input\"")).last

  /** The summary line of one `PipelineMain` run on `dir`. */
  private def run(dir: String, out: String): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      PipelineMain.main(Array(dir, out))
    }
    summaryOf(buf.toString("UTF-8"))
  }

  /** The summary fields that describe the data, not the run. */
  private def counts(summary: String): Map[String, String] =
    new ObjectMapper().readTree(summary).properties().asScala
      .map(e => e.getKey -> e.getValue.toString).toMap - "elapsed_sec" - "out"

  test("a second run in the JVM reuses the context and its generated code") {
    def rerun(): (String, String, Long) = {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val summary = run(sfDir, tmpDir("graft_pipeline_rerun").toString)
      (summary, ContextBridge.active.get.applicationId,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)
    }
    val (first, app1, _) = rerun()
    val (second, app2, compiles2) = rerun()
    counts(second) shouldBe counts(first)
    counts(first)("input").toLong should be > 0L
    app2 shouldBe app1
    compiles2 should be <= 10L
  }

  test("stages are pinned: nothing cached, the same counts, a third of the plan text") {
    // the session PipelineMain will reuse, so the listener hears its run
    val session = GraftSession.create("graft-pipeline", GraftSession.cpus(8))
    var planText = 0L
    val tap = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => planText += s.physicalPlanDescription.length
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          planText += u.physicalPlanDescription.length
        case _ =>
      }
    }
    session.sparkContext.addSparkListener(tap)
    // PipelineMain drains the listener bus before it returns
    val summary = try run(sfDir, tmpDir("graft_pipeline_pinned").toString)
      finally session.sparkContext.removeSparkListener(tap)
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty shouldBe true
    // the counts of the persist()-bounded pipeline this replaced, on sf0.001
    counts(summary) shouldBe Map("input" -> "500", "after_exact_dedup" -> "500",
      "after_near_dedup" -> "476", "after_quality" -> "475",
      "after_decontam" -> "234", "mean_lm_nll" -> "3.4028", "n_packs" -> "27",
      "written" -> "234", "shard_balance" -> "1.0668",
      "pack_files_before" -> "8", "pack_files_after" -> "1")
    // listener plan text of one run on sf0.001, local[4]: 6,410,060
    // characters (first run in the JVM; 6,473,576 on the second) while each
    // stage was persist()ed and every consumer rendered the whole upstream
    // plan; 1,073,158 with the stages pinned
    planText should be <= 6410060L / 3
  }

  test("an empty corpus prints a null mean instead of failing") {
    val dir = tmpDir("graft_pipeline_empty")
    spark.read.parquet(s"$sfDir/documents.parquet").limit(0)
      .write.parquet(dir.resolve("documents.parquet").toString)
    val summary = new ObjectMapper().readTree(
      run(dir.toString, dir.resolve("out").toString))
    summary.get("input").asLong shouldBe 0L
    summary.get("written").asLong shouldBe 0L
    summary.get("mean_lm_nll").isNull shouldBe true
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
