package graft.tools

/** Write FULL `.explain("formatted")` output for the named queries, or
  * for every registry query when none are named, to
  * `plans/<round>/<query>_<suffix>.txt` — the optimization-round evidence
  * files (plan claims are checked against these, so nothing is
  * truncated). Env:
  *   SPARK_GRAFT_SF_DIR   fixture (default sf0.1 — the bench fixture, so
  *                        AQE/broadcast decisions match the bench's)
  *   SPARK_GRAFT_PLAN_DIR output dir (default plans/r19)
  *   SPARK_GRAFT_PLAN_SUFFIX  file suffix (default "before")
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.cpus(32)
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r19")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = graft.GraftSession.create("graft-explain", cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, d)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val exchanges = "Exchange".r.findAllIn(
          df.queryExecution.executedPlan.toString).size
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          (s"-- $n @ $d (local[$cpus])  exchanges=$exchanges\n" + plan)
            .getBytes("UTF-8"))
        println(s"wrote $outDir/${n}_$suffix.txt (exchanges=$exchanges)")
      } catch {
        case e: Exception => println(s"ERROR $n: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
