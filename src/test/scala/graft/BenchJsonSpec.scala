package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one-line bench artifact must stay machine-parseable no matter what
  * bytes an error message carries — backslash, quote, and EVERY control
  * char below 0x20 must be escaped (the old chain missed control chars,
  * so an ANSI escape or NUL in an exception corrupted the JSON line).
  * A query-subset run must not overwrite the full-registry artifact.
  * Janino compiles ride the raw per-pass trace and the run totals, so a
  * codegen cache that thrashes is visible in the artifact.
  */
class BenchJsonSpec extends AnyFunSuite with Matchers {

  test("jsonEscape: quotes, backslashes, newlines, and control chars") {
    val in1 = "a\"b\\c\nd\re\tf" + "\u0001" + "g" + "\u001b" + "h"
    Bench.jsonEscape(in1) shouldBe
      "a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001bh"
  }

  test("every char below 0x20 is escaped; printable ASCII is untouched") {
    (0 until 0x20).foreach { c =>
      val out = Bench.jsonEscape(c.toChar.toString)
      withClue(f"char 0x$c%02x escaped as '$out': ") {
        out should startWith("\\")
        out.forall(ch => ch >= 0x20) shouldBe true
      }
    }
    val printable = (0x20 to 0x7e).map(_.toChar).mkString
      .filterNot(c => c == '"' || c == '\\')
    Bench.jsonEscape(printable) shouldBe printable
  }

  test("a query subset writes bench_subset.json, never the full-registry artifact") {
    Bench.fullArtifactName(subset = false, Map.empty) shouldBe "bench_full.json"
    Bench.fullArtifactName(subset = true, Map.empty) shouldBe "bench_subset.json"
    val env = Map("SPARK_GRAFT_BENCH_FULL" -> "heavy.json")
    Bench.fullArtifactName(subset = false, env) shouldBe "heavy.json"
    Bench.fullArtifactName(subset = true, env) shouldBe "heavy.json"
  }

  // tap snapshot deltas: 0=cpuNs 1=runMs 2=shr 3=shw 4=inp 5=spill 6=tasks 7=compiles
  private def pass(cpuNs: Long, shr: Long, inp: Long, spill: Long, compiles: Long) =
    Array(cpuNs, 0L, shr, 0L, inp, spill, 1L, compiles)

  test("the raw per-pass trace carries each pass's Janino compiles beside shr_b") {
    val json = Bench.rawPassesJson("q1",
      Seq(pass(0, 10, 100, 0, 15), pass(0, 11, 100, 0, 0), pass(0, 10, 101, 0, 2)))
    json shouldBe
      "\"q1\":{\"shr_b\":[10,11,10],\"inp_b\":[100,100,101],\"compiles\":[15,0,2]}"
  }

  test("the run totals sum compiles over every timed pass, CPU and spill over medians") {
    val q1 = Seq(pass(1000000000L, 0, 0, 0, 15), pass(3000000000L, 0, 0, 7, 0))
    val q2 = Seq(pass(500000000L, 0, 0, 0, 4), pass(500000000L, 0, 0, 0, 1))
    val totals = Bench.totalsJson(Seq(q1(1), q2(0)), Seq(q1, q2))
    totals shouldBe
      "\"cpu_total_sec\":3.500,\"spill_total_b\":7,\"compiles_total\":20"
  }

  test("a tap snapshot counts a compile of newly generated code") {
    val spark = SparkTestSession.spark
    val tap = new TaskMetricsTap
    val s0 = tap.snapshot()
    // primitive literals are inlined into the generated source, so a
    // fresh one gives source the codegen cache has never seen
    val k = System.nanoTime() % 1000000007L
    spark.range(10).selectExpr(s"id * $k + 1 AS v").collect()
    val s1 = tap.snapshot()
    s1.length shouldBe 8
    (s1(7) - s0(7)) should be >= 1L
  }
}
