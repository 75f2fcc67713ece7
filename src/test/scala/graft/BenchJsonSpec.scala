package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one-line bench artifact must stay machine-parseable no matter what
  * bytes an error message carries — backslash, quote, and EVERY control
  * char below 0x20 must be escaped (the old chain missed control chars,
  * so an ANSI escape or NUL in an exception corrupted the JSON line).
  * A query-subset run must not overwrite the full-registry artifact.
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
}
