package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's result line: failed queries are listed, not timed, and the
  * total is the sum of the printed entries.
  */
class BenchSpec extends AnyFunSuite {

  test("a query that throws in any pass is failed: listed, untimed, not in the total") {
    val passes = Seq(
      Map("q01" -> Some(0.5004), "q02" -> Some(1.0), "q03" -> None),
      Map("q01" -> Some(0.4), "q02" -> None, "q03" -> None),
      Map("q01" -> Some(0.45), "q02" -> Some(0.9), "q03" -> None))
    val line = Bench.resultLine(passes, "sf")
    assert(line ==
      """{"metric":"total","value":0.400,"unit":"sec","queries":{"q01":0.400},"failed":["q02","q03"],"sf":"sf"}""")
  }

  test("the total equals the sum of the rounded entries") {
    // each entry rounds up by 0.4 ms: summing unrounded values would print
    // 0.0036 * 10 = 0.036, the printed entries sum to 0.040
    val passes = Seq.fill(3)((0 until 10).map(i => f"q$i%02d" -> Some(0.0036)).toMap)
    val line = Bench.resultLine(passes, "sf")
    assert(line.startsWith("""{"metric":"total","value":0.040,"""), line)
    assert(line.contains(""""q00":0.004,""") && line.contains(""""failed":[]"""))
  }
}
