package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** The smoke gate lines are read from logs written under any locale; a
  * non-ASCII comparison sign prints as `?` under a POSIX one. */
class SmokeGatesSpec extends AnyFunSuite {

  private def gates(): (SmokeGates, ArrayBuffer[String]) = {
    val lines = ArrayBuffer.empty[String]
    (new SmokeGates("T", lines += _), lines)
  }

  test("shuffle-linearity and skew gate messages are plain ASCII") {
    val (g, lines) = gates()
    g.shuffleLinear(Seq(1 -> (10L << 20), 3 -> (31L << 20), 10 -> (400L << 20)))
    g.shuffleLinear(Seq(1 -> 1L, 3 -> 3L), exemptBytes = 1L << 20)
    g.skew(3, Map(
      1 -> StageStats(tasks = 8L, shuffleWrite = 64L << 20, maxTaskWrite = 9L << 20),
      2 -> StageStats(tasks = 16L, shuffleWrite = 8L << 20, maxTaskWrite = 7L << 20)))
    assert(lines.size === 5)
    lines.foreach(m => assert(m.forall(_ < 128), m))
    assert(!g.passed) // 400 MiB for a 10/3 scale-up, and stage 2's 7 MiB task
  }

  test("relation gates: one ASCII line per later scale, exact-linear on the list 2,3") {
    val (g, lines) = gates()
    g.exactLinear("rows", Seq(2 -> 10L, 3 -> 15L))
    g.nearLinear("pairs", Seq(2 -> 100L, 3 -> 151L), tol = 0.02)
    g.constant("top-k", Seq(2 -> 50L, 3 -> 50L))
    g.identical("sketch", Seq(2 -> Seq(1L, 2L), 3 -> Seq(1L, 2L)))
    assert(lines.size === 4)
    lines.foreach(m => assert(m.forall(_ < 128), m))
    assert(lines.forall(_.startsWith("T_SMOKE_CHECK ok   ")), lines.mkString("\n"))
    assert(g.passed)
    // an integer multiplier (3/2 = 1) would expect 10 rows at 3x
    g.exactLinear("rows", Seq(2 -> 10L, 3 -> 14L))
    g.nearLinear("pairs", Seq(2 -> 100L, 3 -> 160L), tol = 0.02)
    g.constant("top-k", Seq(2 -> 50L, 3 -> 51L))
    g.identical("sketch", Seq(2 -> Seq(1L, 2L), 3 -> Seq(1L, 3L)))
    assert(lines.drop(4).forall(_.startsWith("T_SMOKE_CHECK FAIL ")), lines.mkString("\n"))
    assert(!g.passed)
  }
}
