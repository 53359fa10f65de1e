package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The smoke gate lines are read from logs written under any locale; a
  * non-ASCII comparison sign prints as `?` under a POSIX one. */
class SmokeGatesSpec extends AnyFunSuite {

  test("shuffle-linearity and skew gate messages are plain ASCII") {
    val messages = scala.collection.mutable.ArrayBuffer.empty[String]
    val check: (Boolean, String) => Unit = (_, m) => messages += m
    SmokeGates.gateShuffleLinear(
      Seq(1 -> (10L << 20), 3 -> (31L << 20), 10 -> (400L << 20)), check)
    SmokeGates.gateShuffleLinear(Seq(1 -> 1L, 3 -> 3L), check, exemptBytes = 1L << 20)
    SmokeGates.gateSkew(3,
      Map(1 -> ((8L, 64L << 20, 9L << 20)), 2 -> ((16L, 8L << 20, 7L << 20))), check)
    assert(messages.size === 5)
    messages.foreach(m => assert(m.forall(_ < 128), m))
  }
}
