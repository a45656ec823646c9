package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Verify.main`'s argument parse: two or three arguments, anything
  * else is a usage error (exit 2), never a MatchError.
  */
class VerifySpec extends AnyFunSuite {

  test("two arguments: sfDir and outDir, no filter") {
    assert(Verify.parseArgs(Array("sf", "out")) == Some(("sf", "out", None)))
  }

  test("three arguments: the third is a comma-separated query filter") {
    assert(Verify.parseArgs(Array("sf", "out", "q1,q2")) ==
      Some(("sf", "out", Some(Set("q1", "q2")))))
  }

  test("any other argument count is rejected") {
    for (n <- Seq(0, 1, 4))
      assert(Verify.parseArgs(Array.fill(n)("x")).isEmpty, s"$n args")
  }
}
