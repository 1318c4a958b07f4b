package graft

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  test("Main CLI: flag pairs parse; an unknown flag or a flag without a value is an error") {
    assert(Main.parseArgs(Nil) == Right(Map.empty))
    assert(Main.parseArgs(Seq("--pages", "gen:10,20", "--steps", "4", "--seen-buckets", "16")) ==
      Right(Map("pages" -> "gen:10,20", "steps" -> "4", "seen-buckets" -> "16")))
    // --bloom was advertised but never read
    assert(Main.parseArgs(Seq("--steps", "4", "--bloom", "0")) == Left("unknown option: --bloom"))
    assert(Main.parseArgs(Seq("steps", "4")) == Left("unknown option: steps"))
    assert(Main.parseArgs(Seq("--steps", "4", "--cpus")) == Left("missing value for --cpus"))
  }
}
