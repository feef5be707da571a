package graft

import org.scalatest.funsuite.AnyFunSuite

/** The order `graft.Bench` fills its stdout line's `queries` budget
  * in; no Spark session is needed. */
class BenchOrderSpec extends AnyFunSuite {

  test("stdoutOrder: failed queries come first, then the slowest first") {
    val sec = Map("a" -> 1.0, "b" -> -1.0, "c" -> 3.0, "d" -> -1.0, "e" -> 2.0)
    assert(Bench.stdoutOrder(Seq("a", "b", "c", "d", "e"), sec) == Seq("b", "d", "c", "e", "a"))
  }

  test("stdoutOrder: with no failures it is the slowest-first order") {
    val sec = Map("a" -> 0.5, "b" -> 2.5, "c" -> 1.5)
    assert(Bench.stdoutOrder(Seq("a", "b", "c"), sec) == Seq("b", "c", "a"))
  }
}
