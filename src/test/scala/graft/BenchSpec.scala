package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's timing helper: a query that throws is a failure with its error
  * text, never a time. */
class BenchSpec extends AnyFunSuite {

  test("a body that throws in a timed run yields its error, not a time") {
    var calls = 0
    val r = Bench.timed(3) {
      calls += 1
      if (calls == 2) throw new IllegalStateException("no fixture at /x")
    }
    assert(r === Left("java.lang.IllegalStateException: no fixture at /x"))
    assert(calls === 2) // the runs after the throw are not made
  }

  test("the error text is capped at 200 chars and escapes into JSON") {
    val r = Bench.timed(1)(throw new RuntimeException("\"q\"\\\n" + "x" * 500))
    val msg = r.left.getOrElse(fail("expected a failure"))
    assert(msg.length === 200)
    assert(Bench.jsonEscape(msg).startsWith("java.lang.RuntimeException: \\\"q\\\"\\\\ x"))
  }

  test("a body that completes yields one time per run") {
    val r = Bench.timed(4)(())
    assert(r.isRight && r.toOption.get.length === 4 && r.toOption.get.forall(_ >= 0.0))
  }
}
