package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench and Verify run each query through [[Bench.guarded]]: an
  * ordinary failure is reported and the run moves on, a fatal JVM error
  * ends it. */
class QueryGuardSpec extends AnyFunSuite {
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8")
  }

  test("an ordinary exception is reported as a query failure") {
    var ok = true
    val err = stderrOf {
      ok = Bench.guarded("bench", "q01", "FAILED")(throw new RuntimeException("boom"))
    }
    assert(!ok)
    assert(err.trim == "[bench] q01 FAILED: boom")
  }

  test("a successful action reports success and prints nothing") {
    var ran = false
    val err = stderrOf { assert(Bench.guarded("verify", "q01", "failed") { ran = true }) }
    assert(ran && err.isEmpty)
  }

  test("a StackOverflowError propagates") {
    intercept[StackOverflowError] {
      Bench.guarded("verify", "q01", "failed")(throw new StackOverflowError())
    }
  }
}
