package graft

import org.scalatest.funsuite.AnyFunSuite

class FanoutSpec extends AnyFunSuite {

  test("all settles the second action even when the first fails (no orphan writer)") {
    val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[RuntimeException] {
      Fanout.all(
        () => throw new RuntimeException("boom"),
        () => { Thread.sleep(300); bDone.set(true) })
    }
    assert(ex.getMessage == "boom")
    // the in-flight second write finished BEFORE the failure propagated —
    // a same-JVM retry can never race an orphan manifest flip
    assert(bDone.get)
  }
}
