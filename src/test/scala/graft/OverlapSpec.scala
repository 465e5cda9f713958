package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Overlap.awaitAll]] must not return, even by throwing, while any
  * action is still running: a foreachBatch retry would otherwise race
  * the failed attempt's surviving writes. */
class OverlapSpec extends AnyFunSuite {
  test("awaitAll throws only after every action ended, later failures suppressed") {
    val siblingDone = new AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val thrown = intercept[IllegalStateException] {
      Overlap.awaitAll(Seq(
        () => throw first,
        () => { Thread.sleep(1000); siblingDone.set(true) },
        () => { Thread.sleep(100); throw second }))
    }
    assert(siblingDone.get(), "awaitAll returned while an action was still running")
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(second))
  }
}
