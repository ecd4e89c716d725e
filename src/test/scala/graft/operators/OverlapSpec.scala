package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** Failure semantics of the driver-side overlap helpers. */
class OverlapSpec extends AnyFunSuite {

  test("inParallel: a failure surfaces only after every sibling has settled") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.inParallel(Seq[() => Int](
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(1000); siblingDone.set(true); 1 }))
    }
    assert(e.getMessage == "boom")
    assert(siblingDone.get(), "the failure surfaced while a sibling was still running")
  }

  test("inParallel: the first failure in input order is rethrown") {
    val e = intercept[IllegalStateException] {
      Overlap.inParallel(Seq[() => Int](
        () => { Thread.sleep(500); throw new IllegalStateException("first") },
        () => throw new IllegalStateException("second"),
        () => 3))
    }
    assert(e.getMessage == "first")
  }
}
