package graft.io

import org.scalatest.funsuite.AnyFunSuite

class OverlapSpec extends AnyFunSuite {

  test("awaitAll runs every thunk and rethrows the original failure") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      Overlap.awaitAll(Seq(
        () => { ran.incrementAndGet(); throw boom },
        () => { Thread.sleep(50); ran.incrementAndGet(): Unit },
        () => { ran.incrementAndGet(): Unit }))
    }
    assert(e eq boom) // the original exception, not an executor wrapper
    assert(ran.get() == 3) // no thunk abandoned mid-flight
  }

  test("awaitAll keeps every later failure as suppressed on the first") {
    val fails = (1 to 3).map(i => new IllegalStateException(s"f$i"))
    val e = intercept[IllegalStateException] {
      Overlap.awaitAll(fails.map(f => () => throw f))
    }
    assert(fails.contains(e))
    assert((e +: e.getSuppressed.toSeq).toSet == fails.toSet,
      "no failure may be dropped")
  }

  test("awaitAll sets the interrupt flag only for an interrupt it does not rethrow") {
    // the interrupted thunk fails after the first failure, so it is only
    // kept as suppressed and the flag must carry the interrupt
    val e = intercept[IllegalStateException] {
      Overlap.awaitAll(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(50); throw new InterruptedException("cancelled") }))
    }
    // interrupted() reads AND clears, so the flag cannot leak into the
    // next test on this thread
    assert(Thread.interrupted(), "the caller must see the interrupt")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("cancelled"))

    // a rethrown InterruptedException is the interrupt: the flag stays
    // clear, so the caller's cleanup does not run interrupted
    val ie = intercept[InterruptedException] {
      Overlap.awaitAll(Seq(
        () => { Thread.sleep(20) },
        () => throw new InterruptedException("cancelled")))
    }
    assert(ie.getMessage == "cancelled")
    assert(!Thread.interrupted(), "a rethrown interrupt must not also set the flag")
  }

  test("global budget bounds in-flight thunks across nested sites") {
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    def leaf(): Unit = {
      val n = inFlight.incrementAndGet()
      maxSeen.getAndUpdate(m => math.max(m, n)): Unit
      Thread.sleep(30)
      inFlight.decrementAndGet(): Unit
    }
    // 3 sites × 6 leaves = 18 thunks, nested two deep — the shape the
    // r13 verdict flagged (a chain overlap wrapping build overlaps).
    // Invariant: every concurrently-running leaf occupies either the
    // one caller thread or a permit-holding spawned thread, so at most
    // budget + 1 leaves are ever in flight, however many sites stack.
    Overlap.awaitAll(Seq(
      () => Overlap.awaitAll(Seq.fill(6)(() => leaf())),
      () => Overlap.awaitAll(Seq.fill(6)(() => leaf())),
      () => Overlap.awaitAll(Seq.fill(6)(() => leaf()))))
    assert(maxSeen.get() <= Overlap.budget + 1,
      s"in-flight ${maxSeen.get()} exceeded budget ${Overlap.budget} + 1")
    assert(maxSeen.get() >= 1)
  }

  test("budget exhaustion degrades to sequential completion, not deadlock") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    // deeply nested fan-out far beyond the budget must still terminate
    def nest(depth: Int): Unit =
      if (depth == 0) { done.incrementAndGet(): Unit }
      else Overlap.awaitAll(Seq.fill(3)(() => nest(depth - 1)))
    nest(3) // 27 leaves through 13 awaitAll sites
    assert(done.get() == 27)
  }
}
