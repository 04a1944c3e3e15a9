package graft.io

import scala.jdk.CollectionConverters._

/** Overlap independent Spark actions (guide-§2.6 shape, and the same
  * fan-out idea [[graft.Controller]] uses for tables): the driver's
  * sequential action calls are what serialize independent sub-second
  * jobs — submitting them from a small pool lets each job's task tail
  * back-fill executor slots freed by its siblings. Use ONLY for
  * genuinely independent side effects (distinct tables/paths, no
  * ordering contract); anything ordered stays on the caller's thread. */
object Overlap {

  /** GLOBAL extra-thread budget, shared by every [[awaitAll]] site —
    * nested ones included (an overlapped chain whose steps overlap
    * again draws from the same pool of permits). The r13 verdict's
    * `sim_graph_after_ingest` finding: with a per-call pool sized to
    * `work.size`, nested sites multiplied in-flight writes and, on a
    * loaded host, the concurrent writes lost more to execution-memory /
    * core contention than the removed serialization saved (3.0× the
    * serialized cost in the loaded driver record; the same failure mode
    * as the dropped concurrent-sorted-appends experiment). The default
    * of 3 keeps a single site's typical 4-way fan-out fully overlapped
    * (3 offloaded + the caller's thread) while capping the total:
    * however many sites stack, at most `budget` extra action threads
    * exist JVM-wide, and exhaustion degrades to the caller's own
    * sequential order — never deadlock, never an unbounded fan-out.
    * Override with `-Dgraft.overlap.budget=N` / `$GRAFT_OVERLAP_BUDGET`
    * (0 = fully sequential), read once per JVM. */
  private[io] val DefaultBudget = 3
  private[graft] lazy val budget: Int =
    sys.props.get("graft.overlap.budget")
      .orElse(sys.env.get("GRAFT_OVERLAP_BUDGET"))
      .map(_.toInt).filter(_ >= 0).getOrElse(DefaultBudget)
  private lazy val permits = new java.util.concurrent.Semaphore(budget)
  private val tid = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run the thunks and wait for ALL of them; the first failure
    * rethrows — as the ORIGINAL exception, no executor wrapper — after
    * every thunk has finished (no write is abandoned mid-flight), with
    * every later failure attached to it as suppressed. Each
    * thunk except the last tries to take a global permit and runs on
    * its own thread when one is free; thunks that find the budget
    * exhausted (and always the last one) run inline on the caller's
    * thread. If the caller is interrupted while waiting, the spawned
    * thunks still run to completion and the interrupt flag is restored
    * after they finish; it is also set when a later failure is an
    * [[InterruptedException]], which would otherwise be swallowed as
    * suppressed (a rethrown one needs no flag: it is the interrupt). */
  def awaitAll(work: Seq[() => Unit]): Unit = {
    if (work.isEmpty) return
    if (work.size == 1) { work.head.apply(); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def runCaught(f: () => Unit): Unit =
      try f() catch { case t: Throwable => errs.add(t): Unit }
    val spawned = work.init.flatMap { f =>
      if (!permits.tryAcquire()) { runCaught(f); None }
      else {
        val th = new Thread(
          () => try runCaught(f) finally permits.release(),
          s"graft-overlap-${tid.incrementAndGet()}")
        th.setDaemon(true)
        th.start()
        Some(th)
      }
    }
    runCaught(work.last)
    var interrupted = false
    spawned.foreach { th =>
      var joined = false
      while (!joined)
        try { th.join(); joined = true }
        catch { case _: InterruptedException => interrupted = true }
    }
    val failures = errs.asScala.toList
    val later = failures.drop(1).filterNot(t => failures.headOption.exists(_ eq t))
    if (interrupted || later.exists(_.isInstanceOf[InterruptedException]))
      Thread.currentThread().interrupt()
    failures.headOption.foreach { first =>
      later.foreach(first.addSuppressed)
      throw first
    }
  }
}
