package graft.util

/** Overlap INDEPENDENT Spark jobs from driver threads. A Spark driver
  * schedules actions sequentially only because caller code invokes
  * them sequentially; artifact writers that produce several
  * independent outputs from the same (cached or re-scannable) input
  * were paying one full job-orchestration latency per artifact —
  * measured ~0.15–0.2 s of driver/commit gap per job on this host,
  * ~35 jobs in the dedup-index lifecycle alone, with total executor
  * task-time under half the wall. Running the independent chains on a
  * few driver threads back-fills those gaps (and at cluster scale
  * lets the next job's tasks fill executors freed by the current
  * job's tail; FIFO scheduling gives exactly the back-fill behaviour).
  *
  * Semantics: runs every thunk to completion (no cancellation — a
  * crashed sibling must not carve an artifact set no failure mode
  * documents; each writer's crash contract is stated per WAVE at the
  * call site), then rethrows the first failure in argument order with
  * the other failures attached as suppressed plus a marker exception
  * carrying the CALL SITE's stack (a worker-thread stack alone does
  * not say which wave failed).
  *
  * Interrupts: if the CALLER's thread is interrupted while waiting,
  * every worker is interrupted and then joined for at most 10 s each,
  * and the InterruptedException propagates — possibly while workers
  * are still unwinding (a worker that ignores the interrupt keeps
  * running past the 10 s join).
  *
  * Thread state: plain threads, not a shared pool — callers are rare
  * and chains are few. Spark's scheduler state (job group/description)
  * is thread-local and NOT inherited; these maintenance jobs carry
  * their own callsites. [[Materialize]]'s scope stack IS carried: it
  * is captured on the calling thread and installed in every worker for
  * its thunk, so whatever a thunk persists through `Materialize`
  * registers with the caller's innermost `Materialize.scoped` and is
  * freed by the caller's one release.
  */
object Par {
  /** Run the thunks concurrently for their side effects. */
  def jobs(thunks: (() => Unit)*): Unit = {
    eval(thunks.map { f => () => { f(); () } }: _*)
    ()
  }

  /** Run the thunks concurrently and return their values in argument
    * order — the value-returning form [[jobs]] delegates to. */
  def eval[A](thunks: (() => A)*): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_.apply())
    val n = thunks.size
    val scopes = Materialize.currentScopes
    val outs = new java.util.concurrent.atomic.AtomicReferenceArray[AnyRef](n)
    val errs = new java.util.concurrent.atomic.AtomicReferenceArray[Throwable](n)
    val ts = thunks.zipWithIndex.map { case (f, i) =>
      new Thread(() =>
        try outs.set(i, Materialize.withScopes(scopes)(f()).asInstanceOf[AnyRef])
        catch { case t: Throwable => errs.set(i, t) },
        s"graft-par-$i")
    }
    ts.foreach(_.start())
    try ts.foreach(_.join())
    catch {
      case ie: InterruptedException =>
        // caller interrupted mid-wait: pass the interrupt down and give
        // workers a bounded window to unwind, then propagate — never
        // leave detached threads mutating artifacts behind a caller
        // that thinks the wave is over
        ts.foreach(_.interrupt())
        ts.foreach { t =>
          try t.join(10000L) catch { case _: InterruptedException => () }
        }
        Thread.currentThread().interrupt()
        throw ie
    }
    val failures = (0 until n).flatMap(i => Option(errs.get(i)))
    failures.headOption.foreach { first =>
      failures.drop(1).foreach { other =>
        if (other ne first) first.addSuppressed(other)
      }
      // keep the original exception TYPE (crash contracts and specs
      // match on it); the call-site stack rides along as suppressed
      first.addSuppressed(new Exception(
        s"Par wave call site (${failures.size} of $n thunks failed)"))
      throw first
    }
    (0 until n).map(i => outs.get(i).asInstanceOf[A])
  }
}
