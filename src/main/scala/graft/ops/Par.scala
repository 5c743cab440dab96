package graft.ops

/** Overlap two INDEPENDENT blocking Spark actions (eager
  * localCheckpoints, agg-collects) so the wall cost is max(a, b)
  * instead of a + b: each is a job barrier, and run serially the
  * cluster sits idle through the latency of whichever isn't running.
  * Spark schedules jobs submitted from different threads into the same
  * executor pool (FIFO within the pool — at local[n] scale the win is
  * the barrier latency; on a real cluster both jobs' stages fill the
  * executors). Use ONLY for computations with no data dependency —
  * exactness/determinism are untouched, just the materialization
  * overlaps.
  *
  * Runs on its own daemon cached-thread pool, NOT the global
  * ExecutionContext: these are BLOCKING Spark actions, and parking one
  * on the shared fork-join pool starves every other library user of a
  * scarce worker thread for the action's full duration (ADVICE r16).
  */
private[graft] object Par {
  import scala.concurrent.{Await, ExecutionContext, Future}
  import scala.concurrent.duration.Duration

  private val ec: ExecutionContext = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    }))

  /** If the caller-thread action `a` throws, the already-running `b`
    * is still AWAITED before rethrowing (its failure suppressed onto
    * `a`'s): abandoning it would leave a blocking Spark job running
    * unobserved — wasted executors, and a failure nobody sees
    * (ADVICE r16). Both-fail keeps `a`'s exception as primary.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val fb = future(b)
    val ra =
      try a
      catch {
        case ea: Throwable =>
          try Await.result(fb, Duration.Inf)
          catch { case eb: Throwable if eb ne ea => ea.addSuppressed(eb) }
          throw ea
      }
    (ra, Await.result(fb, Duration.Inf))
  }

  /** Kick `b` off now; [[await]] it after interleaving other (lazy,
    * non-blocking) plan construction on the calling thread. Callers
    * that may throw before awaiting should await in a finally — an
    * un-awaited future is the orphaned-job leak [[both]] closes.
    * `b` runs under the caller's [[graft.Pins]] scope, so its pins are
    * released with the caller's.
    */
  def future[B](b: => B): Future[B] = {
    val run = graft.Pins.inCurrentScope(b)
    Future(run())(ec)
  }

  def await[B](f: Future[B]): B = Await.result(f, Duration.Inf)
}
