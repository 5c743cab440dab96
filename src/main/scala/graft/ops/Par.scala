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
  import org.apache.spark.sql.classic.SparkSession
  import org.apache.spark.sql.execution.SQLExecution
  import scala.concurrent.{Await, Future, Promise}
  import scala.concurrent.duration.Duration
  import scala.util.{Failure, Success}

  private val pool = java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  })

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

  /** Run every action, at most `limit` at a time, and return their
    * results in order. The caller's thread runs actions too, so at
    * most `limit - 1` pool threads join it however many actions there
    * are; each takes the next unstarted action until none is left.
    * Every action runs under the caller's pin scope, session and local
    * properties, as in [[future]], and every one is awaited: the first
    * failure in action order is rethrown once all have ended, later
    * ones suppressed onto it, as in [[both]].
    */
  def all[A](limit: Int)(actions: Seq[() => A]): Seq[A] = {
    require(limit > 0, s"limit must be > 0, got: $limit")
    val todo = actions.toVector
    val results = new Array[scala.util.Try[A]](todo.size)
    val next = new java.util.concurrent.atomic.AtomicInteger
    def drain(): Unit = {
      var i = next.getAndIncrement()
      while (i < todo.size) {
        results(i) = try Success(todo(i)()) catch { case t: Throwable => Failure(t) }
        i = next.getAndIncrement()
      }
    }
    val helpers = Vector.fill(math.min(limit, todo.size) - 1)(future(drain()))
    drain()
    helpers.foreach(await)
    results.collect { case Failure(t) => t }.reduceOption { (first, later) =>
      first.addSuppressed(later)
      first
    }.foreach(throw _)
    results.toSeq.map(_.get)
  }

  /** Kick `b` off now; [[await]] it after interleaving other (lazy,
    * non-blocking) plan construction on the calling thread. Callers
    * that may throw before awaiting should await in a finally — an
    * un-awaited future is the orphaned-job leak [[both]] closes.
    * `b` runs under the caller's [[graft.Pins]] scope, so its pins are
    * released with the caller's, and under the caller's active session
    * and Spark local properties (job group, description, scheduler
    * pool), which a pooled thread would otherwise keep from whichever
    * thread created it; the thread's own are restored afterwards.
    */
  def future[B](b: => B): Future[B] = {
    val run = graft.Pins.inCurrentScope(b)
    val done = Promise[B]()
    SQLExecution.withThreadLocalCaptured(SparkSession.active, pool) {
      done.complete(try Success(run()) catch { case t: Throwable => Failure(t) })
    }
    done.future
  }

  def await[B](f: Future[B]): B = Await.result(f, Duration.Inf)
}
