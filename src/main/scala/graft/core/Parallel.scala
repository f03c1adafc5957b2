package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** The tick path's one concurrency helper. Overlapping independent
  * driver-side units overlaps their planning and job-scheduling latency,
  * which dominates the engine's small per-tick writes (Spark actions
  * are sequential only because the driver calls them sequentially).
  * Its callers: a tick's same-priority datasource
  * snapshots and its cadence tail's per-datasource aggregate or
  * purge + compact units (both at `Engine.datasourceWidth`, 4; each unit
  * writes only its own `<root>/<ds>/` tree), a
  * snapshot commit's pre-marker sink writes (width 4; each writes its
  * own invisible directory), and the fleet commit's
  * per-server marker → drain → promote (width `min(32, cores)`; every
  * path is srvid-scoped).
  *
  * One failure rule, `Error`s included: after the first failure no unit
  * that has not started runs, units already running are awaited, and
  * only when none is running does [[map]] rethrow, unwrapped, the
  * failure of the earliest failed unit in input order. So a caller's
  * lock is never released under a still-running sibling, and the
  * reachable on-disk states are those of a sequential loop interrupted
  * mid-way, which the commit protocols' recovery already resolves.
  *
  * The pool is bounded and created per call: a unit may itself call
  * [[map]] (a snapshot worker runs its commit's sink writes through
  * it), which a shared bounded pool could deadlock on. Width ≤ 1 or a
  * single unit runs inline on the caller's thread. */
object Parallel {
  def map[A, T](items: Seq[A], width: Int)(f: A => T): Seq[T] = {
    val threads = math.min(items.size, width)
    if (threads <= 1) return items.map(f)
    val failed = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(threads)
    val units =
      try items.map(a => pool.submit(new Callable[Option[T]] {
        def call(): Option[T] =
          if (failed.get) None // skipped: a unit has already failed
          else try Some(f(a))
          catch { case e: Throwable => failed.set(true); throw e }
      }))
      catch { case e: Throwable => failed.set(true); throw e }
      finally {
        pool.shutdown()
        var interrupted: InterruptedException = null
        while (!pool.isTerminated)
          try pool.awaitTermination(1, TimeUnit.MINUTES)
          catch { case e: InterruptedException =>
            failed.set(true); interrupted = e }
        if (interrupted != null) throw interrupted
      }
    val outcomes = units.map(u =>
      try Right(u.get()) catch { case e: ExecutionException => Left(e.getCause) })
    outcomes.collectFirst { case Left(e) => throw e }
    outcomes.map(_.toOption.flatten.get) // no failure, so none skipped
  }
}
