package graft

import java.util.concurrent.{Callable, ExecutionException, Future}

/** Driver-side overlap of INDEPENDENT Spark actions (guide §2.6:
  * actions are only sequential because driver code calls them
  * sequentially — submitting independent jobs from a small pool lets
  * the next job's tasks back-fill executors freed by the current
  * job's straggler tail). Used where a query path runs two or three
  * actions with no data dependency between them (per-batch sink
  * writes, index-table publishes, the two CC label runs of the
  * agreement audit). Scope rules:
  *
  *  - the thunks MUST NOT touch [[CacheRegistry]]: a pool thread
  *    entering computeIfAbsent while the caller holds a bin lock of
  *    the same map (publish-once builds run INSIDE cached(...)) can
  *    deadlock through the caller's get() — every call site resolves
  *    memoized frames on the calling thread first;
  *  - exceptions propagate: every thunk is awaited, even when an
  *    earlier one threw, before the first failure in argument order
  *    is rethrown (a pool thunk's wrapped by get()), so a failed
  *    write still fails the batch/build exactly as the sequential
  *    code did and nothing after the call runs while a sibling is
  *    still writing (the crash-injection contracts depend on that);
  *  - threads are daemons and pooled; job groups/descriptions are
  *    thread-local in Spark, so overlapped jobs simply carry the
  *    default description.
  */
object Overlap {
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    })

  private def submit[T](t: => T): Future[T] = pool.submit(new Callable[T] {
    def call(): T = t
  })

  /** Wait for `f` to finish; its failure is rethrown by the caller's own
    * `get()` once every earlier thunk has succeeded.
    */
  private def await(f: Future[_]): Unit =
    try f.get() catch { case _: ExecutionException => () }

  /** Run `a` on the calling thread and `b` on the pool, return both. */
  def par[A, B](a: => A, b: => B): (A, B) = {
    val fb = submit(b)
    val ra = try a finally await(fb)
    (ra, fb.get())
  }

  /** Run `a` on the calling thread, `b` and `c` on the pool. */
  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fb = submit(b)
    val fc = submit(c)
    val ra = try a finally { await(fb); await(fc) }
    (ra, fb.get(), fc.get())
  }
}
