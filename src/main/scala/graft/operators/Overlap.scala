package graft.operators

/** Driver-side overlap of INDEPENDENT Spark action chains (guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside
  * one application — sequential `collect()`-style loops are sequential
  * only because the driver calls them sequentially. Used where a query
  * runs several self-contained trainings (e.g. the per-subspace PQ
  * codebook Lloyd loops — each a chain of tiny aggregate+collect jobs
  * that underfills the cluster), so the chains back-fill each other's
  * scheduling gaps. Each task's own computation is untouched and its
  * result deterministic — overlap changes WHEN jobs run, never what
  * any of them computes.
  */
private[graft] object Overlap {

  /** Start `f` on a daemon thread NOW; the returned thunk joins and
    * yields the result (unwrapping the executor's exception wrapper).
    * For pipelining a read-only action chain (e.g. a post-commit
    * invariant pin) under the next independent computation — the
    * caller decides where the join point sits, which is what preserves
    * the original failure ordering.
    */
  def async[T](f: => T): () => T = {
    val task = new java.util.concurrent.FutureTask[T](() => f)
    val t = new Thread(task, "graft-overlap-async")
    t.setDaemon(true)
    t.start()
    () =>
      try task.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
  }

  /** Run the closures as concurrent driver threads and return their
    * results in input order; any failure propagates after all threads
    * settle (daemon pool — a hung sibling cannot pin JVM exit).
    */
  def inParallel[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.lengthCompare(1) <= 0) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        tasks.size,
        (r: Runnable) => {
          val t = new Thread(r, "graft-overlap")
          t.setDaemon(true)
          t
        })
      try onPool(pool, tasks) finally pool.shutdown()
    }

  /** [[inParallel]] on a caller's pool (a bounded pool queues what it
    * cannot start): every task completes before the first failure in
    * input order is rethrown.
    */
  def onPool[T](pool: java.util.concurrent.ExecutorService, tasks: Seq[() => T]): Seq[T] = {
    import scala.jdk.CollectionConverters._
    // invokeAll returns only once every task has completed
    pool.invokeAll(tasks.map(t => (() => t()): java.util.concurrent.Callable[T]).asJava)
      .asScala.toSeq.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
  }
}
