package graft.operators

/** Driver-side concurrency for INDEPENDENT Spark actions (guide §2.6
  * "overlap independent jobs"): Spark's scheduler happily runs several
  * jobs at once inside one application — actions are only sequential
  * because driver code calls them sequentially. A maintenance verb that
  * writes three independent artifacts (postings + df spine + stats, or
  * centroids + lists) pays sum-of-jobs when the writes are issued one
  * after another and max-of-jobs when they overlap; each job's task
  * tail and driver-side planning gap back-fills with another job's
  * tasks.
  *
  * Semantics: results return in INPUT order; a failure rethrows the
  * ORIGINAL throwable (not ExecutionException — an audit require() must
  * reach callers as the same exception type the sequential code
  * raised), after cancelling and awaiting the surviving thunks so no
  * job is still writing after the driver has thrown. Values are
  * unchanged by construction — overlap is legal only when the thunks
  * share no uncommitted state (disjoint output paths, read-only inputs,
  * or inputs pinned by `Checkpoints.pin`); every call site documents why
  * that holds.
  */
object Par {

  def run[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futures = thunks.map(t => pool.submit(
        new java.util.concurrent.Callable[T] { def call(): T = t() }))
      try futures.map(_.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          futures.foreach(_.cancel(true))
          pool.shutdown()
          pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          throw Option(e.getCause).getOrElse(e)
      }
    } finally { pool.shutdown(); () }
  }

  /** Two-armed [[run]] with independent result types. */
  def pair[A, B](a: () => A, b: () => B): (A, B) = {
    val r = run[Any](Seq(() => a(), () => b()))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
