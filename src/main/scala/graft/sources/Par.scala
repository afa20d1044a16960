package graft.sources

/** Run INDEPENDENT Spark actions concurrently from one driver (guide
  * §2.6 "overlap independent jobs"): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. The
  * lifecycle operators (TokenIndex / VectorIndex appends and compacts)
  * issue several small writes per step that have NO data dependency on
  * each other; issuing them from a short-lived pool lets each job's
  * tasks back-fill executors idled by the others' scheduling latency —
  * on small state tables the per-job round-trip, not compute, is the
  * wall. Works identically on a cluster: FIFO scheduling gives the
  * first job the resources and later jobs back-fill, exactly the
  * behaviour the guide describes.
  *
  * Every task runs to completion even when a sibling fails (a
  * half-issued parquet append must not be abandoned mid-write by pool
  * teardown); the FIRST failure is rethrown with the rest suppressed.
  */
object Par {
  def run(bodies: (() => Unit)*): Unit = {
    if (bodies.sizeIs <= 1) { bodies.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
    try {
      val futures = bodies.map { b =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = b()
        })
      }
      var primary: Throwable = null
      futures.foreach { f =>
        try { f.get(); () }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            val cause = if (e.getCause != null) e.getCause else e
            if (primary == null) primary = cause
            else primary.addSuppressed(cause)
        }
      }
      if (primary != null) throw primary
    } finally { pool.shutdown(); () }
  }
}
