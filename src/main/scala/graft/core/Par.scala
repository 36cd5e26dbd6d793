package graft.core

/** Overlap INDEPENDENT driver-side actions (guide §2.6: Spark happily
  * runs several jobs at once inside one application; actions are only
  * sequential because driver code calls them sequentially).
  *
  * The per-micro-batch index applies and the compactions launch 3-6
  * small, mutually independent write jobs over distinct relation dirs;
  * run serially each pays the full plan+schedule+commit floor back to
  * back, while the cluster sits near-idle (the per-job data is
  * increment-sized). Submitting them from a small thread pool overlaps
  * those floors AND lets one job's task tail back-fill with the next
  * job's tasks — the wall cost per batch approaches max(job) instead
  * of sum(job). Plain FIFO scheduling is exactly the back-fill
  * behaviour wanted; threads are created per call so Spark's
  * inheritable thread-locals (job group, scheduler pool, local
  * properties) carry over.
  *
  * All thunks are awaited before the first failure is rethrown — a
  * failed sibling never leaves another thunk racing the caller's
  * cleanup — and the pool's threads have exited when a call returns.
  */
object Par {

  /** Name prefix of the worker threads, so a leak is observable. */
  val ThreadPrefix = "graft-par-"

  def run(thunks: (() => Unit)*): Unit = { all(thunks, thunks.size); () }

  /** Run `thunks` on a per-call pool of at most `threads` threads and
    * return their results in input order.
    */
  def all[B](thunks: Seq[() => B], threads: Int): Seq[B] = {
    if (thunks.size <= 1 || threads <= 1) return thunks.map(_())
    val workers = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(threads, thunks.size),
      { (r: Runnable) =>
        val t = new Thread(r, s"$ThreadPrefix${workers.size + 1}")
        workers.add(t)
        t
      }
    )
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[B] { def call(): B = t() })
      }
      futs.map(f => scala.util.Try(f.get())).map {
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
          throw Option(e.getCause).getOrElse(e)
        case r => r.get
      }
    } finally {
      // every task has finished unless the caller was interrupted:
      // then interrupt the stragglers too. Joining the workers (not
      // just awaiting pool termination, which precedes their exit)
      // means none is alive when the call returns.
      pool.shutdownNow()
      workers.forEach(_.join(60000))
    }
  }

  /** Stage barrier per ordinal, concurrency within a stage: `items`
    * run in ascending `ord` (stable, so plan order is kept inside an
    * ordinal); within one ordinal the items with `concurrent(item)`
    * run together on a per-call pool of `min(4, n)` threads, then the
    * rest run one after another on the calling thread. Outcomes come
    * back in that plan order, keyed by position — two equal items
    * each run and report their own outcome.
    *
    * This is the reference's per-table independence (each table is
    * imported and checked on its own) applied to the Spark-bound
    * actions of one section: loads of different tables write
    * different targets and validations only read.
    */
  def staged[A, B](items: Seq[A])(ord: A => Int, concurrent: A => Boolean)(runOne: A => B): Seq[B] =
    items.zipWithIndex
      .groupBy { case (a, _) => ord(a) }
      .toSeq
      .sortBy(_._1)
      .flatMap { case (_, group) =>
        val (par, serial) = group.partition { case (a, _) => concurrent(a) }
        val done = par.map(_._2).zip(all(par.map { case (a, _) => () => runOne(a) }, 4)) ++
          serial.map { case (a, i) => i -> runOne(a) }
        val byPos = done.toMap
        group.map { case (_, i) => byPos(i) }
      }
}
