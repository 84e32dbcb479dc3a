package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

/** Run INDEPENDENT Spark actions concurrently from a bounded driver
  * pool — the guide's overlap-independent-jobs pattern (§2.6): Spark's
  * scheduler happily runs several jobs at once inside one application,
  * and actions are only sequential because driver code calls them
  * sequentially. The index sinks write 2–5 independent relations per
  * call; issuing those writes concurrently lets each job's tasks
  * back-fill the slots freed by the others' straggler tails instead of
  * paying every job's full scheduling latency end-to-end. Shared
  * tracked caches stay safe under concurrency: the BlockManager's
  * per-block locks make the first computing task store the partition
  * and the racing ones wait for it, so a cached intermediate is still
  * computed once.
  */
object Par {
  /** Execute the thunks concurrently; block until all complete.
    * On the first failure (in completion order, so a long sibling
    * earlier in the list is not waited out first) the call's remaining
    * Spark jobs are cancelled and that original failure is rethrown
    * once every thunk has stopped. The jobs carry a per-call job tag,
    * not a job group: the caller's job group (which tracers charge
    * jobs to) is inherited by the pool threads and stays intact.
    * Cancelling is safe: sink writes are idempotent per path and
    * callers treat any failure as the write having failed. */
  def jobs(thunks: (() => Unit)*): Unit = {
    if (thunks.lengthCompare(1) <= 0) { thunks.foreach(_.apply()); return }
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(thunks.size)
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      thunks.foreach(t => done.submit(() => {
        sc.addJobTag(tag); try t() finally sc.removeJobTag(tag)
      }))
      var failure: Option[Throwable] = None
      var pending = thunks.size
      while (pending > 0) {
        Option(done.poll(100, TimeUnit.MILLISECONDS)).foreach { f =>
          pending -= 1
          // get() rethrows the thunk's exception wrapped in ExecutionException
          try f.get() catch { case e: ExecutionException =>
            if (failure.isEmpty) failure = Some(Option(e.getCause).getOrElse(e)) }
        }
        // repeated while failing: a sibling may start a job after a cancel
        if (failure.nonEmpty) sc.cancelJobsWithTag(tag)
      }
      failure.foreach(throw _)
    } finally pool.shutdown()
  }
}
