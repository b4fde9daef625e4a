package graft.operators

/** Run independent driver-side actions as CONCURRENT Spark jobs (guide
  * §2.6: Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because the driver calls them
  * sequentially — 2-3 jobs in flight fills one job's scheduling tail with
  * the next job's tasks without fighting for cores).
  *
  * Use ONLY across tasks with NO ordering constraint between them:
  * disjoint output directories, or reads of frames that are already
  * pinned/materialized. Anything that is a commit protocol stays
  * sequential at its call site. Checkpoints' scope tracking is
  * thread-local and write leases are per-directory, so family-level tasks
  * compose safely.
  *
  * Failure path: the first failure cancels the tasks still queued and the
  * Spark jobs of the ones running (through a per-call job TAG — the
  * caller's job group stays what every task thread inherited, so job
  * attribution by group is unchanged), then waits for every task to
  * finish before rethrowing with the original exception type. When this
  * returns or throws, no task is running, so the caller's `finally` may
  * free checkpoints the tasks were reading. A single task runs inline on
  * the caller's thread. */
private[graft] object Jobs {

  def concurrently(tasks: (() => Unit)*): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else runConcurrently(tasks)

  private def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
      Executors, TimeUnit}
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-concurrently-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(3)
    // completion order, not submission order: a failure is seen as soon as
    // it happens, not after every task submitted before it has finished
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      val futs = tasks.map(t => done.submit(new Callable[Unit] {
        override def call(): Unit = {
          sc.addJobTag(tag)
          try t() finally sc.removeJobTag(tag)
        }
      }))
      try futs.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      } catch { case e: Throwable =>
        futs.foreach(_.cancel(false))
        pool.shutdown()
        // a running task may start its next job between two cancels, so
        // cancel until every task has unwound
        do sc.cancelJobsWithTag(tag, "Jobs.concurrently: a sibling task failed")
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
        throw e
      }
    } finally pool.shutdown()
  }
}
