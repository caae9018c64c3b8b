package graft.ops

import org.apache.spark.sql.SparkSession

/** Scoped driver-side action overlap (guide §2.6: Spark's scheduler
  * happily runs several jobs at once inside one application — actions
  * are only sequential because driver code calls them sequentially).
  * Used where a crawl loop's per-batch actions are INDEPENDENT — the
  * standing-state probe vs. the fold-in, or the per-layer snapshot
  * pins — so one action's straggler tail back-fills with the other's
  * work instead of leaving the cluster idle.
  *
  * The pool threads are created at first submit, so they inherit the
  * submitter's Spark local properties (job group / description / job
  * tags are InheritableThreadLocals) — a cancellable caller stays
  * cancellable.
  */
private[graft] object Parallel {

  /** Run the thunks concurrently, return their results in order.
    * Degenerate sizes run inline (no pool).
    *
    * Fail-fast: every thunk's Spark jobs carry one job tag unique to
    * this call, and the first thunk to throw cancels the jobs still
    * running under that tag before its exception is rethrown, so a
    * failed side never leaves the other side's job holding the
    * cluster. A tag (not a job group) leaves a caller's inherited
    * group in force; a thunk that runs no Spark job is unaffected, and
    * a job a survivor starts only after the cancel runs to completion.
    */
  def run[A](fs: Seq[() => A]): Seq[A] =
    if (fs.lengthCompare(1) <= 0) fs.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future, Promise}
      import scala.concurrent.duration.Duration
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
      val onPool = ExecutionContext.fromExecutorService(pool)
      // callbacks run on the completing thread: a survivor may finish
      // after the pool is shut down
      implicit val ec: ExecutionContext = ExecutionContext.parasitic
      val result = Promise[Seq[A]]()
      val sides = fs.map(f => Future {
        sc.foreach(_.addJobTag(tag))
        f()
      }(onPool))
      sides.foreach(_.failed.foreach { e =>
        if (result.tryFailure(e)) sc.foreach(_.cancelJobsWithTag(tag))
      })
      Future.sequence(sides).foreach(result.trySuccess)
      try Await.result(result.future, Duration.Inf)
      finally pool.shutdown()
    }

  /** Two-sided overlap with typed results. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = run[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
