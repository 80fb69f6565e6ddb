package graft.ops

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** Overlap independent job-launching computations from driver threads.
  *
  * Spark's scheduler happily runs several jobs at once inside one
  * application; actions are sequential only because one driver thread
  * calls them sequentially (optimization guide §2.6). A query that runs
  * an EAGER computation during construction — connected components
  * (checkpoint jobs, and per-round jobs on the distributed path), a
  * composed gate — while independent inputs of its final join wait their
  * turn inside the final action, primes those inputs (persist + count)
  * on sibling driver threads instead: with default FIFO scheduling their
  * tasks back-fill the executors the fixpoint's small jobs and
  * straggler tails leave idle — on a cluster exactly as on local[N].
  *
  * Determinism: each branch's result is a pure function of its inputs
  * (the CC fixpoint converges to the same labeling under any scheduling),
  * so query output is unchanged — the oracle gate re-proves it.
  *
  * Thread-safety notes for callers: [[CacheRegistry]] is a concurrent
  * queue (safe to register from branches); `SparkSession` supports
  * concurrent job submission; job-description/group properties are
  * thread-local and inherited at thread creation.
  */
object Par {

  /** Run the thunks concurrently, one driver thread each (callers pass
    * 2-3 branches — the guide's "2-3 jobs in flight is plenty"), and
    * return their results in order. The active session is propagated to
    * each worker thread so any session-dependent resolution inside a
    * branch sees the caller's session.
    *
    * Failure path: every branch runs under one per-invocation job group
    * (set directly on the thread-local properties so an inherited job
    * DESCRIPTION survives), and the FIRST branch failure cancels the
    * group's running jobs and interrupts the sibling threads before the
    * branch's own exception is rethrown — a failed gate must not leave
    * background fixpoints running jobs to completion. The success path
    * is unchanged: results in input order, no cancellation.
    */
  def run[A](session: SparkSession)(thunks: (() => A)*): Seq[A] = {
    if (thunks.lengthCompare(1) <= 0) return thunks.map(t => t()).toSeq
    val sc = session.sparkContext
    val gid = "graft-par-" + java.util.UUID.randomUUID()
    val pool = Executors.newFixedThreadPool(thunks.size)
    val ecs = new ExecutorCompletionService[(Int, A)](pool)
    try {
      thunks.zipWithIndex.foreach { case (t, i) =>
        ecs.submit(new Callable[(Int, A)] {
          def call(): (Int, A) = {
            SparkSession.setActiveSession(session)
            sc.setLocalProperty("spark.jobGroup.id", gid)
            sc.setLocalProperty("spark.job.interruptOnCancel", "true")
            (i, t())
          }
        })
      }
      val out = new Array[Any](thunks.size)
      var done = 0
      // completion order, not submission order: the first FAILURE must be
      // seen as soon as it happens (waiting on branch 0's Future while
      // branch 2 already failed would leave siblings running their jobs
      // out for the whole wait)
      while (done < thunks.size) {
        val f = ecs.take()
        try { val (i, a) = f.get(); out(i) = a; done += 1 }
        catch {
          case e: ExecutionException =>
            sc.cancelJobGroup(gid) // kill siblings' RUNNING jobs
            pool.shutdownNow() // interrupt siblings BETWEEN jobs
            throw e.getCause
        }
      }
      out.toSeq.asInstanceOf[Seq[A]]
    } finally pool.shutdown()
  }
}
