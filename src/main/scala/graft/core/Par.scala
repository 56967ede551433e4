package graft.core

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

/** The engine's one way to run two independent Spark legs at once. */
object Par {

  /** Run `leg` on a new thread while the calling thread runs `main`,
    * so the leg's jobs back-fill the scheduling gaps and task tails of
    * main's jobs instead of queuing behind them. Returns
    * (main's result, leg's result).
    *
    * The leg must be EAGER: it has to end in an action (a write, a
    * collect, a `localCheckpoint`, its own gate). A leg that returns
    * a lazy DataFrame overlaps nothing, because its jobs run later on
    * whichever thread consumes it.
    *
    * One new thread per call, never a shared long-lived pool: a Java
    * thread copies its parent's Spark local properties when it is
    * created, so a fresh thread hands the leg the caller's job group,
    * description and scheduler pool — the streaming batch's
    * properties reach its writes, and listeners that attribute work
    * by job group see the leg's jobs under the caller's group. A
    * pooled thread would carry whatever properties its creator had.
    *
    * Both sides' jobs carry one job tag made for this call
    * (`addJobTag`), never a job group: a group would replace the
    * caller's group on the leg's jobs, while tags sit beside it. When
    * either side throws, the jobs with that tag are cancelled
    * (`cancelJobsWithTag`), so the other side's running jobs stop
    * instead of finishing work nobody will read. The call still
    * waits for the leg's thread to end, so nothing the call started
    * outlives it. The first failure is rethrown as thrown (never an
    * `ExecutionException`), with the other side's failure, if any,
    * attached as suppressed. Cancellation stops jobs that are
    * running; a side that catches the failure and starts new jobs
    * runs them to completion. */
  def overlap[A, B](leg: => B)(main: => A): (A, B) = {
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-overlap-${UUID.randomUUID()}"
    // in failure order: the first is rethrown, the rest suppressed
    val failures = new ConcurrentLinkedQueue[Throwable]()
    def fail(t: Throwable): Unit = {
      failures.add(t)
      sc.cancelJobsWithTag(tag, s"a sibling leg failed: $t")
    }
    sc.addJobTag(tag)
    try {
      var legOut: Option[B] = None
      val thread = new Thread(() =>
        try legOut = Some(leg) catch { case t: Throwable => fail(t) },
        "graft-overlap-leg")
      thread.start()
      val mainOut = try Some(main) catch { case t: Throwable => fail(t); None }
      // an interrupt (a stopping stream) fails the call, but the leg
      // is still joined once its jobs are cancelled
      var interrupted = false
      while (thread.isAlive)
        try thread.join()
        catch { case e: InterruptedException => interrupted = true; fail(e) }
      if (interrupted) Thread.currentThread().interrupt()
      failures.peek() match {
        case null => (mainOut.get, legOut.get)
        case first =>
          failures.forEach(t => if (t ne first) first.addSuppressed(t))
          throw first
      }
    } finally sc.removeJobTag(tag)
  }
}
