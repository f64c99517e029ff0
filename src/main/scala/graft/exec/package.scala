package graft

import java.util.concurrent.{CompletableFuture, Executors, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

/** The one way this engine runs independent Spark actions at once: store
  * staging, `Synth.snap`'s checkpoints, the expire cascade's checkpoints
  * and `Selection`'s diverged cells all call [[all]]. Its three rules:
  *
  *  1. One gate per SparkContext. At most `defaultParallelism` actions run
  *     at once across all callers. A call with one action, or a call made
  *     inside an action, runs its actions inline on the calling thread and
  *     takes no slot, so nested calls cannot deadlock. (An action must not
  *     wait on another thread that may itself be waiting for a slot.)
  *  2. Caller context travels with each action. Each action runs under the
  *     caller's local properties (job group, `spark.job.description`) and
  *     active session, captured by `SQLExecution.withThreadLocalCaptured`;
  *     the caller's own properties are left unchanged.
  *  3. The first failure cancels the rest. Each call tags its actions' jobs
  *     with a unique job tag. On the first failure it cancels the jobs with
  *     that tag, starts no further action, waits until every started action
  *     has stopped, and rethrows the original exception.
  */
package object exec {

  /** Runs `actions` under the rules above; returns their results in order. */
  def all[T](spark: SparkSession)(actions: Seq[() => T]): Seq[T] =
    if (actions.sizeIs <= 1 || inAction.get) actions.map(_())
    else {
      val (session, sc) = (spark.asInstanceOf[classic.SparkSession], spark.sparkContext)
      val gate = gateOf(sc)
      val tag = s"graft-exec-${java.util.UUID.randomUUID()}"
      val failure = new AtomicReference[Throwable]()
      def cancel(): Unit = sc.cancelJobsWithTag(tag, "a sibling action failed")
      def fail(t: Throwable): Unit = if (failure.compareAndSet(null, t)) cancel()
      val started = Seq.newBuilder[CompletableFuture[T]]
      try for (action <- actions if failure.get == null) {
        gate.acquire()
        started += SQLExecution.withThreadLocalCaptured(session, pool) {
          try {
            if (failure.get != null) null.asInstanceOf[T] // a sibling failed: skip
            else { sc.addJobTag(tag); inAction.set(true); action() }
          } catch { case t: Throwable => fail(t); throw t }
          finally { inAction.set(false); gate.release() }
        }
      } catch { case t: Throwable => fail(t) }
      val futures = started.result()
      val done = CompletableFuture.allOf(futures: _*)
      // wait out every started action, cancelling again meanwhile: a job a
      // sibling starts after the first cancel is caught by the next one
      while (!done.isDone) {
        try done.get(100, TimeUnit.MILLISECONDS)
        catch { case e: InterruptedException => fail(e); case _: Exception => () }
        if (failure.get != null) cancel()
      }
      Option(failure.get).foreach(t => throw t)
      futures.map(_.join())
    }

  private val inAction = ThreadLocal.withInitial[Boolean](() => false)

  private lazy val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-exec"); t.setDaemon(true); t }

  private var gate: (SparkContext, Semaphore) = _
  private def gateOf(sc: SparkContext): Semaphore = synchronized {
    if (gate == null || (gate._1 ne sc)) gate = (sc, new Semaphore(sc.defaultParallelism, true))
    gate._2
  }
}
