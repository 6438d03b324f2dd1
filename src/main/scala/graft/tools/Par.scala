package graft.tools

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Run independent Spark actions concurrently from a bounded pool
  * (guide §2.6 — overlap independent jobs so one action's scheduling
  * gaps and stage tails back-fill with the next action's tasks instead
  * of idling the cluster). Results return in INPUT order, so callers'
  * downstream composition is deterministic regardless of completion
  * order. On the first failure the remaining work is cancelled and the
  * ORIGINAL cause rethrown — not the pool's ExecutionException wrapper
  * — so the error surface matches the sequential form.
  *
  * Session pinning: Spark stores the thread's active session in every
  * physical plan node it builds, so each pool thread makes the
  * caller's session (`SparkSession.active`: its active session, else
  * the default one) active before it runs a thunk. The pool threads
  * belong to this one call and die with it. They are started by
  * the calling thread and so inherit a snapshot of its local properties
  * (job group, description, scheduler pool).
  *
  * Cancellation goes through the scheduler, not thread interrupts: the
  * thunks' jobs carry one job tag per call and a failure cancels that
  * tag. A tag rather than a job group, because a group would replace
  * the caller's own group, which job attribution keys on. */
object Par {
  def run[T](maxConcurrent: Int)(thunks: Seq[() => T]): Seq[T] = {
    if (thunks.lengthCompare(1) <= 0) return thunks.map(_())
    val session = SparkSession.active
    val sc = session.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.min(maxConcurrent, thunks.length))
    try {
      val futs = thunks.map { t =>
        pool.submit(new Callable[T] {
          override def call(): T = {
            SparkSession.setActiveSession(session)
            sc.addJobTag(tag)
            t()
          }
        })
      }
      try futs.map(_.get())
      catch {
        case e: ExecutionException =>
          sc.cancelJobsWithTag(tag)
          // let the cancelled siblings unwind before returning, so no
          // stray write outlives the call
          futs.foreach(f => Try(f.get()))
          throw Option(e.getCause).getOrElse(e)
      }
    } finally { pool.shutdown() }
  }
}
