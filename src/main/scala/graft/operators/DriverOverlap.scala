package graft.operators

import java.util.concurrent.{ConcurrentLinkedDeque, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Overlap independent state-write branches on driver threads (guide
  * §2.6 — submit independent jobs concurrently so each job's stage
  * tail back-fills the others): a state-writing pass is a sequence of
  * SMALL actions whose per-job scheduling/AQE floors, not CPU,
  * dominate at batch scale.
  *
  * The one primitive is a [[scope]]: `DriverOverlap.scope { s => ... }`.
  * Inside it, `s.fork(body)` starts `body` on a fresh
  * `graft-state-branch` thread and returns its join handle, and
  * `s.release(hook)` registers a cache release. When the block exits
  * — normally or by a throw — the scope joins every fork, then runs
  * every release (last registered first), each even if an earlier one
  * failed, and rethrows one failure: the block's own over a fork's,
  * the earliest fork failure over later ones (its cancellations), a
  * fork's over a release's. So no fork outlives its scope and no
  * registered cache outlives it either, whatever fails.
  *
  * Cancellation: every fork's Spark jobs carry the scope's job tag
  * (`graft-scope-<n>`; never `pb…`, the benchmark harness's span tags),
  * with interrupt-on-cancel. Once anything in the scope has failed, the
  * scope cancels that tag — repeatedly, until every fork has joined —
  * so a failed run stops its branches instead of waiting them out.
  * Forks inherit the calling thread's job tags and local properties
  * (SparkContext's InheritableThreadLocal), so a scope opened inside a
  * fork is cancelled with its parent.
  *
  * Caller rule: fork bodies must not race to FIRST-materialize the
  * same persisted-but-cold (or unpersisted) parent — concurrent
  * first-materialization duplicates its compute. Materialize shared
  * parents before forking (a count, a localCheckpoint, or the write
  * that must run first anyway). Same-session A/Bs in
  * OPTIMIZATION_r14.md.
  */
object DriverOverlap {
  private val ids = new AtomicLong(0)

  final class Scope private[DriverOverlap] (sc: Option[SparkContext]) {
    private val tag = s"graft-scope-${ids.incrementAndGet()}"
    private val forks = new ConcurrentLinkedDeque[Thread]()
    // Fork failures in the order they happened: the first is the root
    // cause, later ones may be its cancellations.
    private val failures = new ConcurrentLinkedDeque[Throwable]()
    private val releases = new ConcurrentLinkedDeque[() => Unit]()
    private def cancel(): Unit = sc.foreach(_.cancelJobsWithTag(tag))

    /** Start `body` on a fresh driver thread whose Spark jobs carry
      * this scope's tag. Returns its join handle (idempotent): it waits
      * for the thread to exit, then yields the value or rethrows. */
    def fork[A](body: => A): () => A = {
      val task = new FutureTask[A](() =>
        try { sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }; body }
        catch { case e: Throwable => failures.add(e); cancel(); throw e })
      val th = new Thread(task, "graft-state-branch")
      forks.add(th)
      th.setDaemon(true); th.start()
      () => {
        th.join()
        try task.get() catch { case e: ExecutionException => throw e.getCause }
      }
    }

    /** Run `hook` when the scope exits, after every fork has joined. */
    def release(hook: => Unit): Unit = releases.push(() => hook)

    private[DriverOverlap] def close(main: Option[Throwable]): Unit = {
      // Once anything failed, cancel — again on every wait: a fork may
      // have been between jobs when the last cancel went out.
      forks.forEach { th =>
        while (th.isAlive) { if (main.isDefined || !failures.isEmpty) cancel(); th.join(50) }
      }
      val forkErrs = failures.asScala.toSeq
      // A main failure rethrown from a join handle is a fork's: it
      // yields to the fork failure that came first.
      (main.filterNot(m => forkErrs.exists(_ eq m)).toSeq ++ forkErrs ++
        releases.asScala.flatMap(h => Try(h()).failed.toOption))
        .headOption.foreach(e => throw e)
    }
  }

  /** Run `body` with a fresh [[Scope]]; see the object doc for the
    * exit and failure rules. */
  def scope[A](body: Scope => A): A = {
    val s = new Scope(SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext))
    val res = Try(body(s))
    s.close(res.failed.toOption)
    res.get
  }
}
