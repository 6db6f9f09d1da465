package graft.operators

/** Overlap independent state-write branches on driver threads (guide
  * §2.6 — submit independent jobs concurrently so each job's stage
  * tail back-fills the others): a state-writing pass is a sequence of
  * SMALL actions whose per-job scheduling/AQE floors, not CPU,
  * dominate at batch scale. Branches run on FRESH threads
  * (SparkContext's InheritableThreadLocal properties — job tags,
  * description — carry over from the calling thread); ALL branches
  * complete before the first failure rethrows, so no branch's
  * in-flight writes race the caller's cleanup.
  *
  * Caller rules (the r14 discipline): branch DAGs must be independent
  * — in particular, two branches must not race to first-materialize
  * the same unpersisted or persisted-but-cold parent, or they
  * duplicate its compute; materialize shared parents before
  * overlapping. Used by the curation cadence's state groups and the
  * retrieval-state writers; same-session A/Bs in OPTIMIZATION_r14.md.
  */
object DriverOverlap {
  /** Launch ONE branch on a fresh driver thread and return its JOIN
    * hook, which yields the branch's value — the deferred form of
    * [[overlapped]] for a write (or an eagerly-materialized frame)
    * whose only ordering constraint is "complete before X" where X is
    * later than the next statement (e.g. a state-slice write that must
    * land before the shared cache releases, but is independent of the
    * stages in between). Same caller rules: the branch must not race a
    * cold shared parent — materialize it first. The join hook rethrows
    * the branch's failure; call it on every path that needs the write
    * durable (a caller failure path that skips the join only abandons
    * an in-flight write into a dir the failed run already makes
    * unreadable). */
  def launchValue[A](branch: () => A): () => A = {
    val t = new java.util.concurrent.FutureTask[A](
      new java.util.concurrent.Callable[A] { def call(): A = branch() })
    val th = new Thread(t, "graft-state-branch")
    th.setDaemon(true); th.start()
    () => try t.get() catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  /** Run EVERY hook, then rethrow the first failure — so a failing
    * join or release hook cannot skip the ones after it. */
  def runAll(hooks: Seq[() => Unit]): Unit =
    hooks.flatMap(h => scala.util.Try(h()).failed.toOption)
      .headOption.foreach(e => throw e)

  /** Run `main` on this thread with `branches` overlapped on fresh
    * driver threads; every branch joins before anything rethrows, and
    * `main`'s own failure wins over a branch's. */
  def overlapped[A](branches: Seq[() => Unit])(main: => A): A = {
    val joins = branches.map(b => launchValue(b))
    val res = scala.util.Try(main)
    runAll((() => { res.get; () }) +: joins)
    res.get
  }
}
