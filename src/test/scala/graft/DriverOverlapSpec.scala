package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.operators.DriverOverlap

/** Failure discipline of the driver-thread scope: every fork joins and
  * every release runs before the first failure rethrows, and a failure
  * cancels the scope's Spark jobs, nested scopes included. Every case
  * runs under `failAfter`, so a hung join fails the case instead of
  * stalling the suite. */
class DriverOverlapSpec extends AnyFunSuite with TimeLimits {
  private implicit val signaler: Signaler = ThreadSignaler

  private def liveBranches =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-state-branch" && t.isAlive)

  test("scope runs every release after a throwing one, then rethrows it") {
    failAfter(Span(30, Seconds)) {
      val forkDone = new AtomicBoolean(false)
      var joinedBeforeRelease = false
      var laterRan = false
      val e = intercept[IllegalStateException] {
        DriverOverlap.scope { s =>
          s.fork { Thread.sleep(200); forkDone.set(true) }
          s.release { laterRan = true }
          s.release {
            joinedBeforeRelease = forkDone.get()
            throw new IllegalStateException("first")
          }
        }
      }
      assert(e.getMessage == "first")
      assert(joinedBeforeRelease, "forks join before any release runs")
      assert(laterRan, "the other release must run despite the first's failure")
    }
  }

  test("scope joins every fork and rethrows main's failure over a fork's") {
    failAfter(Span(30, Seconds)) {
      val joined = new AtomicBoolean(false)
      val e = intercept[IllegalArgumentException] {
        DriverOverlap.scope { s =>
          s.fork(throw new IllegalStateException("fork"))
          s.fork { Thread.sleep(200); joined.set(true) }
          throw new IllegalArgumentException("main")
        }
      }
      assert(e.getMessage == "main")
      assert(joined.get(), "every fork completes before the rethrow")
      val b = intercept[IllegalStateException] {
        DriverOverlap.scope { s =>
          s.fork(throw new IllegalStateException("fork"))
          42
        }
      }
      assert(b.getMessage == "fork")
      assert(DriverOverlap.scope { s => val f = s.fork(20); f() + 1 } == 21)
    }
  }

  /** A Spark job whose single task sleeps 30 s. */
  private def sleepingJob(): Long =
    TestSpark.spark.sparkContext.parallelize(Seq(1), 1)
      .map { x => Thread.sleep(30000L); x }.count()

  /** Wait (bounded) until `n` Spark jobs are running. */
  private def awaitActiveJobs(n: Int): Unit = {
    val tracker = TestSpark.spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 20000000000L
    while (tracker.getActiveJobIds().length < n && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(tracker.getActiveJobIds().length >= n, s"expected $n running jobs")
  }

  test("a fork's sleeping Spark job is cancelled when main throws") {
    TestSpark.spark
    failAfter(Span(60, Seconds)) {
      var t0 = 0L
      val e = intercept[IllegalArgumentException] {
        DriverOverlap.scope { s =>
          s.fork(sleepingJob())
          awaitActiveJobs(1)
          t0 = System.nanoTime()
          throw new IllegalArgumentException("main")
        }
      }
      val waitedS = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "main")
      assert(waitedS < 10, s"the scope waited $waitedS s for a cancelled fork")
      assert(liveBranches.isEmpty)
    }
  }

  test("a scope nested in a fork is cancelled with its parent") {
    TestSpark.spark
    failAfter(Span(60, Seconds)) {
      val innerFailed = new AtomicBoolean(false)
      var t0 = 0L
      val e = intercept[IllegalArgumentException] {
        DriverOverlap.scope { s =>
          s.fork {
            try DriverOverlap.scope { inner =>
              inner.fork(sleepingJob())
              sleepingJob()
            } catch { case x: Throwable => innerFailed.set(true); throw x }
          }
          awaitActiveJobs(2)
          t0 = System.nanoTime()
          throw new IllegalArgumentException("main")
        }
      }
      val waitedS = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "main")
      assert(innerFailed.get(), "the nested scope must fail by cancellation")
      assert(waitedS < 10, s"the scope waited $waitedS s for a nested fork")
      assert(liveBranches.isEmpty)
    }
  }
}
