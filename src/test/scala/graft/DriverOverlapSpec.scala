package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DriverOverlap

/** Failure discipline of the driver-thread overlap helpers: every hook
  * or branch runs to completion before the first failure rethrows. */
class DriverOverlapSpec extends AnyFunSuite {

  test("runAll runs every hook after a throwing first hook, then rethrows it") {
    var secondRan = false
    val e = intercept[IllegalStateException] {
      DriverOverlap.runAll(Seq(
        () => throw new IllegalStateException("first"),
        () => secondRan = true))
    }
    assert(e.getMessage == "first")
    assert(secondRan, "the second hook must run despite the first's failure")
  }

  test("overlapped joins every branch and rethrows main's failure over a branch's") {
    val joined = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      DriverOverlap.overlapped(Seq(
        () => throw new IllegalStateException("branch"),
        () => { Thread.sleep(200); joined.set(true) })) {
        throw new IllegalArgumentException("main")
      }
    }
    assert(e.getMessage == "main")
    assert(joined.get(), "every branch completes before the rethrow")
    val b = intercept[IllegalStateException] {
      DriverOverlap.overlapped(Seq(
        () => throw new IllegalStateException("branch")))(42)
    }
    assert(b.getMessage == "branch")
  }
}
