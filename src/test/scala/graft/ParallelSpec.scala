package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Parallel

/** The tick path's concurrency helper: one failure rule at every width. */
class ParallelSpec extends AnyFunSuite {
  test("width 1: the first unit's failure is rethrown; a unit after it " +
      "never runs, nor does a later failing one") {
    val ran = new ConcurrentLinkedQueue[Int]()
    val ex = intercept[IllegalStateException] {
      Parallel.map(Seq(1, 2, 3), 1) { i =>
        ran.add(i)
        if (i == 1) throw new IllegalStateException("first")
        if (i == 3) throw new IllegalStateException("later")
        i
      }
    }
    assert(ex.getMessage === "first")
    assert(ran.asScala.toList === List(1))
  }

  test("width 2: a running unit is awaited, unstarted ones are skipped, " +
      "and the earliest failure in input order is rethrown unwrapped") {
    // unit 1 fails only once unit 0 runs: a pool thread may otherwise
    // reach unit 1 first, and unit 0, not yet started, is then skipped
    val zeroRunning = new CountDownLatch(1)
    val oneFailed = new CountDownLatch(1)
    val ran = new ConcurrentLinkedQueue[Int]()
    val ex = intercept[Error] {
      Parallel.map(0 until 4, 2) { i =>
        ran.add(i)
        i match {
          case 0 => zeroRunning.countDown(); oneFailed.await(); throw new Error("zero")
          case 1 =>
            zeroRunning.await(); oneFailed.countDown()
            throw new IllegalStateException("one")
          case _ => i
        }
      }
    }
    assert(ex.getMessage === "zero")
    assert(ran.asScala.toSet === Set(0, 1))
  }

  test("no failure: results in input order") {
    assert(Parallel.map(1 to 9, 4)(_ * 2) === (2 to 18 by 2))
  }
}
