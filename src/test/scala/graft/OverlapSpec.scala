package graft

import java.util.concurrent.{CountDownLatch, TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import scala.concurrent.duration.FiniteDuration
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamQueries

/** The failure path of the per-batch write overlap: a failed write must
  * not leave a sibling write running past its micro-batch (the replay
  * would then race the stale writer on the same batch dir), and the
  * wait is bounded by ONE deadline shared by every write. */
class OverlapSpec extends AnyFunSuite {

  test("a failed write stops its blocked sibling before overlap returns") {
    val sibling = new AtomicReference[Thread]()
    val siblingDone = new AtomicBoolean(false)
    val siblingStarted = new CountDownLatch(1)
    val err = intercept[IllegalStateException] {
      StreamQueries.overlap(
        () => {
          siblingStarted.await()
          throw new IllegalStateException("write failed")
        },
        () => {
          sibling.set(Thread.currentThread())
          try {
            siblingStarted.countDown()
            new CountDownLatch(1).await() // a write that never finishes
          } finally siblingDone.set(true)
        })
    }
    assert(err.getMessage == "write failed")
    assert(siblingDone.get(), "the sibling write was still running")
    val t = sibling.get()
    t.join(5000)
    assert(!t.isAlive, s"overlap worker ${t.getName} is still alive")
  }

  test("every write shares one deadline") {
    val stopped = new AtomicInteger(0)
    val blocked = (1 to 3).map { _ => () =>
      try new CountDownLatch(1).await()
      finally { stopped.incrementAndGet(); () }
    }
    val t0 = System.nanoTime
    intercept[TimeoutException] {
      StreamQueries.overlapWithin(FiniteDuration(1, "s"))(blocked: _*)
    }
    val secs = (System.nanoTime - t0) / 1e9
    // A per-write deadline would wait >= 3 s for three blocked writes.
    assert(secs < 2.5, f"overlap waited $secs%.2f s on a 1 s deadline")
    assert(stopped.get() == 3, s"only ${stopped.get()} of 3 writes stopped")
  }
}
