package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Par

class ParSpec extends AnyFunSuite {

  test("bodies overlap: each one can wait for all the others") {
    val n = 3
    val arrived = new CountDownLatch(n)
    val overlapped = new AtomicInteger
    Par.run(Seq.fill(n)(() => {
      arrived.countDown()
      if (arrived.await(30, TimeUnit.SECONDS)) overlapped.incrementAndGet()
      ()
    }): _*)
    assert(overlapped.get == n, "a sequential run would leave every body but the last waiting")
  }

  test("a failing body: every sibling still completes, the first failure is rethrown with the rest suppressed") {
    val completed = new AtomicInteger
    val slowSiblingStarted = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Par.run(
        () => { slowSiblingStarted.await(30, TimeUnit.SECONDS); throw new IllegalStateException("first") },
        () => {
          slowSiblingStarted.countDown()
          Thread.sleep(300) // still writing when the first body has already failed
          completed.incrementAndGet()
          ()
        },
        () => throw new IllegalArgumentException("second"),
        () => { completed.incrementAndGet(); () })
    }
    assert(completed.get == 2, "siblings of a failed body must run to completion before run returns")
    assert(e.getMessage == "first", "the first body's failure (submission order) is the one rethrown")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(e.getSuppressed.head.isInstanceOf[IllegalArgumentException])
  }
}
