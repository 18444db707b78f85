package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[Overlap.run]]'s contract: the call returns only once every task has
  * finished, and a failure surfaces as the task's own exception. */
class OverlapSpec extends AnyFunSuite with Matchers {

  test("a failed task leaves the call only after every other task has finished") {
    val boom = new IllegalStateException("fast chain fails")
    val failing = new CountDownLatch(1)
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Overlap.run(Seq(
      () => try throw boom finally failing.countDown(),
      () => {
        // still running well after the fast chain has failed
        if (!failing.await(30, TimeUnit.SECONDS)) fail("the fast chain never ran")
        Thread.sleep(300)
        slowDone.set(true)
      })))
    e shouldBe theSameInstanceAs(boom)
    slowDone.get shouldBe true
  }

  test("results come back in task order; later failures ride on the first as suppressed") {
    Overlap.run(Seq(() => { Thread.sleep(100); 1 }, () => 2, () => 3)) shouldBe Seq(1, 2, 3)

    val first = new IllegalStateException("first")
    val later = new IllegalArgumentException("later")
    val failed = new CountDownLatch(1)
    val e = intercept[IllegalStateException](Overlap.run(Seq(
      () => {
        if (!failed.await(30, TimeUnit.SECONDS)) fail("the first failure never came")
        Thread.sleep(300)
        throw later
      },
      () => try throw first finally failed.countDown())))
    e shouldBe theSameInstanceAs(first)
    e.getSuppressed.toSeq shouldBe Seq(later)
  }

  test("an interrupted caller interrupts the tasks and returns only after they have ended") {
    val started = new CountDownLatch(2)
    val ended = new AtomicInteger(0)
    @volatile var thrown: Throwable = null
    @volatile var endedAtReturn = -1
    val caller = new Thread(() =>
      try Overlap.run(Seq.fill(2)(() => {
        started.countDown()
        try Thread.sleep(30000) finally ended.incrementAndGet()
      }))
      catch { case t: Throwable => endedAtReturn = ended.get; thrown = t })
    caller.start()
    started.await(30, TimeUnit.SECONDS) shouldBe true
    caller.interrupt()
    caller.join(30000)
    caller.isAlive shouldBe false
    thrown shouldBe an[InterruptedException]
    endedAtReturn shouldBe 2
    thrown.getSuppressed.toSeq.map(_.getClass) shouldBe Seq.fill(2)(classOf[InterruptedException])
  }
}
