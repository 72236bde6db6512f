package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TrainOnce

/** The train-once memo every learned artifact sits in: trainings run
  * outside the lock, a concurrent duplicate keeps one instance, a failed
  * training stores nothing, and `refit` evicts only what was trained
  * before its measurement. */
class TrainOnceSpec extends AnyFunSuite {
  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def await[T](f: Future[T]): T = Await.result(f, 30.seconds)

  test("a blocked training for one key does not block another key") {
    val memo = new TrainOnce[String, String]
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = Future(memo("a") {
      entered.countDown()
      release.await(30, TimeUnit.SECONDS)
      "A"
    })
    assert(entered.await(30, TimeUnit.SECONDS))
    // "a" is still training; "b" must train and return meanwhile
    assert(await(Future(memo("b")("B"))) == "B")
    assert(!slow.isCompleted)
    release.countDown()
    assert(await(slow) == "A")
  }

  test("concurrent duplicate trainings return one instance to both callers") {
    val memo = new TrainOnce[String, Array[Long]]
    val trains = new AtomicInteger()
    val bothIn = new CountDownLatch(2)
    def call() = Future(memo("k") {
      trains.incrementAndGet()
      bothIn.countDown()
      bothIn.await(30, TimeUnit.SECONDS)
      Array(1L, 2L)
    })
    val (x, y) = (call(), call())
    val (a, b) = (await(x), await(y))
    assert(trains.get == 2, "both calls should have trained outside the lock")
    assert(a eq b)
    assert(memo("k")(fail("a memoized key must not train again")) eq a)
  }

  test("a training that throws leaves no entry") {
    val memo = new TrainOnce[String, String]
    intercept[IllegalStateException](memo("k")(throw new IllegalStateException("boom")))
    assert(memo("k")("trained") == "trained")
  }

  test("refit evicts only the selected keys memoized before measure, and keeps what measure trained") {
    val memo = new TrainOnce[(String, Int), String]
    Seq(("a", 1), ("a", 2), ("b", 1)).foreach(k => memo(k)(s"old$k"))
    val retrains = new AtomicInteger()
    def fresh(k: (String, Int)) = memo(k)(s"new$k")

    // no trip: nothing is evicted and nothing retrains
    assert(memo.refit(_._1 == "a")(7)(_ => false)(retrains.incrementAndGet()) == 7)
    assert(retrains.get == 0 && fresh(("a", 1)) == "old(a,1)")

    val got = memo.refit(_._1 == "a") {
      memo(("a", 3))("measured")
    }(_ => true)(retrains.incrementAndGet())
    assert(got == "measured" && retrains.get == 1)
    assert(fresh(("a", 1)) == "new(a,1)")
    assert(fresh(("a", 2)) == "new(a,2)")
    assert(fresh(("a", 3)) == "measured", "what measure trained survives the trip")
    assert(fresh(("b", 1)) == "old(b,1)", "an unselected key survives the trip")
  }
}
