package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

object MemoSpec {

  /** Runs `f` on `n` threads released together; returns their results. */
  def race[T](n: Int)(f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    try {
      val futures = (0 until n).map(_ => pool.submit(() => { go.await(); f }))
      go.countDown()
      futures.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }
}

class MemoSpec extends AnyFunSuite {
  import MemoSpec.race

  test("N racing threads evaluate the body once and share its value") {
    val memo = new Memo[String, Int]
    val runs = new AtomicInteger()
    val got = race(8) {
      memo("k") { Thread.sleep(200); runs.incrementAndGet() }
    }
    assert(runs.get == 1, s"body ran ${runs.get} times")
    assert(got.toSet == Set(1))
    assert(memo("k")(sys.error("a hit must not run the body")) == 1)
  }

  test("a body that throws is not cached; the next call runs it again") {
    val memo = new Memo[String, Int]
    val runs = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      memo("k") { runs.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(memo("k") { runs.incrementAndGet(); 7 } == 7)
    assert(runs.get == 2)
  }

  test("a body may call other memos while racing callers wait") {
    val inner = new Memo[String, Int]
    val outer = new Memo[String, Int]
    val innerRuns = new AtomicInteger()
    val got = race(4) {
      outer("a") {
        inner("x") { Thread.sleep(100); innerRuns.incrementAndGet(); 20 } +
          inner("y") { 1 }
      }
    }
    assert(got.toSet == Set(21) && innerRuns.get == 1)
  }
}
