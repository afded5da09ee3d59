package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.util.Concurrent

/** The concurrent-step barrier's contract: every step finishes before the
  * call returns or throws, a failed step surfaces as its ORIGINAL
  * exception, and an interrupt of the caller neither abandons in-flight
  * steps nor gets lost. Three steps, short sleeps, at most 3 threads. */
class ConcurrentSpec extends SparkSuite {

  private def sleeper(done: AtomicBoolean, ms: Long,
      started: CountDownLatch = new CountDownLatch(0)): () => Unit = () => {
    started.countDown()
    Thread.sleep(ms)
    done.set(true)
  }

  test("a failed step rethrows its original exception after the others finish") {
    val boom = new IllegalArgumentException("x")
    val done = Seq.fill(2)(new AtomicBoolean(false))
    val thrown = intercept[IllegalArgumentException] {
      Concurrent.run(spark)(() => throw boom,
        sleeper(done(0), 300), sleeper(done(1), 300))
    }
    assert(thrown eq boom)
    assert(done.forall(_.get), "the call returned before every step finished")
  }

  test("an interrupted caller waits out every step and keeps its interrupt flag") {
    val done = Seq.fill(3)(new AtomicBoolean(false))
    val started = new CountDownLatch(3)
    @volatile var doneAtReturn = Seq.empty[Boolean]
    @volatile var flagAtReturn = false
    @volatile var error: Throwable = null
    val caller = new Thread(() => {
      try Concurrent.run(spark)(done.map(sleeper(_, 400, started)): _*)
      catch { case e: Throwable => error = e }
      doneAtReturn = done.map(_.get)
      flagAtReturn = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive)
    assert(doneAtReturn == Seq(true, true, true),
      "the call returned before every step finished")
    assert(flagAtReturn, "the caller's interrupt flag was lost")
    assert(error.isInstanceOf[InterruptedException], s"got $error")
  }
}
