package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** The concurrent-step barrier: run INDEPENDENT driver steps (commits and
  * DML chains against different stores, writes into disjoint dirs) at
  * once (optimization guide §2.6: Spark's scheduler overlaps jobs inside
  * one application; these steps were only sequential because the driver
  * called them sequentially, and each leaves most cores idle through its
  * stage tails). 2-3 in flight is enough to back-fill the tail without
  * fighting for executors.
  *
  * Every step is awaited before the call returns or throws, so no
  * half-finished commit escapes; the first failed step then rethrows its
  * ORIGINAL cause, so require() messages surface unchanged. */
object Concurrent {
  def run(spark: SparkSession)(steps: (() => Unit)*): Unit = {
    if (steps.size <= 1) { steps.foreach(_()); return }
    val pool = Executors.newFixedThreadPool(math.min(steps.size, 3))
    try {
      val futs = steps.map(f => pool.submit(new Callable[Unit] {
        def call(): Unit = {
          SparkSession.setActiveSession(spark)
          f()
        }
      }))
      var firstErr: Throwable = null
      futs.foreach { fut =>
        try { fut.get(); () }
        catch {
          case e: ExecutionException =>
            if (firstErr == null) firstErr = Option(e.getCause).getOrElse(e)
          case e: InterruptedException =>
            // the barrier holds even under interrupt (ADVICE r17): wait
            // out the in-flight steps NON-interruptibly, then re-assert
            // the interrupt for the caller
            if (firstErr == null) firstErr = e
            var done = false
            while (!done) {
              try { fut.get(); done = true }
              catch {
                case _: InterruptedException => ()
                case _: ExecutionException => done = true
              }
            }
        }
      }
      if (firstErr != null) {
        if (firstErr.isInstanceOf[InterruptedException])
          Thread.currentThread().interrupt()
        throw firstErr
      }
    } finally {
      pool.shutdown()
      // bounded drain: the steps are awaited above, so this returns
      // promptly; it exists so a later change cannot leak running commit
      // threads. An interrupt here must not mask the propagating error —
      // swallow and re-assert.
      try { pool.awaitTermination(60, TimeUnit.SECONDS); () }
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    }
  }
}
