package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

/** Bounded driver-thread fan-out for independent Spark job submitters
  * (per-fold fits, search prefixes and candidates): at most `parallelism`
  * tasks run at once, and results come back in task order. Serial when
  * `parallelism <= 1`; parallel ≡ serial is a test invariant (reference
  * `tests/test_cross_validation.py:51-80`).
  *
  * Every task finishes before the call returns, so no job outlives it; the
  * first failure in task order is then rethrown. The pool is made per call,
  * so its threads are created by the caller and inherit its Spark local
  * properties (job group, scheduler pool, description).
  */
object FanOut {
  def apply[T](tasks: Seq[() => T], parallelism: Int): Seq[T] =
    if (parallelism <= 1 || tasks.size <= 1) tasks.map(_())
    else {
      val pool = Executors.newFixedThreadPool(math.min(parallelism, tasks.size))
      try {
        val futures = pool.invokeAll(tasks.map(t => (() => t()): Callable[T]).asJava)
        futures.asScala.toSeq.map { f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
}
