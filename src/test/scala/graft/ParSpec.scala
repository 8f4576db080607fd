package graft

import graft.core.Par
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkException

/** The bounded concurrent runner: input-order results, the
  * `defaultParallelism` bound, the caller-thread primary of `both`, and
  * the failure path (sibling jobs cancelled, original cause rethrown). */
class ParSpec extends SparkSpec {

  /** A Spark job whose tasks run `seconds` unless they are killed. */
  private def longJob(seconds: Int): Unit =
    spark.sparkContext.parallelize(1 to 2, 2).foreach { _ =>
      val tc = org.apache.spark.TaskContext.get()
      val end = System.nanoTime() + seconds * 1000000000L
      while (System.nanoTime() < end && !tc.isInterrupted()) Thread.sleep(50)
    }

  test("Par.all returns results in input order, at most defaultParallelism at once") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    val out = Par.all((1 to 12).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(60)
      running.decrementAndGet()
      i * 10
    })
    assert(out == (1 to 12).map(_ * 10))
    assert(peak.get() <= spark.sparkContext.defaultParallelism)
    assert(peak.get() >= 2, "the thunks overlapped")
    assert(Par.all(Seq.empty[() => Int]).isEmpty)
  }

  test("Par.both runs the primary on the calling thread and the secondary beside it") {
    val caller = Thread.currentThread()
    val (a, b) = Par.both(Thread.currentThread(), Thread.currentThread())
    assert(a eq caller)
    assert(!(b eq caller))
  }

  test("a failure cancels the sibling's long job and is rethrown unwrapped within the bound") {
    // the long job on the calling thread, then on a runner thread
    for (failFirst <- Seq(false, true)) {
      val boom = new IllegalStateException(s"boom $failFirst")
      val fail = () => { Thread.sleep(1000); throw boom }
      val long = () => longJob(120)
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](
        Par.all(if (failFirst) Seq(fail, long) else Seq(long, fail)))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(e eq boom)
      assert(elapsedMs < math.min(Par.SettleMs, 30000L), s"returned after $elapsedMs ms")
      assert(e.getSuppressed.exists(_.isInstanceOf[SparkException]),
        e.getSuppressed.toSeq.toString)
    }
  }

  test("after a failure no further thunk starts") {
    val started = new AtomicInteger()
    intercept[ArithmeticException](Par.all((0 until 20).map { i => () =>
      started.incrementAndGet()
      if (i == 0) throw new ArithmeticException("first")
      Thread.sleep(300)
    }))
    assert(started.get() <= spark.sparkContext.defaultParallelism)
  }
}
