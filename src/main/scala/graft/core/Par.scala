package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Run INDEPENDENT driver-side thunks — typically Spark actions —
  * concurrently (optimization guide §2.6): the scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. Overlapping
  * them lets one job's tasks back-fill another's stragglers and hides
  * the driver's job-boundary dead time (planning, listings, commits).
  *
  * ONLY for thunks with no ordering dependency and disjoint write
  * targets — each caller documents why its set commutes.
  *
  * Failure: the first thunk to throw stops the call from starting any
  * further thunk and cancels its siblings' Spark jobs through the
  * call's own job tag. The call then waits for the siblings to settle,
  * at most [[SettleMs]], and rethrows the first exception unwrapped,
  * with the siblings' outcomes (their own exceptions, or a timeout for
  * one still running) attached as suppressed exceptions.
  */
object Par {

  /** How long a failed call waits for its cancelled siblings to settle
    * before it rethrows. Cancelling their jobs makes this seconds in
    * practice; the bound keeps a wedged sibling from turning a loud
    * failure into a silent hang (and a caller's lease held forever). */
  val SettleMs: Long = 60000L

  /** Runs `tasks` with at most `sparkContext.defaultParallelism` of
    * them at once (the calling thread is one of the runners) and
    * returns their results in input order. */
  def all[A](tasks: Seq[() => A]): Seq[A] =
    run(tasks, if (serial.value) 1 else context.fold(
      Runtime.getRuntime.availableProcessors)(_.defaultParallelism))

  /** The two-thunk case of [[all]]: `a` (the primary) runs on the
    * calling thread, `b` on a second one, whatever the parallelism. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = run(Seq[() => Any](() => a, () => b), 2)
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  /** Runs `body` with every [[all]] inside it (on this thread) one
    * thunk at a time, in input order — the sequential reference a spec
    * compares the concurrent result against. */
  private[graft] def serially[A](body: => A): A = serial.withValue(true)(body)

  private val serial = new scala.util.DynamicVariable(false)

  private def context =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)

  private def run[A](tasks: Seq[() => A], width: Int): Seq[A] = {
    val sc = context
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val results = new Array[Any](tasks.size)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    // the calling thread starts with task 0 and runner r with task r;
    // whoever finishes first takes the next one
    val starters = math.min(width, tasks.size)
    val next = new AtomicInteger(math.max(1, starters))
    def drain(first: Int): Unit = {
      var i = first
      while (i < tasks.size && failures.isEmpty) {
        try results(i) = tasks(i)()
        catch {
          case e: Throwable =>
            failures.add(e)
            sc.foreach(_.cancelJobsWithTag(tag))
        }
        i = next.getAndIncrement()
      }
    }
    // runner threads inherit the calling thread's local properties, the
    // tag included, when they are created
    sc.foreach(_.addJobTag(tag))
    try {
      val runners = (1 until starters).map { first =>
        val t = new Thread(() => drain(first), "graft-par")
        t.setDaemon(true)
        t.start()
        t
      }
      drain(0)
      // on success every runner finishes; after a failure, wait at most
      // SettleMs, cancelling again any job a sibling started since
      var deadline = Option.empty[Long]
      while (runners.exists(_.isAlive) && deadline.forall(System.nanoTime() < _)) {
        if (!failures.isEmpty) {
          if (deadline.isEmpty) deadline = Some(System.nanoTime() + SettleMs * 1000000L)
          sc.foreach(_.cancelJobsWithTag(tag))
        }
        runners.find(_.isAlive).foreach(_.join(100))
      }
      val cause = failures.peek()
      if (cause == null) results.toSeq.map(_.asInstanceOf[A])
      else {
        failures.forEach(e => if (e ne cause) cause.addSuppressed(e))
        runners.filter(_.isAlive).foreach(t => cause.addSuppressed(new TimeoutException(
          s"${t.getName}: a sibling task was still running $SettleMs ms after the failure")))
        throw cause
      }
    } finally sc.foreach(_.removeJobTag(tag))
  }
}
