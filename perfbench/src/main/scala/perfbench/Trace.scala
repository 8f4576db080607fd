package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run collector built on Spark's public listener APIs: job,
  * stage and SQL-execution events, plus each execution's planning
  * tracker. Events are kept in memory; [[Trace.window]] turns the
  * events of one pass (a wall-clock window) into per-layer metrics.
  *
  * A job is attributed to program files through the long call site of
  * the SQL execution it belongs to, and through its own final stage's
  * call site only when it belongs to none: jobs that AQE starts from
  * broadcast or subquery futures carry a thread-pool stack of their own.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val execStarts = new ConcurrentHashMap[Long, Long]()
  private val openExecs = new AtomicInteger()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())
  private val planMs = new AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds, exec, site))
      lastEvent.set(System.currentTimeMillis())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
      lastEvent.set(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.put(i.stageId, Stage(i.numTasks, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      lastEvent.set(System.currentTimeMillis())
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, s.details)
        execStarts.put(s.executionId, s.time)
        openExecs.incrementAndGet()
        lastEvent.set(System.currentTimeMillis())
      case _: SparkListenerSQLExecutionEnd =>
        openExecs.decrementAndGet()
        lastEvent.set(System.currentTimeMillis())
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      planMs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every job and execution seen so far has ended and the
    * listener bus has been quiet for a moment. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def open = jobs.values.asScala.exists(_.end < 0) || openExecs.get() > 0
    while (System.currentTimeMillis() < deadline &&
        (open || System.currentTimeMillis() - lastEvent.get() < 300))
      Thread.sleep(50)
  }

  def planMillis: Long = planMs.get()

  /** Per-layer metrics of the jobs that started in [t0, t1] (epoch ms).
    * `planDeltaMs` is the planning time the tracker reported for the
    * pass; `rows` are the gate rows' own windows, if any. */
  def window(t0: Long, t1: Long, planDeltaMs: Long, cores: Int,
      rows: Seq[(String, Long, Long)]): Map[String, Double] = {
    val js = jobs.values.asScala.toSeq.filter(j => j.start >= t0 && j.start <= t1)
    val wallS = (t1 - t0) / 1e3
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    for (k <- PerLayerNames) out(k) = 0.0

    def stagesOf(j: Job) = j.stages.flatMap(s => Option(stages.get(s)))
    def taskS(j: Job) = stagesOf(j).map(_.taskMs).sum / 1e3
    def jobS(j: Job) = math.max(0L, j.end - j.start) / 1e3
    val phaseSpan = scala.collection.mutable.Map[Int, (Long, Long)]()
    def site(j: Job) = j.execId.flatMap(e => Option(execSites.get(e))).getOrElse(j.ownSite)

    val unionS = union(js.map(j => (j.start, if (j.end < 0) t1 else j.end))) / 1e3
    out("spark.jobs") = js.size
    out("spark.stages") = js.map(stagesOf(_).size).sum
    out("spark.tasks") = js.flatMap(stagesOf).map(_.tasks).sum
    out("spark.task_s") = js.map(taskS).sum
    out("spark.gc_s") = js.flatMap(stagesOf).map(_.gcMs).sum / 1e3
    out("spark.job_s") = unionS
    out("spark.driver_gap_s") = math.max(0.0, wallS - unionS)
    out("spark.plan_s") = planDeltaMs / 1e3
    out("spark.sql_executions") =
      execStarts.values.asScala.count(t => t >= t0 && t <= t1)
    out("spark.shuffle_write_bytes") = js.flatMap(stagesOf).map(_.shuffleWrite).sum.toDouble
    out("spark.shuffle_read_bytes") = js.flatMap(stagesOf).map(_.shuffleRead).sum.toDouble
    out("spark.input_bytes") = js.flatMap(stagesOf).map(_.input).sum.toDouble
    out("spark.output_bytes") = js.flatMap(stagesOf).map(_.output).sum.toDouble
    out("spark.spill_bytes") = js.flatMap(stagesOf).map(_.spill).sum.toDouble
    out("spark.core_busy_ratio") = if (wallS > 0) out("spark.task_s") / (cores * wallS) else 0.0
    out("trace.wall_s") = wallS

    for (j <- js) {
      val frames = graftFrames(site(j))
      if (frames.exists(_.contains("DataFrameReader"))) add("spark.schema_jobs", 1)
      val ours = frames.filter(_.startsWith("graft."))
      def byPackage(pkg: String, prefix: String, files: Set[String]): Unit =
        ours.find(_.startsWith(s"graft.$pkg.")).map(fileOf).foreach { f =>
          val key = if (files(f)) f else "other"
          add(s"$prefix.$key.jobs", 1)
          add(s"$prefix.$key.job_s", jobS(j))
          if (prefix == "pset") add(s"$prefix.$key.task_s", taskS(j))
        }
      byPackage("pset", "pset", PsetFiles)
      if (ours.exists(_.startsWith("graft.core.Ids"))) {
        add("core.ids.jobs", 1)
        add("core.ids.job_s", jobS(j))
        add("core.ids.task_s", taskS(j))
        if (ours.exists(_.startsWith("graft.core.Materialize"))) add("core.ids.pins", 1)
      }
      // phase 1 builds each PSet's tables, phase 2 consolidates them
      val phase =
        if (ours.exists(_.startsWith("graft.pset.Consolidator"))) Some(2)
        else if (ours.exists(f => f.startsWith("graft.pset.PSet"))) Some(1)
        else None
      phase.foreach { ph =>
        val (a, b) = phaseSpan.getOrElse(ph, (Long.MaxValue, Long.MinValue))
        phaseSpan(ph) = (math.min(a, j.start), math.max(b, if (j.end < 0) t1 else j.end))
      }
      byPackage("streaming", "streaming", StreamingFiles)
      byPackage("operators", "operators", OperatorFiles)
      // a gate row returns its served result as a plan; the jobs that
      // execute it run from the benchmark's own write, outside any store
      // method, and belong to the serve phase
      val storePh = ours.reverse.find(isStoreFrame).flatMap(storePhase).orElse(
        if (ours.isEmpty && frames.exists(_.contains("BenchMain$.$anonfun$gatePass"))) Some("serve") else None)
      storePh.foreach { p => add(s"store.$p.jobs", 1); add(s"store.$p.job_s", jobS(j)) }
    }
    for ((ph, (a, b)) <- phaseSpan) out(s"pset.phase${ph}_s") = (b - a) / 1e3
    for ((row, r0, r1) <- rows) {
      out(s"gate.$row.s") = (r1 - r0) / 1e3
      out(s"gate.$row.jobs") = js.count(j => j.start >= r0 && j.start <= r1)
    }
    out.filter { case (k, _) => PerLayerNames.contains(k) || k.startsWith("gate.") }.toMap
  }
}

object Trace {
  private final case class Job(id: Int, start: Long, var end: Long,
      stages: Seq[Int], execId: Option[Long], ownSite: String)
  private final case class Stage(tasks: Int, taskMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, input: Long, output: Long,
      spill: Long)

  private val FrameRe = """^\s*(?:at\s+)?(\S+)\(([^)]*)\)\s*$""".r
  private val FileRe = """\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  val PsetFiles = Set("PSet", "PSetBuilders", "Consolidator")
  val StreamingFiles = Set("PostingsIngest", "EventStreams", "TombstoneStore", "GenForest")
  val OperatorFiles = Set("IndexStore", "Retrieval")
  val StorePhases = Seq("ingest", "consolidate", "tombstone", "maintain", "serve")
  val GateRows = Seq("x_text_bm25_maintained")

  /** Every per-layer name, in report order. */
  val PerLayerNames: Seq[String] =
    Seq("jobs", "stages", "tasks", "task_s", "gc_s", "job_s", "driver_gap_s",
      "plan_s", "sql_executions", "schema_jobs", "shuffle_write_bytes",
      "shuffle_read_bytes", "input_bytes", "output_bytes", "spill_bytes",
      "pinned_bytes_after", "core_busy_ratio").map("spark." + _) ++
      Seq("trace.wall_s") ++
      PsetFiles.toSeq.sorted.flatMap(f => Seq("jobs", "job_s", "task_s").map(m => s"pset.$f.$m")) ++
      Seq("pset.phase1_s", "pset.phase2_s") ++
      Seq("jobs", "job_s", "task_s", "pins").map("core.ids." + _) ++
      GateRows.flatMap(r => Seq(s"gate.$r.s", s"gate.$r.jobs")) ++
      (StreamingFiles.toSeq.sorted :+ "other").flatMap(f => Seq(s"streaming.$f.jobs", s"streaming.$f.job_s")) ++
      (OperatorFiles.toSeq.sorted :+ "other").flatMap(f => Seq(s"operators.$f.jobs", s"operators.$f.job_s")) ++
      StorePhases.flatMap(p => Seq(s"store.$p.jobs", s"store.$p.job_s"))

  /** Frames of a long call site, innermost first, as `class.method(File.scala:N)`. */
  private[perfbench] def graftFrames(site: String): Seq[String] =
    site.split("\n").toSeq.flatMap {
      case FrameRe(m, loc) => Some(s"$m($loc)")
      case _ => None
    }

  private def fileOf(frame: String): String =
    FileRe.findFirstMatchIn(frame).map(_.group(1)).getOrElse("other")

  /** Method name of a frame, with a lambda's `$anonfun$` wrapper and
    * counter stripped: `$anonfun$ingestBatch$2` is `ingestBatch`. */
  private def methodOf(frame: String): String =
    frame.takeWhile(_ != '(').split('.').lastOption.getOrElse("")
      .stripPrefix("$anonfun$").replaceAll("\\$.*$", "")

  private def isStoreFrame(frame: String): Boolean =
    (frame.startsWith("graft.streaming.") || frame.startsWith("graft.operators.IndexStore")) &&
      storePhase(frame).isDefined

  /** Lifecycle phase of a store method, by its name. A gate row's own
    * body (`maintainedGate`) is the caller of the lifecycle, not a phase. */
  private def storePhase(frame: String): Option[String] = {
    val m = methodOf(frame)
    if (m.endsWith("Gate")) None
    else if (m.startsWith("ingest") || m == "applyBatch") Some("ingest")
    else if (m.startsWith("consolidate") || m.startsWith("compact") || m.startsWith("reconcile") ||
      m.startsWith("ensure") || (m.startsWith("build") && m.endsWith("Index"))) Some("consolidate")
    else if (m.startsWith("tombstone")) Some("tombstone")
    else if (m.startsWith("maintain") || m.startsWith("rebase") || m.startsWith("rebuild") ||
      m.startsWith("fold") || m == "vacuum" || m.startsWith("recover")) Some("maintain")
    else if (m.contains("FromIndex") || m.contains("FromStore") || m.contains("AgainstIndex") ||
      m.startsWith("search") || m.startsWith("load") || m.startsWith("read")) Some("serve")
    else None
  }

  /** Length of the union of [start, end] intervals. */
  private def union(ivs: Seq[(Long, Long)]): Long =
    ivs.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach)
      else (acc + e - math.max(s, reach), e)
    }._1
}
