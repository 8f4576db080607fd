package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-level profiler for one gate query (optimization guide §1):
  * runs the named query cold + warm through the noop sink with a
  * SparkListener capturing every job's submit/complete wall-clock, then
  * prints the job count, per-job time, and the DRIVER GAPS — wall time
  * where no job was running (planning, FS listings, marker ops). The
  * gaps are what the job-count-bound lifecycle rows (bm25_maintained
  * et al.) spend on this host class; jobs are what the cluster would
  * parallelize. `compiles` and `compileMs` are the classes Spark's code
  * generator compiled during the run and the time that took: a warm
  * run that still compiles is re-paying codegen (the generated-class
  * cache is smaller than the classes the run uses).
  * `sbt "runMain graft.JobProbe x_text_bm25_maintained"`.
  */
object JobProbe {

  /** Generated classes compiled in this JVM so far, and the compile
    * time in ms ([[org.apache.spark.metrics.source.CodegenMetrics]]
    * counts the compiles; the code generator sums their time). */
  private[graft] def compiled(): (Long, Double) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)

  private final class Probe extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // attribution: the last stage's name carries the action's call
      // site (file:line) — the cheapest way to see which store phase
      // owns each of a lifecycle row's dozens of jobs
      val desc = js.stageInfos.lastOption.map(_.name).getOrElse("")
      jobs.put(js.jobId, (js.time, -1L, desc))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val cur = jobs.get(je.jobId)
      if (cur != null) jobs.put(je.jobId, (cur._1, je.time, cur._3))
    }
    def drain(): Seq[(Int, Long, Long, String)] = {
      import scala.jdk.CollectionConverters._
      val out = jobs.asScala.toSeq.map { case (id, (s, e, d)) => (id, s, e, d) }
        .sortBy(_._2)
      jobs.clear()
      out
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.configure(SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.range(1000000).selectExpr("sum(id)").collect()
    probe.drain()
    for (name <- args; run <- Seq("cold", "warm")) {
      val (c0, ms0) = compiled()
      val t0 = System.currentTimeMillis()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val t1 = System.currentTimeMillis()
      val (c1, ms1) = compiled()
      // listener bus is async: give it a beat to drain before reading
      Thread.sleep(300)
      val jobs = probe.drain().filter { case (_, s, e, _) => e >= 0 && s >= t0 && e <= t1 + 300 }
      val wall = (t1 - t0) / 1e3
      val jobSecs = jobs.map { case (_, s, e, _) => (e - s) / 1e3 }
      // driver gap = wall minus the union of job intervals (jobs can
      // overlap under AQE; merge intervals before subtracting)
      val merged = jobs.map { case (_, s, e, _) => (s, e) }.sortBy(_._1)
        .foldLeft(List.empty[(Long, Long)]) {
          case ((ps, pe) :: t, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: t
          case (acc, iv) => iv :: acc
        }
      val busy = merged.map { case (s, e) => e - s }.sum / 1e3
      println(f"PROBE $name $run wall=$wall%.2fs jobs=${jobs.size}%d " +
        f"jobTime=${jobSecs.sum}%.2fs driverGap=${wall - busy}%.2fs " +
        f"compiles=${c1 - c0}%d compileMs=${ms1 - ms0}%.0f")
      // gap breakdown: time from each job's end to the next job's start
      val triples = jobs.sortBy(_._2)
      val gaps = (Seq((0, t0, t0, "start")) ++ triples).sliding(2).collect {
        case Seq((_, _, e1, _), (id, s2, _, d2)) if s2 - e1 > 100 =>
          f"  gap ${(s2 - e1) / 1e3}%.2fs before job $id%d [${d2.take(70)}]"
      }
      gaps.foreach(println)
      if (run == "warm")
        triples.foreach { case (id, s, e, d) =>
          println(f"  job $id%d ${(e - s) / 1e3}%.2fs [${d.take(70)}]") }
    }
    spark.stop()
  }
}

/** Phase-level twin of [[JobProbe]] for the postings-store lifecycle
  * row: runs the same public API calls the maintained gate makes, one
  * timer, job counter and compile counter per phase, twice (cold +
  * warm). */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.configure(SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobCount = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    import org.apache.spark.sql.functions._
    import graft.streaming.PostingsIngest._
    import graft.operators.{IndexStore, Retrieval}
    for (round <- Seq("cold", "warm")) {
      val root = s"${sys.props("java.io.tmpdir")}/graft_probe/maint"
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(rp)) fs.delete(rp, true)
      val docs = graft.core.Tables.t(spark, sfDir, "documents")
      import spark.implicits._
      def phase[A](name: String)(body: => A): A = {
        val j0 = jobCount.get(); val (c0, ms0) = JobProbe.compiled(); val t0 = System.nanoTime()
        val r = body
        val (c1, ms1) = JobProbe.compiled()
        Thread.sleep(200)
        println(f"PHASE $round $name%-14s ${(System.nanoTime() - t0) / 1e9}%6.2fs jobs=${jobCount.get() - j0}%d " +
          f"compiles=${c1 - c0}%d compileMs=${ms1 - ms0}%.0f")
        r
      }
      phase("ingest")(ingestBatch(docs, 0L, s"$root/store"))
      phase("consolidate")(consolidate(spark, s"$root/store", s"$root/index"))
      phase("tombstone")(tombstoneDocs(Seq(97L, 211L).toDF("doc_id"), 1L, s"$root/index"))
      phase("maintain")(maintain(spark, s"$root/store", s"$root/index"))
      phase("tombstone2")(tombstoneDocs(Seq(313L).toDF("doc_id"), 2L, s"$root/index"))
      val served = phase("serve-plan")(
        IndexStore.bm25FromIndex(
          docs.filter(!col("doc_id").isin(97L, 211L, 313L)), spark, s"$root/index",
          Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
          .orderBy("q_id", "rank"))
      phase("serve-exec")(
        served.write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
