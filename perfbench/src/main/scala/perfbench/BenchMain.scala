package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.SparkEntry
import graft.pset.{Pipeline, PipelineConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Runs a benchmark workload in a fresh JVM and writes a JSON result
  * for `run.py`: when the warm-up pass ended; per timed pass its wall and CPU time, the operations it
  * attempted and which failed, and with `--trace 1` its per-layer
  * metrics; peak RSS, and where the last pass wrote.
  *
  *   BenchMain --workload etl_pipeline --input DIR --work DIR --seconds 10 --trace 0 --out result.json
  *
  * One untimed warm-up pass pays class loading, JIT and codegen, and
  * builds the per-JVM artifacts; timed passes follow until their wall
  * times add up to `--seconds`.
  *
  * Workloads:
  *  - `etl_pipeline` is one `graft.pset.Pipeline.run` over every PSet
  *    export named in `DIR/psets.txt` (phases 1 and 2: per-PSet builds,
  *    then consolidation), with empty compound metadata;
  *  - `gate_job_bound` runs the `SparkEntry.queries` rows named in
  *    [[Trace.GateRows]] over the generated tables in DIR and writes
  *    each result as parquet.
  *
  * An operation that throws is logged and counted as failed; the pass
  * goes on with the next one.
  */
object BenchMain {

  /** One pass: its timed span, its operations and where it wrote.
    * `rows` are the gate rows' own spans; `audit` the frames of
    * unmatched keys that `Pipeline.run` handed its audit callback. */
  final case class Pass(startMs: Long, endMs: Long, wallS: Double, cpuS: Double,
      ops: Int, failed: Seq[String], outputDir: String,
      rows: Seq[(String, Long, Long)], audit: Seq[(String, DataFrame)])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val input = opts("input")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.core.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (opts("trace") == "1") Some(new Trace(spark)) else None

    // pass i writes under work/pass{i}; the previous pass's files are
    // removed first, outside the timed span
    def pass(i: Int): Pass = {
      if (i > 0) deleteTree(Paths.get(s"$work/pass${i - 1}"))
      workload match {
        case "etl_pipeline" => etlPass(spark, input, s"$work/pass$i")
        case "gate_job_bound" => gatePass(spark, input, s"$work/pass$i/gate_out")
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    def pinnedBytes() = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble
    val warmup = pass(0)
    val warmupEndMs = System.currentTimeMillis()
    val timed = scala.collection.mutable.ArrayBuffer[(Pass, Seq[(String, Double)])]()
    while (timed.isEmpty || timed.map(_._1.wallS).sum < seconds) {
      trace.foreach(_.quiesce())
      val plan0 = trace.map(_.planMillis).getOrElse(0L)
      val p = pass(timed.size + 1)
      val layers = trace.toSeq.flatMap { tr =>
        tr.quiesce()
        (tr.window(p.startMs, p.endMs, tr.planMillis - plan0, cores, p.rows) +
          ("spark.pinned_bytes_after" -> pinnedBytes())).toSeq
      }.sortBy(_._1)
      timed += (p -> layers)
    }
    val last = timed.last._1
    // one job reads every audit frame: (audit name, unmatched key)
    val keys = last.audit.map { case (what, df) =>
      df.select(lit(what), col(df.columns.head).cast("string"))
    }.reduceOption(_ union _).toSeq.flatMap(_.collect().map(r => r.getString(0) -> String.valueOf(r.getString(1))))
    val audit = last.audit.map { case (what, _) => what -> keys.filter(_._1 == what).map(_._2).sorted }
    spark.stop()

    val oracles = if (workload == "gate_job_bound") Trace.GateRows.map(r => r -> SparkEntry.oracleSql(r)) else Nil
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    def arr(xs: Seq[String]) = xs.map(q).mkString("[", ", ", "]")
    Files.writeString(Paths.get(opts("out")), obj(Seq(
      "warmup_end_ms" -> warmupEndMs.toString,
      "warmup_failed" -> arr(warmup.failed),
      "passes" -> timed.map { case (p, layers) => obj(Seq(
        "ops" -> p.ops.toString,
        "failed" -> arr(p.failed),
        "wall_s" -> p.wallS.toString,
        "cpu_s" -> p.cpuS.toString,
        "layers" -> obj(layers.map { case (k, v) => k -> v.toString })))
      }.mkString("[", ", ", "]"),
      "peak_rss_mb" -> peakRssMb().toString,
      "output_dir" -> q(last.outputDir),
      "oracle_sql" -> obj(oracles.map { case (k, v) => k -> q(v) }),
      "audit" -> obj(audit.map { case (k, v) => k -> arr(v) }))))
  }

  private def deleteTree(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `body`; returns its start and end (epoch ms), wall seconds and
    * process CPU seconds (user + system, all threads). */
  private def timedSpan(body: => Unit): (Long, Long, Double, Double) = {
    val c0 = os.getProcessCpuTime
    val w0 = System.nanoTime()
    val s0 = System.currentTimeMillis()
    body
    val w1 = System.nanoTime()
    val c1 = os.getProcessCpuTime
    (s0, System.currentTimeMillis(), (w1 - w0) / 1e9, (c1 - c0) / 1e9)
  }

  /** Runs one operation; false, with its stack trace on stderr, if it threw. */
  private def attempt(name: String)(op: => Unit): Boolean =
    try { op; true }
    catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: operation $name failed")
        e.printStackTrace()
        false
    }

  /** One `Pipeline.run` over the PSets named in `psets.txt`, per-PSet
    * tables under `dir/work`, consolidated tables under `dir/final`.
    * The audit frames are kept, to be read after the timed passes for
    * the check only. */
  def etlPass(spark: SparkSession, input: String, dir: String): Pass = {
    val psets = Files.readAllLines(Paths.get(s"$input/psets.txt")).toArray.map(_.toString.trim)
      .filter(_.nonEmpty).toSeq
    val cfg = PipelineConfig(rawDir = s"$input/raw", workDir = s"$dir/work",
      finalDir = s"$dir/final", psetNames = psets)
    import spark.implicits._
    val compoundMeta = Seq.empty[(String, String)].toDF("name", "compound_uid")
    val audits = scala.collection.mutable.ArrayBuffer[(String, DataFrame)]()
    var ok = true
    val (s0, s1, wall, cpu) = timedSpan {
      ok = attempt("Pipeline.run") {
        Pipeline.run(spark, cfg, compoundMeta, (what, df) => audits += (what -> df))
      }
    }
    Pass(s0, s1, wall, cpu, 1, if (ok) Nil else Seq("Pipeline.run"), cfg.finalDir, Nil,
      if (ok) audits.toSeq else Nil)
  }

  /** The gate rows, each written as parquet under `out/{row}`. */
  def gatePass(spark: SparkSession, input: String, out: String): Pass = {
    val rows = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val (s0, s1, wall, cpu) = timedSpan {
      for (row <- Trace.GateRows) {
        val r0 = System.currentTimeMillis()
        if (!attempt(row)(SparkEntry.queries(row)(spark, input).write.mode("overwrite").parquet(s"$out/$row")))
          failed += row
        rows += ((row, r0, System.currentTimeMillis()))
      }
    }
    Pass(s0, s1, wall, cpu, Trace.GateRows.size, failed.toSeq, out, rows.toSeq, Nil)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
