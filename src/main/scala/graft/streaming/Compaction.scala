package graft.streaming

import graft.core.Markers
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline compaction for the `batch_id=`-partitioned parquet stores
  * the streaming sinks grow ([[EventStreams.idempotentParquetSink]],
  * the hot stores [[GenForest.maintain]] keeps below each index
  * watermark): merge many small per-micro-batch
  * partitions into one size-targeted segment — the small-files
  * problem every long-lived streaming sink accumulates — without
  * breaking the sink's replay contract or losing data to a crash.
  *
  * **Replay idempotence.** A restarted stream re-runs only the batch
  * after its checkpoint's last commit, so any batch id STRICTLY BELOW
  * the committed watermark can never be written again. Compaction
  * only touches ids `< safeBelow` (derive it with
  * [[safeBelowFromCheckpoint]]); a replayed in-flight batch still
  * lands in its own untouched `batch_id=` partition. This is also why
  * compacted rows may safely collapse onto the segment's id: below
  * the watermark the `batch_id` column is inert physical provenance
  * (its one consumer, the sinks' replay-exclusion filter, only ever
  * compares it against ids at-or-above the watermark).
  *
  * **Crash safety / mutual exclusion.** One commit marker doubles as
  * the lease and the redo log, in three phases:
  *   1. CLAIM — atomically create `_compact_commit` holding a fresh
  *      run uuid + the segment id + the source dir names
  *      ([[graft.core.Markers.tryCreate]], rename-based
  *      first-writer-wins). A second live compactor fails HERE,
  *      before any byte moves — the same loud-failure contract as the
  *      resumable-CC workdir lease.
  *   2. BUILD — write the merged segment to a dot-prefixed scratch
  *      dir Spark's file index ignores (readers still see the old
  *      partitions), then stamp `_graft_gen` = run uuid inside it.
  *      The gen stamp, written last, is the completeness marker; it
  *      also travels with the rename, which is what lets recovery
  *      tell "the segment at `batch_id=<id>` IS this run's output"
  *      from "it is the old partition/segment of the same name".
  *   3. SWAP — delete the sources, rename scratch into
  *      `batch_id=<segmentId>`, drop the marker. Every step is
  *      idempotent, so the whole phase is replayable from any crash
  *      point.
  *
  * A crashed run leaves its marker behind; [[compact]] then refuses
  * to start and [[recover]] — explicitly operator-invoked, exactly
  * like CC's `breakLease`, because only the operator knows the other
  * compactor is dead — rolls FORWARD when the gen stamp proves the
  * build completed (in scratch or already at the target) and BACK
  * (sources untouched) otherwise. CompactionSpec injects a crash at
  * each phase boundary and asserts bit-identical recovered content.
  *
  * Scale shape: one shuffle-free pass — read the eligible partitions,
  * `coalesce` to ceil(bytes / targetFileBytes) output files, write.
  * No shuffle, no driver-side rows; listing is one RPC per partition
  * dir. At 100 TB this runs per-store per-day exactly like a
  * lakehouse OPTIMIZE job, and re-compaction is monotone: an existing
  * segment (carrying its range's min id) is itself eligible next
  * time, so the store converges to one segment plus a live tail
  * regardless of cadence.
  */
object Compaction {

  /** What one [[compact]] call did: merged `batchesMerged` source
    * partitions (ids < safeBelow) into segment `batch_id=segmentId`,
    * shrinking the store from `filesBefore` to `filesAfter` data
    * files over the same `rows` rows. */
  case class CompactionStats(segmentId: Long, batchesMerged: Int,
      filesBefore: Long, filesAfter: Long, rows: Long)

  import GenForest.{BatchDir, fsOf, numberedDirs}

  private def markerPath(store: Path) = new Path(store, "_compact_commit")
  private def scratchPath(store: Path) = new Path(store, ".compact-scratch")
  private def genPath(dir: Path) = new Path(dir, "_graft_gen")

  private def genOf(fs: FileSystem, dir: Path): Option[String] =
    if (!fs.exists(dir)) None else Markers.read(fs, genPath(dir))

  /** Batch ids that can never replay, derived from the stream's own
    * checkpoint: Structured Streaming re-runs only the batch AFTER
    * the last entry in `commits/`, so every id <= maxCommitted is
    * final — returns maxCommitted + 1 (0 for a fresh/absent
    * checkpoint: nothing is safe yet). */
  def safeBelowFromCheckpoint(spark: SparkSession, checkpointDir: String): Long = {
    val commits = new Path(checkpointDir, "commits")
    val fs = fsOf(spark, commits)
    if (!fs.exists(commits)) 0L
    else {
      val ids = fs.listStatus(commits).toSeq
        .map(_.getPath.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong)
      if (ids.isEmpty) 0L else ids.max + 1
    }
  }

  private def dataFiles(fs: FileSystem, dir: Path): Seq[(Path, Long)] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => s.getPath -> s.getLen)

  /** Merge every `batch_id < safeBelow` partition of `storePath` into
    * one segment of ~`targetFileBytes` files. No-op (None) when
    * nothing is eligible or the eligible data is already one segment
    * at-or-under the target file count. Fails loudly when a commit
    * marker is present — a live compactor owns the store, or a dead
    * one left state that [[recover]] must resolve first. `onPhase`
    * fires at "built" (scratch complete, nothing committed — though
    * the claim marker is already durable) and "swapping" (sources
    * about to be dropped) — the crash windows CompactionSpec injects
    * into. */
  def compact(spark: SparkSession, storePath: String, safeBelow: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      onPhase: String => Unit = _ => ()): Option[CompactionStats] = {
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    val eligible = numberedDirs(fs, store, BatchDir).filter(_._1 < safeBelow).sortBy(_._1)
    compactDirs(spark, store, fs, eligible, targetFileBytes, onPhase)
  }

  /** Size-tiered compaction — the variant a PERIODIC maintenance
    * runbook should call. [[compact]] always merges EVERYTHING
    * eligible into one segment, so a blind timer that compacts each
    * cycle rewrites the whole committed store every cycle: O(corpus)
    * per cycle, O(corpus²/batch) lifetime write amplification (the
    * r18 blindtimer soak measured exactly this as a linear per-cycle
    * cost slope). This variant instead merges one SIZE CLASS at a
    * time (classes are geometric in `fanout`, LSM-style), and only a
    * class holding at least `fanout` dirs: each row is rewritten at
    * most once per class it promotes through — O(log corpus) lifetime
    * rewrites — and the dir count stays bounded by fanout × the class
    * count (= O(fanout · log(corpus/256KiB)/log(fanout))). Loops until
    * no class is mergeable; each pass reuses [[compact]]'s
    * claim/build/swap machinery on its subset, so crash recovery and
    * mutual exclusion are identical. Merging a non-contiguous id
    * subset is sound for the same reason compact's collapse is: below
    * the watermark `batch_id` is inert physical provenance. */
  def compactTiered(spark: SparkSession, storePath: String, safeBelow: Long,
      fanout: Int = 4,
      targetFileBytes: Long = 128L * 1024 * 1024,
      onPhase: String => Unit = _ => ()): Seq[CompactionStats] = {
    require(fanout >= 2, s"fanout must be >= 2 (got $fanout)")
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    val out = scala.collection.mutable.ListBuffer.empty[CompactionStats]
    var merged = true
    // terminates: every pass merges >= fanout >= 2 dirs into one, so
    // the eligible dir count strictly decreases
    while (merged) {
      merged = false
      val sized = numberedDirs(fs, store, BatchDir).filter(_._1 < safeBelow)
        .map { case (id, p) =>
          (id, p, dataFiles(fs, p).map(_._2).sum) }
      // a committed batch dir holding no data files (an all-filtered
      // or idle batch: `_SUCCESS` only) is pure listing debt — settle
      // it by deletion; merging it would feed schema-less dirs into
      // the parquet read. Below the replay watermark the write is
      // final, so nothing can still land there.
      sized.filter { case (_, p, b) => b == 0 && dataFiles(fs, p).isEmpty }
        .foreach { case (_, p, _) => fs.delete(p, true) }
      sized.filter(_._3 > 0)
        .groupBy { case (_, _, b) => sizeClass(b, fanout) }
        .filter(_._2.size >= fanout)
        .toSeq.sortBy(_._1).headOption
        .foreach { case (_, dirs) =>
          compactDirs(spark, store, fs,
            dirs.map(d => (d._1, d._2)).sortBy(_._1), targetFileBytes, onPhase)
            .foreach { s => out += s; merged = true }
        }
    }
    out.toList
  }

  /** Geometric size class: k such that bytes lands in
    * (256KiB·fanout^(k-1), 256KiB·fanout^k]. For classes k >= 1 (whose
    * lower bound is the previous cap), merging `fanout` dirs of class
    * k always promotes past class k's cap, so a merge output never
    * feeds an endless re-merge of its own class. Class 0's lower bound
    * is 0, not a previous cap, so tiny merged outputs CAN land back in
    * class 0 and be rewritten when the class refills — bounded write
    * amplification for small stores, not a termination risk (each pass
    * still strictly reduces dir count; CompactionProps pins both). */
  private def sizeClass(bytes: Long, fanout: Int): Int = {
    var c = 0
    var cap = 256L * 1024
    while (bytes > cap && c < 62) { c += 1; cap = cap * fanout }
    c
  }

  private def compactDirs(spark: SparkSession, store: Path, fs: FileSystem,
      eligible: Seq[(Long, Path)], targetFileBytes: Long,
      onPhase: String => Unit): Option[CompactionStats] = {
    val storePath = store.toString
    if (eligible.isEmpty) return None
    val files = eligible.flatMap { case (_, d) => dataFiles(fs, d) }
    // nothing but bookkeeping markers in every eligible dir: a merge
    // would feed schema-less dirs into the parquet read and crash
    if (files.isEmpty) return None
    val totalBytes = files.map(_._2).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (eligible.size == 1 && files.size <= nOut) return None // already compact

    val segmentId = eligible.head._1
    val runId = java.util.UUID.randomUUID().toString
    // CLAIM: the marker is lease + redo log in one — first writer
    // wins, and its content alone is enough to finish or undo the run
    val manifest = (Seq(runId, segmentId.toString) ++ eligible.map(_._2.getName))
      .mkString("\n")
    if (!Markers.tryCreate(fs, markerPath(store), manifest))
      throw new IllegalStateException(
        s"store $storePath already has a compaction in flight (or a dead " +
          "one's commit marker). If no compactor is live, run " +
          "Compaction.recover to roll it forward/back, then retry")

    // BUILD: under the claim, any leftover scratch is dead garbage.
    // A build failure (corrupt file, resource exhaustion) releases
    // the claim itself — nothing has moved, so rollback is just
    // dropping scratch + marker; without this every failed build
    // would strand the marker and force a manual recover() for a
    // state the claimer can prove is clean.
    val scratch = scratchPath(store)
    try {
      if (fs.exists(scratch)) fs.delete(scratch, true)
      // basePath keeps batch_id a column so one read spans partitions;
      // dropped after — the target DIR name re-derives it
      val merged = spark.read.option("basePath", storePath)
        .parquet(eligible.map(_._2.toString): _*)
        .drop("batch_id")
      // coalesce, not repartition: narrowing file count needs no shuffle
      merged.coalesce(nOut).write.mode("errorifexists").parquet(scratch.toString)
      // gen stamp last = completeness marker; recovery rolls back a
      // scratch that lacks it
      require(Markers.tryCreate(fs, genPath(scratch), runId),
        s"scratch gen stamp already present under claim $runId — " +
          s"another writer is interleaving with $storePath")
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (fs.exists(scratch)) fs.delete(scratch, true)
        fs.delete(markerPath(store), false)
        throw e
    }
    onPhase("built")

    onPhase("swapping")
    finishSwap(fs, store, runId, segmentId, eligible.map(_._2.getName))
    val segDir = new Path(store, s"batch_id=$segmentId")
    val segFiles = dataFiles(fs, segDir)
    // footer row counts: bit-equal to a count() job, zero jobs
    val rows = StoreSchemas.footerRowCount(fs,
      spark.sessionState.newHadoopConf(), segDir)
    Some(CompactionStats(segmentId, eligible.size, files.size.toLong,
      segFiles.size.toLong, rows))
  }

  /** Replayable SWAP: drop the source partitions, move the scratch
    * segment into place, release the marker. Idempotent step by step
    * (delete-if-exists; skip a "source" that is actually this run's
    * already-renamed segment, recognized by its gen stamp; rename
    * only while scratch exists), so recovery re-runs it from any
    * crash point. */
  private def finishSwap(fs: FileSystem, store: Path, runId: String,
      segmentId: Long, sourceNames: Seq[String]): Unit = {
    val target = new Path(store, s"batch_id=$segmentId")
    sourceNames.foreach { n =>
      val p = new Path(store, n)
      // the target's old partition shares the segment's name: delete
      // it only while it is still the OLD data (no gen stamp from
      // this run) — after the rename it IS the output
      if (fs.exists(p) && !(n == target.getName && genOf(fs, p).contains(runId)))
        fs.delete(p, true)
    }
    val scratch = scratchPath(store)
    if (fs.exists(scratch) && !fs.rename(scratch, target))
      throw new IllegalStateException(
        s"could not move compacted segment $scratch -> $target")
    if (!genOf(fs, target).contains(runId))
      throw new IllegalStateException(
        s"compaction state lost on $store: segment batch_id=$segmentId " +
          s"does not carry run $runId — restore from a store backup")
    fs.delete(markerPath(store), false)
  }

  /** Resolve an interrupted [[compact]]: roll FORWARD when the gen
    * stamp proves the build completed (complete scratch, or the
    * segment already renamed into place), roll BACK otherwise —
    * deleting the un-stamped scratch and the marker, sources
    * untouched. With no marker, any stray scratch is dead garbage
    * and is dropped. Returns true when there was anything to do.
    *
    * OPERATOR-invoked by design (a second live compactor and a dead
    * one look identical from here — same reasoning as the resumable
    * CC lease's explicit `breakLease`): call it at job start, never
    * while a compactor may be running against this store. */
  def recover(spark: SparkSession, storePath: String): Boolean = {
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    if (!fs.exists(store)) return false
    val scratch = scratchPath(store)
    Markers.read(fs, markerPath(store)) match {
      case Some(manifest) =>
        val lines = manifest.split("\n").toSeq
        val (runId, segmentId, sources) = (lines.head, lines(1).toLong, lines.drop(2))
        val target = new Path(store, s"batch_id=$segmentId")
        val built = genOf(fs, scratch).contains(runId) ||
          genOf(fs, target).contains(runId)
        if (built) finishSwap(fs, store, runId, segmentId, sources)
        else { // claimed or mid-build: nothing moved yet
          if (fs.exists(scratch)) fs.delete(scratch, true)
          fs.delete(markerPath(store), false)
        }
        true
      case None =>
        if (fs.exists(scratch)) { fs.delete(scratch, true); true } else false
    }
  }

  // ---- driver gate row ------------------------------------------------

  /** Gate query (`x_stream_compaction`): pump the events table into a
    * `batch_id=`-store in six micro-batches, compact the first four
    * into one segment, then aggregate the WHOLE store — hash-matching
    * the same aggregate computed directly over `events` proves the
    * compaction cycle (claim/build/swap included) lost and duplicated
    * nothing. Fresh store per call: rerunning against an
    * already-compacted store would re-add rows the segment holds
    * (exactly the below-watermark replay the real sink can never
    * perform). */
  val compactionGate: (SparkSession, String) => DataFrame = (s, dir) => {
    val store = s"${sys.props("java.io.tmpdir")}/graft_compact/gate_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val sp = new Path(store)
    val fs = fsOf(s, sp)
    if (fs.exists(sp)) fs.delete(sp, true)
    // through the read chokepoint: a TIMESTAMP(NANOS)-encoded ts fails
    // a plain parquet read at schema conversion even though this gate
    // never aggregates ts — the r10 drift class, guarded once in
    // core.Tables for every consumer
    val events = graft.core.Tables.t(s, dir, "events")
    for (b <- 0L until 6L)
      EventStreams.idempotentParquetSink(store)(
        events.filter(pmod(col("event_id"), lit(6)) === b), b)
    compact(s, store, safeBelow = 4L)
    s.read.parquet(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("x_stream_compaction" -> compactionGate)

  val oracles: Map[String, String] = Map(
    "x_stream_compaction" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type""".stripMargin)
}
