package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The lifecycle kernel of the `gen=` generation-forest stores — the
  * postings forest ([[PostingsIngest]], pb-partitioned), the ANN codes
  * forest ([[AnnIngest]], cell-partitioned), the dedup band forest
  * ([[DedupIngest]], pbh-partitioned) and the LSH bucket forest
  * ([[VecIngest]], pb-partitioned). Every store runs the SAME
  * hardened lifecycle, defined once here:
  *   - hot-batch visibility and the stamped consolidation watermark
  *     (`_through`, [[consolidatedThrough]]); the hot tail above it
  *     ([[hotTail]]) is what a probe reads beside the forest;
  *   - for stores a stream writes, consolidation capped below the
  *     stream checkpoint's replay watermark, so a batch that can still
  *     replay never enters a generation;
  *   - the `_consolidate_commit` lease ([[withLease]]) every mutating
  *     phase takes, takedown writes included;
  *   - the tombstone state probe ([[tombState]]: tombstone batches on
  *     disk against the `_purged` stamp);
  *   - incremental [[consolidate]]: watermark check, recovery-state
  *     guards, floor = max(watermark, max gen on disk), structural mod
  *     stamp, build into scratch with the tombstone anti-join, install
  *     by rename, watermark written LAST;
  *   - the purging rebase wrapper ([[purge]]) around the fold-and-swap
  *     skeleton ([[rebase]]), stamping `_purged` after the fold;
  *   - the [[maintain]] runbook: consolidate, rebase on gen count or
  *     unpurged takedowns, tiered hot-store compaction below the
  *     watermark, then the tombstone snapshot fold.
  *
  * A store is only its [[Layout]] (row schemas, partition key, the
  * placement transform) plus plain function arguments for the steps
  * only it has: the ANN quantizer training, the postings sidecars, the
  * dedup `_bytes` stamp.
  *
  * Rebase contract: fold EVERY generation under `indexPath/forestName`
  * into one base gen keyed by `max(wm, max gen id on disk)` — the caller
  * supplies its stamped consolidation watermark, but a consolidation
  * that crashed after its gen rename and before its watermark write
  * legitimately leaves a generation NEWER than the watermark, and
  * folding that gen under the watermark's id would make the next
  * consolidate (whose floor is max(watermark, maxGen) = watermark)
  * re-fold the batches it covers, silently duplicating rows. Keying
  * the fold at the max closes that window: the next consolidate's
  * floor lands exactly on the fold id. The swap replaces the whole
  * forest in two renames (old → trash, scratch → live); a crash
  * anywhere is settled by re-running — the recovery prologue rolls a
  * stamped scratch FORWARD and an unstamped one BACK before any new
  * work. [[consolidate]] refuses to run while the recovery dirs exist,
  * or a fresh gen could recreate the root and strand the real forest
  * in the trash dir. */
object GenForest {

  private[streaming] val BatchDir = "batch_id=(\\d+)".r
  private[streaming] val GenDir = "gen=(\\d+)".r

  /** One store's shape as the kernel sees it.
    *
    * `hot`: the hot store's `batch_id=` roots under the store path. The
    * head root holds the rows a generation folds (read with
    * `hotSchema`); every root's batch ids count toward the watermark
    * (an idle postings batch writes a stats row but no postings dir).
    * `modStamp`: the structural marker of a hashed partition key
    * (`_pb_mod`), stamped once at index birth; None when the key is
    * carried by the rows themselves. `place` derives the partition
    * column under that modulus (and shapes the write); it runs on new
    * rows at consolidate and on the tombstone-purged forest at rebase.
    * `srcGens`: rows carry `src_gen` and gen dirs carry `_gens`
    * tombstone cutoffs (the as-of-serving stores). `rowTombstones`:
    * takedowns are correction ROWS ([[TombstoneStore.foldRows]]), not
    * an id-set. */
  private[streaming] final case class Layout(owner: String,
      hot: Seq[String], hotSchema: StructType,
      forest: String, forestSchema: StructType,
      partitionCol: String, idCol: String,
      modStamp: Option[String], srcGens: Boolean, rowTombstones: Boolean,
      place: (DataFrame, Int) => DataFrame)

  private[streaming] def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private[streaming] def numberedDirs(fs: FileSystem, root: Path,
      pat: scala.util.matching.Regex): Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty else numbered(fs.listStatus(root).toSeq, pat)

  /** The `pat`-named directories of a listing already in hand, by id. */
  private[streaming] def numbered(listing: Seq[FileStatus],
      pat: scala.util.matching.Regex): Seq[(Long, Path)] =
    listing.flatMap { s =>
      s.getPath.getName match {
        case pat(id) if s.isDirectory => Some(id.toLong -> s.getPath)
        case _                        => None
      }
    }

  private[streaming] def longMarker(fs: FileSystem, idx: Path,
      name: String): Option[Long] =
    graft.core.Markers.read(fs, new Path(idx, name)).map(_.toLong)

  /** The index's stamped consolidation watermark: every store batch
    * with `batch_id <= through` is already folded into the forest.
    * None = no consolidation has completed at this path yet. */
  def consolidatedThrough(spark: SparkSession, indexPath: String): Option[Long] = {
    val idx = new Path(indexPath)
    longMarker(fsOf(spark, idx), idx, "_through")
  }

  /** Tombstone batch ids on disk and the `_purged` stamp, from ONE
    * listing: a rebase must stamp exactly what it saw before folding —
    * re-listing after the fold would mark a concurrently landed
    * tombstone batch purged without it ever being folded. */
  private[streaming] final case class Tombs(batches: Seq[Long], purged: Long) {
    def max: Option[Long] = batches.maxOption
    def unpurged: Int = batches.count(_ > purged)
    /** The tombstone watermark a read of the takedown set reflects now.
      * The listing max alone understates it once maintain has folded
      * purged batches into the snapshot: the `_purged` floor restores
      * it (those takedowns are anti-joined by every read too). */
    def cutoff: Long = math.max(max.getOrElse(-1L), purged)
  }

  private[streaming] def tombState(fs: FileSystem, idx: Path): Tombs =
    Tombs(numberedDirs(fs, new Path(idx, "tombstones"), BatchDir).map(_._1),
      longMarker(fs, idx, "_purged").getOrElse(-1L))

  /** The store's takedown set as the anti-join side: the id column of
    * the row-mode snapshot ∪ tail, or the id-set union. */
  private[streaming] def tombstones(spark: SparkSession, indexPath: String,
      layout: Layout): Option[DataFrame] =
    if (layout.rowTombstones)
      TombstoneStore.readRows(spark, indexPath).map(_.select(layout.idCol))
    else TombstoneStore.read(spark, indexPath, layout.idCol)

  /** Drop tombstoned ids. Takedown sets are request-bounded, so the
    * anti-join broadcasts. */
  private[streaming] def hide(df: DataFrame, tombs: Option[DataFrame],
      idCol: String): DataFrame =
    tombs.fold(df)(t => df.join(broadcast(t), Seq(idCol), "left_anti"))

  /** Run `body` holding the index's `_consolidate_commit` lease — the
    * one mutual-exclusion window of every consolidation, rebase, fold
    * and takedown write. `tag` is recorded in the marker; `why` explains
    * the refusal to the caller; `maxWaitMs` polls a held lease before
    * refusing (0 = one attempt). Phases are individually idempotent, so
    * the lease is always released: a failed run is finished by calling
    * it again. */
  private[streaming] def withLease[T](fs: FileSystem, idx: Path, tag: String,
      why: String = "", maxWaitMs: Long = 0L)(body: => T): T = {
    val claim = new Path(idx, "_consolidate_commit")
    if (!graft.core.Markers.tryCreateWithin(fs, claim,
        s"${java.util.UUID.randomUUID()}\n$tag", maxWaitMs))
      throw new IllegalStateException(
        s"index $idx already has a consolidation/rebase/takedown in flight " +
          s"(or a dead one's marker)$why — if no maintainer or writer is " +
          s"live, delete $claim and re-run (every phase is idempotent)")
    try body finally fs.delete(claim, false)
  }

  /** On-disk format guard, shared by every rebase/consolidate entry:
    * recovery dirs gained a -<forest> suffix in r16 — unsuffixed dirs
    * mean a rebase from a PRE-suffix revision crashed mid-swap here,
    * and this revision cannot tell which forest the recovery state
    * belongs to; proceeding could recreate the root and silently
    * strand the real forest in the old trash. */
  private def requireNoLegacyRecoveryDirs(fs: FileSystem,
      idx: Path): Unit =
    require(!fs.exists(new Path(idx, ".rebase-scratch")) &&
        !fs.exists(new Path(idx, ".rebase-old")),
      s"index at $idx carries rebase recovery state from an " +
        "older revision (unsuffixed .rebase-scratch/.rebase-old) — " +
        "finish that rebase with the revision that started it, or if " +
        "the live forest is intact, delete the legacy dirs first")

  /** True iff `dir` holds at least one real data file (recursively,
    * skipping `_`/`.`-prefixed bookkeeping). A consolidation whose
    * rows were ALL filtered away (e.g. a batch containing only
    * tombstoned ids) still writes a dir with a `_SUCCESS` marker and
    * nothing else — installing it as a generation would later blow up
    * every whole-forest read with UNABLE_TO_INFER_SCHEMA, so builders
    * check this and skip the install instead. */
  private[graft] def hasDataFiles(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { s =>
      val n = s.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) false
      else if (s.isDirectory) hasDataFiles(fs, s.getPath)
      else true
    }

  /** The explicit probe leaf dirs `forest/gen=<g>/<name>` for the
    * partition `names` a probe touches, over the gens `keep` admits —
    * file discovery costs O(gens x probed partitions), not O(index
    * dirs). */
  private[streaming] def leafDirs(fs: FileSystem, indexPath: String,
      forest: String, names: Set[String],
      keep: (Long, Path) => Boolean = (_, _) => true): Seq[String] =
    numberedDirs(fs, new Path(indexPath, forest), GenDir)
      .filter(keep.tupled)
      .flatMap { case (_, gp) =>
        fs.listStatus(gp).toSeq
          .map(_.getPath.getName).filter(names.contains)
          .map(n => s"$indexPath/$forest/${gp.getName}/$n")
      }

  // ---- per-generation source metadata ---------------------------------

  /** Each forest gen dir may carry a `_gens` marker: one line per
    * SOURCE generation folded into it — "srcGen cutoff", where cutoff
    * is the tombstone-batch watermark whose takedowns are REFLECTED
    * (absent) in that source generation's rows (-1 = none were). A
    * fresh consolidation writes one line for itself; a rebase fold
    * writes the union of its inputs' maps, so source-generation
    * identity (and thus as-of serving and per-src-gen sidecars)
    * survives physical compaction. Dirs without the marker read as
    * the singleton {dirGen -> -1}. */
  private[graft] def readGensMarker(fs: FileSystem, genDir: Path,
      dirGen: Long): Map[Long, Long] =
    graft.core.Markers.read(fs, new Path(genDir, "_gens")) match {
      case None => Map(dirGen -> -1L)
      case Some(s) => s.linesIterator.map { line =>
        val parts = line.trim.split("\\s+")
        parts(0).toLong -> parts(1).toLong
      }.toMap
    }

  private[graft] def writeGensMarker(fs: FileSystem, genDir: Path,
      m: Map[Long, Long]): Unit =
    graft.core.Markers.forceWrite(fs, new Path(genDir, "_gens"),
      m.toSeq.sorted.map { case (g, c) => s"$g $c" }.mkString("\n"))

  /** Union of the forest's per-dir source maps: srcGen → cutoff. */
  private[graft] def srcGens(fs: FileSystem, genRoot: Path): Map[Long, Long] =
    numberedDirs(fs, genRoot, GenDir).flatMap { case (g, p) =>
      readGensMarker(fs, p, g)
    }.toMap

  // ---- consolidate ----------------------------------------------------

  /** The rows of the given hot head-root batch dirs — the explicit path
    * list IS the physical touch set. */
  private[streaming] def readHot(spark: SparkSession, path: String,
      layout: Layout, batches: Seq[(Long, Path)]): DataFrame =
    spark.read.option("basePath", s"$path/${layout.hot.head}")
      .schema(layout.hotSchema)
      .parquet(batches.map(_._2.toString): _*)
      .drop("batch_id")

  /** The id every hot batch at or below is already folded: the stamped
    * watermark, or the highest generation on disk when a consolidation
    * crashed after its gen rename and before its watermark write. */
  private def genFloor(fs: FileSystem, idx: Path, layout: Layout,
      wm: Long): Long =
    math.max(wm, numberedDirs(fs, new Path(idx, layout.forest), GenDir)
      .map(_._1).maxOption.getOrElse(-1L))

  /** The hot head root's rows no generation holds yet — the batches
    * above the consolidation floor — minus the in-flight batch
    * `exclude`: a replayed batch whose first attempt already landed
    * must not match itself. None when no such batch exists. A probe
    * reads this beside the (pruned) forest. */
  private[streaming] def hotTail(spark: SparkSession, path: String,
      indexPath: String, layout: Layout, exclude: Long): Option[DataFrame] = {
    val idx = new Path(indexPath)
    val fs = fsOf(spark, idx)
    val floor = genFloor(fs, idx, layout, longMarker(fs, idx, "_through").getOrElse(-1L))
    val tail = numberedDirs(fs, new Path(s"$path/${layout.hot.head}"), BatchDir)
      .filter { case (id, _) => id > floor && id != exclude }
    if (tail.isEmpty) None else Some(readHot(spark, path, layout, tail))
  }

  /** Offline maintenance, INCREMENTAL: fold only hot batches newer than
    * the stamped watermark into exactly one new `gen=<through>`
    * generation; prior gens stay byte-untouched.
    *
    * Crash discipline (roll FORWARD by idempotence, no redo log): the
    * lease serializes every mutating phase; each phase is keyed by its
    * own durable completion evidence (gen dir exists → skip build;
    * store-side sidecars key themselves; watermark written LAST), so a
    * crashed run is finished by calling consolidate again. The build
    * floor is the watermark OR the highest generation already on disk,
    * whichever is later — a run that crashed after its gen rename but
    * before the watermark write leaves maxGen > watermark, and folding
    * from the watermark again would duplicate every batch that gen
    * covers.
    *
    * Store steps: `underLease` runs first under the lease (given the
    * hot head root's batch dirs — the ANN quantizer training);
    * `encode` maps the tombstone-filtered new rows to forest rows;
    * `beforeWatermark` runs after the install (the postings sidecar
    * reconcile, the dedup size stamp). `mod` is checked against — or
    * stamped as — the layout's structural `modStamp`: gens already on
    * disk were hashed with it.
    *
    * `checkpointDir`: the checkpoint of the stream that writes the hot
    * store. Consolidation then stops below its replay watermark
    * ([[Compaction.safeBelowFromCheckpoint]]): a batch that can still
    * replay never enters a generation, so its replay — which probes
    * the forest — never matches its own rows. None = no cap. */
  private[streaming] def consolidate(spark: SparkSession, path: String,
      indexPath: String, layout: Layout, mod: Int = 0,
      underLease: (FileSystem, Path, Seq[(Long, Path)]) => Unit = (_, _, _) => (),
      encode: DataFrame => DataFrame = identity,
      beforeWatermark: (FileSystem, Path) => Unit = (_, _) => (),
      checkpointDir: Option[String] = None): Unit = {
    val idx = new Path(indexPath)
    val fs = fsOf(spark, idx)
    val below = checkpointDir.fold(Long.MaxValue)(
      Compaction.safeBelowFromCheckpoint(spark, _))
    val hot = layout.hot.map(h =>
      numberedDirs(fs, new Path(s"$path/$h"), BatchDir).filter(_._1 < below))
    val allIds = hot.flatten.map(_._1).distinct
    if (allIds.isEmpty) return
    val through = allIds.max
    val prev = consolidatedThrough(spark, indexPath).getOrElse(-1L)
    if (through <= prev) return
    val genRoot = new Path(idx, layout.forest)
    // a flat one-shot layout (partition dirs at the top level, e.g.
    // IndexStore.buildPostingsIndex) cannot be grown in place: mixing
    // it with gen= dirs gives the reader inconsistent partition depths
    // and this run no way to know what the flat data covers
    require(numberedDirs(fs, genRoot, s"${layout.partitionCol}=(\\d+)".r).isEmpty,
      s"index at $indexPath has the flat one-shot ${layout.forest} layout — " +
        "point incremental consolidation at a fresh indexPath (or " +
        "rebuild); it cannot be mixed with gen= generations")
    // a crashed rebase may hold the REAL forest in its recovery dirs;
    // consolidating on top of the partial view would strand that data
    // (a fresh gen recreates the root, and the rebase retry would then
    // skip its recovery branch). Finish the rebase first.
    require(!fs.exists(new Path(idx, s".rebase-scratch-${layout.forest}")) &&
        !fs.exists(new Path(idx, s".rebase-old-${layout.forest}")),
      s"index at $indexPath has rebase recovery state pending — run " +
        s"${layout.owner}.rebase to settle it before consolidating")
    requireNoLegacyRecoveryDirs(fs, idx)
    val floor = genFloor(fs, idx, layout, prev)
    val newBatches = hot.head.filter(_._1 > floor).sortBy(_._1)
    fs.mkdirs(idx)
    layout.modStamp.foreach { name =>
      val stamp = new Path(idx, name)
      if (!graft.core.Markers.tryCreate(fs, stamp, mod.toString)) {
        val stamped = graft.core.Markers.read(fs, stamp).get.toInt
        require(stamped == mod,
          s"index at $indexPath was built with ${name.drop(1)}=$stamped " +
            s"(partition key mod $stamped); an incremental run cannot " +
            s"switch to mod $mod — rebuild the index")
      }
    }
    withLease(fs, idx, through.toString) {
      underLease(fs, idx, hot.head)
      // BUILD the new gen — reads EXACTLY the new batch dirs (the
      // explicit path list IS the physical touch set), lands via
      // scratch + rename so readers never see a half-written gen.
      // newBatches can be empty even with through > floor (trailing
      // batches were idle windows): nothing to build then, but the
      // forest root still must exist for serving.
      val genDir = new Path(genRoot, s"gen=$through")
      if (newBatches.nonEmpty && !fs.exists(genDir)) {
        val scratch = new Path(idx, s".${layout.forest}-scratch")
        if (fs.exists(scratch)) fs.delete(scratch, true)
        // the tombstone watermark this encode reflects — the gen's
        // `_gens` cutoff, inherited by rows derived from it; the lease
        // guarantees the listing cannot go stale mid-run
        val cutoff = if (layout.srcGens) tombState(fs, idx).cutoff else -1L
        // tombstoned ids never enter a fresh generation (their rows in
        // PRIOR gens stay until the purging rebase; serve hides them)
        val rows = encode(hide(readHot(spark, path, layout, newBatches),
          tombstones(spark, indexPath, layout), layout.idCol))
        // row-level source identity: survives rebase folds, keys the
        // sidecars and scopes as-of row filters — the dir-level gen
        // partition column alone dies at the first fold
        layout.place(
            if (layout.srcGens) rows.withColumn("src_gen", lit(through)) else rows,
            mod)
          .write.mode("errorifexists").partitionBy(layout.partitionCol)
          .parquet(scratch.toString)
        // the anti-join can empty a NONEMPTY batch (all ids
        // tombstoned) — an all-marker gen dir must not be installed
        if (!hasDataFiles(fs, scratch)) fs.delete(scratch, true)
        else {
          if (layout.srcGens) writeGensMarker(fs, scratch, Map(through -> cutoff))
          fs.mkdirs(genRoot)
          require(fs.rename(scratch, genDir),
            s"failed to install consolidated generation at $genDir")
        }
      }
      fs.mkdirs(genRoot)
      beforeWatermark(fs, idx)
      // WATERMARK last — the run's single durable commit point
      graft.core.Markers.forceWrite(fs, new Path(idx, "_through"), through.toString)
    }
  }

  // ---- rebase ---------------------------------------------------------

  /** The purging rebase: fold the forest to one generation via
    * [[rebase]], dropping every tombstoned row. A purge is a LOSSY fold,
    * so it runs even on a single-gen forest — but only while tombstone
    * batches newer than the `_purged` stamp exist, or every later
    * rebase would re-fold the whole forest forever against a permanent
    * (never-shrinking) set. The stamp lands AFTER the fold (a crash in
    * between re-folds on retry, never the reverse), recording the
    * PRE-fold listing's max ([[Tombs]]).
    *
    * The WHOLE rebase runs under the index lease: tombstone commits are
    * serialized out of every phase window, so the fold, the store's
    * derived state and the purge stamp can never disagree about which
    * takedowns they reflect. `beforeFold` (given the purge watermark)
    * runs only for a purge; `afterFold` always. */
  private[streaming] def purge(spark: SparkSession, indexPath: String,
      layout: Layout,
      beforeFold: (FileSystem, Path, Long) => Unit = (_, _, _) => (),
      afterFold: (FileSystem, Path) => Unit = (_, _) => ()): Unit = {
    val idx = new Path(indexPath)
    val fs = fsOf(spark, idx)
    val wm = consolidatedThrough(spark, indexPath).getOrElse(
      throw new IllegalStateException(
        s"index at $indexPath has no consolidation watermark — nothing to rebase"))
    val mod = layout.modStamp.fold(0)(longMarker(fs, idx, _).get.toInt)
    val tombs = tombstones(spark, indexPath, layout)
    val state = tombState(fs, idx)
    val unpurged = state.unpurged > 0
    withLease(fs, idx, s"rebase $wm") {
      if (unpurged) beforeFold(fs, idx, state.max.get)
      rebase(spark, indexPath, forestName = layout.forest, wm = wm,
        partitionCols = Seq(layout.partitionCol), forceFold = unpurged,
        foldCutoff = if (unpurged && layout.srcGens) state.max else None,
        schema = layout.forestSchema) { forest =>
        // a hashed key is re-derived (stable under the stamped mod);
        // src_gen (a data column) rides through untouched
        val base = forest.drop("gen")
        val keyless =
          if (layout.modStamp.isEmpty) base else base.drop(layout.partitionCol)
        layout.place(hide(keyless, tombs, layout.idCol), mod)
      }
      afterFold(fs, idx)
      if (unpurged) graft.core.Markers.forceWrite(fs,
        new Path(idx, "_purged"), state.max.get.toString)
    }
  }

  /** The fold-and-swap skeleton. `fold` receives the whole-forest frame
    * (with `gen` and the layout's partition columns as readback
    * columns) and returns the frame to lay out as the single base
    * generation; it must drop `gen` itself (and re-derive any hashed
    * partition key with the store's stamped parameters). Row-level
    * source identity is the STORE's concern: forests that serve as-of
    * reads carry a `src_gen` data column their fold must preserve.
    *
    * `forceFold`: fold even a single-generation forest. Without it a
    * single gen is left alone (a pure layout fold of one gen is a
    * no-op), but a LOSSY fold — one whose `fold` drops rows, e.g. a
    * tombstone purge — must run regardless of generation count, or a
    * single-gen index would silently never purge.
    *
    * `foldCutoff`: a purging fold reflects every tombstone batch up
    * to this watermark in EVERY source generation's surviving rows —
    * the folded dir's `_gens` marker records it as each src gen's new
    * cutoff. None (pure layout fold) carries the inputs' cutoffs
    * through unchanged.
    *
    * `schema`: the forest's declared read schema (data + readback
    * partition columns) — skips the whole-forest schema-inference job
    * a bare read runs.
    *
    * The caller holds the index's `_consolidate_commit` lease ([[purge]]
    * runs every phase of a rebase under one lease window). */
  private def rebase(spark: SparkSession, indexPath: String,
      forestName: String,
      wm: Long, partitionCols: Seq[String], forceFold: Boolean,
      foldCutoff: Option[Long], schema: StructType)(
      fold: DataFrame => DataFrame): Unit = {
    val idx = new Path(indexPath)
    val fs = fsOf(spark, idx)
    requireNoLegacyRecoveryDirs(fs, idx)
    val genRoot = new Path(idx, forestName)
    val scratch = new Path(idx, s".rebase-scratch-$forestName")
    val trash = new Path(idx, s".rebase-old-$forestName")
    val done = new Path(scratch, "_complete")
    // RECOVER a crashed swap before anything else: the forest can be
    // mid-flight between trash and scratch. Forward when the scratch
    // carries its completeness stamp, back (restore trash) otherwise.
    if (!fs.exists(genRoot)) {
      if (fs.exists(scratch) && graft.core.Markers.read(fs, done).nonEmpty)
        require(fs.rename(scratch, genRoot),
          s"failed to roll a crashed rebase forward at $genRoot")
      else if (fs.exists(trash)) {
        require(fs.rename(trash, genRoot),
          s"failed to roll a crashed rebase back at $genRoot")
        if (fs.exists(scratch)) fs.delete(scratch, true)
      } else throw new IllegalStateException(
        s"forest missing at $genRoot with no rebase recovery " +
          "state — the index is damaged beyond what rebase can repair")
    }
    fs.delete(trash, true) // forest is live; any trash is settled debt
    fs.delete(new Path(genRoot, "_complete"), false)
    val gens = numberedDirs(fs, genRoot, GenDir)
    if (gens.isEmpty) return
    if (gens.size == 1 && !forceFold) return // already one generation
    // fold key: max(watermark, max gen on disk) — see the object doc
    val foldId = math.max(wm, gens.map(_._1).max)
    // source metadata captured from the LIVE dirs before anything
    // moves; a purging fold advances every src gen's cutoff
    val srcMap0 = gens.flatMap { case (g, p) => readGensMarker(fs, p, g) }.toMap
    val srcMap = foldCutoff match {
      case Some(c) => srcMap0.map { case (g, old) => g -> math.max(old, c) }
      case None    => srcMap0
    }
    // BUILD: one partitioned copy of the whole forest under
    // scratch/gen=<foldId>, completeness proven by the stamp write
    if (graft.core.Markers.read(fs, done).isEmpty) {
      if (fs.exists(scratch)) fs.delete(scratch, true)
      val genOut = new Path(scratch, s"gen=$foldId")
      fold(spark.read.schema(schema).parquet(genRoot.toString))
        .write.mode("errorifexists").partitionBy(partitionCols: _*)
        .parquet(genOut.toString)
      // a lossy fold can empty the WHOLE forest (total takedown):
      // swap in an empty root — zero generations, the same state as
      // a consolidated-but-all-idle index — rather than a gen dir
      // holding only markers, which breaks every whole-forest read
      if (!hasDataFiles(fs, genOut)) {
        fs.delete(genOut, true)
        fs.mkdirs(scratch)
      } else writeGensMarker(fs, genOut, srcMap)
      graft.core.Markers.forceWrite(fs, done, foldId.toString)
    }
    // SWAP: forest → trash, scratch → forest, settle. Any crash in
    // here lands in one of the recovery branches above.
    require(fs.rename(genRoot, trash), s"failed to retire $genRoot")
    require(fs.rename(scratch, genRoot),
      s"failed to install rebased forest at $genRoot")
    fs.delete(new Path(genRoot, "_complete"), false)
    fs.delete(trash, true)
  }

  // ---- maintain -------------------------------------------------------

  /** One-call maintenance runbook: consolidate whatever is new, rebase
    * when the generation count passes `rebaseAtGens` OR
    * `purgeAtBatches` tombstone batches are unpurged, compact the hot
    * store below the watermark (the only compaction range the
    * consolidation floor allows), run the store's `afterCompact` step,
    * then fold purged tombstone batches into the snapshot. Every step
    * is independently idempotent and crash-safe, so a scheduler can
    * fire this blindly on a timer.
    *
    * `purgeAtBatches` amortizes the PURGING rebase, which costs O(live
    * forest): k > 1 pays it once per k tombstone batches. Serve-side
    * hiding stays immediate from the tombstone commit regardless; only
    * the physical-deletion lag grows, bounded by k cycles, and the
    * post-maintain tombstone dir count by 2k-1 (one fold's k-dir
    * intake retired one fold late, plus up to k-1 fresh batches).
    *
    * The hot store compacts TIERED, not full: a blind timer calling
    * full compact rewrites the whole committed hot store EVERY cycle;
    * the size-tiered fold is amortized O(log corpus) rewrites per row
    * with O(log) dirs.
    *
    * The TOMBSTONE-DIR bound: the takedown forest grows one `batch_id=`
    * dir per request batch forever. Batches at or below the purge stamp
    * fold into the out-of-namespace [[TombstoneStore]] snapshot — NOT
    * via Compaction.compact, whose collapsed segment a replayed
    * tombstone write could dynamic-overwrite, silently shrinking the
    * permanent set. Id-set stores fold the distinct id union; the
    * postings store, whose serve-time corrections read batch ids as
    * DATA, folds with the row-preserving variant. */
  private[streaming] def maintain(spark: SparkSession, path: String,
      indexPath: String, layout: Layout, rebaseAtGens: Int,
      purgeAtBatches: Int, consolidate: () => Unit, rebase: () => Unit,
      afterCompact: (FileSystem, Path) => Unit = (_, _) => ()): Unit = {
    require(purgeAtBatches >= 1,
      s"purgeAtBatches must be >= 1, got $purgeAtBatches")
    consolidate()
    val idx = new Path(indexPath)
    val fs = fsOf(spark, idx)
    val gens = numberedDirs(fs, new Path(idx, layout.forest), GenDir).size
    if (gens > rebaseAtGens || tombState(fs, idx).unpurged >= purgeAtBatches)
      rebase()
    consolidatedThrough(spark, indexPath).foreach { wm =>
      def tier(h: String): Unit =
        Compaction.compactTiered(spark, s"$path/$h", safeBelow = wm + 1)
      layout.hot match {
        // disjoint dirs with their own claim markers — overlap their
        // folds (guide §2.6)
        case Seq(a, b) => graft.core.Par.both(tier(a), tier(b))
        case hs        => hs.foreach(tier)
      }
    }
    afterCompact(fs, idx)
    longMarker(fs, idx, "_purged").foreach { p =>
      if (layout.rowTombstones) TombstoneStore.foldRows(spark, indexPath, p)
      else TombstoneStore.fold(spark, indexPath, p, layout.idCol)
    }
  }
}
