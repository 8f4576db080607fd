package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded takedown storage for every grown store's tombstone forest.
  * Two fold modes share one snapshot discipline:
  *   - SET mode ([[fold]]/[[read]]): the ANN codes forest and the
  *     dedup band forest read tombstones purely as an id-set — the
  *     snapshot is the distinct id union.
  *   - ROW mode ([[foldRows]]/[[readRows]], r19): the postings store's
  *     serve-time score corrections compare per-row tombstone batch
  *     ids against sidecar cutoffs, so its snapshot preserves every
  *     column and materializes `batch_id` as a data column — folded
  *     batches keep contributing their exact (retired) correction
  *     rows while the dir count drops to the unfolded tail.
  *
  * The problem: takedowns land as `tombstones/batch_id=<id>/` dirs
  * through the idempotent sink, one dir per request batch, FOREVER —
  * after gen rebasing and hot-store compaction, the last unbounded
  * listing bill in those layouts. The obvious fix — fold old batches
  * with [[Compaction.compact]] — is UNSOUND here: compaction collapses
  * rows onto the lowest folded id's dir, and a replayed/retried
  * `tombstone(ids, thatId)` call would dynamic-overwrite the merged
  * segment with only its own rows, silently shrinking the PERMANENT
  * takedown set (r18 review wave; for the hot stores the same overlap
  * is benign duplication, which is why compact is fine there).
  *
  * The sound shape: a SNAPSHOT outside the `batch_id=` namespace.
  *   - `tombstones_snapshot/v=<n>/` — the distinct union of every
  *     takedown id folded so far, each version carrying a `_covers`
  *     marker = the highest batch id it reflects. Resolve = the
  *     highest stamped version; installs are scratch + one atomic
  *     rename with keep-two-back retention (the r17 sidecar-versioning
  *     discipline), so a reader never sees a half-written snapshot and
  *     one resolved just before a fold survives the fold.
  *   - Readers union the snapshot with only the batch dirs ABOVE its
  *     `_covers` stamp. A replay that recreates a folded dir is
  *     thereby invisible (its rows are already in the snapshot — the
  *     sink contract says a replayed id carries identical content),
  *     and the next fold deletes it again. No write can ever land ON
  *     the snapshot: it is not a batch dir.
  *   - Folds only run over batch ids at or below the store's `_purged`
  *     stamp: those takedowns are fully reflected in the forest (their
  *     rows are physically gone), so the snapshot's only job is the
  *     permanent re-ingest-stays-dead id-set — exactly what a distinct
  *     union preserves.
  *
  * Crash windows: scratch is rebuilt from scratch on retry; a crash
  * between install and source-dir deletion leaves dirs <= `_covers`
  * that readers already exclude and the next fold re-deletes; a crash
  * mid-deletion is the same state. Every step is idempotent, and the
  * whole fold runs under the caller's maintenance window (maintain()
  * invokes it after consolidate/rebase on the same schedule).
  *
  * Reader-vs-fold retention (r19): folded source dirs are deleted ONE
  * FOLD CYCLE LATE — a fold installing v_n deletes only dirs at or
  * below v_{n-1}'s `_covers`, never its own. A reader that resolved
  * v_{n-1} just before the install computes its tail as "dirs above
  * covers_{n-1}", which is exactly the set the install leaves intact;
  * keep-two-back preserves its snapshot dir for the same window. Tail
  * dirs and snapshot versions thereby retire on the SAME schedule: a
  * reader two installs stale is outside the retention contract for
  * both. The lingering covered dirs are invisible to every current
  * read (excluded by `_covers`) and bounded by one fold's intake.
  * Deliberately NOT `ignoreMissingFiles`: for a takedown set, silently
  * dropping files would serve deleted data — a beyond-retention reader
  * must fail loudly instead.
  */
object TombstoneStore {

  import GenForest.{BatchDir, fsOf, numberedDirs}

  private val VerDir = "v=(\\d+)".r

  private def snapRoot(idx: Path) = new Path(idx, "tombstones_snapshot")

  /** Every STAMPED snapshot version, highest first: (v, dir, covers).
    * An unstamped dir is a crashed install — ignored, the next fold's
    * install supersedes it. Lazy: a caller that needs the first one or
    * two reads only their stamps. */
  private def stampedVersions(fs: FileSystem,
      idx: Path): LazyList[(Long, Path, Long)] =
    numberedDirs(fs, snapRoot(idx), VerDir).sortBy(-_._1).to(LazyList).flatMap {
      case (v, p) => graft.core.Markers.read(fs, new Path(p, "_covers"))
        .map(c => (v, p, c.toLong))
    }

  /** The resolved snapshot: the highest stamped version. */
  private def resolveSnapshot(fs: FileSystem,
      idx: Path): Option[(Long, Path, Long)] =
    stampedVersions(fs, idx).headOption

  /** Highest batch id the resolved snapshot reflects; -1 without one. */
  def coveredThrough(spark: SparkSession, indexPath: String): Long = {
    val idx = new Path(indexPath)
    resolveSnapshot(fsOf(spark, idx), idx).map(_._3).getOrElse(-1L)
  }

  /** The `_covers` stamp of the SECOND-highest stamped snapshot
    * version; -1 with fewer than two. Source dirs at or below it are
    * settled debt: no retained snapshot version's reader can need them
    * in its tail (the resolved version covers them; the kept previous
    * version's tail starts above ITS covers = this value). */
  private def priorCovers(fs: FileSystem, idx: Path): Long =
    stampedVersions(fs, idx).drop(1).headOption.map(_._3).getOrElse(-1L)

  /** The resolved snapshot dir and the tombstone batch dirs ABOVE its
    * covered stamp — together, the whole takedown set. */
  private def readParts(fs: FileSystem,
      idx: Path): (Option[String], Seq[String]) = {
    val snap = resolveSnapshot(fs, idx)
    val covers = snap.map(_._3).getOrElse(-1L)
    (snap.map(_._2.toString), numberedDirs(fs, new Path(idx, "tombstones"),
      BatchDir).filter(_._1 > covers).map(_._2.toString))
  }

  /** The full takedown id-set: snapshot (if any) unioned with the
    * batch dirs ABOVE its covered stamp. None when no takedown has
    * ever landed. `idCol` is the store's id column (vec_id / doc_id). */
  def read(spark: SparkSession, indexPath: String,
      idCol: String): Option[DataFrame] = {
    val idx = new Path(indexPath)
    val (snap, tail) = readParts(fsOf(spark, idx), idx)
    val parts = snap.toSeq ++ tail
    if (parts.isEmpty) None
    // only idCol is ever consumed: declaring it as the read schema
    // prunes the scan to that column AND skips the schema-inference
    // job a bare read runs (guide §1 — a per-read one-task job)
    else Some(spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType))))
      .parquet(parts: _*).select(idCol).distinct())
  }

  /** Loud guard for the one contract the snapshot needs from writers:
    * a batch id at or below the snapshot's covered stamp is invisible
    * to every reader (its dir is excluded and will be deleted), so a
    * NEW takedown landed there would be silently dropped — refuse it
    * instead. A RETRY of the original write with that id is refused
    * too, which is safe: its rows are already in the snapshot.
    *
    * The floor also includes the store's `_purged` stamp (r19): an id
    * in (covers, purged] would be ADMITTED by the covers check alone,
    * then folded by the next maintain — hidden at serve, but never
    * force-purged from the forest (`tombstoneState`'s maxBatch>purged
    * check can't see it once the fold deletes the dir), silently
    * skipping the documented physical-purge layer. Requiring
    * id > max(covers, purged) keeps every admitted takedown visible to
    * the purge decision until a rebase has actually purged it. */
  def requireFreshBatchId(spark: SparkSession, indexPath: String,
      batchId: Long): Unit = {
    val idx = new Path(indexPath)
    val fs = fsOf(spark, idx)
    val covers = resolveSnapshot(fs, idx).map(_._3).getOrElse(-1L)
    val purged = GenForest.longMarker(fs, idx, "_purged").getOrElse(-1L)
    val floor = math.max(covers, purged)
    require(batchId > floor,
      s"tombstone batch id $batchId is at or below the store's floor " +
        s"($floor = max(snapshot covers $covers, purge stamp $purged)) at " +
        s"$indexPath — below covers the dir is invisible to readers and " +
        "will be deleted by the next fold; below the purge stamp the " +
        "takedown would fold without ever being physically purged. If " +
        "this is a retry, the original write is already folded in; if it " +
        "is a new takedown, use a fresh (higher) batch id")
  }

  /** Guarded takedown write: claims the index's `_consolidate_commit`
    * lease, runs [[requireFreshBatchId]], lands the batch through the
    * idempotent sink, releases. The lease is what makes the guard
    * sound (r19, the PostingsIngest.tombstoneDocs pattern): without
    * it, a write admitted between a concurrent fold's dir listing and
    * its snapshot install could land a dir the new snapshot neither
    * contains nor tails — the next fold's settle branch would then
    * delete it UNFOLDED, a silently lost takedown. [[fold]] claims the
    * same lease, so guard+write and fold can never interleave.
    *
    * `maxWaitMs` (r20, VERDICT r19 #2) bounds a retry loop on the lease
    * so a takedown issued mid-fold lands WITHOUT caller-side retry
    * code: the write polls until the maintenance window closes or the
    * budget runs out, then fails with the same loud runbook message.
    * Default 0 keeps the original single-attempt contract; the lease
    * discipline itself is unchanged (every attempt is a fresh atomic
    * [[graft.core.Markers.tryCreate]], never a wait-then-assume). */
  def writeGuarded(ids: DataFrame, batchId: Long, indexPath: String,
      maxWaitMs: Long = 0L): Unit = {
    val spark = ids.sparkSession
    val idx = new Path(indexPath)
    val fs = fsOf(spark, idx)
    fs.mkdirs(idx)
    GenForest.withLease(fs, idx, s"tombstone $batchId", "; a tombstone " +
        "committed mid-maintenance can race the snapshot fold's dir " +
        "listing: retry once the lease clears", maxWaitMs) {
      requireFreshBatchId(spark, indexPath, batchId)
      EventStreams.idempotentParquetSink(s"$indexPath/tombstones")(ids, batchId)
    }
  }

  /** Fold every tombstone batch dir with id <= `purged` into the
    * versioned snapshot and delete the folded dirs. No-op when nothing
    * at or below `purged` remains unfolded. Idempotent at every crash
    * point. Runs under the index's `_consolidate_commit` lease — the
    * scratch dir is shared, and two concurrent folds could otherwise
    * interleave on it (one stamping and installing the other's
    * half-written build). */
  def fold(spark: SparkSession, indexPath: String, purged: Long,
      idCol: String, shardBytes: Long = DefaultShardBytes): Unit =
    foldWith(spark, indexPath, purged, shardBytes) { (snapDir, tailDirs) =>
      spark.read.parquet((snapDir.toSeq ++ tailDirs): _*)
        .select(idCol).distinct()
    }

  /** Row-preserving fold variant for the POSTINGS store (r19): its
    * serve-time score corrections read `batch_id`, `dl` and `gen` as
    * DATA (IndexStore.bm25FromIndex compares per-row tombstone batch
    * ids against sidecar cutoffs), so the fold must keep every column
    * and materialize `batch_id` — a dir name in the tail — as a data
    * column in the snapshot. Exact-duplicate rows collapse (every
    * consumer aggregates or distincts), nothing else changes: a folded
    * batch's corrections compute bit-identically because `tb = min
    * (batch_id)` reads the preserved column, not the dir layout. */
  def foldRows(spark: SparkSession, indexPath: String, purged: Long,
      shardBytes: Long = DefaultShardBytes): Unit =
    foldWith(spark, indexPath, purged, shardBytes) { (snapDir, tailDirs) =>
      readRowParts(spark, s"$indexPath/tombstones", snapDir, tailDirs)
        .get.distinct()
    }

  /** The full takedown ROW-set for a row-mode store: snapshot rows
    * (batch_id already a data column) unioned with the tail dirs'
    * rows, `batch_id` cast long everywhere. None when no takedown has
    * ever landed. */
  def readRows(spark: SparkSession, indexPath: String): Option[DataFrame] = {
    val idx = new Path(indexPath)
    val (snap, tail) = readParts(fsOf(spark, idx), idx)
    readRowParts(spark, new Path(idx, "tombstones").toString, snap, tail)
  }

  /** Snapshot ∪ tail as ONE declared-schema read per side: the old
    * per-batch-dir read built a plan (and ran a schema-inference job)
    * per tombstone dir; batch_id arrives as a partition column on the
    * tail (declared long — no cast) and as the materialized data
    * column on the snapshot. */
  private def readRowParts(spark: SparkSession, tombRoot: String,
      snapDir: Option[String], tailDirs: Seq[String]): Option[DataFrame] = {
    val cols = Seq("doc_id", "dl", "gen", "batch_id")
    val parts =
      (if (tailDirs.isEmpty) Nil
       else Seq(spark.read.option("basePath", tombRoot)
         .schema(StoreSchemas.tombTail).parquet(tailDirs: _*)
         .select(cols.map(col): _*))) ++
      snapDir.map(d => spark.read.schema(StoreSchemas.tombSnapshot)
        .parquet(d).select(cols.map(col): _*)).toSeq
    if (parts.isEmpty) None else Some(parts.reduce(_.unionByName(_)))
  }

  /** One snapshot shard per ~128 MB of folded source bytes. Takedown
    * sets are request-bounded (the standing adjudication), so almost
    * every snapshot is one file — but a bulk legal purge (1% of a
    * 100 TB corpus) must not make every subsequent fold rewrite one
    * giant single-task file. Above the threshold the write shards
    * (r20, VERDICT r19 #3); readers already take the version DIR path,
    * so shard count is invisible to them. */
  val DefaultShardBytes: Long = 128L << 20

  private def foldWith(spark: SparkSession, indexPath: String, purged: Long,
      shardBytes: Long)(
      build: (Option[String], Seq[String]) => DataFrame): Unit = {
    val idx = new Path(indexPath)
    val fs = fsOf(spark, idx)
    GenForest.withLease(fs, idx, s"tombstone-fold $purged")(
      foldUnderLease(spark, idx, fs, purged, shardBytes, build))
  }

  private def foldUnderLease(spark: SparkSession, idx: Path,
      fs: FileSystem, purged: Long, shardBytes: Long,
      build: (Option[String], Seq[String]) => DataFrame): Unit = {
    val snap = resolveSnapshot(fs, idx)
    val covers = snap.map(_._3).getOrElse(-1L)
    val foldable = numberedDirs(fs, new Path(idx, "tombstones"), BatchDir)
      .filter { case (id, _) => id <= purged }
    if (foldable.forall(_._1 <= covers) &&
        (foldable.isEmpty || snap.nonEmpty)) {
      // nothing new to fold; still settle covered dirs left by prior
      // folds — but only those at or below the SECOND-highest
      // snapshot's covers (the deferred-deletion retention: a reader
      // holding the kept previous version needs its tail intact)
      val settled = priorCovers(fs, idx)
      foldable.filter(_._1 <= settled).foreach(d => fs.delete(d._2, true))
      return
    }
    val newCovers = math.max(covers, foldable.map(_._1).max)
    val scratch = new Path(idx, ".tomb-snap-scratch")
    if (fs.exists(scratch)) fs.delete(scratch, true)
    // size-thresholded shard count (r20): one file per shardBytes of
    // SOURCE bytes (snapshot + foldable dirs — an upper bound on the
    // distinct output, so shards can only run small). Request-bounded
    // takedown sets stay a single coalesced file; a bulk purge shards
    // so no later fold serializes through one giant write task. Capped
    // to keep a corrupt content summary from exploding the task count.
    val srcBytes = (snap.map(_._2).toSeq ++ foldable.map(_._2))
      .map(p => fs.getContentSummary(p).getLength).sum
    val nShards = math.min(
      math.max(1L, (srcBytes + shardBytes - 1) / shardBytes), 1L << 14).toInt
    val folded = build(snap.map(_._2.toString),
      foldable.map(_._2.toString).distinct)
    (if (nShards == 1) folded.coalesce(1) else folded.repartition(nShards))
      .write.mode("errorifexists").parquet(scratch.toString)
    // stamp INSIDE the scratch before the rename: the stamp travels
    // with the dir, so an installed-but-unstamped version is
    // recognizable as a crashed install and never resolves
    graft.core.Markers.forceWrite(fs, new Path(scratch, "_covers"),
      newCovers.toString)
    // next version = past EVERY existing v dir, stamped or not: Hadoop
    // rename into an existing dir moves the source INSIDE it, so
    // renaming onto an unstamped orphan (external damage) would
    // install an unresolvable snapshot and the source deletion below
    // would then lose the folded ids from every read
    val nextV = (numberedDirs(fs, snapRoot(idx), VerDir).map(_._1) :+ -1L).max + 1
    fs.mkdirs(snapRoot(idx))
    require(fs.rename(scratch, new Path(snapRoot(idx), s"v=$nextV")),
      s"failed to install tombstone snapshot v=$nextV at $idx")
    // retention: keep the two highest STAMPED versions (a reader that
    // resolved the previous one just before this install scans a
    // complete snapshot); everything else — older stamped versions and
    // unstamped orphans alike — is settled debt, safe to delete under
    // the lease
    val keep = stampedVersions(fs, idx).take(2).map(_._1).toSet
    numberedDirs(fs, snapRoot(idx), VerDir)
      .filterNot(d => keep.contains(d._1)).foreach(d => fs.delete(d._2, true))
    // sources last, ONE FOLD CYCLE LATE (r19): delete only dirs at or
    // below the PREVIOUS snapshot's covers — a reader that resolved
    // v_{n-1} just before this install needs its tail (dirs above
    // covers_{n-1}) intact, exactly as keep-two-back preserves its
    // snapshot dir. The dirs this fold just folded stay on disk —
    // invisible to every current read — until the NEXT install retires
    // them together with v_{n-1}. A crash before this point leaves
    // strictly more dirs, all excluded; the next fold settles them.
    foldable.filter(_._1 <= covers).foreach(d => fs.delete(d._2, true))
  }
}
