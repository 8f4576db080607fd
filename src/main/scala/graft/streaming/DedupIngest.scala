package graft.streaming

import graft.operators.Dedup
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Growing MinHash band store — dedup-on-ingest, the third index the
  * grow/consolidate/serve discipline covers (lexical postings via
  * [[PostingsIngest]], dense codes via [[AnnIngest]], near-dup bands
  * here). The daily-crawl shape: each arriving batch is (a) checked
  * for near-duplicates AGAINST everything ingested before it and
  * (b) added to the index, without ever re-shingling or re-signing
  * the corpus — [[graft.operators.Dedup.minhashLshIncrementalIndexed]]
  * supplied the probe; this module makes its corpus-bands side a
  * store that grows forever and honors takedowns.
  *
  * Streaming dedup-on-ingest ([[start]] / [[dedupBatch]]) is a
  * foreachBatch adapter over the same store: each micro-batch probes
  * the pruned forest plus the hot tail above the watermark, minus its
  * own batch id, then writes its verified pairs, its docs and its
  * bands, each into its own `batch_id=` partition — so a replayed
  * batch changes nothing. Its consolidation must be capped below the
  * stream checkpoint's replay watermark ([[consolidate]] refuses it
  * uncapped): no generation ever holds a batch that can still
  * replay.
  *
  * Layout (the [[PostingsIngest]] discipline end to end):
  *   - hot store `path/bands/batch_id=<id>/` — (doc_id, band, bh)
  *     minhash band rows per micro-batch through the exactly-once
  *     [[EventStreams.idempotentParquetSink]] (replays overwrite only
  *     themselves), beside the adapter's `path/docs/` and
  *     `path/pairs/`; [[Compaction.compact]] may fold them below the
  *     index watermark, never past it;
  *   - `indexPath/bands/gen=<through>/pbh=<p>/` — the band forest:
  *     each consolidation folds ONLY store batches newer than the
  *     stamped watermark into one new generation (floor =
  *     max(watermark, max gen on disk) closes the crashed-watermark
  *     window), partitioned by `pbh = xxhash64(band, bh) mod M`
  *     stamped once at `_pbh_mod`;
  *   - `indexPath/tombstones/batch_id=<id>/` — permanent takedowns:
  *     hidden from candidate generation at serve immediately, skipped
  *     at consolidate, physically purged at rebase (`_purged` stamp
  *     retires the forced fold, the [[PostingsIngest]] contract);
  *     purged batches fold into `indexPath/tombstones_snapshot/`
  *     ([[TombstoneStore]], r18) to bound the takedown dir count.
  *
  * Serving prunes STATICALLY like the postings probe, with one
  * difference forced by the workload: a BM25 query's terms are
  * quantizer-sized so its pb set is computed driver-side with zero
  * jobs, but a dedup probe's "query" is the whole new BATCH — its
  * band hashes are not driver-enumerable. The pruning set is instead
  * one tiny Spark job whose OUTPUT is bounded by the modulus (a
  * distinct over pbh values, ≤ M rows regardless of batch size):
  * small daily batches touch few partitions and skip most of the
  * index at planning time; a batch so large it covers every pbh is
  * comparable to the corpus, where a full scan is inherent.
  *
  * At 100 TB: the index holds fixed-width band rows (≈ nBands × 16
  * bytes per doc), not text; candidate generation is an equi-join on
  * (band, bh) against only the pruned partitions; verification joins
  * back to corpus TEXT only for the candidate set (semi-join-pruned,
  * O(candidates) — the incremental-indexed contract). Nothing here
  * collects anything unbounded: the pruning job's result is ≤ M ints.
  *
  * Reference provenance: extends PharmacoDI's drop_duplicates joins
  * (PharmacoDI/scripts/join_pset_tables.py:31-38) to the continuous-
  * ingest regime the reference never needed.
  */
object DedupIngest {

  /** One micro-batch step: band the batch and land it exactly-once.
    * Banding is the map-side work (shingle → sign → band per doc);
    * doing it at ingest means consolidation never touches text. */
  def ingestBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    EventStreams.idempotentParquetSink(s"$path/bands")(
      Dedup.minhashBands(batch), batchId)

  private val PairsSchema = StructType(Seq(
    StructField("new_id", LongType), StructField("corpus_id", LongType),
    StructField("jaccard", DoubleType)))

  /** One step of the streaming dedup-on-ingest contract: pairs of
    * `batch` against every doc ingested by an EARLIER batch — the
    * pruned forest plus the hot tail, both minus this batch id — then
    * idempotent appends of the pairs, the docs and the bands. A replay
    * (same batchId) overwrites only its own partitions and never
    * matches itself. */
  def dedupBatch(batch: DataFrame, batchId: Long, path: String,
      indexPath: String, minJaccard: Double): Unit = {
    val s = batch.sparkSession
    // the batch feeds banding, verification and the docs append — pin
    // it so the stream source is consumed once
    val b = graft.core.Materialize.pin(graft.core.Fanout.bySize(batch, col("doc_id")))
    val bands = graft.core.Materialize.pin(Dedup.minhashBands(b))
    val docs = new Path(path, "docs")
    val prior = GenForest.numberedDirs(GenForest.fsOf(s, docs), docs,
      GenForest.BatchDir).exists(_._1 != batchId)
    val pairs =
      if (!prior) s.createDataFrame(s.sparkContext.emptyRDD[Row], PairsSchema)
      else {
        val forest = corpusBandsFromIndex(s, indexPath, bands)
        val corpusBands = GenForest.hotTail(s, path, indexPath, layout, batchId)
          .fold(forest)(t => forest.unionByName(GenForest.hide(t,
            GenForest.tombstones(s, indexPath, layout), "doc_id")))
        val corpus = s.read.parquet(docs.toString)
          .filter(col("batch_id") =!= batchId).select("doc_id", "text")
        Dedup.minhashLshIncrementalIndexed(b, corpus, corpusBands, minJaccard,
          newBandsIn = Some(bands))
      }
    EventStreams.idempotentParquetSink(s"$path/pairs")(pairs, batchId)
    EventStreams.idempotentParquetSink(docs.toString)(b, batchId)
    EventStreams.idempotentParquetSink(s"$path/bands")(bands, batchId)
  }

  /** Start the dedup-on-ingest stream ([[dedupBatch]] per micro-batch).
    * `docStream` must carry at least (doc_id, text); extra columns ride
    * along into the docs store. Maintain the store with the same
    * `checkpointDir` so consolidation stays below its replay
    * watermark. */
  def start(docStream: DataFrame, path: String, indexPath: String,
      checkpointDir: String, minJaccard: Double = 0.5): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        dedupBatch(batch, batchId, path, indexPath, minJaccard))
      .start()

  private val layout = GenForest.Layout("DedupIngest",
    hot = Seq("bands", "docs", "pairs"), hotSchema = StoreSchemas.bandsBatch,
    forest = "bands", forestSchema = StoreSchemas.bandsForest,
    partitionCol = "pbh", idCol = "doc_id", modStamp = Some("_pbh_mod"),
    srcGens = false, rowTombstones = false,
    // repartition by the partition key first: ONE file per pbh dir
    // instead of one per (dir x shuffle partition). Band rows are 20
    // bytes — without this, mod 1024 writes ~32k near-empty files per
    // gen (measured: the fold alone cost 56.0 s at 8M band rows; 4.8 s
    // after — the soak dedupconsol leg)
    place = (df, mod) =>
      df.withColumn("pbh", pbhCol(mod)).repartition(col("pbh")))

  private def pbhCol(mod: Int) =
    pmod(xxhash64(col("band"), col("bh")), lit(mod.toLong)).cast("int")

  /** Size pbh_mod for an expected index population — the
    * [[graft.operators.IndexStore.pbModForPostings]] rule applied to
    * band rows (docs × nBands of them, ~20 bytes each): target ~1M
    * rows per directory, power-of-two, floor 64 so small-batch probes
    * prune even on gate-scale corpora, cap 4096 (the object-store
    * listing bill — probes list leaf dirs explicitly, but a rebase
    * still rewrites every dir). Pruning wins exactly when a batch's
    * bands cover a small fraction of the modulus space; the soak leg
    * records the read-set arithmetic. */
  def pbhModForBands(expectedBandRows: Long): Int = {
    require(expectedBandRows > 0,
      s"expectedBandRows must be positive (got $expectedBandRows)")
    val RowsPerDir = 1000000L
    val dirs = (expectedBandRows + RowsPerDir - 1) / RowsPerDir
    val pow = 64 - java.lang.Long.numberOfLeadingZeros((dirs - 1).max(0))
    1 << pow.max(6).min(12)
  }

  /** Permanent takedown of doc_ids: a deleted doc must stop MATCHING —
    * new near-copies of it should be admitted, not suppressed as dups
    * of content that no longer exists. Three layers, the
    * [[AnnIngest.tombstone]] contract: hidden from candidate
    * generation at serve immediately, skipped at consolidate,
    * physically purged at rebase. The set is an operational takedown
    * list (bounded by requests), so the serve anti-join broadcasts. */
  def tombstoneDocs(ids: DataFrame, batchId: Long, indexPath: String,
      maxWaitMs: Long = 0L): Unit =
    TombstoneStore.writeGuarded(ids.select(col("doc_id")), batchId,
      indexPath, maxWaitMs)

  /** The index's stamped consolidation watermark: every store batch
    * with `batch_id <= through` is already folded into the forest. */
  def consolidatedThrough(spark: SparkSession, indexPath: String): Option[Long] =
    GenForest.consolidatedThrough(spark, indexPath)

  /** Forest size stamp: the probe's flat-vs-pruned decision input (one
    * recursive listing, priced at maintenance, never at probe). */
  private def stampBytes(fs: FileSystem, idx: Path): Unit =
    graft.core.Markers.forceWrite(fs, new Path(idx, "_bytes"),
      fs.getContentSummary(new Path(idx, "bands")).getLength.toString)

  /** Offline maintenance, INCREMENTAL: fold only store batches newer
    * than the stamped watermark into one new `gen=` generation of the
    * pbh-partitioned band forest, through the shared
    * [[GenForest.consolidate]] lifecycle — no dictionary and no stats
    * here (bands carry no corpus-level statistics), so the phase list
    * is shorter: gen build, size stamp, watermark. A store a stream
    * writes passes its `checkpointDir`: consolidation then stops below
    * the stream's replay watermark.
    *
    * The [[start]] adapter's store (the only one with a `docs/` root)
    * is refused without it: it can hold a batch that landed but was
    * not committed. Folded, that batch's replay would match its own
    * rows; landed only up to its docs, it would get a watermark above
    * bands it has not written yet, which no later run folds. */
  def consolidate(spark: SparkSession, path: String, indexPath: String,
      pbhMod: Int = 64, checkpointDir: Option[String] = None): Unit = {
    val docs = new Path(path, "docs")
    require(checkpointDir.nonEmpty || !GenForest.fsOf(spark, docs).exists(docs),
      s"store at $path is written by the dedup-on-ingest stream: pass " +
        "its checkpointDir so consolidation stays below the stream's " +
        "replay watermark")
    GenForest.consolidate(spark, path, indexPath, layout, pbhMod,
      beforeWatermark = stampBytes, checkpointDir = checkpointDir)
  }

  /** Major compaction via the shared [[GenForest.purge]] lifecycle: fold
    * the band forest to one generation; a purge (unpurged tombstones) is
    * the forced lossy fold, stamped afterward so the permanent set
    * never re-forces. The fold changed the forest, so the probe's size
    * stamp is refreshed. */
  def rebase(spark: SparkSession, indexPath: String): Unit =
    GenForest.purge(spark, indexPath, layout, afterFold = stampBytes)

  /** Saved-bytes break-even for the probe's explicit leaf-dir
    * enumeration: below this, the whole-root scan (one recursive
    * listing, Catalyst partition pruning on the isin) matches or beats
    * the driver-side per-leaf enumeration. Measured r16 (after the
    * one-file-per-pbh-dir fold fix, which obsoleted r15's ~1 s
    * pruning-overhead reading): at a 9 MB / 1.6M-band index the
    * whole-root scan ties or wins (4.6 vs 4.8 s warm, and the sf0.1
    * gate row dropped 3.70→3.41 s on the flat shape); at a 41 MB /
    * 8M-band index the enumerated probe wins by ~1.7 s (5.1 vs 6.8 s
    * warm) and the gap widens with index size. 16 MB sits between
    * those readings with margin on both sides: the probe takes the
    * pruned shape exactly when it predicts at least this much unread
    * data. */
  val FlatScanBelowSavedBytes: Long = 16L << 20

  /** The grown index's corpus-bands side, pruned to the partitions the
    * NEW batch's bands can possibly match — ADAPTIVELY. The pruning
    * set is one tiny job with modulus-bounded output (≤ pbh_mod ints —
    * see the object doc); the probe then predicts its read-set saving
    * as stampedIndexBytes × (1 − coveredDirs/pbh_mod) and picks the
    * scan shape: explicit `gen=/pbh=` leaf-dir enumeration (file
    * discovery O(query dirs) — the
    * [[graft.operators.IndexStore.bm25FromIndex]] probe shape) when
    * the saving clears [[FlatScanBelowSavedBytes]], otherwise one
    * whole-root read where Catalyst's partition filter still prunes
    * the same dirs but the listing is a single recursive pass — the
    * strictly-better shape for small indexes (r15's honest BENCH_NOTES
    * adjudication, now decided in code instead of prose). Index bytes
    * come from the `_bytes` stamp maintenance refreshes (one
    * getContentSummary priced at consolidate/rebase, with a live
    * fallback for stores consolidated before the stamp existed).
    * Tombstoned docs are anti-joined out — a deleted doc never
    * generates a candidate from the commit moment. An unconsolidated
    * index serves the empty frame with the contract schema. */
  def corpusBandsFromIndex(spark: SparkSession, indexPath: String,
      newBands: DataFrame,
      flatBelowSavedBytes: Long = FlatScanBelowSavedBytes): DataFrame = {
    import spark.implicits._
    val idx = new Path(indexPath)
    val fs = GenForest.fsOf(spark, idx)
    val empty = Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bh")
    val modMarker = GenForest.longMarker(fs, idx, "_pbh_mod")
    if (modMarker.isEmpty) return empty
    val pbhMod = modMarker.get.toInt
    val pbs = newBands
      .select(pbhCol(pbhMod).as("pbh")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val rootPath = new Path(idx, "bands")
    if (!fs.exists(rootPath) || pbs.isEmpty) return empty
    val indexBytes = GenForest.longMarker(fs, idx, "_bytes")
      .getOrElse(fs.getContentSummary(rootPath).getLength)
    val predictedSaved =
      (indexBytes * (1.0 - pbs.size.toDouble / pbhMod)).toLong
    val scanned =
      if (predictedSaved < flatBelowSavedBytes) {
        if (!GenForest.hasDataFiles(fs, rootPath)) return empty
        spark.read.schema(StoreSchemas.bandsForest)
          .parquet(rootPath.toString)
          .filter(col("pbh").isin(pbs: _*))
          .select("doc_id", "band", "bh")
      } else {
        val leafDirs = GenForest.leafDirs(fs, indexPath, "bands",
          pbs.map(p => s"pbh=$p").toSet)
        if (leafDirs.isEmpty) return empty
        spark.read.option("basePath", s"$indexPath/bands")
          .schema(StoreSchemas.bandsForest)
          .parquet(leafDirs: _*)
          .filter(col("pbh").isin(pbs: _*))
          .select("doc_id", "band", "bh")
      }
    GenForest.hide(scanned, GenForest.tombstones(spark, indexPath, layout),
      "doc_id")
  }

  /** Dedup-on-ingest: near-dup pairs between a NEW batch and the grown
    * corpus index. Bands computed once and pinned — they feed the
    * pruning job, the candidate join, and nothing else (`newBandsIn`).
    * `corpusDocs` supplies TEXT for exact-Jaccard verification only,
    * semi-join-pruned to the candidate set (O(candidates), never
    * O(corpus)). Output contract = [[Dedup.minhashLshIncremental]]:
    * (new_id, corpus_id, jaccard). */
  def dedupAgainstIndex(newDocs: DataFrame, corpusDocs: DataFrame,
      spark: SparkSession, indexPath: String,
      minJaccard: Double): DataFrame = {
    val newBands = graft.core.Materialize.pin(Dedup.minhashBands(newDocs))
    val corpusBands = corpusBandsFromIndex(spark, indexPath, newBands)
    Dedup.minhashLshIncrementalIndexed(newDocs, corpusDocs, corpusBands,
      minJaccard, newBandsIn = Some(newBands))
  }

  /** One-call maintenance runbook (the [[PostingsIngest.maintain]]
    * twin): consolidate, rebase on gen-count or `purgeAtBatches`
    * unpurged tombstone batches (r20 — the shared amortization knob:
    * the purging rebase is O(live forest), serve-side hiding is
    * immediate regardless, so k > 1 trades only physical-deletion
    * latency; post-maintain tombstone dirs <= 2k-1), compact the hot
    * stores below the watermark. `checkpointDir`: see [[consolidate]]. */
  def maintain(spark: SparkSession, path: String, indexPath: String,
      rebaseAtGens: Int = 8, purgeAtBatches: Int = 1,
      checkpointDir: Option[String] = None): Unit =
    GenForest.maintain(spark, path, indexPath, layout, rebaseAtGens,
      purgeAtBatches,
      () => consolidate(spark, path, indexPath, checkpointDir = checkpointDir),
      () => rebase(spark, indexPath))

  // ---- driver gate row ------------------------------------------------

  /** Gate query (`x_dedup_incremental_grown`): grow the corpus band
    * index in two batches, consolidate, and run the new-batch dedup
    * through the grown index — hash-matching the inline incremental
    * oracle proves the grow → consolidate → prune → verify cycle lost
    * and duplicated nothing. Fresh store per call, the
    * [[PostingsIngest.grownGate]] honesty discipline. */
  val grownGate: (SparkSession, String) => DataFrame = (s, dir) => {
    val root = s"${sys.props("java.io.tmpdir")}/graft_dedupstore/gate_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(rp)) fs.delete(rp, true)
    val docs = graft.core.Tables.t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") >= 10)
    ingestBatch(corpus.filter(pmod(col("doc_id"), lit(2)) === 0), 0L,
      s"$root/store")
    ingestBatch(corpus.filter(pmod(col("doc_id"), lit(2)) === 1), 1L,
      s"$root/store")
    consolidate(s, s"$root/store", s"$root/index")
    dedupAgainstIndex(docs.filter(col("doc_id") < 10), corpus,
      s, s"$root/index", 0.5)
      .orderBy("new_id", "corpus_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("x_dedup_incremental_grown" -> grownGate)

  /** Output-identical to the inline incremental row by construction —
    * shares its oracle. */
  val oracles: Map[String, String] =
    Map("x_dedup_incremental_grown" -> Dedup.oracles("x_dedup_incremental"))
}
