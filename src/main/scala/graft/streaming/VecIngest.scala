package graft.streaming

import graft.operators.Similarity
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Growing-index streaming ingest for EMBEDDINGS (reference workload:
  * embedding batches arriving continuously from an encoder; every
  * batch must be near-dup-checked against everything already ingested
  * before it joins the corpus). The contract is exact-cosine near-dup
  * pairs — not [[AnnIngest]]'s approximate top-k.
  *
  * Layout — a [[GenForest]] store:
  *   - hot stores under one store `path`: `vecs/`, `pairs/` and the
  *     LSH bucket rows `buckets/` ([[Similarity.lshBandIndex]] layout —
  *     (vec_id, tbl, bucket)), each micro-batch in its own
  *     `batch_id=<id>` partition through the exactly-once
  *     [[EventStreams.idempotentParquetSink]]; the plane width the
  *     buckets were hashed at is stamped at `path/_planes`;
  *   - `indexPath/buckets/gen=<through>/pb=<p>/` — the bucket forest:
  *     [[consolidate]] folds committed hot batches into it,
  *     partitioned by `pb = bucket mod` [[IndexTierMod]] (stamped once
  *     at `_pb_mod`), so a probe reads only the pb dirs its own
  *     buckets hash into.
  *
  * Each micro-batch of (vec_id, embedding) probes the pb-pruned forest
  * plus the hot tail above the watermark, minus its own batch id, with
  * an equi-join on (tbl, bucket); only bucket-colliding candidates are
  * verified with the exact native cosine — the corpus is never
  * re-hashed. It then appends its verified pairs, its vectors and its
  * buckets.
  *
  * Replay safety: writes target only the replayed batch's own
  * partition, the hot reads exclude the current batchId, and
  * consolidation stops below the stream checkpoint's replay watermark,
  * so no generation holds a batch that can still replay — a replayed
  * batch never matches itself.
  *
  * At 100 TB: stateless query (no streaming state store); per-batch
  * cost is batch-buckets x (pruned forest + replay-window tail) plus
  * exact verification of collisions only. [[maintain]] runs the
  * kernel runbook between ingest sessions.
  */
object VecIngest {

  val PairsSchema: StructType = StructType(Seq(
    StructField("new_id", LongType), StructField("corpus_id", LongType)))

  /** Stamp/check the store's bucket width: `path/_planes` holds
    * the plane count the index was built with; the FIRST write of a
    * GENUINELY NEW store creates it, every later batch must match it
    * exactly. Three guard properties (r11 review findings, all
    * spec-pinned in VecIngestSpec):
    *   - an EXISTING store with NO marker fails loudly instead of
    *     being stamped at the caller's width — a store built before
    *     width stamping (at the then-default 8 planes) resumed under
    *     the 16-plane default would otherwise be probed/appended at
    *     the wrong width, the exact silent recall loss the marker
    *     exists to prevent;
    *   - marker creation is atomic (temp + rename via
    *     [[graft.core.Markers]]) — a crash mid-stamp can never leave
    *     an empty marker that later dies as a NumberFormatException;
    *   - first-stamp is first-writer-wins: two racing writers at
    *     different widths cannot both proceed — the rename loser
    *     re-reads the winner's width and must match it. */
  private def requirePlanesMarker(s: SparkSession, path: String,
      planesPerTable: Int): Unit = {
    import graft.core.Markers
    val marker = new Path(path, "_planes")
    val fs = GenForest.fsOf(s, marker)
    def check(stored: Int): Unit = require(stored == planesPerTable,
      s"LSH store at $path was built with $stored planes/table; " +
        s"probing or appending at $planesPerTable would silently lose " +
        "recall — pass the store's width explicitly")
    Markers.read(fs, marker) match {
      case Some(v) => check(v.toInt)
      case None =>
        require(!fs.exists(new Path(path)),
          s"LSH store at $path exists but has no plane-width marker " +
            "(it predates width stamping). Refusing to stamp " +
            s"$planesPerTable blindly: pass the width the store was " +
            s"originally built with, or backfill $marker with that width")
        if (!Markers.tryCreate(fs, marker, planesPerTable.toString))
          check(Markers.read(fs, marker).get.toInt) // lost the stamp race
    }
  }

  /** Default partition-key modulus of the bucket forest: rows are
    * laid out as `pb = bucket mod 1024` dirs, so a probe reads only
    * the pb values its own buckets hash into instead of scanning an
    * index that grows with the corpus. The mod must be LARGE relative
    * to a batch's bucket count (batch x tables) or every residue is hit
    * and nothing prunes — at 1024, a 20-vec batch (160 buckets) skips
    * ~85% of the forest. Like the LSH plane width, the mod is a
    * property of the STORE for its whole life: the kernel stamps it at
    * the first consolidation (`_pb_mod`) and refuses a later one at a
    * different mod, and every probe prunes with the stamped value, so
    * a changed default can never silently mis-prune (missed
    * partitions = quietly lost recall — the failure class the
    * plane-width stamp guards). */
  val IndexTierMod = 1024

  private val layout = GenForest.Layout("VecIngest",
    hot = Seq("buckets", "vecs", "pairs"), hotSchema = StoreSchemas.bucketsBatch,
    forest = "buckets", forestSchema = StoreSchemas.bucketsForest,
    partitionCol = "pb", idCol = "vec_id", modStamp = Some("_pb_mod"),
    srcGens = false, rowTombstones = false,
    // repartition on the key first: one file per pb dir instead of one
    // per (dir x write task)
    place = (df, mod) =>
      df.withColumn("pb", pmod(col("bucket"), lit(mod))).repartition(col("pb")))

  /** Batch-vs-index near-dup pairs: bucket-collision candidates from
    * the (tbl, bucket) equi-join against `corpusBuckets`, exact-cosine
    * verified. Ids-only output (similarity ulps are not portable; ids
    * are). */
  def matchAgainstIndex(batch: DataFrame, corpusVecs: DataFrame,
      corpusBuckets: DataFrame, minSim: Double,
      planesPerTable: Int = Similarity.IngestPlanesPerTable): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val batchBuckets = Similarity.lshBandIndex(batch,
      planesPerTable = planesPerTable)
      .withColumnsRenamed(Map("vec_id" -> "new_id"))
    val cand = corpusBuckets.join(broadcast(batchBuckets), Seq("tbl", "bucket"))
      .select(col("new_id"), col("vec_id").as("corpus_id"))
      .distinct()
    cand
      .join(batch.select(col("vec_id").as("new_id"),
        col("embedding").as("new_emb")), Seq("new_id"))
      .join(corpusVecs.select(col("vec_id").as("corpus_id"),
        col("embedding").as("corpus_emb")), Seq("corpus_id"))
      .filter(cosineSim(col("new_emb"), col("corpus_emb")) >= minSim)
      .select("new_id", "corpus_id")
  }

  /** The probe's index side: the forest pruned to the pb dirs the
    * batch's buckets hash into (the distinct pb values are one tiny
    * driver collect, planted as a static partition filter) plus the
    * hot tail above the watermark, minus the in-flight batch. None
    * when neither holds a row. */
  private def corpusBuckets(s: SparkSession, path: String, indexPath: String,
      batchBuckets: DataFrame, batchId: Long): Option[DataFrame] = {
    val idx = new Path(indexPath)
    val fs = GenForest.fsOf(s, idx)
    val root = new Path(idx, layout.forest)
    val forest = GenForest.longMarker(fs, idx, "_pb_mod")
      .filter(_ => GenForest.numberedDirs(fs, root, GenForest.GenDir).nonEmpty)
      .map { mod =>
        // an Int literal against the Int partition column: a cast
        // would keep the filter out of PartitionFilters
        val pbs = batchBuckets.select(pmod(col("bucket"), lit(mod.toInt)))
          .distinct().collect().map(_.getInt(0)).toSeq
        val all = s.read.schema(layout.forestSchema).parquet(root.toString)
        // a bulk batch (buckets >> mod) covers every residue — skip the
        // isin so the scan at least avoids `mod` pushed-down IN probes;
        // pruning wins for micro-batch probes (pbs << mod)
        (if (pbs.size >= mod) all else all.filter(col("pb").isin(pbs: _*)))
          .select("vec_id", "tbl", "bucket")
      }
    (forest ++ GenForest.hotTail(s, path, indexPath, layout, batchId))
      .reduceOption(_.unionByName(_))
  }

  /** One micro-batch step, exposed for spec-level direct use.
    * `planesPerTable` sizes the index's bucket space — see
    * [[Similarity.lshBandIndex]]: pick 2^planes comfortably above the
    * expected corpus/bucket occupancy so per-batch probe cost stays
    * flat as the store grows (soak-verified: 8 planes degrade
    * linearly at 60k vectors; 16 planes hold flat — hence the
    * [[Similarity.IngestPlanesPerTable]] default; size explicitly
    * with [[Similarity.planesForCorpus]] for a known target). Must be
    * constant across the life of one store. */
  def ingestBatch(batch: DataFrame, batchId: Long, path: String,
      indexPath: String, minSim: Double,
      planesPerTable: Int = Similarity.IngestPlanesPerTable): Unit = {
    val s = batch.sparkSession
    // bucket-width guard: a store probed/appended at a DIFFERENT plane
    // count than it was built with silently loses recall (probe
    // buckets never equal index buckets), so the width is stamped into
    // the store on first write and every later batch must match — a
    // default change (8 -> 16 in r11) or a mis-parameterized resume
    // fails loudly instead
    requirePlanesMarker(s, path, planesPerTable)
    // the batch feeds pair generation AND two appends — pin it so the
    // (possibly expensive) stream source is consumed once; fanned out
    // first so a single-split source doesn't serialize every consumer
    // in one task (no-op when the batch already feeds the cores)
    val b = graft.core.Materialize.pin(graft.core.Fanout.bySize(batch, col("vec_id")))
    val buckets = Similarity.lshBandIndex(b, planesPerTable = planesPerTable)
    val vecs = new Path(path, "vecs")
    val prior = GenForest.numberedDirs(GenForest.fsOf(s, vecs), vecs,
      GenForest.BatchDir).exists(_._1 != batchId)
    val pairs = Option.when(prior)(
        corpusBuckets(s, path, indexPath, buckets, batchId)).flatten match {
      case Some(cb) =>
        // replay: exclude own vectors
        val corpus = s.read.parquet(vecs.toString)
          .filter(col("batch_id") =!= batchId).select("vec_id", "embedding")
        matchAgainstIndex(b, corpus, cb, minSim, planesPerTable)
      case None =>
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], PairsSchema)
    }
    EventStreams.idempotentParquetSink(s"$path/pairs")(pairs, batchId)
    EventStreams.idempotentParquetSink(vecs.toString)(b, batchId)
    EventStreams.idempotentParquetSink(s"$path/buckets")(buckets, batchId)
  }

  /** Fold the committed hot bucket batches into one new `gen=`
    * generation of the pb-partitioned forest, through the shared
    * [[GenForest.consolidate]] lifecycle, capped below the replay
    * watermark of the stream's `checkpointDir`. `pbMod` is stamped at
    * the first consolidation; a later one at a different mod fails. */
  def consolidate(spark: SparkSession, path: String, indexPath: String,
      checkpointDir: String, pbMod: Int = IndexTierMod): Unit =
    GenForest.consolidate(spark, path, indexPath, layout, pbMod,
      checkpointDir = Some(checkpointDir))

  /** Fold the bucket forest to one generation ([[GenForest.purge]];
    * this store has no takedowns, so it is a pure layout fold). Also
    * settles a crashed fold's recovery dirs, which block
    * [[consolidate]] until settled. */
  def rebase(spark: SparkSession, indexPath: String): Unit =
    GenForest.purge(spark, indexPath, layout)

  /** The between-sessions maintenance runbook ([[GenForest.maintain]]):
    * consolidate what the stream can no longer replay, fold the forest
    * back to one generation whenever it holds more, and tier-compact
    * the three hot stores below the watermark — so after each run a
    * probe reads one generation plus the hot tail. Every step is
    * idempotent and crash-safe: a crashed run is finished by running
    * it again. */
  def maintain(spark: SparkSession, path: String, indexPath: String,
      checkpointDir: String, pbMod: Int = IndexTierMod): Unit =
    GenForest.maintain(spark, path, indexPath, layout, rebaseAtGens = 1,
      purgeAtBatches = 1,
      () => consolidate(spark, path, indexPath, checkpointDir, pbMod),
      () => rebase(spark, indexPath))

  /** Start the ingest stream. `vecStream` must carry at least
    * (vec_id, embedding); extra columns ride along into the store.
    *
    * `expectedCorpus` is the ergonomic way to size the store: when
    * set, the bucket width comes from
    * [[Similarity.planesForCorpus]] (2^planes >= expected corpus, so
    * per-batch probe cost stays flat for the store's whole life)
    * instead of requiring the caller to know the corpus→planes
    * mapping; it takes precedence over `planesPerTable`. Either way
    * the width is stamped into the store on first write and a
    * mismatched resume fails loudly. */
  def start(vecStream: DataFrame, path: String, indexPath: String,
      checkpointDir: String, minSim: Double = 0.9,
      planesPerTable: Int = Similarity.IngestPlanesPerTable,
      expectedCorpus: Option[Long] = None): StreamingQuery = {
    val planes = expectedCorpus.map(Similarity.planesForCorpus)
      .getOrElse(planesPerTable)
    vecStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, path, indexPath, minSim, planes))
      .start()
  }
}
