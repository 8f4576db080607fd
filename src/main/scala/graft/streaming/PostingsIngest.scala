package graft.streaming

import graft.operators.{IndexStore, Retrieval}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Growing BM25 store — the continuous form of
  * [[graft.operators.IndexStore.buildPostingsIndex]] (fresh crawl
  * batches join the searchable corpus forever, the retrieval twin of
  * [[DedupIngest]]'s near-dup flow).
  *
  * Each micro-batch of (doc_id, text):
  *   1. appends its postings (doc_id, tok, tf, dl) into the store's
  *      `batch_id=` partition — the [[EventStreams.idempotentParquetSink]]
  *      exactly-once layout, so an at-least-once replay overwrites
  *      only itself;
  *   2. appends ONE (n, sumdl) stats row the same way — corpus
  *      statistics are a sum over batch rows, never a rescan.
  *
  * Probes ([[bm25FromStore]]) prune with a broadcast of the query
  * terms at the scan and re-derive df from the pruned hits (docs
  * containing term), so search cost scales with the query terms'
  * posting lists. The hot store is batch-partitioned, not
  * token-partitioned — directory pruning by term arrives through
  * offline [[consolidate]], which INCREMENTALLY folds batches past
  * the stamped watermark into one new `gen=` generation of the
  * pb-partitioned artifact layout (prior generations stay
  * byte-untouched); after a consolidation, probes
  * switch to [[IndexStore.bm25FromIndex]] (static pb isin). The
  * ingest contract is the docs store's: each doc_id arrives in
  * exactly one batch.
  *
  * At 100 TB: state is parquet only (stateless query), a batch's
  * postings write shuffles nothing (map-combined per-batch tf), the
  * index keeps ONE (n, sumdl) stats row and one (tok, df) dict DELTA
  * per source generation (sidecar forests reconciled from the
  * postings forest), and consolidation cost is proportional to the
  * NEW data since the last run (never the index), the same
  * maintenance discipline as [[Compaction]]. Source-generation
  * identity survives major compaction (`src_gen` rows + `_gens` dir
  * markers), so as-of snapshots have no history horizon, and every
  * sidecar row carries the tombstone cutoff its content reflects, so
  * takedown corrections compose consistently with whichever sidecar
  * version a concurrent reader catches.
  */
object PostingsIngest {

  /** One micro-batch step, exposed for spec-level direct use. */
  def ingestBatch(batch: DataFrame, batchId: Long, path: String): Unit = {
    // the batch feeds the postings explode AND the stats fold — pin so
    // the (possibly expensive) stream source is consumed once. Fanned
    // out first (r21): pinning a single-split source leaves the blocks
    // on one partition, serializing BOTH consumers' tokenize+explode
    // work in one task; Fanout.bySize is a no-op whenever the batch
    // already feeds the cores (see its scale contract).
    val b = graft.core.Materialize.pin(
      graft.core.Fanout.bySize(batch, col("doc_id")))
    // both sinks read the same pinned blocks and write disjoint
    // batch_id= roots — overlap them (guide §2.6): the stats fold's
    // single-row write back-fills the postings write's task tail
    graft.core.Par.both(
      EventStreams.idempotentParquetSink(s"$path/postings")(
        Retrieval.postings(b), batchId),
      EventStreams.idempotentParquetSink(s"$path/stats")(
        Retrieval.corpusStats(b), batchId))
  }

  def start(docStream: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, path))
      .start()

  /** BM25 top-k against everything ingested so far. Stats are the sum
    * of the per-batch rows; df comes from the query-term-pruned hits
    * exactly as the inline gate derives it, so a store grown from any
    * batch split of a corpus answers identically to the one-shot
    * query over that corpus (PostingsIngestSpec pins this). */
  def bm25FromStore(spark: SparkSession, path: String,
      qterms: Seq[(Long, String)], k: Int = Retrieval.K,
      maxDf: Option[Long] = None): DataFrame = {
    val stats = spark.read.schema(StoreSchemas.statsBatch)
      .parquet(s"$path/stats")
      .agg(sum("n").cast("long").as("n"),
        sum("sumdl").cast("long").as("sumdl"))
    val toks = qterms.map(_._2).distinct
    val tokDf = spark.createDataFrame(toks.map(Tuple1(_))).toDF("tok")
    val hits = spark.read.schema(StoreSchemas.postingsBatch)
      .parquet(s"$path/postings")
      .join(broadcast(tokDf), Seq("tok"))
      .select("doc_id", "tok", "tf", "dl")
    val dfT = hits.groupBy("tok").agg(count(lit(1)).as("df"))
    Retrieval.bm25Rank(hits, dfT, qterms, stats, k, maxDf)
  }

  import GenForest.{GenDir, fsOf, numberedDirs}

  private val layout = GenForest.Layout("PostingsIngest",
    hot = Seq("postings", "stats"), hotSchema = StoreSchemas.postingsBatch,
    forest = "postings", forestSchema = StoreSchemas.postingsForest,
    partitionCol = "pb", idCol = "doc_id", modStamp = Some("_pb_mod"),
    srcGens = true, rowTombstones = true,
    place = (df, mod) => df.withColumn("pb",
      pmod(xxhash64(col("tok")), lit(mod.toLong)).cast("int")))

  /** Permanent takedown of doc_ids — the lexical twin of
    * [[AnnIngest.tombstone]], with the SAME three layers (serve-hide
    * immediately via [[IndexStore.bm25FromIndex]]'s anti-join;
    * encode-skip in [[consolidate]]; physical purge in [[rebase]])
    * plus corrections this store needs and the vector store does not:
    * df/idf and the corpus stats (n, sumdl) are CUMULATIVE aggregates
    * a serve-time anti-join cannot fix by itself. The hard guarantee
    * (a deleted doc never appears in a result) holds from the
    * tombstone commit — and so do the SCORES: the tombstone batch
    * records each deleted doc's dl and source generation (looked up
    * from the forest at commit time — one bounded semi-join against
    * the index, priced at a takedown event, not a query), so the
    * serve path can subtract the deleted docs from df (from its own
    * pre-anti-join hits) and from (n, sumdl) (from the recorded dl
    * rows), making every result bit-equal to a one-shot BM25 over the
    * surviving corpus with NO drift window at all. [[rebase]] then
    * physically purges and rebuilds the per-generation dict/stats
    * sidecars; corrections retire via the cutoff each sidecar row
    * CARRIES (`purged_through`), so a reader is consistent against
    * whichever sidecar version it sees — never mixed.
    *
    * Concurrency: the commit takes the index's `_consolidate_commit`
    * lease. Without it, a tombstone landing while a consolidation is
    * mid-encode can be missed by the encode's anti-join yet record a
    * NULL dl (the forest read predates the gen install), leaving the
    * doc counted in (n, sumdl) with no correction row — a silent
    * violation of the zero-drift contract (r15 ADVICE). Takedowns are
    * rare operational events; waiting out a maintenance run is the
    * honest price of exactness.
    *
    * Scope: the contract covers the INDEX serve path
    * ([[IndexStore.bm25FromIndex]]). [[bm25FromStore]] probes the raw
    * hot store before any consolidation exists and takes no index
    * path, so it cannot see tombstones — it is the replay-window
    * debug probe, not the serving surface. */
  def tombstoneDocs(ids: DataFrame, batchId: Long, indexPath: String,
      maxWaitMs: Long = 0L): Unit = {
    val spark = ids.sparkSession
    val idx = new org.apache.hadoop.fs.Path(indexPath)
    val fs = fsOf(spark, idx)
    fs.mkdirs(idx)
    // bounded-retry lease (r20): maxWaitMs > 0 polls until a live
    // maintenance window closes, so callers need no retry loop; every
    // attempt stays a fresh atomic tryCreate
    GenForest.withLease(fs, idx, s"tombstone $batchId", "; a tombstone " +
        "committed mid-maintenance can miss both the encode skip and its " +
        "stats correction: retry once the lease clears", maxWaitMs) {
      // fresh-id guard under the lease (r19): an id at or below the
      // snapshot's covers is invisible to every reader; one at or
      // below `_purged` would fold without its correction ever
      // applying (tb <= every cutoff) — both silently break the
      // zero-drift contract, so refuse loudly instead
      TombstoneStore.requireFreshBatchId(spark, indexPath, batchId)
      // heal FIRST, under this lease (r17 review): a compaction that
      // stamped its horizon and failed before folding leaves the
      // sidecars per-gen while serve-time correction joins key by
      // BUCKET — a takedown committed into that window would lose its
      // df correction (the dict row at the bucket key may not exist
      // yet) until the next maintenance run. Healing here closes the
      // window; the reconcile is metadata-only when sidecars are
      // healthy, and a no-op on flat one-shot layouts.
      reconcileSidecars(spark, idx, fs)
      val forestRoot = new org.apache.hadoop.fs.Path(s"$indexPath/postings")
      // dl lookup: NULL for a doc not (yet) in the forest — those docs
      // were never counted in the index stats (encode will skip them),
      // so they must contribute no correction either
      val withDl =
        if (!GenForest.hasDataFiles(fs, forestRoot))
          ids.select(col("doc_id")).distinct()
            .withColumn("dl", lit(null).cast("long"))
            .withColumn("gen", lit(null).cast("long"))
        else {
          // the SOURCE generation is recorded alongside dl so AS-OF
          // serving can scope the stats correction to docs its snapshot
          // actually contains — src_gen (a data column the rebase fold
          // preserves) rather than the dir gen, so the recording stays
          // exact across rebases; a flat one-shot layout has neither
          // (and rejects as-of). Declared schema + a driver-side footer
          // probe for the legacy src_gen check (no inference job).
          val hasSrcGen = StoreSchemas.footerHasField(fs,
            spark.sessionState.newHadoopConf(), forestRoot, "src_gen")
            .getOrElse(false)
          val forest = spark.read
            .schema(if (hasSrcGen) StoreSchemas.postingsForest
              else org.apache.spark.sql.types.StructType(
                StoreSchemas.postingsForest.filterNot(_.name == "src_gen")))
            .parquet(forestRoot.toString)
          val keyed =
            if (hasSrcGen)
              forest.select(col("doc_id"), col("dl").cast("long").as("dl"),
                col("src_gen").cast("long").as("gen"))
            else forest.select(col("doc_id"), col("dl").cast("long").as("dl"))
              .withColumn("gen", lit(null).cast("long"))
          val idsD = ids.select(col("doc_id")).distinct()
          // prune the forest to the requested ids BEFORE the distinct:
          // takedown sets are request-bounded, so the broadcast semi
          // keeps the lookup's exchange candidate-set-sized instead of
          // shuffling one (doc_id, dl, gen) row per POSTING of the
          // whole forest (guide §2.3 — filter before the exchange;
          // restricting to the join keys cannot change a left join)
          ids.select(col("doc_id")).distinct()
            .join(keyed.join(broadcast(idsD), Seq("doc_id"), "left_semi")
              .distinct(), Seq("doc_id"), "left")
        }
      EventStreams.idempotentParquetSink(s"$indexPath/tombstones")(
        withDl, batchId)
    }
  }

  // ---- sidecar root versioning ----------------------------------------

  /** Sidecar forests swap in WHOLE-ROOT versions as numbered dirs
    * (`stats-v<N>` / `dict-v<N>`; no version dir = the unversioned
    * initial root, "v0"). A swap builds the new version under a
    * hidden scratch and PUBLISHES it with one atomic dir rename;
    * readers resolve the highest version dir present, so a version
    * is invisible until complete and there is no pointer file whose
    * rewrite could expose a read to an absent/stale value (a
    * delete+rename marker flip has a gap; a dir listing does not).
    * Retention is keep-two-back ([[installSidecarVersion]]): one
    * maintenance run can publish twice (reconcile rebuild, then a
    * compaction fold), and a reader that resolved its root just
    * before the run must survive both (sidecars are vocabulary-sized,
    * so the extra copies are noise) — the snapshot-retention contract
    * every version-swap store has: a read must finish within one
    * maintenance interval. */
  private def sidecarVersions(fs: org.apache.hadoop.fs.FileSystem,
      idx: org.apache.hadoop.fs.Path,
      root: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
    numberedDirs(fs, idx, versionDir(root))

  private def versionDir(root: String) =
    (java.util.regex.Pattern.quote(root) + "-v(\\d+)").r

  /** The LIVE root of sidecar forest `root` (highest published
    * version; the path is returned whether or not it exists yet). */
  private[graft] def sidecarRoot(fs: org.apache.hadoop.fs.FileSystem,
      idx: org.apache.hadoop.fs.Path, root: String): org.apache.hadoop.fs.Path =
    sidecarVersions(fs, idx, root)
      .maxByOption(_._1).map(_._2)
      .getOrElse(new org.apache.hadoop.fs.Path(idx, root))

  /** Spec/ops convenience: the live sidecar root as a string path. */
  def sidecarRootPath(spark: SparkSession, indexPath: String,
      root: String): String = {
    val idx = new org.apache.hadoop.fs.Path(indexPath)
    sidecarRoot(fsOf(spark, idx), idx, root).toString
  }

  /** Both live sidecar roots + the compaction horizon from ONE index
    * listing (the serve path used three listStatus RPCs for these —
    * a real cost on FS-metadata-slow hosts and object stores). The
    * legacy horizon marker is still read BEFORE the listing: the
    * migration writes the suffix stamp first and deletes the legacy
    * file after, so this order can never observe neither (the same
    * dip-avoidance argument as [[sidecarHorizon]]). */
  private[graft] def sidecarRootsAndHorizon(
      fs: org.apache.hadoop.fs.FileSystem,
      idx: org.apache.hadoop.fs.Path):
      (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path, Long) = {
    val legacy = graft.core.Markers.read(fs,
      new org.apache.hadoop.fs.Path(idx, "_sidecar_horizon")).map(_.toLong)
    val listing =
      if (!fs.exists(idx)) Seq.empty
      else fs.listStatus(idx).toSeq
    def rootOf(root: String): org.apache.hadoop.fs.Path =
      GenForest.numbered(listing, versionDir(root))
        .maxByOption(_._1).map(_._2)
        .getOrElse(new org.apache.hadoop.fs.Path(idx, root))
    val stamps = listing.flatMap(_.getPath.getName match {
      case HorizonStamp(h) => Some(h.toLong)
      case _               => None
    })
    (rootOf("stats"), rootOf("dict"),
      (legacy ++ stamps).maxOption.getOrElse(-1L))
  }

  /** Install `df` (carrying a `gen` column) as a NEW whole-root
    * version of sidecar `root`: build fully under scratch (one file
    * per gen dir, each with its `_gens` coverage marker), publish
    * with one atomic dir rename, then retire every version two or
    * more behind plus the v0 root — deletes proportional to dirs
    * actually present, not lifetime swap count. A crash before the
    * publish leaves an invisible scratch the next swap deletes; a
    * crash after it is complete. */
  private def installSidecarVersion(idx: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, root: String, df: DataFrame,
      markers: Map[Long, Map[Long, Long]]): Unit = {
    val versions = sidecarVersions(fs, idx, root)
    val newV = versions.map(_._1).maxOption.getOrElse(0L) + 1
    val scratch = new org.apache.hadoop.fs.Path(idx, s".$root-swap-scratch")
    if (fs.exists(scratch)) fs.delete(scratch, true) // crashed prior build
    df.repartition(col("gen"))
      .write.mode("errorifexists").partitionBy("gen").parquet(scratch.toString)
    for ((g, m) <- markers) {
      val d = new org.apache.hadoop.fs.Path(scratch, s"gen=$g")
      // a bucket whose rows all aggregated away still gets its (empty)
      // dir and coverage marker, so the reconcile's exists-keying
      // settles instead of re-deriving it forever
      if (!fs.exists(d)) fs.mkdirs(d)
      GenForest.writeGensMarker(fs, d, m)
    }
    require(fs.rename(scratch,
      new org.apache.hadoop.fs.Path(idx, s"$root-v$newV")),
      s"failed to publish $root version v$newV")
    // keep-TWO-back retirement: one maintenance run can swap a root
    // at most twice (a reconcile rebuild followed by a compaction
    // fold), so a reader that resolved its root just before the run
    // must survive two publishes — keep-one-back would delete the
    // version it is mid-scan on (r17 review)
    for ((v, p) <- versions if v <= newV - 3) fs.delete(p, true)
    if (newV >= 3) fs.delete(new org.apache.hadoop.fs.Path(idx, root), true)
  }

  /** Reconcile the two per-SOURCE-generation sidecar forests (stats:
    * one (n, sumdl) row per src gen; dict: (tok, df) deltas per src
    * gen) with the postings forest. Source generations — the `_gens`
    * markers' union, i.e. consolidation watermarks, surviving rebase
    * folds via the `src_gen` data column — are the sidecars' key, so
    * a PURE LAYOUT fold leaves both sidecars byte-untouched and an
    * as-of probe older than a fold point still finds its deltas
    * (r15's "rebase collapses history" horizon is gone).
    *
    * Every sidecar row carries `purged_through`: the tombstone-batch
    * watermark whose takedowns are REFLECTED (absent) in the rows the
    * sidecar was derived from — read from the forest dir's `_gens`
    * marker, which the encode stamped with the tombstone set it
    * anti-joined. Serve-time corrections apply exactly to tombstones
    * NEWER than the cutoff of the dead doc's generation, so a reader
    * is consistent against whichever sidecar version it catches: old
    * content + active corrections ≡ new content + retired corrections
    * (the r15 purging-rebase read window, closed by construction).
    *
    * Self-healing over ALL src gens, not just this run's: a crash
    * between a gen install and its sidecar rows, followed by new
    * batches before the retry, would leave that gen uncounted forever
    * under a through-keyed form. Install runs before delete; each gen
    * dir lands via scratch + rename. */
  private def reconcileSidecars(spark: SparkSession,
      idx: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val forestRoot = new org.apache.hadoop.fs.Path(idx, "postings")
    // settle any sidecar-forest rebase recovery state a crashed r16-
    // era compaction left behind (sidecar folds no longer run through
    // GenForest.rebase): sidecars are DERIVED data — this pass rebuilds
    // whatever the live root is missing from the postings forest, so
    // the recovery dirs are never the only copy, and a stale stamped
    // scratch must never win a later fold's recovery branch (it would
    // swap pre-crash content over gens folded since)
    for (root <- Seq("stats", "dict");
        d <- Seq(s".rebase-scratch-$root", s".rebase-old-$root",
          s"_${root}_v")) // _v: short-lived pointer-marker scheme, retired
      fs.delete(new org.apache.hadoop.fs.Path(idx, d), true)
    val srcMap = GenForest.srcGens(fs, forestRoot)
    // SIDECAR keying is bucketed by the compaction horizon: src gens
    // <= horizon live in ONE base sidecar gen keyed AT the horizon
    // ([[compactSidecars]]); later gens keep per-gen deltas. -1 (never
    // compacted) makes the bucket the identity.
    val horizon = sidecarHorizon(fs, idx)
    def bucket(g: Long): Long = if (g <= horizon) horizon else g
    val dirMaps = numberedDirs(fs, forestRoot, GenDir)
      .map { case (g, p) => p -> GenForest.readGensMarker(fs, p, g) }
    // the forest dirs holding a given BUCKET's rows — derivation
    // reads exactly these (one dir normally; a fold target holds many)
    def dirsFor(b: Long): Seq[String] =
      dirMaps.collect { case (p, m)
        if m.keys.exists(g => bucket(g) == b) => p.toString }
    def cutoffFor(b: Long): Long =
      if (b == horizon)
        // floor at `_purged` (r19): the snapshot fold retires dirs at
        // or below the purge stamp, so the listing max alone would
        // understate the tombstone state this bucket reflects once
        // folds run — and an understated cutoff re-applies serve-time
        // corrections for already-purged docs (double subtraction)
        GenForest.tombState(fs, idx).cutoff
      else srcMap(b)
    val buckets = srcMap.keys.map(bucket).toSeq.distinct
    def coveredBy(b: Long): Map[Long, Long] =
      if (b == horizon) srcMap.filter { case (g, _) => g <= horizon }
      else Map(b -> srcMap(b))
    // each live root resolved ONCE — the lease serializes swaps, so
    // re-resolving inside loops would only repeat listing RPCs
    val roots = Seq("stats", "dict")
    val liveRoots: Map[String, org.apache.hadoop.fs.Path] =
      roots.map(r => r -> sidecarRoot(fs, idx, r)).toMap
    val liveGens: Map[String, Map[Long, org.apache.hadoop.fs.Path]] =
      roots.map(r =>
        r -> numberedDirs(fs, liveRoots(r), GenDir).toMap).toMap
    // crash heal (horizon stamped, folds incomplete — the r16 ADVICE
    // window, now closed structurally): a base-bucket dir whose
    // `_gens` marker does NOT span every src gen <= horizon is a
    // pre-compaction per-gen delta wearing the base key — serving or
    // folding it as the base would count only its own gen's rows.
    // Such a root — and one carrying dirs for RETIRED buckets (per-gen
    // deltas below a freshly stamped horizon, or buckets a total purge
    // emptied out of the forest) — cannot be fixed by mutating the
    // live root in place: a reader between the in-place delete and the
    // reinstall would sum a hole, and one between the base install and
    // the per-gen retirement would double-count. Rebuild the WHOLE
    // root from the postings forest and publish it as a version swap
    // instead — the reader sees the old complete layout or the new,
    // never a mix.
    def underCoveredBase(r: String): Boolean =
      horizon >= 0L && liveGens(r).get(horizon).exists(p =>
        !coveredBy(horizon).keySet.subsetOf(
          GenForest.readGensMarker(fs, p, horizon).keySet))
    def staleDirs(r: String): Boolean =
      liveGens(r).keys.exists(g => !buckets.contains(g))
    val rebuildRoots = roots.filter(r => underCoveredBase(r) || staleDirs(r))
    // derivation of every needed bucket runs as ONE job per sidecar
    // (not one per gen): the union of the needed dirs is read once
    // and grouped by bucket — so post-crash healing of a many-gen
    // forest costs 2 jobs, the rebuildPurgedSidecars shape lifted to
    // the reconcile (r16 verdict task). Additive installs (the
    // per-consolidate hot path: brand-new delta dirs) keep the cheap
    // in-place rename — adding a dir never changes what existing rows
    // a reader sums.
    val missing: Map[String, Seq[Long]] =
      roots.map(root => root ->
        (if (rebuildRoots.contains(root)) buckets
         else buckets.filter(b => !liveGens(root).contains(b)))).toMap
    if (missing.values.exists(_.nonEmpty)) {
      val needed = missing.values.flatten.toSeq.distinct
      val dirs = needed.flatMap(dirsFor).distinct
      val raw = spark.read.option("basePath", forestRoot.toString)
        .schema(StoreSchemas.postingsForest)
        .parquet(dirs: _*)
        .withColumn("bucket",
          when(col("src_gen") <= horizon, lit(horizon))
            .otherwise(col("src_gen").cast("long")))
        .filter(col("bucket").isin(needed: _*))
      // the BASE bucket reflects every tombstone visible now (its
      // member gens were encoded at different tombstone states, so no
      // single inherited cutoff is exact — anti-joining the full set
      // and stamping the current max makes the rebuild exact); other
      // buckets keep their rows as encoded, consistent with their
      // inherited cutoffs
      val rows = GenForest.tombstones(spark, idx.toString, layout) match {
        case Some(t) if needed.contains(horizon) =>
          raw.filter(col("bucket") =!= horizon).unionByName(
            raw.filter(col("bucket") === horizon)
              .join(broadcast(t), Seq("doc_id"), "left_anti"))
        case _ => raw
      }
      // both sidecar aggs scan the needed forest dirs; pin ONLY on the
      // multi-bucket heal path, where one materialization beats many
      // re-scans — the hot path (exactly one fresh delta per
      // consolidate) reads a single small gen dir twice, cheaper than
      // an eager checkpoint job (measured on the grown gate rows)
      val sel = rows.select("bucket", "doc_id", "tok", "dl")
      val pinned =
        if (needed.size > 1) graft.core.Materialize.pin(sel) else sel
      // per-bucket cutoff stamped via a literal map lookup — stays
      // inside codegen, no per-bucket job
      val cutoffCol = element_at(
        typedlit(needed.map(b => b -> cutoffFor(b)).toMap), col("gen"))
      def installAll(root: String, build: DataFrame): Unit = {
        if (missing(root).isEmpty) return
        val shaped = build.filter(col("gen").isin(missing(root): _*))
          .withColumn("purged_through", cutoffCol)
        val markers = missing(root).map(b => b -> coveredBy(b)).toMap
        if (rebuildRoots.contains(root)) {
          // whole-root heal: publish as an atomic version swap
          installSidecarVersion(idx, fs, root, shaped, markers)
          return
        }
        // ADDITIVE install (hot path): brand-new delta dirs rename
        // into the live root one by one. One file per sidecar gen dir:
        // each delta is vocabulary-sized (≪ the batch that produced
        // it), and serve-side file opens scale with gen count ×
        // files-per-dir — the same small-file reasoning as the band
        // store's repartition-before-partitionBy. A single fresh
        // delta (the per-consolidate case) merges the agg's partitions
        // without another exchange.
        val liveRoot = liveRoots(root)
        val scratch = new org.apache.hadoop.fs.Path(idx, s".$root-scratch")
        if (fs.exists(scratch)) fs.delete(scratch, true)
        (if (missing(root).size == 1) shaped.coalesce(1)
         else shaped.repartition(col("gen")))
          .write.mode("errorifexists").partitionBy("gen")
          .parquet(scratch.toString)
        fs.mkdirs(liveRoot)
        for (b <- missing(root)) {
          val src = new org.apache.hadoop.fs.Path(scratch, s"gen=$b")
          val dst = new org.apache.hadoop.fs.Path(liveRoot, s"gen=$b")
          // a bucket whose rows were all purged aggregates to nothing:
          // install an empty dir so the exists-keying settles (readers
          // sum an absent row as zero either way)
          if (!fs.exists(src)) fs.mkdirs(dst)
          else require(fs.rename(src, dst),
            s"failed to install $root generation for gen=$b")
          // the dir's `_gens` marker records which SOURCE gens its
          // rows cover — the coverage contract the crash heal checks
          GenForest.writeGensMarker(fs, dst, coveredBy(b))
        }
        fs.delete(scratch, true)
      }
      // the two sidecar installs are independent derivations of the
      // same (pinned) rows into DISJOINT roots — overlap them (guide
      // §2.6): order between them was never load-bearing (the crash
      // heal rebuilds whichever is missing, spec-pinned one-folded-
      // one-not windows), and each install's own scratch+rename
      // atomicity is unchanged
      graft.core.Par.both(
        installAll("stats", pinned
          .select(col("bucket").as("gen"), col("doc_id"),
            col("dl").cast("long").as("dl"))
          .distinct()
          .groupBy("gen")
          .agg(count(lit(1)).cast("long").as("n"),
            coalesce(sum("dl"), lit(0L)).cast("long").as("sumdl"))),
        installAll("dict", pinned
          .select(col("bucket").as("gen"), col("tok"))
          .groupBy("gen", "tok").agg(count(lit(1)).as("df"))))
    }
    // a total purge can empty the forest while stale sidecar dirs
    // remain: publish an EMPTY version so the layout retires with the
    // content (the in-between reads were already correct — an empty
    // forest serves empty before sidecars are consulted)
    if (buckets.isEmpty)
      for (root <- rebuildRoots) {
        val empty = spark.range(0).select(
          col("id").as("gen"), col("id").as("n"), col("id").as("sumdl"),
          col("id").cast("string").as("tok"), col("id").as("df"),
          col("id").as("purged_through"))
        val shaped =
          if (root == "stats") empty.select("gen", "n", "sumdl", "purged_through")
          else empty.select("gen", "tok", "df", "purged_through")
        installSidecarVersion(idx, fs, root, shaped, Map.empty)
      }
    // roots must exist even when the forest has no buckets yet (and
    // untouched roots keep their layout); rebuilt roots were replaced
    // by the version swap above, so only ensure the others
    for (root <- roots if !rebuildRoots.contains(root))
      fs.mkdirs(liveRoots(root))
  }

  /** The sidecar-compaction horizon: src gens `<= horizon` are folded
    * into one base sidecar generation keyed AT the horizon; as-of
    * serving below it is refused (the history was summed away). -1 =
    * never compacted (every src gen keeps its own delta).
    *
    * Stamps are MONOTONIC suffix files (`_sidecar_horizon.<H>`, read
    * = max present): publishing a new horizon is an atomic create, so
    * a concurrent reader can never observe the horizon DIP mid-
    * re-stamp — a single rewritten marker file has a delete→rename
    * gap in which a reader would see -1, pass the as-of refusal, and
    * serve a below-horizon snapshot from nothing. */
  private val HorizonStamp = "_sidecar_horizon\\.(-?\\d+)".r

  private[graft] def sidecarHorizon(fs: org.apache.hadoop.fs.FileSystem,
      idx: org.apache.hadoop.fs.Path): Long =
    sidecarRootsAndHorizon(fs, idx)._3

  def sidecarHorizon(spark: SparkSession, indexPath: String): Long = {
    val idx = new org.apache.hadoop.fs.Path(indexPath)
    sidecarHorizon(fsOf(spark, idx), idx)
  }

  /** Publish `h` as the new horizon (atomic create; callers hold the
    * index lease) and retire lower stamps afterwards — a concurrent
    * reader's max never goes down. */
  private[graft] def stampSidecarHorizon(fs: org.apache.hadoop.fs.FileSystem,
      idx: org.apache.hadoop.fs.Path, h: Long): Unit = {
    graft.core.Markers.tryCreate(fs,
      new org.apache.hadoop.fs.Path(idx, s"_sidecar_horizon.$h"), h.toString)
    for (s <- fs.listStatus(idx).toSeq) s.getPath.getName match {
      case HorizonStamp(o) if o.toLong < h => fs.delete(s.getPath, false)
      case "_sidecar_horizon"              => fs.delete(s.getPath, false)
      case _                               => ()
    }
  }

  /** Bound sidecar growth: fold the dict deltas and stats rows of
    * every src gen except the newest `keepLast` into ONE base
    * generation keyed at the fold point, stamped as the horizon. The
    * per-src-gen deltas are what POWER as-of serving, so this is an
    * explicit product trade — the operator gives up snapshots older
    * than the horizon (serves below it refuse loudly) in exchange for
    * a sidecar listing bill that stops growing with consolidation
    * count; `keepLast > 0` keeps a tail of recent history serveable,
    * so a scheduler can bound growth while honoring a configured
    * snapshot lag. Latest serves and as-of at-or-after the horizon
    * are bit-identical either side of the fold (sums are preserved).
    *
    * Preconditions, enforced: no unpurged tombstones (a purge settles
    * every cutoff to one value — folding rows with DIFFERENT cutoffs
    * has no single exact cutoff, in either direction). The whole
    * operation runs under the index lease, so no tombstone can land
    * mid-run.
    *
    * Crash/read discipline (r16 ADVICE, both findings): the horizon
    * stamp is the COMMIT POINT and it lands BEFORE the folds — a
    * reader overlapping the fold window refuses as-of below the
    * horizon instead of silently missing folded rows (the per-gen
    * rows it still resolves sum to the identical latest/at-horizon
    * answer), and a crash anywhere after the stamp is healed by ANY
    * maintenance entry point: [[reconcileSidecars]] rebuilds a base
    * bucket whose dir does not span its gens (the `_gens` coverage
    * markers) from the postings forest. The folds themselves land as
    * whole-root version publishes ([[installSidecarVersion]]), so a
    * concurrent reader always scans one complete sidecar version. */
  def compactSidecars(spark: SparkSession, indexPath: String,
      keepLast: Int = 0): Unit = {
    val idx = new org.apache.hadoop.fs.Path(indexPath)
    val fs = fsOf(spark, idx)
    consolidatedThrough(spark, indexPath).getOrElse(
      throw new IllegalStateException(
        s"index at $indexPath has no consolidation watermark — nothing to compact"))
    // a crashed compaction is healed by the reconcile pass every
    // maintenance entry point runs
    GenForest.withLease(fs, idx, "compact-sidecars") {
      // co-key both sidecar forests with the forest first (heals any
      // crashed install or a crashed prior compaction, so both roots
      // list the same buckets)
      reconcileSidecars(spark, idx, fs)
      require(GenForest.tombState(fs, idx).unpurged == 0,
        s"index at $indexPath has unpurged tombstones — run " +
          "PostingsIngest.rebase (the purge settles every sidecar " +
          "cutoff to one value) before compacting sidecars")
      val gens = numberedDirs(fs, sidecarRoot(fs, idx, "dict"), GenDir)
        .map(_._1).sorted
      val foldable = gens.dropRight(keepLast.max(0))
      // nothing (new) to fold with one foldable gen or none
      if (foldable.size > 1) {
        val horizon = foldable.max
        stampSidecarHorizon(fs, idx, horizon)
        for (root <- Seq("stats", "dict"))
          foldSidecarTo(spark, idx, fs, root, horizon)
      }
    }
  }

  /** One sidecar forest's compaction fold: sum every row with gen at
    * or below `horizon` into one base generation, pass later gens
    * through per-gen, and swap the result in as a new whole-root
    * version. Exposed package-private so crash specs can construct
    * the exact "one sidecar folded, the other not" window. */
  private[graft] def foldSidecarTo(spark: SparkSession,
      idx: org.apache.hadoop.fs.Path, fs: org.apache.hadoop.fs.FileSystem,
      root: String, horizon: Long): Unit = {
    val srcMap = GenForest.srcGens(fs,
      new org.apache.hadoop.fs.Path(idx, "postings"))
    val cur = sidecarRoot(fs, idx, root)
    val gens = numberedDirs(fs, cur, GenDir).map(_._1)
    // coverage markers for the new version's dirs: the base spans
    // every src gen at or below the horizon, later dirs themselves
    val markers: Map[Long, Map[Long, Long]] =
      Map(horizon -> srcMap.filter { case (g, _) => g <= horizon }) ++
        gens.filter(_ > horizon).map(g => g -> Map(g -> srcMap(g)))
    val all = spark.read
      .schema(if (root == "stats") StoreSchemas.sidecarStats
        else StoreSchemas.sidecarDict)
      .parquet(cur.toString)
      .withColumn("gen",
        when(col("gen") <= horizon, lit(horizon))
          .otherwise(col("gen").cast("long")))
    val folded =
      if (root == "stats")
        all.groupBy("gen")
          .agg(coalesce(sum("n"), lit(0L)).cast("long").as("n"),
            coalesce(sum("sumdl"), lit(0L)).cast("long").as("sumdl"),
            max("purged_through").as("purged_through"))
      else
        all.groupBy("gen", "tok").agg(sum("df").as("df"),
          max("purged_through").as("purged_through"))
    installSidecarVersion(idx, fs, root, folded, markers)
  }

  /** The index's stamped consolidation watermark: every store batch
    * with `batch_id <= through` is already folded in. None = no
    * consolidation has completed at this path yet. */
  def consolidatedThrough(spark: SparkSession, indexPath: String): Option[Long] =
    GenForest.consolidatedThrough(spark, indexPath)

  /** Offline maintenance, INCREMENTAL: fold only store batches newer
    * than the stamped watermark into the artifact at `indexPath` —
    * never rewriting what a previous consolidation already laid out
    * (the r14 form re-read and re-wrote the whole forest every call).
    *
    * Layout: postings live as a forest of consolidation GENERATIONS,
    * `postings/gen=<through>/pb=<p>/` — each run writes exactly one
    * new gen covering the batches it folded and touches no prior gen.
    * Readers ([[IndexStore.bm25FromIndex]]) see one logical table
    * (gen and pb are both partition columns; pb still prunes at
    * planning time within every gen; rows additionally carry
    * `src_gen` — the consolidation watermark as DATA, which rebase
    * folds preserve). Dict and stats live as per-SOURCE-generation
    * sidecar forests derived from the postings forest
    * ([[reconcileSidecars]]): df is additive across gens because each
    * doc_id lives in exactly one batch, and the per-gen layout makes
    * as-of serving (stats AND df) a fold over rows with gen <= asOf.
    *
    * Crash discipline is the shared [[GenForest.consolidate]]
    * lifecycle (lease, floor guard, gen dir exists → skip build,
    * watermark written LAST); sidecar gen dirs key the reconcile, so a
    * crashed run is finished by simply calling consolidate again.
    * `pb_mod` is stamped once at index birth and must never change
    * across incremental runs (old gens were hashed with it). */
  def consolidate(spark: SparkSession, path: String, indexPath: String,
      pbMod: Int = IndexStore.PostingsPbMod): Unit =
    // SIDECARS before the watermark: per-SOURCE-generation dict deltas
    // and stats rows, derived from the FOREST (one source of truth —
    // the r15 first cut folded the hot store's per-batch rows and
    // silently RE-ADDED purged docs; caught by the total-takedown spec)
    // and co-keyed with the `_gens` markers' src set. The per-gen
    // layout is what makes AS-OF serving a fold over rows with
    // gen <= asOf instead of an unanswerable question — for df too, so
    // an as-of probe reads deltas instead of re-deriving df from its
    // own hits (the r15 serving asymmetry, closed).
    // Residual (shared with the purge rebuild): a zero-token doc has
    // no posting rows, so it is invisible to n — it scores zero on
    // every query either way; the drift is idf-only and bounded by the
    // empty-doc count.
    GenForest.consolidate(spark, path, indexPath, layout, pbMod,
      beforeWatermark = (fs, idx) => reconcileSidecars(spark, idx, fs))

  /** Major compaction for the gen forest: fold EVERY generation into
    * one base gen (keyed, like a minor run, by the current watermark)
    * — the counterpart that bounds generation-count growth the same
    * way [[Compaction.compact]] bounds `batch_id=` growth. Many small
    * gens cost the reader listing RPCs and per-gen file opens (the
    * measured pb-mod-64-beats-256 effect, one level up); a rebase
    * after every N minor runs restores the one-big-generation read
    * shape without ever touching the hot store. The lease, the
    * two-rename swap and its crash recovery are the shared
    * [[GenForest.purge]] lifecycle. Dict and stats hold the same
    * logical content either side of a pure layout rebase, so only a
    * purge rebuilds them. */
  def rebase(spark: SparkSession, indexPath: String): Unit =
    // A PURGING rebase changes what the forest contains, so the two
    // per-gen sidecar forests are rebuilt FIRST, from (live forest ⊖
    // tombstones) — the same content the fold is about to lay out —
    // with every row's cutoff advanced to the purge watermark. Order
    // matters: a reader at ANY point between the phases is consistent,
    // because each sidecar version is self-describing (old content +
    // active corrections ≡ new content + retired corrections), while
    // the old ordering (fold, then rebuild, then stamp) had a window
    // where rebuilt stats met still-active corrections and double-
    // subtracted (r15 documented residual, now closed). A crash
    // anywhere re-runs the whole purge on retry — the stamp is LAST.
    // A PURE LAYOUT fold touches neither sidecar: they are keyed by
    // src gen, which the fold preserves. After the fold, heal any src
    // gen whose sidecars are missing (crashed earlier consolidate) and
    // retire sidecars for src gens a total purge emptied out of the
    // forest.
    GenForest.purge(spark, indexPath, layout,
      beforeFold = (fs, idx, tombMax) =>
        rebuildPurgedSidecars(spark, idx, fs, tombMax),
      afterFold = (fs, idx) => reconcileSidecars(spark, idx, fs))

  /** Rebuild BOTH sidecar forests from (live forest ⊖ tombstones),
    * per src gen, every row stamped `purged_through = tombMax` — the
    * purge's first phase (see [[rebase]] on why it precedes the fold).
    * Each sidecar swaps in as ONE whole-root version publish
    * ([[installSidecarVersion]]), so a reader always scans one
    * complete, self-consistent version — the r16 delete → rename gap
    * (a loud-failure window readers could land in) is gone; the
    * missing-sidecar refusal in [[IndexStore.bm25FromIndex]] stays as
    * a backstop for externally damaged indexes.
    *
    * n and sumdl come from the forest's distinct (doc_id, dl) pairs,
    * which counts only docs with at least one token: a deleted EMPTY
    * doc cannot be distinguished from a never-ingested id, so
    * zero-token docs leave n at its pre-delete reading — they score
    * zero on every query either way, the residual is idf-only. */
  private[graft] def rebuildPurgedSidecars(spark: SparkSession,
      idx: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, tombMax: Long): Unit = {
    import spark.implicits._
    val forestRoot = new org.apache.hadoop.fs.Path(idx, "postings")
    val alive =
      if (!GenForest.hasDataFiles(fs, forestRoot))
        Seq.empty[(Long, String, Long, Long, Long)]
          .toDF("doc_id", "tok", "tf", "dl", "src_gen")
      else {
        val base = spark.read.schema(StoreSchemas.postingsForest)
          .parquet(forestRoot.toString)
          .select(col("doc_id"), col("tok"), col("dl").cast("long").as("dl"),
            col("src_gen").cast("long").as("src_gen"))
        GenForest.hide(base, GenForest.tombstones(spark, idx.toString, layout),
          "doc_id")
      }
    // keying respects the compaction horizon: src gens <= horizon stay
    // folded in the base bucket through a purge rebuild (identity when
    // never compacted, horizon = -1)
    val horizon = sidecarHorizon(fs, idx)
    val pinned = graft.core.Materialize.pin(alive
      .withColumn("bucket",
        when(col("src_gen") <= horizon, lit(horizon))
          .otherwise(col("src_gen"))))
    // coverage markers for the rebuilt dirs (all cutoffs advance to
    // the purge watermark): the base bucket spans every src gen at or
    // below the horizon, per-gen dirs themselves
    val srcMap = GenForest.srcGens(fs, forestRoot)
    val markers: Map[Long, Map[Long, Long]] =
      srcMap.keys.groupBy(g => if (g <= horizon) horizon else g)
        .map { case (b, gs) => b -> gs.map(_ -> tombMax).toMap }
    def swapIn(root: String, df: DataFrame): Unit =
      installSidecarVersion(idx, fs, root,
        df.withColumn("purged_through", lit(tombMax))
          .withColumn("gen", col("bucket")).drop("bucket"),
        markers)
    // independent whole-root publishes into disjoint roots — overlap
    // them (guide §2.6; same order-independence argument as the
    // reconcile installs: every read is consistent against either
    // sidecar version, and the heal rebuilds whichever is missing)
    graft.core.Par.both(
      swapIn("stats", pinned
        .select("bucket", "doc_id", "dl").distinct()
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n"),
          coalesce(sum("dl"), lit(0L)).cast("long").as("sumdl"))),
      swapIn("dict", pinned
        .groupBy("bucket", "tok").agg(count(lit(1)).as("df"))))
  }

  /** One-call maintenance runbook (the [[AnnIngest.maintain]] twin):
    * consolidate whatever is new, rebase when the generation count
    * passes `rebaseAtGens` OR unpurged tombstones exist, then compact
    * the hot store's two batch_id= forests (postings and stats) below
    * the watermark — the only compaction range the consolidation
    * floor allows. Every step is independently idempotent and
    * crash-safe, so a scheduler can fire this blindly on a timer.
    * [[compactSidecars]] joins the runbook ONLY behind the explicit
    * `sidecarKeepLast` opt-in (default off): it trades away as-of
    * history below its horizon, a product decision an operator makes
    * by setting the knob — `Some(k)` bounds sidecar dir growth while
    * keeping the newest k source generations individually serveable
    * (as-of refuses only below that configured lag). The compaction
    * leg is SKIPPED (never failed) while tombstones are unpurged —
    * a takedown landing between this cycle's rebase and its
    * compaction leg just waits for the next cycle.
    *
    * `purgeAtBatches` (r20, VERDICT r19 #4) amortizes the PURGING
    * rebase: physical purge latency is a product knob, not a constant.
    * A rebase costs O(live forest) — under takedown-EVERY-cycle load
    * the default (1 = rebase whenever any unpurged tombstone exists)
    * pays that full rewrite per cycle, roughly doubling cycle cost (the
    * r19 heavy-takedown soak's honest measurement). Setting it to k
    * defers the rebase until k tombstone batches are unpurged, so the
    * O(forest) cost lands once per k cycles. Serve-side hiding and
    * score corrections stay IMMEDIATE regardless (tombstones hide via
    * broadcast anti-join + corrections from the moment they commit);
    * only the physical-deletion lag grows, bounded by k cycles. While
    * batches wait, their dirs stay in the unfolded tail (the fold only
    * covers ids <= `_purged`), so the post-maintain tombstone dir
    * count is bounded by 2k-1 (one fold's k-dir intake retired one
    * fold late, plus up to k-1 fresh batches waiting); sidecar
    * compaction keeps skipping until purged, same as today, for at
    * most k cycles. */
  def maintain(spark: SparkSession, path: String, indexPath: String,
      rebaseAtGens: Int = 8,
      sidecarKeepLast: Option[Int] = None,
      purgeAtBatches: Int = 1): Unit =
    GenForest.maintain(spark, path, indexPath, layout, rebaseAtGens,
      purgeAtBatches, () => consolidate(spark, path, indexPath),
      () => rebase(spark, indexPath),
      afterCompact = (fs, idx) => sidecarKeepLast.foreach { keep =>
        // re-read the tombstone state: the rebase above may have purged
        if (consolidatedThrough(spark, indexPath).nonEmpty &&
            GenForest.tombState(fs, idx).unpurged == 0)
          compactSidecars(spark, indexPath, keepLast = keep)
      })

  // ---- driver gate row ------------------------------------------------

  /** Gate query (`x_text_bm25_grown`): pump `documents` into a fresh
    * store in two deterministic batches, consolidate into the
    * artifact layout, and search through [[IndexStore.bm25FromIndex]]
    * — hash-matching the one-shot BM25 oracle proves the whole grow →
    * consolidate → serve cycle lost and duplicated nothing. Fresh
    * store per call, the [[Compaction.compactionGate]] discipline.
    * Two batches is the MINIMUM shape that still exercises the
    * batch-split + consolidate + serve cycle (the as-of row's r15
    * trim, applied here in r16 per the verdict) — specs cover 3+
    * batch splits, multi-consolidation forests, and crash windows. */
  val grownGate: (SparkSession, String) => DataFrame = (s, dir) => {
    val root = s"${sys.props("java.io.tmpdir")}/graft_postings/gate_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(rp)) fs.delete(rp, true)
    val docs = graft.core.Tables.t(s, dir, "documents")
    for (b <- 0L until 2L)
      ingestBatch(docs.filter(pmod(col("doc_id"), lit(2)) === b), b, s"$root/store")
    consolidate(s, s"$root/store", s"$root/index")
    IndexStore.bm25FromIndex(docs, s, s"$root/index",
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank")
  }

  /** Gate query (`x_text_bm25_asof`): consolidate one batch covering
    * doc_id % 3 != 2, record the watermark, grow the index with the
    * remaining third, then serve a SNAPSHOT pinned to the recorded
    * watermark. Hash-matching a one-shot oracle over the early corpus
    * proves the per-generation layout answers as-of questions exactly:
    * leaf dirs, (n, sumdl) and df are all scoped to gens <= the
    * snapshot, while the latest read (the grown gate) sees everything. */
  val asOfGate: (SparkSession, String) => DataFrame = (s, dir) => {
    val root = s"${sys.props("java.io.tmpdir")}/graft_postings/asof_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(rp)) fs.delete(rp, true)
    val docs = graft.core.Tables.t(s, dir, "documents")
    val early = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
    ingestBatch(early, 0L, s"$root/store")
    consolidate(s, s"$root/store", s"$root/index")
    val wm0 = consolidatedThrough(s, s"$root/index").get
    ingestBatch(docs.filter(pmod(col("doc_id"), lit(3)) === 2), 1L,
      s"$root/store")
    consolidate(s, s"$root/store", s"$root/index")
    IndexStore.bm25FromIndex(early, s, s"$root/index",
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
      asOfGen = Some(wm0))
      .orderBy("q_id", "rank")
  }

  /** Gate query (`x_text_bm25_maintained`, r19): the takedown
    * MAINTAIN lifecycle under the driver's oracle — ingest +
    * consolidate, two takedowns pushed through a PURGING maintain
    * (rebase purges their rows, the fold moves their batch dir into
    * the row-preserving snapshot), then a LIVE takedown with no
    * maintenance after it. Hash-matching the one-shot BM25 oracle over
    * the survivors proves (1) the fold preserved the permanent
    * takedown set and its correction rows, (2) folded batches
    * contribute zero live corrections post-purge, and (3) the fresh
    * batch corrects df/stats exactly — the Round19Spec invariants,
    * here under DuckDB instead of a Spark-side oracle. (Multi-batch
    * growth is the grown/as-of rows' job; this row prices one
    * maintain cycle, the minimum shape that exercises the fold.) */
  val maintainedGate: (SparkSession, String) => DataFrame = (s, dir) => {
    val root = s"${sys.props("java.io.tmpdir")}/graft_postings/maint_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(rp)) fs.delete(rp, true)
    val docs = graft.core.Tables.t(s, dir, "documents")
    import s.implicits._
    ingestBatch(docs, 0L, s"$root/store")
    consolidate(s, s"$root/store", s"$root/index")
    tombstoneDocs(Seq(97L, 211L).toDF("doc_id"), 1L, s"$root/index")
    maintain(s, s"$root/store", s"$root/index")
    tombstoneDocs(Seq(313L).toDF("doc_id"), 2L, s"$root/index")
    IndexStore.bm25FromIndex(
      docs.filter(!col("doc_id").isin(97L, 211L, 313L)), s, s"$root/index",
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank")
  }

  // NOTE: declared after every gate val it references — a map entry
  // capturing a val declared below it would capture null (object vals
  // initialize in declaration order; this bit once).
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("x_text_bm25_grown" -> grownGate,
      "x_text_bm25_asof" -> asOfGate,
      "x_text_bm25_maintained" -> maintainedGate)

  /** Output-identical to the inline gate by construction — shares its
    * oracle; the as-of row's oracle is the same query over the
    * snapshot's corpus (queries AND stats both scoped to it), the
    * maintained row's over the takedown survivors. */
  val oracles: Map[String, String] =
    Map("x_text_bm25_grown" -> Retrieval.oracles("x_text_bm25"),
      "x_text_bm25_asof" -> Retrieval.oracles("x_text_bm25").replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 3 <> 2)"),
      "x_text_bm25_maintained" -> Retrieval.oracles("x_text_bm25").replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id NOT IN (97, 211, 313))"))
}
