package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.DedupIngest

/** Growing MinHash band store: a grown index answers identically to
  * the inline incremental flow and the one-shot indexed flow, crash
  * windows never duplicate a band, probes prune statically, and
  * takedowns stop a deleted doc from ever matching again. The
  * streaming dedup-on-ingest adapter matches each batch against all
  * earlier ones, and a replay — after maintenance too — changes
  * nothing. */
class DedupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def newDocs = docs.filter(col("doc_id") < 10)
  private def corpus = docs.filter(col("doc_id") >= 10)

  private val MinJ = 0.5

  private val base = (1 to 40).map(i => s"tok$i").mkString(" ")
  private val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " o1 o2"
  private val nearDup2 = (1 to 37).map(i => s"tok$i").mkString(" ") + " p1 p2 p3"
  private val unrelated = (1 to 40).map(i => s"zzz$i").mkString(" ")

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(tag).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def grow(store: String, idx: String, nB: Int = 2): Unit = {
    for (b <- 0L until nB.toLong)
      DedupIngest.ingestBatch(
        corpus.filter(pmod(col("doc_id"), lit(nB)) === b), b, store)
    DedupIngest.consolidate(spark, store, idx)
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select(col("new_id"), col("corpus_id"),
        round(col("jaccard"), 9).as("j"))
      .orderBy("new_id", "corpus_id").collect()

  test("a grown band index answers exactly like the inline incremental " +
      "and the one-shot indexed flows") {
    val store = tmp("dstore")
    val idx = tmp("didx")
    grow(store, idx)
    val grown = pairsOf(
      DedupIngest.dedupAgainstIndex(newDocs, corpus, spark, idx, MinJ))
    val inline = pairsOf(
      Dedup.minhashLshIncremental(newDocs, corpus, MinJ))
    assert(grown.sameElements(inline),
      "the grown index must reproduce the inline incremental pairs exactly")
    assert(grown.nonEmpty, "fixture must produce at least one near-dup pair")
  }

  test("replay + crash-window re-consolidation never duplicates a band") {
    val store = tmp("dstore2")
    val idx = tmp("didx2")
    grow(store, idx)
    val before = pairsOf(
      DedupIngest.dedupAgainstIndex(newDocs, corpus, spark, idx, MinJ))
    // at-least-once replay of a committed batch overwrites only itself
    DedupIngest.ingestBatch(
      corpus.filter(pmod(col("doc_id"), lit(2)) === 1), 1L, store)
    // crash window: watermark lost after the gen install, new batch
    // arrives before the retry — the floor guard must fold ONLY the
    // new batch, not re-fold what the crashed gen already covers.
    // The late batch holds genuinely NEW docs (dedup-on-ingest: each
    // doc lives in exactly one batch) whose gibberish text matches
    // nothing, so the served pairs must be unchanged.
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(idx, "_through"), false)
    DedupIngest.ingestBatch(
      Seq((100001L, "zq1 zq2 zq3 zq4 zq5"),
        (100002L, "yx1 yx2 yx3 yx4 yx5")).toDF("doc_id", "text"),
      2L, store)
    DedupIngest.consolidate(spark, store, idx)
    val bands = spark.read.parquet(s"$idx/bands")
    assert(bands.groupBy("doc_id", "band").count()
        .filter(col("count") > 1).isEmpty,
      "no (doc, band) row may appear twice after a crash-window retry")
    val after = pairsOf(
      DedupIngest.dedupAgainstIndex(newDocs, corpus, spark, idx, MinJ))
    assert(after.sameElements(before),
      "replay + re-consolidation must not change the served pairs")
  }

  test("the probe prunes to the new batch's pbh partitions at planning time") {
    val store = tmp("dstore3")
    val idx = tmp("didx3")
    grow(store, idx)
    // the served probe pins its candidate frame (localCheckpoint runs
    // the subtree eagerly), so the shape under audit is the candidate
    // COMPOSITION the way dedupAgainstIndex builds it, pre-pin
    val newBands = Dedup.minhashBands(newDocs)
    val cand = DedupIngest.corpusBandsFromIndex(spark, idx, newBands)
      .join(broadcast(newBands.select(col("doc_id").as("new_id"),
        col("band"), col("bh"))), Seq("band", "bh"))
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [pbh"),
      s"band-index scan must carry a static pbh partition filter:\n$plan")
    // candidate generation must BROADCAST the batch side against the
    // pruned index scan — that is the join that would otherwise
    // shuffle the index. (The verification joins are candidate-sized
    // on both sides and may legitimately shuffle at scale.)
    assert(plan.contains("BroadcastHashJoin"),
      "the (band, bh) candidate join must broadcast the batch side")
    assert(!plan.contains("SortMergeJoin"),
      "candidate generation must not shuffle the index")
  }

  test("tombstoned docs stop matching immediately; the purging rebase " +
      "converges to the one-shot over survivors and re-adds stay dead") {
    val store = tmp("dstore4")
    val idx = tmp("didx4")
    grow(store, idx)
    val before = pairsOf(
      DedupIngest.dedupAgainstIndex(newDocs, corpus, spark, idx, MinJ))
    assert(before.nonEmpty)
    val victim = before.head.getLong(1)
    DedupIngest.tombstoneDocs(Seq(victim).toDF("doc_id"), 0L, idx)
    val survivors = corpus.filter(col("doc_id") =!= victim)
    val hidden = pairsOf(
      DedupIngest.dedupAgainstIndex(newDocs, corpus, spark, idx, MinJ))
    assert(!hidden.exists(_.getLong(1) == victim),
      "a tombstoned doc must never surface as a candidate after commit")
    assert(hidden.sameElements(pairsOf(
      Dedup.minhashLshIncremental(newDocs, survivors, MinJ))),
      "serve must equal the inline flow over the surviving corpus")
    DedupIngest.rebase(spark, idx)
    assert(spark.read.parquet(s"$idx/bands")
        .filter(col("doc_id") === victim).isEmpty,
      "the purging rebase must remove the tombstoned doc's bands from disk")
    assert(pairsOf(DedupIngest.dedupAgainstIndex(
        newDocs, corpus, spark, idx, MinJ)).sameElements(hidden),
      "the purge must not change served pairs — only reclaim space")
    // a re-ingested copy of the dead doc stays dead
    DedupIngest.ingestBatch(corpus.filter(col("doc_id") === victim), 5L, store)
    DedupIngest.consolidate(spark, store, idx)
    assert(!pairsOf(DedupIngest.dedupAgainstIndex(
        newDocs, corpus, spark, idx, MinJ)).exists(_.getLong(1) == victim),
      "takedown is permanent — a re-ingested dead id must not match")
  }

  test("streaming dedup-on-ingest: each batch matches only what came before") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = tmp("dstream")
    val idx = tmp("dstream-idx")
    val input = MemoryStream[(Long, String)]
    // the foreachBatch adapter over the grown index: probe against
    // everything ingested BEFORE this batch, persist the verified
    // pairs, then join the store — all through idempotent batch sinks
    val q = DedupIngest.start(input.toDF().toDF("doc_id", "text"),
      store, idx, tmp("dstream-ckpt"), MinJ)
    try {
      input.addData((1L, "a b c d e f"), (2L, "z y x w v u"))
      q.processAllAvailable()
      input.addData((3L, "a b c d e f"))
      q.processAllAvailable()
      input.addData((4L, "a b c d e g"), (5L, "m n o p q r"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$store/pairs")
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 3 duplicates doc 1 (j=1.0); doc 4 shares 3 of 5 shingles
    // with both (j=0.6); docs 2 and 5 match nothing; batch-internal
    // pairs are not the probe's job (doc 1 vs 2 arrived together)
    assert(got == Set((3L, 1L), (4L, 1L), (4L, 3L)),
      s"streamed pair set wrong: $got")
  }

  test("pbhModForBands scales with the index, not the batch") {
    assert(DedupIngest.pbhModForBands(1000L) == 64, "gate floor")
    assert(DedupIngest.pbhModForBands(8L * 1000 * 1000) == 64,
      "1M docs x 8 bands still sits at the floor (~1M rows/dir)")
    assert(DedupIngest.pbhModForBands(512L * 1000 * 1000) == 512)
    assert(DedupIngest.pbhModForBands(Long.MaxValue / 4) == 4096,
      "listing-bill cap")
    intercept[IllegalArgumentException](DedupIngest.pbhModForBands(0))
  }

  test("maintain runs the runbook and an unconsolidated index serves empty") {
    val store = tmp("dstore5")
    val idx = tmp("didx5")
    // unconsolidated: the probe serves the contract schema, empty
    assert(DedupIngest.dedupAgainstIndex(
      newDocs, corpus, spark, idx, MinJ).isEmpty)
    for (b <- 0L until 3L)
      DedupIngest.ingestBatch(
        corpus.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
    DedupIngest.maintain(spark, store, idx, rebaseAtGens = 1)
    val served = pairsOf(
      DedupIngest.dedupAgainstIndex(newDocs, corpus, spark, idx, MinJ))
    assert(served.sameElements(pairsOf(
      Dedup.minhashLshIncremental(newDocs, corpus, MinJ))),
      "maintenance must preserve the inline answer")
  }

  private def dirCount(path: String, prefix: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s =>
      s.isDirectory && s.getPath.getName.startsWith(prefix))
  }

  private val fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("Dedup maintain bounds tombstone dirs across the blind-timer loop") {
    val base = tmp("r18-dedup")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val docs = spark.range(40).select(
      col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 11), " +
        "i -> concat('w', pmod(id * 7 + i * 5, 40))))").as("text"))
    for (c <- 0 until 8) {
      val ids = (c * 5 until (c + 1) * 5).map(_.toLong)
      DedupIngest.ingestBatch(
        docs.filter(col("doc_id").isin(ids.map(Long.box): _*)), c.toLong, store)
      if (c % 2 == 1)
        DedupIngest.tombstoneDocs(Seq((c * 5 - 2).toLong).toDF("doc_id"),
          c.toLong, idx)
      DedupIngest.maintain(spark, store, idx, rebaseAtGens = 3)
      assert(dirCount(s"$idx/tombstones", "batch_id=") <= 3,
        s"cycle $c: tombstone dirs unbounded")
      assert(dirCount(s"$idx/bands", "gen=") <= 4,
        s"cycle $c: gen dirs exceed rebaseAtGens+1")
    }
    assert(DedupIngest.consolidatedThrough(spark, idx).contains(7L))
  }

  test("purgeAtBatches is shared by all three grown stores: the ANN and " +
      "band maintains defer the purge the same way, with serve exact " +
      "while batches wait") {
    import graft.streaming.{AnnIngest, DedupIngest}
    def purgedOf(idx: String): Long = graft.core.Markers.read(fs,
      new Path(idx, "_purged")).map(_.toLong).getOrElse(-1L)
    // ---- ANN ----
    val abase = tmp("r20-annamort")
    val astore = s"$abase/store"
    val aidx = s"$abase/idx"
    val dim = 8
    val vecs = spark.range(24).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        "i -> cast(sin(id * 13 + i * 7) as float))").as("embedding"))
    AnnIngest.ingestBatch(vecs, 0L, astore)
    AnnIngest.maintain(spark, astore, aidx, purgeAtBatches = 2)
    AnnIngest.tombstone(Seq(3L).toDF("vec_id"), 1L, aidx)
    AnnIngest.maintain(spark, astore, aidx, purgeAtBatches = 2)
    assert(purgedOf(aidx) == -1L, "one unpurged ANN batch must not rebase")
    // hidden at serve while physically present (purge deferred)
    assert(AnnIngest.searchGrown(vecs, spark, aidx, nQueries = 3, k = 4)
      .filter(col("neighbor_id") === 3L).isEmpty)
    assert(spark.read.parquet(s"$aidx/index")
      .filter(col("vec_id") === 3L).count() == 1L,
      "the deferred purge must leave the row physically present")
    AnnIngest.tombstone(Seq(7L).toDF("vec_id"), 2L, aidx)
    AnnIngest.maintain(spark, astore, aidx, purgeAtBatches = 2)
    assert(purgedOf(aidx) == 2L, "two unpurged ANN batches must rebase")
    assert(spark.read.parquet(s"$aidx/index")
      .filter(col("vec_id").isin(3L, 7L)).isEmpty,
      "the amortized purge must physically delete both batches")
    // ---- band ----
    val bbase = tmp("r20-bandamort")
    val bstore = s"$bbase/store"
    val bidx = s"$bbase/idx"
    val docs = spark.range(30).select(
      col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 11), " +
        "i -> concat('w', pmod(id * 7 + i * 5, 40))))").as("text"))
    DedupIngest.ingestBatch(docs, 0L, bstore)
    DedupIngest.maintain(spark, bstore, bidx, purgeAtBatches = 2)
    DedupIngest.tombstoneDocs(Seq(5L).toDF("doc_id"), 1L, bidx)
    DedupIngest.maintain(spark, bstore, bidx, purgeAtBatches = 2)
    assert(purgedOf(bidx) == -1L, "one unpurged band batch must not rebase")
    assert(spark.read.parquet(s"$bidx/bands")
      .filter(col("doc_id") === 5L).count() > 0L)
    DedupIngest.tombstoneDocs(Seq(6L).toDF("doc_id"), 2L, bidx)
    DedupIngest.maintain(spark, bstore, bidx, purgeAtBatches = 2)
    assert(purgedOf(bidx) == 2L, "two unpurged band batches must rebase")
    assert(spark.read.parquet(s"$bidx/bands")
      .filter(col("doc_id").isin(5L, 6L)).isEmpty)
    val e = intercept[IllegalArgumentException] {
      AnnIngest.maintain(spark, astore, aidx, purgeAtBatches = 0)
    }
    assert(e.getMessage.contains("purgeAtBatches"))
  }

  /** A checkpoint whose commit log holds batches 0..last. */
  private def commitThrough(ckpt: String, last: Long): Unit = {
    fs.mkdirs(new Path(s"$ckpt/commits"))
    for (i <- 0L to last)
      graft.core.Markers.tryCreate(fs, new Path(s"$ckpt/commits/$i"), "{}")
  }

  private def pairIds(store: String): Set[(Long, Long)] =
    spark.read.parquet(s"$store/pairs")
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet

  test("ingest accumulates the index; later batches match all earlier batches; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp("ingest")
    val (store, idxP) = (s"$root/store", s"$root/index")
    val (docsP, pairsP) = (s"$store/docs", s"$store/pairs")
    val input = MemoryStream[(Long, String)]
    val q = DedupIngest.start(input.toDF().toDF("doc_id", "text"),
      store, idxP, tmp("ingest-ckpt"))
    try {
      input.addData((1L, base), (2L, unrelated))
      q.processAllAvailable() // batch 0: empty stores, no pairs possible
      input.addData((3L, nearDup))
      q.processAllAvailable() // batch 1: 3 matches 1
      input.addData((4L, nearDup2))
      q.processAllAvailable() // batch 2: 4 matches 1 AND 3 (two prior batches)
      val pairs = spark.read.parquet(pairsP)
        .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      assert(pairs == Set((3L, 1L), (4L, 1L), (4L, 3L)),
        s"cross-batch near-dups against the accumulated index, got $pairs")
      val docs = spark.read.parquet(docsP)
      assert(docs.count() == 4 &&
        docs.select("batch_id").distinct().count() == 3)
      assert(spark.read.parquet(s"$store/bands").select("doc_id").distinct().count() == 4)
    } finally q.stop()

    // at-least-once replay: re-run the LAST committed batch with the
    // same batchId — its reads must exclude its own partition (no
    // self-pairs at jaccard 1.0) and its writes must only overwrite
    // its own partition (store contents unchanged)
    val before = spark.read.parquet(pairsP)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    DedupIngest.dedupBatch(Seq((4L, nearDup2)).toDF("doc_id", "text"),
      2L, store, idxP, 0.5)
    val after = spark.read.parquet(pairsP)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(after == before, "replayed batch must not add or change pairs")
    assert(!after.exists(p => p._1 == p._2), "no self-pairs on replay")
    assert(spark.read.parquet(docsP).count() == 4,
      "replayed docs overwrite their own partition only")
  }

  test("hot-store compaction folds committed batches and the resumed stream matches over the segment") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Compaction
    val root = tmp("ingest3")
    val (store, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
    val (docsP, pairsP) = (s"$store/docs", s"$store/pairs")
    // one MemoryStream across both query incarnations — its offsets
    // must outlive the query for the checkpointed restart
    val input = MemoryStream[(Long, String)]
    def stream() = DedupIngest.start(input.toDF().toDF("doc_id", "text"),
      store, idxP, ckpt)
    val q1 = stream()
    try {
      input.addData((1L, base), (2L, unrelated)); q1.processAllAvailable()
      input.addData((3L, nearDup)); q1.processAllAvailable()
    } finally q1.stop()

    // consolidate what the stream can no longer replay, then compact
    // the hot stores below that watermark
    DedupIngest.consolidate(spark, store, idxP, checkpointDir = Some(ckpt))
    val safe = Compaction.safeBelowFromCheckpoint(spark, ckpt)
    val stats = Map("docs" -> "docs", "index" -> "bands", "pairs" -> "pairs")
      .map { case (k, r) => k -> Compaction.compact(spark, s"$store/$r", safe) }
    assert(stats("docs").get.batchesMerged == 2)
    assert(stats("index").get.batchesMerged == 2)
    assert(spark.read.parquet(docsP).count() == 3)

    val q2 = stream()
    try {
      input.addData((4L, nearDup2)); q2.processAllAvailable()
    } finally q2.stop()
    val pairs = spark.read.parquet(pairsP)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 1L), (4L, 1L), (4L, 3L)),
      s"resumed batch must match against the compacted band index, got $pairs")
    assert(spark.read.parquet(docsP).count() == 4, "no duplicated docs")
  }

  test("first-ever batch writes an empty pairs partition without failing") {
    val root = tmp("ingest2")
    DedupIngest.dedupBatch(Seq((1L, base)).toDF("doc_id", "text"),
      0L, s"$root/store", s"$root/index", 0.5)
    assert(spark.read.parquet(s"$root/store/docs").count() == 1)
    assert(spark.read.parquet(s"$root/store/bands").count() > 0)
  }

  test("consolidated band index: dedup-on-ingest matching is unchanged after consolidation") {
    val root = tmp("compact-doctier")
    val (store, idxP) = (s"$root/store", s"$root/index")
    DedupIngest.dedupBatch(Seq((1L, base)).toDF("doc_id", "text"),
      0L, store, idxP, 0.5)
    DedupIngest.dedupBatch(Seq((3L, nearDup)).toDF("doc_id", "text"),
      1L, store, idxP, 0.5)
    val ckpt = s"$root/ckpt"
    commitThrough(ckpt, 1L)
    DedupIngest.consolidate(spark, store, idxP, checkpointDir = Some(ckpt))
    val wm = DedupIngest.consolidatedThrough(spark, idxP)
    assert(wm.contains(1L))
    // the probe reads the forest plus the hot batches above the
    // watermark: none is left above it, and the forest holds every hot
    // band row
    assert(fs.listStatus(new Path(s"$store/bands")).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .forall(b => wm.exists(b.stripPrefix("batch_id=").toLong <= _)),
      "band tail must be empty: no hot batch above the watermark")
    val hot = spark.read.parquet(s"$store/bands").select("doc_id", "band", "bh")
    assert(hot.except(spark.read.parquet(s"$idxP/bands")
      .select("doc_id", "band", "bh")).isEmpty,
      "every hot band row must be in the forest")
    // next batch probes through the pruned forest and still finds both
    DedupIngest.dedupBatch(Seq((4L, nearDup2)).toDF("doc_id", "text"),
      2L, store, idxP, 0.5)
    val pairs = pairIds(store)
    assert(pairs == Set((3L, 1L), (4L, 1L), (4L, 3L)),
      s"tiered band probe must find all prior near-dups, got $pairs")
  }

  test("a batch written but not committed never enters a generation: " +
      "maintain, then its replay, adds no self-pair") {
    // batches 0..4 of near-duplicate docs; batch 4 landed but its
    // commit did not. Maintenance consolidates what can no longer
    // replay and compacts the hot stores below the watermark; the
    // replay of batch 4 must then see exactly the corpus a crash-free
    // run saw.
    val words = (1 to 20).map(i => s"w$i")
    def run(crash: Boolean): Set[(Long, Long)] = {
      val root = tmp("dedup-cap")
      val (store, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
      def ingest(b: Long): Unit = DedupIngest.dedupBatch(
        Seq((10L + b, (words.dropRight(1) :+ s"x$b").mkString(" ")))
          .toDF("doc_id", "text"), b, store, idxP, MinJ)
      for (b <- 0L to 4L) ingest(b)
      commitThrough(ckpt, if (crash) 3L else 4L)
      DedupIngest.maintain(spark, store, idxP, checkpointDir = Some(ckpt))
      if (crash) {
        assert(DedupIngest.consolidatedThrough(spark, idxP).contains(3L),
          "the uncommitted batch must stay out of every generation")
        ingest(4L)
      }
      assert(spark.read.parquet(s"$store/docs").count() == 5, "no duplicated docs")
      pairIds(store)
    }
    val clean = run(crash = false)
    val replayed = run(crash = true)
    assert(clean.nonEmpty, "fixture must produce near-dup pairs")
    assert(!replayed.exists(p => p._1 == p._2), s"self-pair after replay: $replayed")
    assert(replayed == clean, s"replay after maintain changed the pairs: $replayed vs $clean")
  }

  test("a batch torn between its docs and bands writes is refused uncapped " +
      "maintenance and, replayed, stays probed") {
    val words = (1 to 20).map(i => s"w$i")
    val root = tmp("dedup-torn")
    val (store, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
    def ingest(b: Long): Unit = DedupIngest.dedupBatch(
      Seq((10L + b, (words.dropRight(1) :+ s"x$b").mkString(" ")))
        .toDF("doc_id", "text"), b, store, idxP, MinJ)
    for (b <- 0L to 2L) ingest(b)
    // batch 2 died after its pairs and docs writes, before its bands
    fs.delete(new Path(s"$store/bands/batch_id=2"), true)
    commitThrough(ckpt, 1L)
    val e = intercept[IllegalArgumentException](
      DedupIngest.maintain(spark, store, idxP))
    assert(e.getMessage.contains("checkpointDir"))
    assert(DedupIngest.consolidatedThrough(spark, idxP).isEmpty,
      "a refused maintain must fold nothing")
    DedupIngest.maintain(spark, store, idxP, checkpointDir = Some(ckpt))
    assert(DedupIngest.consolidatedThrough(spark, idxP).contains(1L))
    // the replay lands batch 2's bands above the watermark; the next
    // maintain folds them and a later near-dup still finds doc 12
    ingest(2L)
    commitThrough(ckpt, 2L)
    DedupIngest.maintain(spark, store, idxP, checkpointDir = Some(ckpt))
    ingest(3L)
    val pairs = pairIds(store)
    assert(pairs.filter(_._1 == 13L) == Set((13L, 10L), (13L, 11L), (13L, 12L)),
      s"every earlier doc must stay probed, got $pairs")
  }
}
