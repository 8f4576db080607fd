package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.core.Markers
import graft.streaming.{Compaction, GenForest, VecIngest}

/** Growing-index streaming ingest for embeddings: cross-batch
  * near-dup pairs emerge as batches arrive through the accumulated
  * LSH bucket index, a replayed batch is a true no-op, and the bucket
  * forest's lifecycle (consolidate capped at the checkpoint's replay
  * watermark, maintain, crash re-runs) never changes what matches. */
class VecIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val fs = new Path("/tmp").getFileSystem(
    spark.sessionState.newHadoopConf())

  /** A checkpoint whose commit log holds batches 0..last. */
  private def commitThrough(ckpt: String, last: Long): Unit = {
    fs.mkdirs(new Path(s"$ckpt/commits"))
    for (i <- 0L to last) Markers.tryCreate(fs, new Path(s"$ckpt/commits/$i"), "{}")
  }

  private def pairsAt(store: String): Set[(Long, Long)] =
    spark.read.parquet(s"$store/pairs")
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet

  private def batchIds(root: String): Seq[Long] =
    fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong).toSeq

  private def gens(idx: String): Int =
    fs.listStatus(new Path(s"$idx/buckets")).count(_.getPath.getName.startsWith("gen="))

  // deterministic directions: near-dups are tiny perturbations, the
  // unrelated vector is an independent direction
  private def vec(seed: Int, wobble: Float = 0f): Seq[Float] =
    Seq.tabulate(16)(d => math.sin(seed * 31 + d * 7).toFloat +
      (if (d == 0) wobble else 0f))

  test("vector ingest matches later batches against all earlier ones; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("vingest")
    val (store, idxP) = (s"$root/store", s"$root/index")
    val (vecsP, pairsP) = (s"$store/vecs", s"$store/pairs")
    val input = MemoryStream[(Long, Seq[Float])]
    val q = VecIngest.start(input.toDF().toDF("vec_id", "embedding"),
      store, idxP, tmp("vingest-ckpt"), minSim = 0.99)
    try {
      input.addData((1L, vec(1)), (2L, vec(99)))
      q.processAllAvailable() // batch 0: empty stores, no pairs possible
      input.addData((3L, vec(1, wobble = 0.01f)))
      q.processAllAvailable() // batch 1: 3 ~ 1
      input.addData((4L, vec(1, wobble = -0.01f)))
      q.processAllAvailable() // batch 2: 4 ~ 1 AND 4 ~ 3
      val pairs = spark.read.parquet(pairsP)
        .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      assert(pairs == Set((3L, 1L), (4L, 1L), (4L, 3L)),
        s"cross-batch near-dups against the accumulated index, got $pairs")
      val vecs = spark.read.parquet(vecsP)
      assert(vecs.count() == 4 &&
        vecs.select("batch_id").distinct().count() == 3)
      assert(spark.read.parquet(s"$store/buckets").select("vec_id").distinct().count() == 4)
    } finally q.stop()

    // at-least-once replay with the same batchId: no self-pairs, no
    // duplicate vectors, pair store unchanged
    val before = spark.read.parquet(pairsP)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    VecIngest.ingestBatch(Seq((4L, vec(1, wobble = -0.01f)))
        .toDF("vec_id", "embedding"),
      2L, store, idxP, 0.99)
    val after = spark.read.parquet(pairsP)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(after == before, "replayed batch must not add or change pairs")
    assert(!after.exists(p => p._1 == p._2), "no self-pairs on replay")
    assert(spark.read.parquet(vecsP).count() == 4,
      "replayed vectors overwrite their own partition only")
  }

  test("16-plane ingest default holds candidate volume flat where 8 planes saturate") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    // 2000 independent corpus directions + a 50-vector probe batch:
    // candidate volume (the per-batch cost driver) is the bucket-join
    // row count BEFORE verification. At 8 planes random pairs collide
    // per table at ~2^-8 -> expected ~ 50*2000*8/256 candidates; at 16
    // planes ~ /65536 -> near zero. The assertions bound both. Vectors
    // are full-plane-width (64-dim) independent directions (seeded RNG
    // per vector — a shared-waveform fixture like sin(seed + c*d) puts
    // every vector in one 2-D subspace and floods every bucket).
    def vec64(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(64)(r.nextFloat() - 0.5f)
    }
    val corpus = (100L until 2100L).map(i => (i, vec64(i))).toDF("vec_id", "embedding")
    val batch = (1L to 50L).map(i => (i, vec64(-i * 977L))).toDF("vec_id", "embedding")
    def candidates(planes: Int): Long = {
      val cb = Similarity.lshBandIndex(corpus, planesPerTable = planes)
      val bb = Similarity.lshBandIndex(batch, planesPerTable = planes)
        .withColumnsRenamed(Map("vec_id" -> "new_id"))
      cb.join(bb, Seq("tbl", "bucket"))
        .select("new_id", "vec_id").distinct().count()
    }
    val at8 = candidates(8)
    val at16 = candidates(Similarity.IngestPlanesPerTable)
    assert(at16 * 10 < at8,
      s"16 planes must collapse false-candidate volume ($at16 vs $at8 at 8 planes)")
    assert(at16 < 200, s"near-zero false candidates at 16 planes (got $at16)")
    // sizing helper: 2^planes >= corpus, floored/capped
    assert(Similarity.planesForCorpus(100) == 8)
    assert(Similarity.planesForCorpus(60000) == 16)
    assert(Similarity.planesForCorpus(1L << 30) == 24)
  }

  test("plane-width marker: probing a store at a different width fails loudly") {
    val root = tmp("vingest3")
    val (store, idxP) = (s"$root/store", s"$root/index")
    VecIngest.ingestBatch(Seq((1L, vec(1))).toDF("vec_id", "embedding"),
      0L, store, idxP, 0.99, planesPerTable = 8)
    // same width: fine (replay/continuation)
    VecIngest.ingestBatch(Seq((2L, vec(2))).toDF("vec_id", "embedding"),
      1L, store, idxP, 0.99, planesPerTable = 8)
    // different width (e.g. a default change): must not silently degrade
    val e = intercept[IllegalArgumentException] {
      VecIngest.ingestBatch(Seq((3L, vec(3))).toDF("vec_id", "embedding"),
        2L, store, idxP, 0.99, planesPerTable = 16)
    }
    assert(e.getMessage.contains("built with 8 planes"))
  }

  test("an existing store with NO width marker is refused, not blindly stamped") {
    // the r11 ADVICE scenario: a store built before width stamping (at
    // the then-default 8 planes) resumed under the 16-plane default —
    // stamping 16 onto it would make the silent-recall-loss guard
    // itself cause the loss. The marker-less store must fail loudly.
    val root = tmp("vingest4")
    val (store, idxP) = (s"$root/store", s"$root/index")
    VecIngest.ingestBatch(Seq((1L, vec(1))).toDF("vec_id", "embedding"),
      0L, store, idxP, 0.99, planesPerTable = 8)
    // simulate the pre-stamping store: drop the marker, keep the index
    fs.delete(new Path(s"$store/_planes"), false)
    val e = intercept[IllegalArgumentException] {
      VecIngest.ingestBatch(Seq((2L, vec(2))).toDF("vec_id", "embedding"),
        1L, store, idxP, 0.99) // 16-plane default
    }
    assert(e.getMessage.contains("no plane-width marker"))
    // backfilling the marker with the original width recovers the store
    assert(graft.core.Markers.tryCreate(fs, new Path(s"$store/_planes"), "8"))
    VecIngest.ingestBatch(Seq((2L, vec(2))).toDF("vec_id", "embedding"),
      1L, store, idxP, 0.99, planesPerTable = 8)
  }

  test("expectedCorpus sizes the store via planesForCorpus and stamps that width") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("vingest5")
    val (store, idxP) = (s"$root/store", s"$root/index")
    val input = MemoryStream[(Long, Seq[Float])]
    val q = VecIngest.start(input.toDF().toDF("vec_id", "embedding"),
      store, idxP, tmp("vingest5-ckpt"), minSim = 0.99,
      expectedCorpus = Some(1L << 20))
    try {
      input.addData((1L, vec(1)))
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.core.Markers.read(fs, new Path(s"$store/_planes")).contains("20"),
      "a 2^20 expected corpus must build a 20-plane store")
    // and a continuation that forgets the sizing fails loudly at the
    // 16-plane default instead of probing the wrong width
    val e = intercept[IllegalArgumentException] {
      VecIngest.ingestBatch(Seq((2L, vec(2))).toDF("vec_id", "embedding"),
        1L, store, idxP, 0.99)
    }
    assert(e.getMessage.contains("built with 20 planes"))
  }

  test("bucket probe only verifies collisions: unrelated vector produces no pair") {
    val root = tmp("vingest2")
    val (store, idxP) = (s"$root/store", s"$root/index")
    VecIngest.ingestBatch(Seq((1L, vec(1)), (2L, vec(50))).toDF("vec_id", "embedding"),
      0L, store, idxP, 0.99)
    VecIngest.ingestBatch(Seq((5L, vec(77))).toDF("vec_id", "embedding"),
      1L, store, idxP, 0.99)
    // zero-row partition writes may leave no readable parquet at all —
    // unreadable IS empty for this assertion
    val nPairs =
      try spark.read.parquet(s"$store/pairs").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    assert(nPairs == 0, "independent directions at minSim=0.99 must not pair")
  }

  test("VecIngest stores compact at the checkpoint watermark and the stream resumes over them") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("compact-vingest")
    val (store, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
    val (vecsP, pairsP) = (s"$store/vecs", s"$store/pairs")
    // ONE MemoryStream across both query incarnations: the source's
    // offsets must outlive the query for a checkpointed restart (a
    // fresh MemoryStream would rewind to offset 0 below the commit log)
    val input = MemoryStream[(Long, Seq[Float])]
    def stream() = VecIngest.start(input.toDF().toDF("vec_id", "embedding"),
      store, idxP, ckpt, minSim = 0.99)
    val q1 = stream()
    try {
      input.addData((1L, vec(1)), (2L, vec(99))); q1.processAllAvailable()
      input.addData((3L, vec(1, 0.01f))); q1.processAllAvailable()
      input.addData((4L, vec(1, -0.01f))); q1.processAllAvailable()
    } finally q1.stop()
    val pairsBefore = spark.read.parquet(pairsP)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairsBefore == Set((3L, 1L), (4L, 1L), (4L, 3L)))

    // all three committed batches fold into the forest, then into one
    // segment per hot store (compaction stays below the watermark)
    assert(Compaction.safeBelowFromCheckpoint(spark, ckpt) == 3L)
    VecIngest.consolidate(spark, store, idxP, ckpt)
    val stats = Map("vecs" -> "vecs", "index" -> "buckets", "pairs" -> "pairs")
      .map { case (k, r) => k -> Compaction.compact(spark, s"$store/$r", 3L) }
    assert(stats("vecs").get.batchesMerged == 3)
    assert(stats("index").get.batchesMerged == 3)
    assert(stats("pairs").get.batchesMerged == 2, "batch 0 wrote no pairs")
    assert(spark.read.parquet(vecsP).count() == 4)
    assert(spark.read.parquet(pairsP).select("new_id", "corpus_id")
      .as[(Long, Long)].collect().toSet == pairsBefore)

    // the stream restarts over the compacted stores: next batch is 3
    // (never a compacted id) and probes the forest like any corpus
    val q2 = stream()
    try {
      input.addData((5L, vec(1, 0.02f))); q2.processAllAvailable()
    } finally q2.stop()
    val pairsAfter = spark.read.parquet(pairsP)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairsAfter == pairsBefore ++ Set((5L, 1L), (5L, 3L), (5L, 4L)),
      s"resumed batch must match against the COMPACTED index, got $pairsAfter")
    assert(spark.read.parquet(vecsP).count() == 5, "no duplicated vectors")
  }

  test("consolidated bucket index: matching is unchanged, the tail empties, resume still pairs") {
    val root = tmp("compact-tier")
    val (store, idxP) = (s"$root/store", s"$root/index")
    def ingest(id: Long, batch: Long, w: Float): Unit =
      VecIngest.ingestBatch(Seq((id, vec(1, w))).toDF("vec_id", "embedding"),
        batch, store, idxP, 0.99)
    VecIngest.ingestBatch(
      Seq((1L, vec(1)), (2L, vec(99))).toDF("vec_id", "embedding"),
      0L, store, idxP, 0.99)
    ingest(3L, 1L, 0.01f)
    ingest(4L, 2L, -0.01f)
    def pairs = pairsAt(store)
    assert(pairs == Set((3L, 1L), (4L, 1L), (4L, 3L)))

    // a checkpoint that committed batches 0..2
    val ckpt = s"$root/ckpt"
    commitThrough(ckpt, 2L)
    VecIngest.consolidate(spark, store, idxP, ckpt)
    val wm = GenForest.consolidatedThrough(spark, idxP)
    assert(wm.contains(2L))
    // the probe reads the forest plus the hot batches above the
    // watermark: none is left above it, and the forest holds every hot
    // bucket row
    assert(batchIds(s"$store/buckets").forall(b => wm.exists(b <= _)),
      "tail must be empty: no hot batch above the watermark")
    val tier = spark.read.parquet(s"$idxP/buckets")
    val hot = spark.read.parquet(s"$store/buckets").select("vec_id", "tbl", "bucket")
    assert(hot.except(tier.select("vec_id", "tbl", "bucket")).isEmpty,
      "every hot bucket row must be in the forest")
    assert(tier.select("vec_id").distinct().count() == 4)
    assert(tier.columns.contains("pb"), "tier is laid out by the pruning key")

    // the next batch probes THROUGH the forest: same near-dup direction
    // must still pair with everything, via pb-pruned forest + empty tail
    ingest(5L, 3L, 0.02f)
    assert(pairs == Set((3L, 1L), (4L, 1L), (4L, 3L),
      (5L, 1L), (5L, 3L), (5L, 4L)),
      s"tiered probe must find all prior near-dups, got $pairs")
    // replaying the post-consolidation batch stays a no-op
    ingest(5L, 3L, 0.02f)
    assert(pairs.count(_._1 == 5L) == 3)

    // the layout mod is a store-lifetime constant: a later maintenance
    // run at a different mod would mis-prune every probe — fails loudly
    commitThrough(ckpt, 3L)
    val e = intercept[IllegalArgumentException] {
      VecIngest.consolidate(spark, store, idxP, ckpt, pbMod = 64)
    }
    assert(e.getMessage.contains("mod 1024"))
  }

  test("maintain runs the full runbook and the stream keeps pairing across cycles") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("compact-maintain")
    val (store, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
    val input = MemoryStream[(Long, Seq[Float])]
    def stream() = VecIngest.start(input.toDF().toDF("vec_id", "embedding"),
      store, idxP, ckpt, minSim = 0.99)
    def cycle(data: (Long, Seq[Float])*): Unit = {
      val q = stream()
      try { input.addData(data: _*); q.processAllAvailable() } finally q.stop()
    }
    cycle((1L, vec(1)), (2L, vec(99)))
    cycle((3L, vec(1, 0.01f)))
    VecIngest.maintain(spark, store, idxP, ckpt)
    // two batches consolidated into one generation, nothing to fold
    assert(GenForest.consolidatedThrough(spark, idxP).contains(1L) && gens(idxP) == 1)
    // second session + second maintenance: the new batch lands in a
    // second generation, the two fold to one, and matching still spans
    // everything
    cycle((4L, vec(1, -0.01f)))
    VecIngest.maintain(spark, store, idxP, ckpt)
    assert(GenForest.consolidatedThrough(spark, idxP).contains(2L) && gens(idxP) == 1)
    cycle((5L, vec(1, 0.02f)))
    val pairs = pairsAt(store)
    assert(pairs == Set((3L, 1L), (4L, 1L), (4L, 3L),
      (5L, 1L), (5L, 3L), (5L, 4L)),
      s"matching must survive two maintenance cycles, got $pairs")
  }

  test("a batch written but not committed never enters a generation: " +
      "maintain, then its replay, adds no self-pair") {
    // batches 0..4 of near-duplicates of one direction; batch 4 landed
    // but its commit did not (the stream died after the sink writes).
    // Maintenance consolidates what can no longer replay and compacts
    // the hot stores below the watermark; the replay of batch 4 must
    // then see exactly the corpus a crash-free run saw.
    def run(crash: Boolean): Set[(Long, Long)] = {
      val root = tmp("vingest-cap")
      val (store, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
      def ingest(b: Long): Unit = VecIngest.ingestBatch(
        Seq((10L + b, vec(1, 0.005f * b))).toDF("vec_id", "embedding"),
        b, store, idxP, 0.99)
      for (b <- 0L to 4L) ingest(b)
      commitThrough(ckpt, if (crash) 3L else 4L)
      VecIngest.maintain(spark, store, idxP, ckpt)
      if (crash) {
        assert(GenForest.consolidatedThrough(spark, idxP).contains(3L),
          "the uncommitted batch must stay out of every generation")
        ingest(4L)
      }
      assert(spark.read.parquet(s"$store/vecs").count() == 5, "no duplicated vectors")
      pairsAt(store)
    }
    val clean = run(crash = false)
    val replayed = run(crash = true)
    assert(!replayed.exists(p => p._1 == p._2), s"self-pair after replay: $replayed")
    assert(replayed == clean, s"replay after maintain changed the pairs: $replayed vs $clean")
  }

  test("a consolidation whose _through write is lost re-runs to identical " +
      "matches and holds every bucket row once") {
    def run(loseWatermark: Boolean): (Set[(Long, Long)], org.apache.spark.sql.DataFrame) = {
      val root = tmp("vingest-crash")
      val (store, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
      def ingest(b: Long): Unit = VecIngest.ingestBatch(
        Seq((10L + b, vec(1, 0.005f * b)), (100L + b, vec(40 + b.toInt)))
          .toDF("vec_id", "embedding"), b, store, idxP, 0.99)
      ingest(0L); ingest(1L)
      commitThrough(ckpt, 1L)
      VecIngest.consolidate(spark, store, idxP, ckpt)
      // the crash window: the generation is installed, its watermark
      // is not — the next batch probes and the retry consolidates
      if (loseWatermark) fs.delete(new Path(idxP, "_through"), false)
      ingest(2L)
      commitThrough(ckpt, 2L)
      VecIngest.consolidate(spark, store, idxP, ckpt)
      ingest(3L)
      (pairsAt(store), spark.read.parquet(s"$idxP/buckets"))
    }
    val (clean, _) = run(loseWatermark = false)
    val (crashed, forest) = run(loseWatermark = true)
    assert(crashed == clean, s"re-run after a lost watermark changed the pairs: $crashed vs $clean")
    assert(crashed.nonEmpty, "fixture must produce near-dup pairs")
    assert(forest.groupBy("vec_id", "tbl").count().filter("count > 1").isEmpty,
      "no (vec_id, tbl) bucket row may be held twice after the retry")
    assert(forest.select("vec_id").distinct().count() == 6)
  }
}
