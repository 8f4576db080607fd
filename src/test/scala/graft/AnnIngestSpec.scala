package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.AnnIngest

/** Growing IVFADC vector store: an index grown from any batch split
  * encodes exactly what a one-shot encode against the same frozen
  * quantizer produces, replays and crash windows lose and duplicate
  * nothing, and rebase folds generations without touching a code. */
class AnnIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select("vec_id", "embedding")

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(tag).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)
  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** One-shot encode of `vecs` against a FROZEN quantizer — the
    * ground truth every grown forest must match row-for-row (encode
    * is per-row deterministic; only training touches aggregates). */
  private def encodeOneShot(vecs: org.apache.spark.sql.DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      books: Seq[Seq[Seq[Float]]]): Set[(Long, Long, Seq[Int])] = {
    val assigned = Similarity.assignCells(
      vecs.select(col("vec_id"), col("embedding")), centroids)
    val resid = Similarity.residualFrame(vecs, assigned, centroids)
    Similarity.pqEncode(resid, books)
      .join(assigned, Seq("vec_id"))
      .select("vec_id", "cell", "codes")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq))
      .toSet
  }

  private def forestContent(indexPath: String): Set[(Long, Long, Seq[Int])] =
    spark.read.parquet(s"$indexPath/index")
      .select(col("vec_id"), col("cell").cast("long"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq))
      .toSet

  test("incremental consolidation encodes exactly the one-shot set " +
      "against the frozen quantizer") {
    val root = tmp("annstore")
    // first consolidation trains on b0 only — the frozen quantizer
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      0L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val (centroids, books) = AnnIngest.loadQuantizer(spark, s"$root/index")
    // b0 holds only vec_ids ≡ 0 (mod 3), so the global-low-id k-means
    // seed set is thinner than the 8 requested — the artifact records
    // what training PRODUCED, the shape stamp what was REQUESTED
    assert(centroids.nonEmpty && books.size == 16)
    // two more batches fold in against the SAME quantizer
    for (b <- 1L until 3L)
      AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b),
        b, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val (c2, b2) = AnnIngest.loadQuantizer(spark, s"$root/index")
    assert(c2 == centroids && b2 == books,
      "a later consolidation must never retrain the quantizer")
    assert(forestContent(s"$root/index") ===
      encodeOneShot(emb, centroids, books),
      "grown forest must hold exactly the one-shot encode of the corpus")
    // the serve path agrees with the generic search over the same index
    val grown = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect()
    val idxDf = spark.read.parquet(s"$root/index/index")
      .select("vec_id", "cell", "codes")
    val generic = Similarity.ivfPqSearch(emb, idxDf, centroids, books,
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect()
    assert(grown.sameElements(generic),
      "leaf-dir-pruned serving must equal the generic search")
  }

  test("replayed batches and an already-current watermark are no-ops") {
    val root = tmp("annstore2")
    for (b <- 0L until 3L)
      AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b),
        b, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val before = forestContent(s"$root/index")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      1L, s"$root/store") // at-least-once replay
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index") // current
    assert(forestContent(s"$root/index") === before)
  }

  test("a crash between gen install and watermark write never " +
      "duplicates a vector") {
    val root = tmp("annstore3")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      0L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val (centroids, books) = AnnIngest.loadQuantizer(spark, s"$root/index")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      1L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    // simulate the crash window: gen=1 installed, watermark lost
    fs(hp(root)).delete(hp(s"$root/index/_through"), false)
    // new data arrives before the retry
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 2),
      2L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val content = forestContent(s"$root/index")
    val ids = spark.read.parquet(s"$root/index/index").select("vec_id")
      .collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length,
      "crash-window retry must not re-encode batches an installed gen covers")
    assert(content === encodeOneShot(emb, centroids, books))
  }

  test("rebase folds generations without changing a code; search is " +
      "identical either side") {
    val root = tmp("annstore4")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      0L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    for (b <- 1L until 3L) {
      AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b),
        b, s"$root/store")
      AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    }
    val gensBefore = fs(hp(root)).listStatus(hp(s"$root/index/index"))
      .map(_.getPath.getName).count(_.startsWith("gen="))
    assert(gensBefore > 1, "soak setup must produce a multi-gen forest")
    val before = forestContent(s"$root/index")
    val searchBefore = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect()
    AnnIngest.rebase(spark, s"$root/index")
    val gensAfter = fs(hp(root)).listStatus(hp(s"$root/index/index"))
      .map(_.getPath.getName).count(_.startsWith("gen="))
    assert(gensAfter == 1, "rebase must leave exactly one generation")
    assert(forestContent(s"$root/index") === before)
    val searchAfter = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect()
    assert(searchAfter.sameElements(searchBefore))
  }

  test("serve path prunes to probed cells at the scan and lists only " +
      "probed leaf dirs") {
    val root = tmp("annstore5")
    for (b <- 0L until 3L)
      AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b),
        b, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val ann = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5)
    val plan = ann.queryExecution.executedPlan.toString
    val indexScan = plan.linesIterator
      .filter(l => l.contains("ParquetScan") && l.contains("/index")).toSeq
    assert(indexScan.nonEmpty, s"expected the codes index scan:\n$plan")
    assert(indexScan.forall(_.contains("PartitionFilters: [")),
      s"grown index scan must carry the cell partition filter; got:\n${
        indexScan.mkString("\n")}")
    assert(ann.select("neighbor_id").distinct().count() > 0)
  }

  test("an unconsolidated index serves empty with the contract schema; " +
      "post-watermark ingests stay invisible until consolidated") {
    val root = tmp("annstore6")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      0L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val served = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).collect()
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      1L, s"$root/store")
    val after = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).collect()
    assert(after.sameElements(served),
      "unconsolidated vectors must not be visible to the serve path")
    // never-consolidated: no quantizer — the serve path must fail
    // loudly at the load, not serve garbage
    val root2 = tmp("annstore7")
    AnnIngest.ingestBatch(emb.limit(5), 0L, s"$root2/store")
    intercept[org.apache.spark.sql.AnalysisException] {
      AnnIngest.searchGrown(emb, spark, s"$root2/index",
        nQueries = 10, k = 5)
    }
  }

  test("as-of-generation serving pins a snapshot while later " +
      "consolidations land") {
    val root = tmp("annstore10")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      0L, s"$root/store")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      1L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val wm0 = AnnIngest.consolidatedThrough(spark, s"$root/index").get
    val snap = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect()
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 2),
      2L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val latest = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect()
    val asOf = AnnIngest.searchGrown(emb, spark, s"$root/index",
        nQueries = 10, k = 5, asOfGen = Some(wm0))
      .orderBy("query_id", "rank").collect()
    assert(asOf.sameElements(snap),
      "as-of-watermark serving must see exactly the snapshot's corpus")
    assert(!latest.sameElements(snap),
      "soak setup must actually change the result across the watermark")
  }

  test("hot-store compaction below the watermark is invisible to the " +
      "index; the floor contract is why safeBelow must not pass it") {
    val root = tmp("annstore11")
    for (b <- 0L until 3L)
      AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b),
        b, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val (centroids, books) = AnnIngest.loadQuantizer(spark, s"$root/index")
    val before = forestContent(s"$root/index")
    // fold batches 0..1 (both <= watermark 2) into one segment
    graft.streaming.Compaction.compact(spark, s"$root/store/vecs",
      safeBelow = 2L)
    // a later batch still consolidates incrementally on top
    val extra = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
      .withColumn("vec_id", col("vec_id") + 100000L)
    AnnIngest.ingestBatch(extra, 3L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val content = forestContent(s"$root/index")
    assert(content.size == before.size + extra.count(),
      "compaction must neither lose nor duplicate consolidated batches")
    assert(content === encodeOneShot(emb.unionByName(extra), centroids, books))
  }

  test("tombstones hide immediately (even under as-of), and rebase " +
      "purges them from disk") {
    import spark.implicits._
    val root = tmp("annstore12")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      0L, s"$root/store")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      1L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val wm0 = AnnIngest.consolidatedThrough(spark, s"$root/index").get
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 2),
      2L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val served = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).select("neighbor_id").collect()
      .map(_.getLong(0)).distinct
    val dead = served.take(2)
    assert(dead.length == 2)
    AnnIngest.tombstone(dead.toSeq.toDF("vec_id"), 0L, s"$root/index")
    val after = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    assert(dead.forall(!after.contains(_)),
      "a committed tombstone must hide the vector from every result")
    val asOf = AnnIngest.searchGrown(emb, spark, s"$root/index",
        nQueries = 10, k = 5, asOfGen = Some(wm0))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(dead.forall(!asOf.contains(_)),
      "time travel must not resurrect a takedown")
    // still on disk (logical delete) until rebase folds them out
    val idsOnDisk = spark.read.parquet(s"$root/index/index")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dead.forall(idsOnDisk.contains))
    val beforeRebase = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect()
    AnnIngest.rebase(spark, s"$root/index")
    val idsAfter = spark.read.parquet(s"$root/index/index")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dead.forall(!idsAfter.contains(_)),
      "rebase must physically purge tombstoned rows")
    val afterRebase = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect()
    assert(afterRebase.sameElements(beforeRebase),
      "the purge must not change what was already being served")
    // the takedown anti-join must ride the broadcast path
    val plan = AnnIngest.searchGrown(emb, spark, s"$root/index",
        nQueries = 10, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"tombstone-filtered serve must stay broadcast-only:\n$plan")
  }

  test("a tombstoned id never re-enters through later ingests") {
    import spark.implicits._
    val root = tmp("annstore13")
    for (b <- 0L until 2L)
      AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b),
        b, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val victim = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).select("neighbor_id").head().getLong(0)
    AnnIngest.tombstone(Seq(victim).toDF("vec_id"), 0L, s"$root/index")
    // re-add attempt rides in with genuinely new vectors
    val readd = emb.filter(col("vec_id") === victim)
    val fresh = emb.filter(pmod(col("vec_id"), lit(3)) === 2)
      .withColumn("vec_id", col("vec_id") + 200000L)
    AnnIngest.ingestBatch(readd.unionByName(fresh), 2L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val ids = spark.read.parquet(s"$root/index/index")
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids.count(_ == victim) == 1,
      "encode must skip the re-added tombstoned id (old gen's copy " +
        "remains until rebase, but no new copy may land)")
    assert(fresh.collect().map(_.getLong(0)).forall(ids.contains),
      "the skip must not swallow the batch's live vectors")
    val after = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    assert(!after.contains(victim))
    // a batch consisting ONLY of tombstoned ids empties at encode —
    // no broken all-marker generation may land, and the whole-forest
    // read must stay healthy
    AnnIngest.ingestBatch(readd, 3L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    assert(!spark.read.parquet(s"$root/index/index").isEmpty)
    assert(AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).count() > 0)
  }

  test("a TOTAL takedown purges to an empty-but-healthy index that can " +
      "grow again") {
    import spark.implicits._
    val root = tmp("annstore14")
    AnnIngest.ingestBatch(emb, 0L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    AnnIngest.tombstone(emb.select("vec_id"), 0L, s"$root/index")
    AnnIngest.rebase(spark, s"$root/index")
    assert(AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).count() == 0,
      "everything is deleted — nothing may rank")
    val fresh = emb.withColumn("vec_id", col("vec_id") + 500000L)
    AnnIngest.ingestBatch(fresh, 1L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val (centroids, books) = AnnIngest.loadQuantizer(spark, s"$root/index")
    assert(forestContent(s"$root/index") ===
      encodeOneShot(fresh, centroids, books),
      "post-total-takedown regrowth must hold exactly the fresh corpus")
  }

  test("a capped training set still encodes the WHOLE corpus") {
    val root = tmp("annstore9")
    for (b <- 0L until 3L)
      AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b),
        b, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index",
      trainCap = Some(20))
    val (centroids, books) = AnnIngest.loadQuantizer(spark, s"$root/index")
    // training saw <= 20 vectors; the forest must still hold every one
    assert(forestContent(s"$root/index") ===
      encodeOneShot(emb, centroids, books))
  }

  test("maintain runs the whole runbook: consolidate, gen-bounded " +
      "rebase, tombstone purge, hot-store compaction") {
    import spark.implicits._
    val root = tmp("annstore15")
    // grow with maintenance after every batch, rebase threshold 2
    for (b <- 0L until 4L) {
      AnnIngest.ingestBatch(
        emb.filter(pmod(col("vec_id"), lit(4)) === b), b, s"$root/store")
      AnnIngest.maintain(spark, s"$root/store", s"$root/index",
        rebaseAtGens = 2)
    }
    val fs0 = fs(hp(root))
    val gens = fs0.listStatus(hp(s"$root/index/index"))
      .map(_.getPath.getName).count(_.startsWith("gen="))
    assert(gens <= 2, s"maintain must bound the gen count, got $gens")
    val (centroids, books) = AnnIngest.loadQuantizer(spark, s"$root/index")
    assert(forestContent(s"$root/index") ===
      encodeOneShot(emb, centroids, books),
      "maintenance cycles must preserve exactly the corpus encode")
    // compaction must have folded covered batches (store dirs < batches)
    val storeDirs = fs0.listStatus(hp(s"$root/store/vecs"))
      .map(_.getPath.getName).count(_.startsWith("batch_id="))
    assert(storeDirs < 4,
      s"maintain must compact the covered hot store, got $storeDirs dirs")
    // a takedown goes through the same single entry point
    val victim = AnnIngest.searchGrown(emb, spark, s"$root/index",
      nQueries = 10, k = 5).select("neighbor_id").head().getLong(0)
    AnnIngest.tombstone(Seq(victim).toDF("vec_id"), 0L, s"$root/index")
    AnnIngest.maintain(spark, s"$root/store", s"$root/index",
      rebaseAtGens = 2)
    assert(spark.read.parquet(s"$root/index/index")
      .filter(col("vec_id") === victim).count() == 0,
      "maintain must purge unpurged tombstones")
  }

  test("streaming ingest through foreachBatch grows the consolidatable " +
      "store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("annstream")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = AnnIngest.start(
      input.toDF().toDF("vec_id", "embedding"), s"$root/store",
      tmp("annstream-ckpt"))
    try {
      val rows = emb.limit(40).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      input.addData(rows.take(20).toSeq)
      q.processAllAvailable()
      input.addData(rows.drop(20).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    val n = spark.read.parquet(s"$root/index/index").count()
    assert(n == 40, s"both micro-batches must be encoded, got $n")
  }

  test("a frozen quantizer refuses a mismatched training shape") {
    val root = tmp("annstore8")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      0L, s"$root/store")
    AnnIngest.consolidate(spark, s"$root/store", s"$root/index")
    AnnIngest.ingestBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      1L, s"$root/store")
    val e = intercept[IllegalArgumentException] {
      AnnIngest.consolidate(spark, s"$root/store", s"$root/index", m = 8)
    }
    assert(e.getMessage.contains("frozen quantizer"))
  }

  private def dirCount(path: String, prefix: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s =>
      s.isDirectory && s.getPath.getName.startsWith(prefix))
  }

  test("ANN maintain bounds gens, hot store, AND tombstone dirs across " +
      "a long blind-timer loop; takedowns stay permanent; serve exact") {
    val base = tmp("r18-ann")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val nVecs = 60
    val dim = 8
    def vec(id: Long) = spark.range(id, id + 1).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        "i -> cast(sin(id * 13 + i * 7) as float))").as("embedding"))
    val all = spark.range(nVecs).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        "i -> cast(sin(id * 13 + i * 7) as float))").as("embedding"))

    val rebaseAtGens = 3
    val cycles = 12
    val dead = scala.collection.mutable.Set.empty[Long]
    for (c <- 0 until cycles) {
      // 5 vectors per cycle, a takedown of an already-served vector
      // every third cycle — the blind scheduler's steady state
      val ids = (c * 5 until (c + 1) * 5).map(_.toLong)
      AnnIngest.ingestBatch(
        all.filter(col("vec_id").isin(ids.map(Long.box): _*)), c.toLong, store)
      if (c % 3 == 2) {
        val victim = (c * 5 - 3).toLong
        AnnIngest.tombstone(Seq(victim).toDF("vec_id"), c.toLong, idx)
        dead += victim
      }
      AnnIngest.maintain(spark, store, idx, rebaseAtGens = rebaseAtGens)
      // bounded-dirs is the CONTRACT, not an end-state accident:
      // assert it every cycle
      assert(dirCount(s"$idx/index", "gen=") <= rebaseAtGens + 1,
        s"cycle $c: gen dirs exceed rebaseAtGens+1")
      // tiered compaction: a class merges only at `fanout` (4) dirs,
      // so the post-maintain count stays below fanout per size class
      // (these toy batches all share class 0)
      assert(dirCount(s"$store/vecs", "batch_id=") <= 4,
        s"cycle $c: hot store dirs not tier-compacted below the watermark")
      // tombstone batch dirs: folded into the snapshot at or below the
      // purge stamp, so at most the takedowns since the last purge
      assert(dirCount(s"$idx/tombstones", "batch_id=") <= 3,
        s"cycle $c: tombstone dirs unbounded")
      // snapshot versions: keep-two-back retention
      assert(dirCount(s"$idx/tombstones_snapshot", "v=") <= 2,
        s"cycle $c: snapshot versions unbounded")
    }
    assert(AnnIngest.consolidatedThrough(spark, idx).contains((cycles - 1).toLong))
    // takedowns stayed permanent through every fold: no dead vector
    // serves, and the grown path equals the generic search over the
    // survivors (the AnnIngestProps equivalence, at loop horizon)
    val (centroids, books) = AnnIngest.loadQuantizer(spark, idx)
    val grown = AnnIngest.searchGrown(all, spark, idx, nQueries = 3, k = 4)
    assert(grown.filter(col("neighbor_id").isin(dead.toSeq.map(Long.box): _*))
      .isEmpty, "a tombstoned vector resurfaced after tombstone-dir folding")
    val idxDf = spark.read.parquet(s"$idx/index")
      .select("vec_id", "cell", "codes")
      .filter(!col("vec_id").isin(dead.toSeq.map(Long.box): _*))
    val generic = Similarity.ivfPqSearch(all, idxDf, centroids, books,
      nQueries = 3, k = 4)
    assert(grown.orderBy("query_id", "rank").collect().toSeq.map(_.toString) ==
      generic.orderBy("query_id", "rank").collect().toSeq.map(_.toString))
    // a re-ingest of a dead id stays dead (takedown is forever) even
    // though its tombstone batch dir was folded away
    val victim = dead.head
    AnnIngest.ingestBatch(vec(victim), cycles.toLong, store)
    AnnIngest.maintain(spark, store, idx, rebaseAtGens = rebaseAtGens)
    assert(spark.read.parquet(s"$idx/index")
      .filter(col("vec_id") === victim).isEmpty,
      "a folded tombstone lost its encode-skip force")
    // a takedown aimed at a covered (folded) batch id would be
    // invisible to every reader — the write refuses loudly instead
    val covers = graft.streaming.TombstoneStore.coveredThrough(spark, idx)
    assert(covers >= 0, "the loop must have folded at least one takedown")
    val e = intercept[IllegalArgumentException] {
      AnnIngest.tombstone(Seq(1L).toDF("vec_id"), covers, idx)
    }
    assert(e.getMessage.contains("fresh"))
  }
}
