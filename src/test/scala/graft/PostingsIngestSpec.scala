package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Retrieval}
import graft.streaming.{PostingsIngest, TombstoneStore}

/** Growing BM25 store: a store grown from any batch split answers
  * identically to the one-shot query, replays are no-ops, and
  * consolidation produces the artifact layout bit-compatible with
  * the one-shot build. */
class PostingsIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(tag).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("a store grown in batches answers exactly like the one-shot query") {
    val store = tmp("pstore")
    for (b <- 0L until 3L)
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
    val qterms = Retrieval.queryTermsLocal(docs)
    val grown = PostingsIngest.bm25FromStore(spark, store, qterms)
      .orderBy("q_id", "rank").collect()
    val oneShot = Retrieval.bm25TopK(docs).orderBy("q_id", "rank").collect()
    assert(grown.sameElements(oneShot),
      "batch split must be invisible to the search result")
  }

  test("at-least-once replay of a committed batch changes nothing") {
    val store = tmp("pstore2")
    for (b <- 0L until 3L)
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
    val qterms = Retrieval.queryTermsLocal(docs)
    val before = PostingsIngest.bm25FromStore(spark, store, qterms)
      .orderBy("q_id", "rank").collect()
    PostingsIngest.ingestBatch(
      docs.filter(pmod(col("doc_id"), lit(3)) === 1), 1L, store)
    val after = PostingsIngest.bm25FromStore(spark, store, qterms)
      .orderBy("q_id", "rank").collect()
    assert(after.sameElements(before),
      "replayed batch must overwrite only its own partition")
    // stats rows too: one per batch, not one per attempt
    assert(spark.read.parquet(s"$store/stats").count() == 3)
  }

  test("consolidate folds the forest into the artifact layout bm25FromIndex serves") {
    val store = tmp("pstore3")
    val idx = tmp("pidx3")
    for (b <- 0L until 3L)
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    val served = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    val oneShot = Retrieval.bm25TopK(docs).orderBy("q_id", "rank").collect()
    assert(served.sameElements(oneShot),
      "consolidated artifact must serve the one-shot answer")
    // layout: pb directories exist, stamped mod readable from the
    // index-root marker (stats are per-generation rows, no pb_mod col)
    val idxPath = new org.apache.hadoop.fs.Path(idx)
    val idxFs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.core.Markers.read(idxFs,
      new org.apache.hadoop.fs.Path(idxPath, "_pb_mod")).get.toInt == 8)
    assert(spark.read.parquet(s"$idx/stats").columns.contains("gen"),
      "grown-layout stats must be keyed by generation for as-of serving")
    assert(spark.read.parquet(s"$idx/postings").select("pb").distinct().count() > 1,
      "consolidation must produce the token-partitioned layout")
  }

  test("re-consolidation folds ONLY batches past the watermark into a new generation") {
    val store = tmp("pstore6")
    val idx = tmp("pidx6")
    for (b <- 0L until 2L)
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    assert(PostingsIngest.consolidatedThrough(spark, idx).contains(1L))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def snap(p: String): Set[(String, Long, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      val b = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val s = it.next()
        b += ((s.getPath.toString, s.getLen, s.getModificationTime))
      }
      b.result()
    }
    val gen1Before = snap(s"$idx/postings/gen=1")
    // grow the store, consolidate again
    PostingsIngest.ingestBatch(
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L, store)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    assert(PostingsIngest.consolidatedThrough(spark, idx).contains(2L))
    // the prior generation is byte-untouched (paths, sizes, mtimes)
    assert(snap(s"$idx/postings/gen=1") == gen1Before,
      "re-consolidation must never rewrite a prior generation")
    // the new generation holds exactly the new batch's postings
    val g2 = spark.read.parquet(s"$idx/postings")
      .filter(col("gen") === 2).count()
    val batch2 = Retrieval.postings(
      docs.filter(pmod(col("doc_id"), lit(3)) === 2)).count()
    assert(g2 == batch2, "gen=2 must contain only the newly-folded batch")
    // and serving through the grown index equals the one-shot answer
    val probe = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
    // the static pb prune must survive the two-level gen/pb layout —
    // partition pruning on pb applies within every generation
    val scans = probe.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains(idx)).mkString("\n")
    assert(scans.contains("PartitionFilters: [pb"),
      s"gen-layout postings scan must keep the pb partition filter:\n$scans")
    val served = probe.orderBy("q_id", "rank").collect()
    val oneShot = Retrieval.bm25TopK(docs).orderBy("q_id", "rank").collect()
    assert(served.sameElements(oneShot),
      "incrementally-grown index must serve the one-shot answer")
    // idempotence: a third call with nothing new is a complete no-op
    val allBefore = snap(idx)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    assert(snap(idx) == allBefore, "watermark-current consolidate must be a no-op")
    // and the structural pb_mod guard refuses a mid-life change
    val e = intercept[IllegalArgumentException] {
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), 3L, store)
      PostingsIngest.consolidate(spark, store, idx, pbMod = 16)
    }
    assert(e.getMessage.contains("pb_mod"))
  }

  test("a consolidation crash before the watermark write rolls forward without duplicating") {
    val store = tmp("pstore8")
    val idx = tmp("pidx8")
    for (b <- 0L until 2L)
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    // simulate the crash window: gen=1 is installed but the watermark
    // write never happened
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(idx, "_through"), false)
    assert(PostingsIngest.consolidatedThrough(spark, idx).isEmpty)
    // new data arrives before anyone retries
    PostingsIngest.ingestBatch(
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L, store)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    assert(PostingsIngest.consolidatedThrough(spark, idx).contains(2L))
    // the retried run must fold batches 0..1 ZERO more times: the
    // postings forest holds each (doc, tok) exactly once
    val dups = spark.read.parquet(s"$idx/postings")
      .groupBy("doc_id", "tok").count().filter(col("count") > 1).count()
    assert(dups == 0, "crash retry must not re-fold batches a generation already covers")
    val served = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    val oneShot = Retrieval.bm25TopK(docs).orderBy("q_id", "rank").collect()
    assert(served.sameElements(oneShot), "recovered index must serve the one-shot answer")
  }

  test("rebase folds the gen forest into one generation; crash mid-swap recovers both ways") {
    val store = tmp("pstore9")
    val idx = tmp("pidx9")
    for (b <- 0L until 3L) {
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
      PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    }
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def gens() = fs.listStatus(new org.apache.hadoop.fs.Path(idx, "postings"))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).sorted.toSeq
    assert(gens() == Seq("gen=0", "gen=1", "gen=2"),
      s"three minor runs must leave three generations, got ${gens()}")
    val before = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    PostingsIngest.rebase(spark, idx)
    assert(gens() == Seq("gen=2"), s"rebase must leave one generation, got ${gens()}")
    val after = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    assert(after.sameElements(before), "rebase must not change served results")
    assert(PostingsIngest.consolidatedThrough(spark, idx).contains(2L))
    // crash simulation: forest retired to trash, install never happened
    // (the worst window — genRoot missing). Rebase must roll BACK from
    // trash (no stamped scratch), and consolidate must refuse until then.
    val genRoot = new org.apache.hadoop.fs.Path(idx, "postings")
    val trash = new org.apache.hadoop.fs.Path(idx, ".rebase-old-postings")
    require(fs.rename(genRoot, trash))
    val e = intercept[IllegalArgumentException] {
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), 3L, store)
      PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    }
    assert(e.getMessage.contains("rebase recovery state"))
    PostingsIngest.rebase(spark, idx) // recovery prologue restores, then no-op
    assert(gens() == Seq("gen=2"), "roll-back must restore the live forest")
    val recovered = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    assert(recovered.sameElements(before), "recovered index must serve identically")
  }

  test("an empty batch writes clean zero stats, never nulls") {
    val store = tmp("pstore7")
    PostingsIngest.ingestBatch(docs.filter(col("doc_id") < 5), 0L, store)
    PostingsIngest.ingestBatch(docs.filter(lit(false)), 1L, store)
    val st = spark.read.parquet(s"$store/stats").collect()
    assert(st.length == 2)
    assert(st.forall(r => !r.isNullAt(r.fieldIndex("n"))
        && !r.isNullAt(r.fieldIndex("sumdl"))),
      "an empty replayed batch must write (0, 0), not (0, NULL) — the " +
        "store row is consumed by folds that may not null-skip")
    val empty = spark.read.parquet(s"$store/stats")
      .filter(col("batch_id") === 1).head()
    assert(empty.getLong(empty.fieldIndex("n")) == 0L
      && empty.getLong(empty.fieldIndex("sumdl")) == 0L)
  }

  test("an EMPTY batch consolidates incrementally without breaking the forest") {
    val store = tmp("pstore10")
    val idx = tmp("pidx10")
    PostingsIngest.ingestBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 0), 0L, store)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    // an idle micro-batch window: nothing arrived, the batch is empty
    PostingsIngest.ingestBatch(docs.filter(lit(false)), 1L, store)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    assert(PostingsIngest.consolidatedThrough(spark, idx).contains(1L),
      "the watermark must advance past an empty batch")
    PostingsIngest.ingestBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, store)
    PostingsIngest.consolidate(spark, store, idx, pbMod = 8)
    val served = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    val oneShot = Retrieval.bm25TopK(docs).orderBy("q_id", "rank").collect()
    assert(served.sameElements(oneShot),
      "an empty generation must be invisible to serving")
  }

  test("doc tombstones hide immediately; the purging rebase converges " +
      "the index bit-exactly to the one-shot answer over the survivors") {
    import spark.implicits._
    val store = tmp("pstore-del")
    val idx = tmp("pidx-del")
    for (b <- 0L until 3L)
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
    PostingsIngest.consolidate(spark, store, idx)
    val before = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
    // victim: a ranked doc that is NOT a query doc, so the query set
    // is identical before and after the takedown
    val victim = before.filter(col("doc_id") >= Retrieval.NQueries)
      .select("doc_id").head().getLong(0)
    // tombstone in TWO batches (one a duplicate request) plus a
    // never-ingested id — dl dedupe and the no-op path both exercised
    PostingsIngest.tombstoneDocs(Seq(victim).toDF("doc_id"), 0L, idx)
    PostingsIngest.tombstoneDocs(Seq(victim, 999999L).toDF("doc_id"), 1L, idx)
    val hidden = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
    assert(hidden.filter(col("doc_id") === victim).count() == 0,
      "a committed tombstone must hide the doc from every result")
    assert(hidden.count() > 0)
    val alive = docs.filter(col("doc_id") =!= victim)
    val oneShot = Retrieval.bm25TopK(alive).orderBy("q_id", "rank").collect()
    // ZERO DRIFT: bit-equality with the one-shot alive-corpus answer
    // holds IMMEDIATELY — df corrected from the probe's own dead
    // hits, (n, sumdl) from the dl the tombstone batch recorded
    val immediate = IndexStore.bm25FromIndex(alive, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    assert(immediate.sameElements(oneShot),
      "serve must be bit-equal to the one-shot alive-corpus answer " +
        "from the tombstone commit, before any rebase")
    // the purging rebase reclaims space and retires the corrections
    PostingsIngest.rebase(spark, idx)
    val served = IndexStore.bm25FromIndex(alive, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    assert(served.sameElements(oneShot),
      "after the purging rebase the grown index must be bit-equal to " +
        "a one-shot build over the surviving corpus (df AND stats)")
    // physically gone, and a re-ingest cannot resurrect it
    assert(spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id") === victim).count() == 0)
    PostingsIngest.ingestBatch(docs.filter(col("doc_id") === victim), 3L, store)
    PostingsIngest.consolidate(spark, store, idx)
    assert(spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id") === victim).count() == 0,
      "encode must skip a re-added tombstoned doc")
    // the takedown anti-join must ride the broadcast path — a
    // sort-merge leftanti against the postings scan would put the
    // whole takedown feature on the shuffle bill
    val plan = IndexStore.bm25FromIndex(alive, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"tombstone-filtered probe must stay broadcast-only:\n$plan")
  }

  test("a TOTAL takedown purges to an empty-but-healthy index that can " +
      "grow again") {
    import spark.implicits._
    val store = tmp("pstore-total")
    val idx = tmp("pidx-total")
    PostingsIngest.ingestBatch(docs, 0L, store)
    PostingsIngest.consolidate(spark, store, idx)
    PostingsIngest.tombstoneDocs(docs.select("doc_id"), 0L, idx)
    PostingsIngest.rebase(spark, idx)
    val served = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
    assert(served.count() == 0, "everything is deleted — nothing may rank")
    // the store grows again with FRESH docs and serving resumes
    val fresh = docs.withColumn("doc_id", col("doc_id") + 500000L)
    PostingsIngest.ingestBatch(fresh, 1L, store)
    PostingsIngest.consolidate(spark, store, idx)
    val revived = IndexStore.bm25FromIndex(fresh, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    val oneShot = Retrieval.bm25TopK(fresh).orderBy("q_id", "rank").collect()
    assert(revived.sameElements(oneShot),
      "post-total-takedown regrowth must serve the one-shot answer " +
        "over the fresh corpus (dict and stats rebuilt clean)")
  }

  test("maintain runs the whole runbook and keeps serving the one-shot " +
      "answer") {
    val store = tmp("pstore-maint")
    val idx = tmp("pidx-maint")
    for (b <- 0L until 4L) {
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(4)) === b), b, store)
      PostingsIngest.maintain(spark, store, idx, rebaseAtGens = 2)
    }
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/postings"))
      .map(_.getPath.getName).count(_.startsWith("gen="))
    assert(gens <= 2, s"maintain must bound the gen count, got $gens")
    val storeDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/postings"))
      .map(_.getPath.getName).count(_.startsWith("batch_id="))
    assert(storeDirs < 4,
      s"maintain must compact the covered hot store, got $storeDirs dirs")
    val served = IndexStore.bm25FromIndex(docs, spark, idx,
      Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    val oneShot = Retrieval.bm25TopK(docs).orderBy("q_id", "rank").collect()
    assert(served.sameElements(oneShot),
      "maintenance cycles must preserve the one-shot answer bit-exactly")
  }

  test("as-of serving answers exactly as the index did at that " +
      "watermark — stats, df, and takedowns all scoped to the snapshot") {
    import spark.implicits._
    val store = tmp("pstore-asof")
    val idx = tmp("pidx-asof")
    val early = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
    for (b <- 0L until 2L)
      PostingsIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b, store)
    PostingsIngest.consolidate(spark, store, idx)
    val wm0 = PostingsIngest.consolidatedThrough(spark, idx).get
    PostingsIngest.ingestBatch(
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L, store)
    PostingsIngest.consolidate(spark, store, idx)
    // the snapshot answers bit-exactly as a one-shot over the early
    // corpus: leaf dirs, df, and (n, sumdl) all scoped by gen
    val asOf = IndexStore.bm25FromIndex(early, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
        asOfGen = Some(wm0))
      .orderBy("q_id", "rank").collect()
    val oneShotEarly = Retrieval.bm25TopK(early)
      .orderBy("q_id", "rank").collect()
    assert(asOf.sameElements(oneShotEarly),
      "as-of must serve the exact one-shot answer over the snapshot corpus")
    // the latest read is unaffected
    val latest = IndexStore.bm25FromIndex(docs, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect()
    assert(latest.sameElements(
      Retrieval.bm25TopK(docs).orderBy("q_id", "rank").collect()))
    // a takedown of an early doc reaches the snapshot too (no
    // resurrection), and the corrected snapshot stays bit-exact
    val victim = asOf.map(_.getLong(1)).find(_ >= Retrieval.NQueries).get
    PostingsIngest.tombstoneDocs(Seq(victim).toDF("doc_id"), 0L, idx)
    val earlyAlive = early.filter(col("doc_id") =!= victim)
    val asOfAlive = IndexStore.bm25FromIndex(earlyAlive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
        asOfGen = Some(wm0))
      .orderBy("q_id", "rank").collect()
    assert(asOfAlive.sameElements(
      Retrieval.bm25TopK(earlyAlive).orderBy("q_id", "rank").collect()),
      "the snapshot must exclude the takedown and stay bit-exact")
    // rebase does NOT collapse history: row-level src gens and the
    // per-src-gen sidecars survive the fold, so a snapshot older than
    // the fold point still serves bit-exactly (takedown included)
    PostingsIngest.rebase(spark, idx)
    val asOfAfterFold = IndexStore.bm25FromIndex(earlyAlive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
        asOfGen = Some(wm0))
      .orderBy("q_id", "rank").collect()
    assert(asOfAfterFold.sameElements(asOfAlive),
      "an asOf older than the fold point must keep serving its snapshot " +
        "bit-exactly after a rebase")
    // and the latest read is still the full (alive) corpus
    val allAlive = docs.filter(col("doc_id") =!= victim)
    assert(IndexStore.bm25FromIndex(allAlive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect().sameElements(
        Retrieval.bm25TopK(allAlive).orderBy("q_id", "rank").collect()),
      "the latest read after a purging rebase must serve the one-shot " +
        "answer over the surviving corpus")
  }

  test("streaming ingest through foreachBatch grows the searchable corpus") {
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("pstream")
    val input = MemoryStream[(Long, String)]
    val q = PostingsIngest.start(
      input.toDF().toDF("doc_id", "text"), store, tmp("pstream-ckpt"))
    try {
      input.addData((1L, "alpha beta gamma"), (2L, "delta beta"))
      q.processAllAvailable()
      input.addData((3L, "alpha alpha epsilon"))
      q.processAllAvailable()
      val qterms = Seq((1L, "alpha"))
      val hits = PostingsIngest.bm25FromStore(spark, store, qterms, k = 10)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(hits == Set(1L, 3L),
        s"both alpha docs must be retrievable across batches, got $hits")
      // the doubled tf in doc 3 must outrank doc 1's single hit
      val ranked = PostingsIngest.bm25FromStore(spark, store, qterms, k = 10)
        .orderBy("rank").select("doc_id").head().getLong(0)
      assert(ranked == 3L, "higher-tf doc must rank first")
    } finally q.stop()
  }

  // ---- the tombstone forest under maintain ----------------------------
  // The postings store's tombstone forest is bounded by the row-
  // preserving snapshot fold, and the fold is invisible to the store's
  // exact-scoring contract:
  //   1. a takedown-heavy blind-timer loop (a takedown EVERY cycle)
  //      keeps the tombstone dir count flat — the unfolded tail plus at
  //      most two snapshot versions — and serving at the horizon stays
  //      bit-equal to the one-shot BM25 over survivors;
  //   2. the fold preserves `batch_id`/`dl`/`gen` as data, so LIVE
  //      serve-time corrections (a fresh takedown admitted after folds
  //      retired the old batches, before any purge) still compose to
  //      the exact one-shot answer;
  //   3. a settle-only maintain (no new takedowns) changes no serve
  //      result, latest or as-of;
  //   4. the ingest-side guard refuses a takedown batch id at or below
  //      the purge stamp (it would fold without ever being physically
  //      purged), naming the floor.

  private def dirCount(path: String, prefix: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s =>
      s.isDirectory && s.getPath.getName.startsWith(prefix))
  }

  private def mkDocs(nDocs: Long) = spark.range(nDocs).select(
    col("id").as("doc_id"),
    expr("concat_ws(' ', transform(sequence(0, 39), " +
      "i -> concat('w', pmod(id * 31 + i * 17, 2000))))").as("text"))

  test("takedown-heavy blind-timer loop: postings tombstone dirs stay " +
      "FLAT (unfolded tail + <=2 snapshot versions), serve exact at the " +
      "horizon") {
    val base = tmp("r19-heavy")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val nDocs = 2000L
    val cycles = 16
    val perB = nDocs / cycles
    val docs = mkDocs(nDocs)
    for (c <- 0 until cycles) {
      PostingsIngest.ingestBatch(
        docs.filter(col("doc_id") >= c * perB && col("doc_id") < (c + 1) * perB),
        c.toLong, store)
      // a takedown EVERY cycle — the r18 adjudication's worst case
      if (c > 0)
        PostingsIngest.tombstoneDocs(
          Seq((c * perB - 2).toLong).toDF("doc_id"), c.toLong, idx)
      PostingsIngest.maintain(spark, store, idx,
        rebaseAtGens = 6, sidecarKeepLast = Some(2))
      // the bound the r18 board couldn't claim: after maintain, every
      // takedown at or below the purge stamp is folded, and deferred
      // deletion keeps at most the LAST fold's intake as covered
      // debt — dir count is flat in c, not linear
      assert(dirCount(s"$idx/tombstones", "batch_id=") <= 2,
        s"cycle $c: tombstone dirs not bounded by the snapshot fold")
      assert(dirCount(s"$idx/tombstones_snapshot", "v=") <= 2,
        s"cycle $c: snapshot retention must keep at most two versions")
    }
    val tombs = TombstoneStore.readRows(spark, idx)
      .get.select("doc_id").distinct()
    assert(tombs.count() == cycles - 1,
      "every takedown ever landed must still be served from the snapshot")
    val alive = docs.join(broadcast(tombs), Seq("doc_id"), "left_anti")
    val served = IndexStore.bm25FromIndex(alive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect().toSeq
    val oneShot = Retrieval.bm25TopK(alive)
      .orderBy("q_id", "rank").collect().toSeq
    assert(served == oneShot,
      "the takedown-heavy horizon must serve the one-shot answer")
  }

  test("LIVE corrections across a fold: a fresh takedown after the old " +
      "batches folded still composes to the exact one-shot answer, " +
      "before any purge reflects it") {
    val base = tmp("r19-live")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val nDocs = 1200L
    val docs = mkDocs(nDocs)
    for (c <- 0 until 4) {
      PostingsIngest.ingestBatch(
        docs.filter(col("doc_id") >= c * 300L && col("doc_id") < (c + 1) * 300L),
        c.toLong, store)
      PostingsIngest.maintain(spark, store, idx, rebaseAtGens = 2)
    }
    // two old takedowns, purged and FOLDED by maintain
    PostingsIngest.tombstoneDocs(Seq(100L, 400L).toDF("doc_id"), 10L, idx)
    PostingsIngest.maintain(spark, store, idx, rebaseAtGens = 2)
    assert(TombstoneStore.coveredThrough(spark, idx) == 10L,
      "the old takedown batch must be folded into the snapshot")
    // a FRESH takedown lands after the fold; no maintain afterwards —
    // serving must hide it via the anti-join and correct df/stats via
    // its recorded dl rows, while the folded batch contributes no
    // correction (its tb <= every sidecar cutoff)
    PostingsIngest.tombstoneDocs(Seq(700L).toDF("doc_id"), 11L, idx)
    val alive = docs.filter(!col("doc_id").isin(100L, 400L, 700L))
    val served = IndexStore.bm25FromIndex(alive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect().toSeq
    val oneShot = Retrieval.bm25TopK(alive)
      .orderBy("q_id", "rank").collect().toSeq
    assert(served == oneShot,
      "live correction over a folded forest must equal the one-shot")
  }

  test("a settle-only maintain changes no serve result, latest or as-of " +
      "— the fold is idempotent at the serving surface") {
    val base = tmp("r19-idem")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val nDocs = 900L
    val docs = mkDocs(nDocs)
    for (c <- 0 until 3) {
      PostingsIngest.ingestBatch(
        docs.filter(col("doc_id") >= c * 300L && col("doc_id") < (c + 1) * 300L),
        c.toLong, store)
      PostingsIngest.maintain(spark, store, idx, rebaseAtGens = 8)
    }
    PostingsIngest.tombstoneDocs(Seq(50L, 350L).toDF("doc_id"), 5L, idx)
    PostingsIngest.maintain(spark, store, idx, rebaseAtGens = 8)
    val wm = PostingsIngest.consolidatedThrough(spark, idx).get
    val alive = docs.filter(!col("doc_id").isin(50L, 350L))
    def serve(asOf: Option[Long]) =
      IndexStore.bm25FromIndex(alive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K, asOfGen = asOf)
        .orderBy("q_id", "rank").collect().toSeq
    val (latest0, asOf0) = (serve(None), serve(Some(wm)))
    // settle-only cycles: nothing new to fold; the serve surface and
    // the takedown set must be byte-stable
    PostingsIngest.maintain(spark, store, idx, rebaseAtGens = 8)
    PostingsIngest.maintain(spark, store, idx, rebaseAtGens = 8)
    assert(serve(None) == latest0, "latest serve drifted across settle-only folds")
    assert(serve(Some(wm)) == asOf0, "as-of serve drifted across settle-only folds")
    assert(TombstoneStore.readRows(spark, idx).get
      .select("doc_id").distinct().as[Long].collect().toSet == Set(50L, 350L))
  }

  test("the postings ingest guard refuses a takedown batch id at or " +
      "below the purge stamp, naming the floor") {
    val base = tmp("r19-guard")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val docs = mkDocs(300L)
    PostingsIngest.ingestBatch(docs, 0L, store)
    PostingsIngest.maintain(spark, store, idx)
    PostingsIngest.tombstoneDocs(Seq(10L).toDF("doc_id"), 3L, idx)
    PostingsIngest.maintain(spark, store, idx) // purges through 3, folds
    val e = intercept[IllegalArgumentException] {
      PostingsIngest.tombstoneDocs(Seq(20L).toDF("doc_id"), 2L, idx)
    }
    assert(e.getMessage.contains("fresh"))
    assert(e.getMessage.contains("purge stamp"))
    // the refused write landed nothing; a fresh id is admitted and
    // corrects exactly
    PostingsIngest.tombstoneDocs(Seq(20L).toDF("doc_id"), 4L, idx)
    val alive = docs.filter(!col("doc_id").isin(10L, 20L))
    val served = IndexStore.bm25FromIndex(alive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect().toSeq
    val oneShot = Retrieval.bm25TopK(alive)
      .orderBy("q_id", "rank").collect().toSeq
    assert(served == oneShot)
  }

  private val fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def readIds(idx: String): Set[Long] =
    TombstoneStore.read(spark, idx, "doc_id")
      .map(_.as[Long].collect().toSet).getOrElse(Set.empty)

  test("repeated takedown + purge + sidecarKeepLast folds serve the " +
      "one-shot answer over the ingested survivors") {
    import graft.operators.{IndexStore, Retrieval}
    import graft.streaming.PostingsIngest
    val base = tmp("r18-btimer")
    val store = s"$base/store"
    val idx = s"$base/idx"
    // nDocs NOT divisible by cycles on purpose: integer division
    // leaves straggler docs the loop never ingests, and the one-shot
    // side must be scoped to the INGESTED corpus (the r18 soak's first
    // run compared against the full frame — same docs, same ranks,
    // every score shifted by the stragglers' n/sumdl/df)
    val nDocs = 2500L
    val cycles = 24
    val perB = nDocs / cycles
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 39), " +
        "i -> concat('w', pmod(id * 31 + i * 17, 2000))))").as("text"))
    for (c <- 0 until cycles) {
      PostingsIngest.ingestBatch(
        docs.filter(col("doc_id") >= c * perB && col("doc_id") < (c + 1) * perB),
        c.toLong, store)
      if (c % 7 == 6)
        PostingsIngest.tombstoneDocs(
          spark.range(c * perB - 3, c * perB - 1).select(col("id").as("doc_id")),
          c.toLong, idx)
      PostingsIngest.maintain(spark, store, idx,
        rebaseAtGens = 8, sidecarKeepLast = Some(2))
      if (c % 10 == 9) { // as-of probe within the configured lag
        val wm = PostingsIngest.consolidatedThrough(spark, idx).get
        IndexStore.bm25FromIndex(docs.filter(col("doc_id") < (c + 1) * perB),
            spark, idx, 4, 3, 5, asOfGen = Some(wm))
          .write.format("noop").mode("overwrite").save()
      }
      // every dir population bounded PER CYCLE: gens by rebaseAtGens,
      // sidecar gens by keepLast (+1 for the cycle's fresh delta),
      // hot stores by the tiered class bound
      assert(dirCount(s"$idx/postings", "gen=") <= 9,
        s"cycle $c: postings gens exceed rebaseAtGens+1")
      for (sc <- Seq("dict", "stats"))
        assert(dirCount(
          PostingsIngest.sidecarRootPath(spark, idx, sc), "gen=") <= 4,
          s"cycle $c: $sc sidecar gens exceed keepLast+2")
      for (hot <- Seq("postings", "stats"))
        assert(dirCount(s"$store/$hot", "batch_id=") <= 8,
          s"cycle $c: hot $hot dirs not tier-compacted")
    }
    val tombs = graft.streaming.TombstoneStore.readRows(spark, idx)
      .get.select("doc_id").distinct()
    val ingested = docs.filter(col("doc_id") < cycles * perB)
    val alive = ingested.join(broadcast(tombs), Seq("doc_id"), "left_anti")
    val served = IndexStore.bm25FromIndex(alive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect().toSeq
    val oneShot = Retrieval.bm25TopK(alive)
      .orderBy("q_id", "rank").collect().toSeq
    assert(served == oneShot,
      "the blind-timer loop horizon must serve the one-shot answer")
  }

  test("PostingsIngest.tombstoneDocs waits out a maintenance window " +
      "under the same bounded budget, then records dl/gen as usual") {
    val base = tmp("r20-pretry")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val docs = mkDocs(300L)
    PostingsIngest.ingestBatch(docs, 0L, store)
    PostingsIngest.consolidate(spark, store, idx)
    val claim = new Path(idx, "_consolidate_commit")
    graft.core.Markers.forceWrite(fs, claim, "live-run\nconsolidate 9")
    val releaser = new Thread(() => {
      Thread.sleep(400)
      fs.delete(claim, false)
    })
    releaser.start()
    try {
      PostingsIngest.tombstoneDocs(Seq(42L).toDF("doc_id"), 1L, idx,
        maxWaitMs = 15000L)
    } finally releaser.join()
    // the landed batch carries the forest-recorded dl (not null): the
    // retry path went through the full guard + dl lookup
    val row = spark.read.parquet(s"$idx/tombstones")
      .filter(col("doc_id") === 42L).select("dl").as[Long].collect()
    assert(row.length == 1 && row.head > 0L,
      "the retried takedown must record its dl correction")
    // and serving reflects it immediately
    val alive = docs.filter(col("doc_id") =!= 42L)
    val served = IndexStore.bm25FromIndex(alive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect().toSeq
    val oneShot = Retrieval.bm25TopK(alive)
      .orderBy("q_id", "rank").collect().toSeq
    assert(served == oneShot)
  }

  test("purgeAtBatches defers the purging rebase until k batches are " +
      "unpurged; serving stays bit-exact at every intermediate cycle and " +
      "the dir tail is bounded by k + the deferred intake") {
    val base = tmp("r20-amort")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val nDocs = 1200L
    val cycles = 8
    val perB = nDocs / cycles
    val docs = mkDocs(nDocs)
    val purgeAt = 3
    val dead = scala.collection.mutable.Set.empty[Long]
    def purgedStamp: Long = graft.core.Markers.read(fs,
      new Path(idx, "_purged")).map(_.toLong).getOrElse(-1L)
    var purges = 0
    var lastStamp = -1L
    for (c <- 0 until cycles) {
      PostingsIngest.ingestBatch(
        docs.filter(col("doc_id") >= c * perB && col("doc_id") < (c + 1) * perB),
        c.toLong, store)
      if (c > 0) {
        PostingsIngest.tombstoneDocs(
          Seq((c * perB - 2)).toDF("doc_id"), c.toLong, idx)
        dead += c * perB - 2
      }
      // rebaseAtGens high enough that ONLY the tombstone trigger can
      // fire a rebase in this loop
      PostingsIngest.maintain(spark, store, idx,
        rebaseAtGens = 20, purgeAtBatches = purgeAt)
      val stamp = purgedStamp
      if (stamp > lastStamp) { purges += 1; lastStamp = stamp }
      // fewer than purgeAt unpurged batches must NOT advance the purge
      // stamp — the deferral is the whole point; when it does advance,
      // it covers everything landed so far. Takedowns land at cycles
      // 1..7 with batch id c, so the trigger fires exactly at c=3
      // (batches 1,2,3 unpurged) and c=6 (4,5,6)
      val expectedStamp = if (c < 3) -1L else if (c < 6) 3L else 6L
      assert(stamp == expectedStamp,
        s"cycle $c: purge stamp $stamp, expected $expectedStamp")
      // post-maintain bound = 2*purgeAt - 1: one fold's purgeAt-dir
      // intake retired one fold late + up to purgeAt-1 fresh batches
      // waiting for the next amortized purge
      assert(dirCount(s"$idx/tombstones", "batch_id=") <= 2 * purgeAt - 1,
        s"cycle $c: unpurged tail must stay bounded by purgeAtBatches")
      assert(dirCount(s"$idx/tombstones_snapshot", "v=") <= 2)
      // serve-side hiding + corrections are purge-independent: exact
      // with unpurged batches pending (c=2: two unpurged, no snapshot;
      // c=5: folded {1,2,3} + unpurged {4,5}, the mixed shape; c=7:
      // two snapshot versions + a fresh tail batch)
      if (c == 2 || c == 5 || c == 7) {
        val ingested = docs.filter(col("doc_id") < (c + 1) * perB)
        val alive = ingested.filter(
          !col("doc_id").isin(dead.toSeq.map(Long.box): _*))
        val served = IndexStore.bm25FromIndex(alive, spark, idx,
            Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
          .orderBy("q_id", "rank").collect().toSeq
        val oneShot = Retrieval.bm25TopK(alive)
          .orderBy("q_id", "rank").collect().toSeq
        assert(served == oneShot,
          s"cycle $c: serving must be exact with unpurged batches pending")
      }
    }
    // 7 takedowns at k=3 → exactly 2 purging rebases fired (cycles 3
    // and 6: the trigger counts unpurged batches, not cycles)
    assert(purges == 2, s"expected 2 amortized purges, got $purges")
    // every takedown ever landed still served (folded or tail)
    assert(readIds(idx) == dead.toSet)
    // horizon exact
    val alive = docs.filter(!col("doc_id").isin(dead.toSeq.map(Long.box): _*))
    val served = IndexStore.bm25FromIndex(alive, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
      .orderBy("q_id", "rank").collect().toSeq
    val oneShot = Retrieval.bm25TopK(alive)
      .orderBy("q_id", "rank").collect().toSeq
    assert(served == oneShot)
  }

  test("purgeAtBatches = 1 is today's behavior (any unpurged batch " +
      "rebases); 0 is refused") {
    val base = tmp("r20-amort1")
    val store = s"$base/store"
    val idx = s"$base/idx"
    val docs = mkDocs(300L)
    PostingsIngest.ingestBatch(docs, 0L, store)
    PostingsIngest.maintain(spark, store, idx)
    PostingsIngest.tombstoneDocs(Seq(5L).toDF("doc_id"), 1L, idx)
    PostingsIngest.maintain(spark, store, idx) // default purgeAtBatches = 1
    assert(graft.core.Markers.read(fs, new Path(idx, "_purged"))
      .map(_.toLong).contains(1L),
      "one unpurged batch must trigger the rebase at the default")
    val e = intercept[IllegalArgumentException] {
      PostingsIngest.maintain(spark, store, idx, purgeAtBatches = 0)
    }
    assert(e.getMessage.contains("purgeAtBatches"))
  }
}
