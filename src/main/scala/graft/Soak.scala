package graft

import graft.operators.{Sampling, Similarity, Temporal, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Soak harness: times the scale-path operators on synthetic data 1-2
  * orders of magnitude beyond the sf0.1 bench, to show cost curves are
  * linear where SCALE.md claims they are (run:
  * `sbt "runMain graft.Soak [multiplier]"`, default 1 → 2M events /
  * 200k vectors / 200k docs). Data is generated deterministically on
  * the executors (spark.range + arithmetic) — no driver-side
  * materialization, so the harness itself follows the no-collect rule.
  * Results are recorded in BENCH_NOTES.md per round.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(1)
    // optional 2nd arg: regex selecting which legs to run
    // (`runMain graft.Soak 1 ring` re-runs just the ring leg)
    val only = args.drop(1).headOption.map(_.r)
    def want(name: String): Boolean =
      only.forall(_.findFirstIn(name).isDefined)
    val spark = graft.core.GraftSession.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nEvents = 2000000L * mult
    val nVecs = 200000L * mult
    val nDocs = 200000L * mult

    // events: 10k users, ~23 days of second-resolution activity, 5% clicks->purchases
    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      pmod(col("id") * 7919, lit(10000)).as("user_id"),
      (col("id") % 2000000L).as("sec"),
      when(pmod(col("id"), lit(20)) === 0, "purchase")
        .when(pmod(col("id"), lit(3)) === 0, "click")
        .otherwise("view").as("event_type"))
    val clicks = events.filter(col("event_type") === "click").select("user_id", "sec")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"))

    // embeddings: 64-dim deterministic pseudo-random directions
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> CAST(sin(id * 13 + i * 31) AS FLOAT))")
        .as("embedding"))

    // documents: ~40-token synthetic text with a shared vocabulary
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 39), " +
        "i -> concat('w', pmod(id * 31 + i * 17, 2000))))").as("text"))

    // noop sink: forces EVERY column to be computed (count() would let
    // Catalyst prune the projection and time only the scan)
    def time(name: String)(df: => DataFrame): Unit = if (want(name)) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"SOAK $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    time("asof_join") {
      Temporal.asOfJoin(clicks, purchases, "user_id", "sec", "p_sec")
    }
    time("range_count_join") {
      Temporal.rangeCountJoin(clicks, purchases, "user_id", "sec", "p_sec", 3600L)
    }
    time("lsh_ann") { Similarity.lshAnn(vecs, nQueries = 10, k = 5) }
    time("quantized_topk") { Similarity.quantizedTopK(vecs, nQueries = 10, k = 5) }

    // PQ / IVFADC: build the durable index once, then compare the
    // three search regimes over the SAME corpus — exact brute force
    // (reads raw embeddings), flat ADC (reads 16-byte codes, full
    // scan), and IVFADC (reads codes in probed cells only). Also
    // reports the measured on-disk footprint of codes vs embeddings —
    // the 16x claim as parquet bytes, not arithmetic.
    if (want("pq")) {
      val pqDir = java.nio.file.Files.createTempDirectory("soak_pq").toString
      val pqFlatDir = java.nio.file.Files.createTempDirectory("soak_pqflat").toString
      val embDir = java.nio.file.Files.createTempDirectory("soak_emb").toString
      val t0 = System.nanoTime()
      graft.operators.IndexStore.buildIvfPqIndex(vecs, pqDir, nCentroids = 64)
      println(f"SOAK pq_build_index           ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val (index, cents, books) = graft.operators.IndexStore.loadIvfPqIndex(spark, pqDir)
      // the flat-ADC leg gets its OWN plain PQ artifact: the IVFADC
      // index's codes encode residuals (v - centroid), so scoring them
      // through plain pqSearch would produce semantically meaningless
      // cosines — fine as a timing proxy, garbage for any recall read.
      // A plain artifact keeps this leg honest on both axes.
      val tF = System.nanoTime()
      graft.operators.IndexStore.buildPqIndex(vecs, pqFlatDir)
      println(f"SOAK pq_build_flat            ${(System.nanoTime() - tF) / 1e9}%8.2f s")
      val (flatCodes, flatBooks) = graft.operators.IndexStore.loadPqIndex(spark, pqFlatDir)
      time("pq_exact_brute") { Similarity.cosineTopKNative(vecs, nQueries = 10, k = 5) }
      time("pq_adc_flat") {
        Similarity.pqSearch(vecs, flatCodes, flatBooks, 10, 5) }
      time("pq_ivfadc_probe") { Similarity.ivfPqSearch(vecs, index, cents, books, 10, 5) }
      vecs.write.mode("overwrite").parquet(embDir)
      val fs = new org.apache.hadoop.fs.Path(pqDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def bytes(p: String): Long =
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
      println(f"SOAK pq_bytes codes=${bytes(s"$pqDir/index")}%,d " +
        f"embeddings=${bytes(embDir)}%,d " +
        f"ratio=${bytes(embDir).toDouble / bytes(s"$pqDir/index")}%.1fx")
    }
    // vector analytics (r14): the covariance legs behind whiten/PCA/
    // probe are the mapPartitions gram — shuffle volume P x d^2/2,
    // INDEPENDENT of row count — plus d-sized sums, so wall time must
    // track the scan, not explode with rows. whiten additionally times
    // the full param fit + the kernel projection pass over the corpus.
    if (want("vector")) {
      val t0 = System.nanoTime()
      val (wMat, mVec) = Similarity.whitenParams(vecs, dim = 64)
      println(f"SOAK vector_whiten_fit        ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      time("vector_whiten_project") {
        vecs.select(graft.functions.MatVecCentered
          .matVecCentered(org.apache.spark.sql.functions.col("embedding"),
            wMat, mVec).as("y"))
      }
      val t1 = System.nanoTime()
      val (wP, mP, bP) = Similarity.linearProbeParams(vecs,
        pmod(col("vec_id"), lit(2)).cast("int"), dim = 64)
      println(f"SOAK vector_probe_fit         ${(System.nanoTime() - t1) / 1e9}%8.2f s")
      time("vector_probe_score") { Similarity.probeScore(vecs, wP, mP, bP) }
    }
    time("hash_sample") { Sampling.hashSample(docs, col("doc_id"), 0.1) }
    // A-ES exact-n draw at 2M rows: TakeOrderedAndProject per-task
    // heaps — must stay scan-bound like the other samplers (no corpus
    // sort ever materializes)
    time("aes_noreplace_10k") {
      Sampling.weightedSampleNoReplace(
        docs.select(col("doc_id"),
          (pmod(col("doc_id") * 131, lit(1000)) + 1).as("w")),
        col("doc_id"), col("w"), 10000)
    }
    // PPS: one scalar-total pass + the per-row coin — must track
    // hash_sample's scan-bound cost, not add a shuffle
    time("pps_sample") {
      Sampling.ppsSample(
        docs.select(col("doc_id"),
          (pmod(col("doc_id") * 131, lit(1000)) + 1).as("w")),
        col("doc_id"), col("w"), 10000.0)
    }
    // systematic PPS at 2M rows: the two-phase global cumsum's only
    // full-data cost is the range-partitioned sort — must stay within
    // a small factor of the scan-bound samplers above
    time("systematic_pps") {
      Sampling.systematicPps(
        spark.range(2000000L * mult).select(col("id").as("k"),
          (pmod(col("id") * 131, lit(1000)) + 1).as("w")),
        col("k"), col("w"), 10000L)
    }
    // last-touch attribution = as-of join + bounded flag + hourly
    // rollup; the delta over the bare asof_join leg is the rollup cost
    time("attribution") {
      Temporal.asOfJoin(clicks,
          purchases.withColumn("rev_cents", pmod(col("event_id") * 37, lit(10000))),
          "user_id", "sec", "p_sec")
        .withColumn("attributed",
          col("asof_sec").isNotNull && (col("p_sec") - col("asof_sec") <= 3600))
        .groupBy(expr("p_sec div 3600").as("hour"), col("attributed"))
        .agg(count(lit(1)).as("n_purchases"), sum("rev_cents").as("rev"))
    }
    time("simhash32") { TextAnalysis.simhash32(docs) }
    // skewed variant: one hot user owns ~25% of all events — the AQE
    // skew-split + bucketized-rewrite path must complete without a
    // straggler dominating (compare against the uniform numbers above)
    val skewed = events.withColumn("user_id",
      when(pmod(col("event_id"), lit(4)) === 0, 0L).otherwise(col("user_id")))
    val skClicks = skewed.filter(col("event_type") === "click").select("user_id", "sec")
    val skPurchases = skewed.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"))
    time("asof_join_skewed") {
      Temporal.asOfJoin(skClicks, skPurchases, "user_id", "sec", "p_sec")
    }
    time("range_count_join_skewed") {
      Temporal.rangeCountJoin(skClicks, skPurchases, "user_id", "sec", "p_sec", 3600L)
    }
    // pathological key: ONE user owns 90% of all events — the plain
    // window serializes on it; the bucketed+stitch form caps window
    // partitions at one bucket of the hot key
    val hot = events.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) < 9, 0L).otherwise(col("user_id")))
    val hotClicks = hot.filter(col("event_type") === "click").select("user_id", "sec")
    val hotPurchases = hot.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"))
    time("asof_join_hot90_plain") {
      Temporal.asOfJoin(hotClicks, hotPurchases, "user_id", "sec", "p_sec")
    }
    time("asof_join_hot90_bucketed") {
      Temporal.asOfJoinBucketed(hotClicks, hotPurchases, "user_id", "sec", "p_sec", 3600L)
    }
    // end-to-end curation (post-LSH wiring), two sizes of the SAME
    // corpus family to measure scaling directly (100k = 20x the sf0.1
    // gate corpus). Structure mirrors production near-dup topology:
    // 5-doc clusters with group-disjoint vocabularies (within-group
    // jaccard ~0.87, cross-group ~0.02), so cluster graphs stay
    // SHALLOW — see BENCH_NOTES r5 for why a progression-patterned
    // vocab instead chains the whole corpus into one ring (CC rounds
    // = ring diameter, 630s at 100k: a min-label worst case, not a
    // curation cost). Stopword prefix keeps the language gate honest.
    def curationCorpus(n: Long) = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(5))).as("source"),
      expr("concat_ws(' ', 'the', 'a', 'of', 'and', transform(sequence(0, 39), " +
        "i -> concat('g', id div 5, '_w', i)), concat('u', id))").as("text"))
    time("curation_25k") { graft.operators.Curation.curate(curationCorpus(25000L * mult)) }
    time("curation_100k") { graft.operators.Curation.curate(curationCorpus(100000L * mult)) }
    // adversarial topology: progression-patterned vocab (2000 offsets,
    // step 17) chains the WHOLE corpus into one near-dup ring — CC
    // convergence is bounded by ring diameter (~143 rounds of
    // min-label without pointer-jumping: 630s measured; the jump
    // collapses it to O(log diameter) rounds)
    val ringDocs = spark.range(100000L * mult).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(5))).as("source"),
      expr("concat_ws(' ', 'the', 'a', 'of', 'and', transform(sequence(0, 39), " +
        "i -> concat('w', pmod(id * 31 + i * 17, 2000))))").as("text"))
    time("curation_ring_100k") { graft.operators.Curation.curate(ringDocs) }
    // containment over the cluster family WITH its shared stopword
    // header: uncapped, the two universal header shingles alone emit
    // n^2/2 candidate pairs (soak-verified runaway — killed at 100k
    // docs after 25+ min); the df cap drops exactly those
    // stop-shingles, overlap collapses to the 5-doc groups, and the
    // claim becomes linearity: 2x docs ~ 2x time
    time("containment_100k") {
      graft.operators.Dedup.containmentPairs(
        graft.operators.Dedup.shingles(curationCorpus(100000L * mult)), 0.8,
        maxDf = Some(1000L))
    }
    // EXACT Jaccard on the same boilerplate corpus via PPJoin prefix
    // filtering — the uncapped inverted-index join ran away here (the
    // two universal header shingles alone emit n^2/2 pairs; killed at
    // 25+ min at this size), and the maxDf cap only escapes by
    // CHANGING the measure. The prefix filter keeps the exact measure:
    // header shingles sort last in every doc's rarity order and never
    // enter a prefix, so candidates stay group-local. Two sizes for
    // the linearity reading.
    time("jaccard_prefix_exact_50k") {
      graft.operators.Dedup.jaccardPairsPrefix(
        graft.operators.Dedup.shingles(curationCorpus(50000L * mult)), 0.5)
    }
    time("jaccard_prefix_exact_100k") {
      graft.operators.Dedup.jaccardPairsPrefix(
        graft.operators.Dedup.shingles(curationCorpus(100000L * mult)), 0.5)
    }
    time("containment_200k") {
      graft.operators.Dedup.containmentPairs(
        graft.operators.Dedup.shingles(curationCorpus(200000L * mult)), 0.8,
        maxDf = Some(1000L))
    }

    val repetition = TextAnalysis.textRepetition
    time("repetition") {
      docs.select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("ws"))
        .select(col("doc_id"),
          (lit(1.0) - size(array_distinct(TextAnalysis.wordNgrams(col("ws"), 3))) /
            size(TextAnalysis.wordNgrams(col("ws"), 3))).as("dup3"))
    }

    // semantic dedup at ANN-soak scale: 64 cells over the vector
    // corpus — the quadratic term drops to sum-over-cells |cell|^2
    time("semantic_dedup") {
      graft.operators.Dedup.semanticDedup(vecs, 0.95, nCentroids = 64)
    }

    // growing-index streaming ingest: 12 batches of 5k docs each. 10%
    // of every batch near-dups the PREVIOUS batch (vocab keyed b-1),
    // the rest use fresh per-batch vocab — so the per-batch candidate
    // load is CONSTANT while the corpus/index grows 12x. The cost
    // curve is the claim under test: batch time must be dominated by
    // batch-bounded work + one linear index scan, never corpus
    // re-shingling (flat-ish, not linear-in-b growth). Nothing is
    // consolidated, so every probe reads the whole hot band tail.
    val ingestRoot = java.nio.file.Files.createTempDirectory("soak-ingest").toString
    val batchDocs = 5000L * mult
    for (b <- 0 until 12 if want("ingest")) {
      val batch = spark.range(batchDocs).select(
        (col("id") + b * batchDocs).as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(0, 39), " +
          s"i -> concat(CASE WHEN id % 10 = 0 THEN 'b${b - 1}' ELSE 'b$b' END, " +
          s"'_g', id div 5, '_w', i)), concat('u', id + ${b * batchDocs}))").as("text"))
      val t0 = System.nanoTime()
      graft.streaming.DedupIngest.dedupBatch(batch, b.toLong,
        s"$ingestRoot/store", s"$ingestRoot/index", 0.5)
      println(f"SOAK ingest_batch_$b%-14s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    // cross-doc span dedup at two sizes of the same corpus family,
    // with planted boilerplate (every 10th doc opens with a shared
    // 8-gram run). The claim is LINEARITY: 2x docs ~ 2x time — the
    // all-pairs formulation of the same signal would quadruple
    def spanCorpus(n: Long) = spark.range(n).select(
      col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 39), i -> " +
        "CASE WHEN id % 10 = 0 AND i < 8 THEN concat('shared_w', i) " +
        "ELSE concat('d', id, '_w', i) END))").as("text"))
    time("span_crossdoc_100k") {
      graft.operators.Dedup.spanCrossdoc(spanCorpus(100000L * mult))
    }
    time("span_crossdoc_200k") {
      graft.operators.Dedup.spanCrossdoc(spanCorpus(200000L * mult))
    }

    // triangles on an adversarially skewed graph: one hub adjacent to
    // EVERY node (degree n) plus n/3 embedded triangles. Under
    // degree-ordered orientation the hub's edges all point INTO it, so
    // the wedge join never expands the hub's neighbor pairs (a naive
    // neighbor self-join would generate ~n^2/2 candidates from the hub
    // alone); expected count = n/3 hub-free triangles + n-1 choose ...
    // — hub triangles only where its two neighbors are adjacent, i.e.
    // one per embedded triangle edge (3 per triangle) plus the chain
    // edges; the assertion here is wall-clock, exactness is spec'd
    val nTri = 300000L * mult
    val triEdges = spark.range(nTri).select(col("id")).flatMap { r =>
      val i = r.getLong(0)
      val base = 1L + i * 3
      Seq((0L, base), (0L, base + 1), (0L, base + 2), // hub spokes
        (base, base + 1), (base + 1, base + 2), (base, base + 2)) // triangle
    }.toDF("a", "b")
    time("triangles_hub_1.8M_edges") {
      graft.operators.Graph.triangleCount(triEdges)
    }

    // PageRank on the same hub-skewed graph: the degree-n hub is the
    // worst case for a float implementation's reproducibility (one
    // node sums ~n contributions in shuffle order) and for per-key
    // balance. Integer ranks make order irrelevant; the rank vector
    // (~0.9M nodes, ~15 MB) broadcasts per round, so the 1.8M-edge
    // list streams map-side with partial aggregation — per-round cost
    // is edge-linear
    time("pagerank_1.8M_edges") {
      graft.operators.Graph.pageRankInt(triEdges)
    }

    // interval overlap at event-soak scale (bounded 10-min intervals,
    // 600s buckets): candidate volume tracks bucket density
    val iv = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"),
        col("sec").as("v_start"), (col("sec") + col("event_id") % 600).as("v_end"))
    val ic = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("sec").as("c_start"), (col("sec") + col("event_id") % 600).as("c_end"))
    time("interval_overlap_2M") {
      Temporal.intervalOverlapJoin(iv, ic, "user_id",
        "v_start", "v_end", "c_start", "c_end", 600L)
    }

    // reliable-checkpoint CC at curation scale: same 100k-doc corpus
    // family as curation_100k, clusters built twice — local-checkpoint
    // (executor-block) mode vs reliable (checkpoint-dir) mode. The
    // delta IS the per-round filesystem round-trip a fault-tolerant
    // production loop pays; the claim is bounded overhead (a small
    // factor, not a blow-up), since each round's frame is label-sized.
    if (want("clusters_ckpt")) {
      val ckPairs = graft.core.Materialize.pin(
        graft.operators.Dedup.minhashLsh(
          curationCorpus(100000L * mult).select("doc_id", "text"), 0.5))
      time("clusters_ckpt_local_100k") {
        graft.operators.Dedup.canonicalClusters(ckPairs)
      }
      val ckDir = java.nio.file.Files.createTempDirectory("soak-ckpt").toString
      spark.sparkContext.setCheckpointDir(ckDir)
      time("clusters_ckpt_reliable_100k") {
        graft.operators.Dedup.canonicalClusters(ckPairs, reliable = true)
      }
      org.apache.spark.sql.classic.GraftColumnBridge.unpersistCheckpoint(ckPairs)
    }

    // end-to-end PSet pipeline as ONE job: 2 PSets x 20k experiments
    // (the orchestration is spec-covered per-table; this leg records
    // its wall clock as one run and checks row-count conservation of
    // the fact tables — experiments in == experiment rows out, etc.)
    if (want("pipeline")) {
      val nExp = 20000 * mult
      val nCells = 500
      val nDrugs = 200
      val nGenes = 2000
      val pipeRoot = java.nio.file.Files.createTempDirectory("soak-pipe").toString
      for (ps <- Seq("SoakA", "SoakB")) {
        val dir = new java.io.File(s"$pipeRoot/${ps}_PSet"); dir.mkdirs()
        def w(n: String, header: String, rows: Iterator[String]): Unit = {
          val bw = new java.io.BufferedWriter(
            new java.io.FileWriter(s"${dir.getPath}/$n"))
          bw.write(header); bw.write("\n")
          rows.foreach { r => bw.write(r); bw.write("\n") }
          bw.close()
        }
        w("cell.csv", "cellid,tissueid",
          (0 until nCells).iterator.map(i => s"c$i,t${i % 20}"))
        w("drug.csv", "drugid,smiles,inchikey,cid,FDA",
          (0 until nDrugs).iterator.map(i => s"d$i,CC$i,IK$i,$i.0,true"))
        w("sensitivity$info.csv", ".rownames,cellid,drugid",
          (0 until nExp).iterator.map(i => s"${ps}_e$i,c${i % nCells},d${i % nDrugs}"))
        w("sensitivity$raw.Dose.csv", ".exp_id,doses1,doses2",
          (0 until nExp).iterator.map(i => s"${ps}_e$i,0.5,1.5"))
        w("sensitivity$raw.Viability.csv", ".exp_id,doses1,doses2",
          (0 until nExp).iterator.map(i => s"${ps}_e$i,${40 + i % 60}.0,${30 + i % 70}.0"))
        w("sensitivity$profiles.csv",
          ".rownames,aac_recomputed,ic50_recomputed,HS,einf,ec50,DSS1,DSS2,DSS3",
          (0 until nExp).iterator.map(i =>
            s"${ps}_e$i,0.${i % 9 + 1},0.3,1,0.1,0.2,1,2,3"))
        w("molecularProfiles$rna$rowData.csv", ".features",
          (0 until nGenes).iterator.map(g => s"ENSG$g.${g % 7 + 1}"))
        w("molecularProfiles$rna$colData.csv", "cellid",
          (0 until nCells).iterator.map(i => s"c$i"))
      }
      val pipeCfg = graft.pset.PipelineConfig(
        rawDir = pipeRoot,
        workDir = java.nio.file.Files.createTempDirectory("soak-pipe-work").toString,
        finalDir = java.nio.file.Files.createTempDirectory("soak-pipe-final").toString,
        psetNames = Seq("SoakA", "SoakB"),
        cellSynonymMeta = Some(spark.range(nCells).select(
          concat(lit("c"), col("id")).as("unique.cellid"),
          concat(lit("c"), col("id"), lit("_alias")).as("SoakA.cellid"))),
        compoundSynonymMeta = Some(spark.range(nDrugs).select(
          concat(lit("d"), col("id")).as("unique.drugid"),
          concat(lit("d"), col("id"), lit("_syn")).as("SoakA.drugid"))),
        gcdSignature = Some(spark.range(nGenes.toLong * 4).select(
          concat(lit("ENSG"), col("id") % nGenes).as("gene"),
          concat(lit("d"), col("id") % nDrugs).as("compound"),
          when(col("id") % 2 === 0, "SoakA").otherwise("SoakB").as("dataset"),
          (col("id") % 100 / 100.0).as("estimate"),
          lit("rna").as("mDataType"))))
      val meta = spark.range(nDrugs).select(
        concat(lit("d"), col("id")).as("name"),
        concat(lit("UID"), col("id")).as("compound_uid"))
      val t0 = System.nanoTime()
      val tables = graft.pset.Pipeline.run(spark, pipeCfg, meta)
      // force every returned table (they are parquet-backed reads)
      val counts = tables.map { case (n, df) => n -> df.count() }
      println(f"SOAK pipeline_2x${nExp / 1000}%dk            ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      // conservation: every input experiment survives to the fact tables
      def expect(name: String, n: Long): Unit = {
        val got = counts.getOrElse(name, -1L)
        if (got != n)
          println(s"SOAK pipeline CONSERVATION-FAIL $name: got $got want $n")
      }
      expect("experiment", 2L * nExp)
      expect("profile", 2L * nExp)
      expect("dose_response", 2L * nExp * 2)
      expect("cell", nCells.toLong)
      expect("compound", nDrugs.toLong)
      expect("gene", nGenes.toLong)
      println("SOAK pipeline tables=" + counts.toSeq.sortBy(_._1)
        .map { case (n, c) => s"$n:$c" }.mkString(","))
    }

    // growing-index VECTOR ingest: 12 batches of 5k embeddings, 10% of
    // every batch exact-duplicating batch 0's vectors (hash-random
    // independent components for the rest — a sin(linear-seed) family
    // is phase-degenerate and plants millions of accidental near-dups).
    // planesPerTable=16 sizes the bucket space to the corpus (65k
    // buckets vs 60k vectors): per-batch probe cost must stay FLAT as
    // the index grows 12x. The 8-plane default measured on the same
    // corpus shape grows ~2.3x over the run (256 buckets -> collision
    // volume tracks corpus size) — that contrast IS the sizing lesson.
    val vecIngestRoot = java.nio.file.Files.createTempDirectory("soak-vingest").toString
    val vBatch = 5000L * mult
    for (b <- 0 until 12 if want("vingest")) {
      val batch = spark.range(vBatch).select(
        (col("id") + b * vBatch).as("vec_id"),
        expr(s"transform(sequence(0, 15), i -> " +
          s"CAST((pmod(xxhash64(concat(CASE WHEN id % 10 = 0 THEN id " +
          s"ELSE id + ${b * vBatch} END, '_', i)), 2001) - 1000) / 1000.0 AS FLOAT))")
          .as("embedding"))
      val t0 = System.nanoTime()
      graft.streaming.VecIngest.ingestBatch(batch, b.toLong,
        s"$vecIngestRoot/store", s"$vecIngestRoot/index", 0.99,
        planesPerTable = 16)
      println(f"SOAK vingest_batch_$b%-13s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    // streaming CDC snapshot: 30 batches of 2k changes each (80%
    // inserts / 15% updates / 5% deletes against the accumulated keys).
    // The per-batch cost curve is the claim: merge work ~ snapshot
    // size (copy-on-write rewrite), so the curve grows linearly with
    // accumulated inserts and stays far from quadratic
    val snapRoot = java.nio.file.Files.createTempDirectory("soak-snap").toString
    var keyCeiling = 0L
    for (b <- 0 until 30 if want("snap")) {
      val fresh = 1600L
      val batch = spark.range(2000L).select(
        when(col("id") < fresh, lit("I"))
          .when(col("id") < 1900L, lit("U")).otherwise(lit("D")).as("op"),
        when(col("id") < fresh, col("id") + keyCeiling)
          .otherwise(pmod(col("id") * 7919, lit(math.max(keyCeiling, 1L)))).as("k"),
        concat(lit("v"), col("id")).as("v"),
        (col("id") * 1.5).as("x"))
      val t0 = System.nanoTime()
      graft.streaming.SnapshotUpsert.applyBatch(snapRoot, "k")(batch, b.toLong)
      keyCeiling += fresh
      if (b % 10 == 9)
        println(f"SOAK snap_batch_$b%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    // edit-distance fuzzy join: sparse numeric keys (id*1009 keeps
    // accidental single-digit neighbors rare) with a planted ED-1
    // typo every 100th row. Blocking is |s| deletion variants per
    // row, so cost should track rows linearly; two sizes for the
    // linearity reading.
    def linkKeys(n: Long) = spark.range(n).select(col("id"),
      when(pmod(col("id"), lit(100)) === 0 && col("id") > 0,
        concat(lit("Item#"),
          lpad(((col("id") - 1) * 1009).cast("string"), 10, "0"), lit("X")))
        .otherwise(concat(lit("Item#"),
          lpad((col("id") * 1009).cast("string"), 10, "0"))).as("s"))
    time("edit_distance_1m") {
      graft.operators.Linkage.editDistancePairs(
        linkKeys(1000000L * mult), col("id"), col("s"), 1) }
    time("edit_distance_2m") {
      graft.operators.Linkage.editDistancePairs(
        linkKeys(2000000L * mult), col("id"), col("s"), 1) }
    // sorted-neighborhood on the same key distribution: cost is the
    // total sort + n*(w-1) candidates — compare the slope against the
    // deletion-variant fan-out above (which scales with key length)
    time("sorted_neighborhood_1m") {
      graft.operators.Linkage.sortedNeighborhoodPairs(
        linkKeys(1000000L * mult), col("id"), col("s"), window = 10, maxDist = 1) }
    time("sorted_neighborhood_2m") {
      graft.operators.Linkage.sortedNeighborhoodPairs(
        linkKeys(2000000L * mult), col("id"), col("s"), window = 10, maxDist = 1) }

    // heavy hitters over a Zipf-ish stream whose domain (1M tails) is
    // ~16000x the counter budget: the saturated-unseen case dominates,
    // which is exactly the branch the lazy-debt rewrite made O(1) —
    // guarantee still checked at the end of the run
    if (want("heavy_hitters")) {
      import spark.implicits._
      val n = 20000000L * mult
      val toks = spark.range(n).select(
        when(pmod(col("id"), lit(10)) < 3,
          concat(lit("head_"), pmod(col("id"), lit(8))))
          .otherwise(concat(lit("tail_"), pmod(col("id") * 7919, lit(1000000))))
          .as("tok"))
      val t0 = System.nanoTime()
      val summary = toks.as[String]
        .select(new graft.functions.HeavyHitters(64).toColumn).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SOAK heavy_hitters_20m        $sec%8.2f s  (${n / sec / 1e6}%.1f M tok/s)")
      val captured = (0 until 8).count(i => summary.contains(s"head_$i"))
      println(s"SOAK heavy_hitters guarantee: $captured/8 head tokens captured " +
        s"(each ~3.75% of stream >> 1/65), summary size ${summary.size}")
    }

    // tf-cosine similarity join: vocabulary grows WITH the corpus
    // (0.4n types, 20 tokens/doc -> df ~ 50), so posting-list volume
    // sum(df^2) ~ 1000n stays linear in docs — the regime the maxDf
    // knob protects; every 50th doc is a planted one-token edit of
    // its predecessor (cos ~ 0.9+).
    def cosDocs(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(50)) === 0 && col("id") > 0,
        expr("concat_ws(' ', transform(sequence(0, 19), i -> " +
          "concat('t', if(i = 0, 0, pmod((id - 1) * 37 + i * 11, " +
          "CAST(0.4 * " + n.toString + " AS BIGINT))))))"))
        .otherwise(expr("concat_ws(' ', transform(sequence(0, 19), i -> " +
          "concat('t', pmod(id * 37 + i * 11, " +
          "CAST(0.4 * " + n.toString + " AS BIGINT)))))")).as("text"))
    time("tf_cosine_50k") {
      graft.operators.Linkage.tfCosinePairs(cosDocs(50000L * mult), 4, 5) }
    time("tf_cosine_100k") {
      graft.operators.Linkage.tfCosinePairs(cosDocs(100000L * mult), 4, 5) }

    // LM-familiarity scoring: the trigram table is vocab-bounded, so
    // the pinned-explode + count + score-join + per-doc agg chain
    // should scale with corpus tokens; two sizes for linearity.
    def synDocs(n: Long) = spark.range(n).select(
      col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 39), " +
        "i -> concat('w', pmod(id * 31 + i * 17, 2000))))").as("text"))
    time("lm_score_200k") {
      graft.operators.Corpus.lmScore(synDocs(200000L * mult)) }
    time("lm_score_400k") {
      graft.operators.Corpus.lmScore(synDocs(400000L * mult)) }

    // training-order shuffle: cost should be the one range-partitioned
    // sort on the md5 key (denseId's count job is ~free) — sort-bound
    // n log n, near-linear readings at these sizes.
    def shufIds(n: Long) = spark.range(n).select(col("id").as("doc_id"))
    time("training_order_2m") {
      graft.operators.Corpus.trainingOrder(shufIds(2000000L * mult), 1024L, "s1") }
    time("training_order_4m") {
      graft.operators.Corpus.trainingOrder(shufIds(4000000L * mult), 1024L, "s1") }

    // contrastive mining + outlier screen on labeled vectors: both are
    // one corpus scan (broadcast queries / broadcast centroids) with
    // map-side TopK partials — must scale with the scan.
    def labVecs(n: Long) = spark.range(n).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> CAST(sin(id * 13 + i * 31) AS FLOAT))")
        .as("embedding"),
      pmod(col("id"), lit(10)).cast("int").as("label"))
    time("hard_negatives_200k") {
      Similarity.hardNegatives(labVecs(200000L * mult), nQueries = 10, k = 5) }
    time("hard_negatives_400k") {
      Similarity.hardNegatives(labVecs(400000L * mult), nQueries = 10, k = 5) }
    time("centroid_outliers_200k") {
      Similarity.centroidOutliers(labVecs(200000L * mult), k = 10) }
    time("centroid_outliers_400k") {
      Similarity.centroidOutliers(labVecs(400000L * mult), k = 10) }

    // Gram matrix: the claim under test is that wall-clock is the SCAN
    // (per-partition d^2/2 accumulation, constant shuffle) — doubling
    // rows should double time, nothing worse.
    time("gram_matrix_400k") {
      Similarity.gramMatrix(labVecs(400000L * mult), dim = 64) }
    time("gram_matrix_800k") {
      Similarity.gramMatrix(labVecs(800000L * mult), dim = 64) }
    // Winnowing: pure per-row projection — linear, and the fingerprint
    // table should stay ~2/(w+1) of the gram stream.
    time("winnowing_200k") {
      TextAnalysis.winnowing(synDocs(200000L * mult)) }
    time("winnowing_400k") {
      TextAnalysis.winnowing(synDocs(400000L * mult)) }

    // DSIR importance scoring: target = 5% slice, shared 2000-token
    // vocabulary -> bigram vocab is bounded, so cost should be the
    // two corpus passes (target-leg count + score join) — linear.
    def dsirDocs(n: Long) = synDocs(n)
      .withColumn("tgt", pmod(col("doc_id"), lit(20)) === 0)
    time("importance_200k") {
      graft.operators.Corpus.importanceWeights(dsirDocs(200000L * mult), col("tgt")) }
    time("importance_400k") {
      graft.operators.Corpus.importanceWeights(dsirDocs(400000L * mult), col("tgt")) }

    // common-neighbor link prediction on a degree-4 ring-with-chords
    // graph: wedge volume = sum(deg^2) ~ 16n — linear when degrees are
    // bounded (the maxDeg cap enforces that shape on real graphs).
    def ringChords(n: Long) = spark.range(n).select(col("id").as("a"),
        pmod(col("id") + 1, lit(n)).as("b"))
      .unionAll(spark.range(n).select(col("id").as("a"),
        pmod(col("id") + 7, lit(n)).as("b")))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
    time("common_neighbors_1m") {
      graft.operators.Graph.commonNeighbors(ringChords(1000000L * mult), k = 20) }
    time("common_neighbors_2m") {
      graft.operators.Graph.commonNeighbors(ringChords(2000000L * mult), k = 20) }

    // session-path transition profile at event scale: one user_id
    // window shuffle; aggregate output is |types+1| x |types| rows
    // regardless of input size — the curve should be sort/shuffle-bound
    time("path_bigrams_2m") {
      graft.operators.EventsOps.pathBigrams(
        events.select(col("user_id"), col("event_id"), col("event_type"),
          col("sec").as("ts_sec")))
    }
    time("path_bigrams_4m") {
      val e2 = spark.range(nEvents * 2).select(
        col("id").as("event_id"),
        pmod(col("id") * 7919, lit(10000)).as("user_id"),
        (col("id") % 2000000L).as("ts_sec"),
        when(pmod(col("id"), lit(20)) === 0, "purchase")
          .when(pmod(col("id"), lit(3)) === 0, "click")
          .otherwise("view").as("event_type"))
      graft.operators.EventsOps.pathBigrams(e2)
    }

    // k-core peel on hub-triangle graphs: 3 rounds, each one
    // node-sized degree table + two semi-joins over a shrinking edge
    // list — cost tracks |E| per round. The hub (degree ~n/2) is kept,
    // triangles are 2-core-complete; structure is scale-invariant so
    // doubling |E| should ~double wall-clock. (Run after the path legs
    // so the first-leg JVM warm-up doesn't pollute the curve.)
    def hubTri(n: Long) = spark.range(n).select(col("id")).flatMap { r =>
      val i = r.getLong(0)
      val base = 1L + i * 3
      Seq((0L, base), (0L, base + 1), (0L, base + 2),
        (base, base + 1), (base + 1, base + 2), (base, base + 2))
    }.toDF("a", "b")
    time("kcore_1.8M_edges") {
      graft.operators.Graph.kCorePeel(hubTri(300000L * mult), k = 2)
    }
    time("kcore_3.6M_edges") {
      graft.operators.Graph.kCorePeel(hubTri(600000L * mult), k = 2)
    }

    // LPA communities on the same hub-triangle graphs: per round ONE
    // edge x label join (un-hinted, node-sized label table) + an
    // argmax window on the join's own partitioning. The hub's degree
    // (~n/2) makes its neighbor-label count the skew stressor; cost
    // should track |E| per round -> doubling edges ~doubles wall-clock
    time("lpa_1.8M_edges") {
      graft.operators.Graph.labelPropagate(hubTri(300000L * mult), rounds = 2)
    }
    time("lpa_3.6M_edges") {
      graft.operators.Graph.labelPropagate(hubTri(600000L * mult), rounds = 2)
    }

    // retention triangle at event scale, un-hinted cohort join (the r9
    // eviction): cohort table is user-sized; AQE broadcasts while it
    // fits. Same math as the x_events_retention gate, on the synthetic
    // log (hour-resolution; 10k users) — cost should track |events|
    def retentionOf(e: DataFrame): DataFrame = {
      val hours = e.select(col("user_id"), (col("sec") / 3600L).cast("long").as("h"))
      val cohort = hours.groupBy("user_id").agg(min("h").as("h0"))
      hours.join(cohort, Seq("user_id"))
        .select(col("user_id"), col("h0"), (col("h") - col("h0")).as("age"))
        .distinct()
        .groupBy("h0", "age").agg(count(lit(1)).as("n_users"))
    }
    time("retention_2m_events") { retentionOf(events) }
    time("retention_4m_events") {
      retentionOf(spark.range(nEvents * 2).select(
        pmod(col("id") * 7919, lit(10000)).as("user_id"),
        (col("id") % 4000000L).as("sec")))
    }

    // Artifact flow at hub scale: materialize the 1.8M-edge hub
    // fixture to parquet ONCE, run all five graph analytics from the
    // loaded artifact, then run the same five with the edge derivation
    // inline — the build-once / query-many contract the five
    // x_graph_*_indexed gates encode. The derivation cost (encoder
    // flatMap + parquet round-trip here; the whole similarity
    // self-join in the corpus gates) should be paid once by the
    // artifact suite and five times by the rebuild suite.
    if (want("artifact_flow")) {
      val edgePath = s"${sys.props("java.io.tmpdir")}/graft_soak_edges"
      val t0 = System.nanoTime()
      hubTri(300000L * mult).write.mode("overwrite").parquet(edgePath)
      println(f"SOAK artifact_flow_build          ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val art = spark.read.parquet(edgePath)
      def re = hubTri(300000L * mult)
      // untimed warm pass: when this group runs alone (regex-selected),
      // the first heavy leg would otherwise absorb JVM/codegen warm-up
      // and bias the artifact-vs-rebuild comparison
      graft.operators.Graph.triangleCount(hubTri(30000L))
        .write.format("noop").mode("overwrite").save()
      // the derivation stage in isolation: what each rebuild consumer
      // pays to re-derive, vs what each artifact consumer pays to scan
      // — five consumers cost 5x the former inline, build + 5x the
      // latter through the artifact
      time("artifact_flow_derive_inline") { re }
      time("artifact_flow_scan_artifact") { art }
      // end-to-end per analytic, rebuild first so any residual
      // later-is-warmer bias favors the REBUILD side
      time("artifact_flow_rebuild_tris") { graft.operators.Graph.triangleCount(re) }
      time("artifact_flow_triangles") { graft.operators.Graph.triangleCount(art) }
      time("artifact_flow_rebuild_pr") { graft.operators.Graph.pageRankInt(re) }
      time("artifact_flow_pagerank") { graft.operators.Graph.pageRankInt(art) }
      time("artifact_flow_rebuild_kcore") { graft.operators.Graph.kCorePeel(re, k = 2) }
      time("artifact_flow_kcore") { graft.operators.Graph.kCorePeel(art, k = 2) }
      time("artifact_flow_rebuild_lpa") { graft.operators.Graph.labelPropagate(re, rounds = 2) }
      time("artifact_flow_lpa") { graft.operators.Graph.labelPropagate(art, rounds = 2) }
      time("artifact_flow_rebuild_cn") {
        graft.operators.Graph.commonNeighbors(re, k = 20, maxDeg = Some(1000L)) }
      time("artifact_flow_cn") {
        graft.operators.Graph.commonNeighbors(art, k = 20, maxDeg = Some(1000L)) }

      // …and with a derivation that DOMINATES: the verified-Jaccard
      // self-join on the 50k-doc cluster corpus — the gates' real
      // edge derivation. This is where build-once pays: five rebuild
      // consumers each re-pay the derivation below; the artifact
      // suite pays it once (the build leg) plus a ~0.5s scan per
      // consumer. One rebuild analytic is timed as the spot check
      // (rebuild_i ≈ derive + artifact_i by construction).
      val jDocs = curationCorpus(50000L * mult)
      def jPairs = graft.operators.Dedup.jaccardPairs(
          graft.operators.Dedup.shingles(jDocs), 0.5,
          maxDf = Some(graft.operators.Dedup.GateMaxDf))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      time("artifact_flow_jc_derive") { jPairs }
      val jPath = s"${sys.props("java.io.tmpdir")}/graft_soak_jc_edges"
      val tj = System.nanoTime()
      graft.operators.IndexStore.buildEdgeIndex(jDocs, jPath)
      println(f"SOAK artifact_flow_jc_build       ${(System.nanoTime() - tj) / 1e9}%8.2f s")
      val jArt = graft.operators.IndexStore.loadEdgeIndex(spark, jPath)
      time("artifact_flow_jc_tris") { graft.operators.Graph.triangleCount(jArt) }
      time("artifact_flow_jc_pr") { graft.operators.Graph.pageRankInt(jArt) }
      time("artifact_flow_jc_kcore") { graft.operators.Graph.kCorePeel(jArt, k = 2) }
      time("artifact_flow_jc_lpa") { graft.operators.Graph.labelPropagate(jArt, rounds = 2) }
      time("artifact_flow_jc_cn") {
        graft.operators.Graph.commonNeighbors(jArt, k = 20, maxDeg = Some(1000L)) }
      time("artifact_flow_jc_tris_rebuild") { graft.operators.Graph.triangleCount(jPairs) }
    }

    // The small-files tax and what compaction buys back: a streaming
    // sink that ran for 64 micro-batches holds 64 partition dirs x
    // up-to-32 files each; every later consumer pays open/footer cost
    // per file. Compact folds the committed range into one segment of
    // target-sized files; the scan legs measure the same aggregate
    // before and after.
    if (want("compaction")) {
      val store = s"${sys.props("java.io.tmpdir")}/graft_soak_compact"
      val sp = new org.apache.hadoop.fs.Path(store)
      val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(sp)) fs.delete(sp, true)
      val nBatches = 64
      val ti = System.nanoTime()
      for (b <- 0 until nBatches)
        graft.streaming.EventStreams.idempotentParquetSink(store)(
          events.filter(pmod(col("event_id"), lit(nBatches)) === b), b.toLong)
      println(f"SOAK compaction_ingest_64     ${(System.nanoTime() - ti) / 1e9}%8.2f s")
      def nFiles = fs.listStatus(sp).filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath))
        .count(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
      def scanAgg = spark.read.parquet(store).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("user_id").as("s"))
      println(s"SOAK compaction_files_before  $nFiles")
      time("compaction_scan_small") { scanAgg }
      val tc = System.nanoTime()
      val stats = graft.streaming.Compaction.compact(
        spark, store, nBatches.toLong).get
      println(f"SOAK compaction_compact       ${(System.nanoTime() - tc) / 1e9}%8.2f s " +
        s"(${stats.filesBefore} files -> ${stats.filesAfter}, ${stats.rows} rows)")
      time("compaction_scan_compacted") { scanAgg }
    }

    // End-to-end ingest + maintenance runbook: 24 direct ingestBatch
    // calls of 10k vecs each (240k-vec corpus), per-batch wall time
    // printed so the hot-tail growth trend is visible, then maintain
    // (consolidate + rebase + compact) and one more batch over the
    // maintained store — the claim under test is that the
    // post-maintenance batch costs what an EARLY batch cost, not what
    // the last pre-maintenance batch cost.
    if (want("runbook")) {
      val root = s"${sys.props("java.io.tmpdir")}/graft_soak_runbook"
      val rp = new org.apache.hadoop.fs.Path(root)
      val rfs = rp.getFileSystem(spark.sessionState.newHadoopConf())
      if (rfs.exists(rp)) rfs.delete(rp, true)
      val (storeP, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
      // hash-based independent directions, NOT the sin-waveform fixture:
      // sin(id*13 + i*31) has near-recurrences (ids 29 apart differ by
      // ~0.006 rad in EVERY dim), so every vector belongs to a long
      // near-dup chain and pair volume explodes quadratically — a
      // pathological corpus, not an ingest-cost measurement
      val perBatch = 10000L
      def batchDf(b: Long) = spark.range(b * perBatch, (b + 1) * perBatch)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "i -> CAST((pmod(hash(id, i), 1000) - 500) / 500.0 AS FLOAT))")
            .as("embedding"))
      var reported = Set(0L, 11L, 23L)
      for (b <- 0L until 24L) {
        val t0 = System.nanoTime()
        graft.streaming.VecIngest.ingestBatch(batchDf(b), b, storeP, idxP,
          minSim = 0.95)
        if (reported(b))
          println(f"SOAK runbook_batch_$b%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      rfs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
      for (i <- 0L until 24L) graft.core.Markers.tryCreate(rfs,
        new org.apache.hadoop.fs.Path(s"$ckpt/commits/$i"), "{}")
      val tm = System.nanoTime()
      graft.streaming.VecIngest.maintain(spark, storeP, idxP, ckpt)
      val gens = rfs.listStatus(new org.apache.hadoop.fs.Path(s"$idxP/buckets"))
        .count(_.getPath.getName.startsWith("gen="))
      println(f"SOAK runbook_maintain         ${(System.nanoTime() - tm) / 1e9}%8.2f s " +
        s"(through=${graft.streaming.GenForest.consolidatedThrough(spark, idxP)
          .getOrElse(-1L)}, gens=$gens)")
      val t0 = System.nanoTime()
      graft.streaming.VecIngest.ingestBatch(batchDf(24L), 24L, storeP, idxP,
        minSim = 0.95)
      println(f"SOAK runbook_batch_post       ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    // What the pb-pruned bucket forest buys a growing-index probe: the
    // hot store is scanned whole (O(corpus)); the forest is read only
    // at the pb dirs the batch's own buckets hash into. 200k-vec
    // corpus at the 16-plane ingest width, 20-vec probe batch (160
    // buckets -> <=160 of 1024 pbs).
    if (want("tiering")) {
      import graft.operators.Similarity
      val root = s"${sys.props("java.io.tmpdir")}/graft_soak_tieridx"
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(rp)) fs.delete(rp, true)
      val (storeP, idxP, ckpt) = (s"$root/store", s"$root/index", s"$root/ckpt")
      val bands = Similarity.lshBandIndex(vecs,
        planesPerTable = Similarity.IngestPlanesPerTable)
      graft.streaming.EventStreams.idempotentParquetSink(s"$storeP/buckets")(bands, 0L)
      val batch = spark.range(20).select(
        (col("id") + nVecs).as("vec_id"),
        expr("transform(sequence(0, 63), i -> CAST(sin((id + 7) * 13 + i * 31) AS FLOAT))")
          .as("embedding"))
      val batchBuckets = Similarity.lshBandIndex(batch,
        planesPerTable = Similarity.IngestPlanesPerTable)
        .withColumnsRenamed(Map("vec_id" -> "new_id"))
      def probe(buckets: DataFrame): DataFrame =
        buckets.join(broadcast(batchBuckets), Seq("tbl", "bucket"))
          .select(col("new_id"), col("vec_id").as("corpus_id")).distinct()
      time("tiering_probe_flat") {
        probe(spark.read.parquet(s"$storeP/buckets").select("vec_id", "tbl", "bucket")) }
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
      graft.core.Markers.tryCreate(fs,
        new org.apache.hadoop.fs.Path(s"$ckpt/commits/0"), "{}")
      val tt = System.nanoTime()
      graft.streaming.VecIngest.consolidate(spark, storeP, idxP, ckpt)
      val forest = new org.apache.hadoop.fs.Path(s"$idxP/buckets")
      val rows = graft.streaming.StoreSchemas.footerRowCount(fs,
        spark.sessionState.newHadoopConf(), forest)
      println(f"SOAK tiering_build               ${(System.nanoTime() - tt) / 1e9}%8.2f s " +
        s"($rows rows re-laid by pb)")
      val pbs = batchBuckets
        .select(pmod(col("bucket"), lit(graft.streaming.VecIngest.IndexTierMod)).as("pb"))
        .distinct().collect().map(_.getInt(0))
      println(s"SOAK tiering_probe_pbs           ${pbs.length} of ${graft.streaming.VecIngest.IndexTierMod}")
      // read as VecIngest's probe reads it: with the forest schema
      val forestDf = spark.read.schema(graft.streaming.StoreSchemas.bucketsForest)
        .parquet(forest.toString)
      time("tiering_probe_pruned") {
        probe(forestDf
          .filter(col("pb").isin(pbs.map(Integer.valueOf): _*))
          .select("vec_id", "tbl", "bucket")) }
    }

    // BM25 retrieval: what a probe pays through the postings artifact
    // vs the inline re-explode of the corpus. 200k x 40-token docs
    // over a 2k vocabulary -> posting lists ~4k docs/term (realistic
    // hot-ish terms); the artifact probe reads the query terms' pb
    // directories + the dictionary, the inline path re-tokenizes the
    // whole corpus per search.
    if (want("retrieval")) {
      import graft.operators.{IndexStore, Retrieval}
      val rDir = java.nio.file.Files.createTempDirectory("soak_postings").toString
      val tb = System.nanoTime()
      IndexStore.buildPostingsIndex(docs, rDir)
      println(f"SOAK retrieval_index_build    ${(System.nanoTime() - tb) / 1e9}%8.2f s")
      // query terms derived once and passed to BOTH legs, so the
      // comparison times pure search (production queries arrive with
      // their own terms, they don't re-scan the corpus to exist)
      val qts = Retrieval.queryTermsLocal(docs)
      // untimed warm-up against a slice so codegen/JIT don't bill leg 1
      Retrieval.bm25TopK(docs.limit(5000))
        .write.format("noop").mode("overwrite").save()
      time("retrieval_inline_search") {
        Retrieval.bm25TopK(docs, qterms = Some(qts)) }
      time("retrieval_index_search") {
        IndexStore.bm25FromIndex(docs, spark, rDir,
          Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
          qtermsIn = Some(qts)) }
    }

    // Incremental consolidation: the claim under measurement is
    // "maintenance cost proportional to the NEW data, not the index".
    // Grow one store in 8 batches; compare (a) folding all 8 at once
    // (the r14 full-rebuild shape) against (b) the LAST incremental
    // run, which folds exactly one batch into an index that already
    // holds seven. Then the read-side effect: a probe against the
    // 8-generation forest vs the same index after rebase (gen-count
    // is the listing/open fan-in knob, the pb-mod-64-vs-256 effect
    // one level up), with rebase's own one-time cost printed between.
    if (want("consolidation")) {
      import graft.streaming.PostingsIngest
      import graft.operators.{IndexStore, Retrieval}
      val base = java.nio.file.Files.createTempDirectory("soak_consol").toString
      val nB = 8
      val store = s"$base/store"
      for (b <- 0 until nB)
        PostingsIngest.ingestBatch(
          docs.filter(pmod(col("doc_id"), lit(nB)) === b), b, store)
      val tF = System.nanoTime()
      PostingsIngest.consolidate(spark, store, s"$base/idx_full")
      println(f"SOAK consol_all_8_batches     ${(System.nanoTime() - tF) / 1e9}%8.2f s")
      // second store grown batch-by-batch, consolidating after each
      val store2 = s"$base/store2"
      var lastIncr = 0.0
      for (b <- 0 until nB) {
        PostingsIngest.ingestBatch(
          docs.filter(pmod(col("doc_id"), lit(nB)) === b), b, store2)
        val t0 = System.nanoTime()
        PostingsIngest.consolidate(spark, store2, s"$base/idx_incr")
        lastIncr = (System.nanoTime() - t0) / 1e9
      }
      println(f"SOAK consol_incr_last_batch   $lastIncr%8.2f s (1 of $nB batches folded)")
      val qts = Retrieval.queryTermsLocal(docs)
      time("consolidation_probe_8_gens") {
        IndexStore.bm25FromIndex(docs, spark, s"$base/idx_incr",
          Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
          qtermsIn = Some(qts)) }
      // as-of at HALF the history: a snapshot probe lists only
      // gen<=3 leaf dirs, so it must cost no more than the latest
      // probe (same plan over fewer dirs, plus one partial agg to
      // re-derive snapshot df from the already-pruned hits) — the
      // "reproduce last week's eval" read is cheap BY construction,
      // not by a second index copy
      val earlyDocs = docs.filter(pmod(col("doc_id"), lit(nB)) < 4)
      val qtsE = Retrieval.queryTermsLocal(earlyDocs)
      time("consolidation_probe_asof4of8") {
        IndexStore.bm25FromIndex(earlyDocs, spark, s"$base/idx_incr",
          Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
          qtermsIn = Some(qtsE), asOfGen = Some(3L)) }
      val tR = System.nanoTime()
      PostingsIngest.rebase(spark, s"$base/idx_incr")
      println(f"SOAK consol_rebase            ${(System.nanoTime() - tR) / 1e9}%8.2f s")
      time("consolidation_probe_rebased") {
        IndexStore.bm25FromIndex(docs, spark, s"$base/idx_incr",
          Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
          qtermsIn = Some(qts)) }
    }

    // Sidecar compaction: the claim under measurement is "the serve
    // bill of as-of history is the sidecar DIR COUNT, and
    // compactSidecars retires it without touching the answer". A
    // 48-consolidation store leaves 48 dict + 48 stats gens; the
    // postings forest is rebased FIRST so the probe delta isolates
    // the sidecars, then compaction folds them to one base each.
    if (want("sidecarcompact")) {
      import graft.streaming.PostingsIngest
      import graft.operators.{IndexStore, Retrieval}
      val base = java.nio.file.Files.createTempDirectory("soak_sidecar").toString
      val nB = 48
      val store = s"$base/store"
      val idx = s"$base/idx"
      val tI = System.nanoTime()
      for (b <- 0 until nB) {
        PostingsIngest.ingestBatch(
          docs.filter(pmod(col("doc_id"), lit(nB)) === b), b, store)
        PostingsIngest.consolidate(spark, store, idx)
      }
      println(f"SOAK sidecar_grow_48          ${(System.nanoTime() - tI) / 1e9}%8.2f s ($nB ingest+consolidate cycles)")
      PostingsIngest.rebase(spark, idx) // forest → 1 gen; sidecars stay 48
      val qts = Retrieval.queryTermsLocal(docs)
      def probe() = IndexStore.bm25FromIndex(docs, spark, idx,
        Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K,
        qtermsIn = Some(qts))
      time("sidecar_probe_48_gens")(probe())
      time("sidecar_probe_48_gens_w")(probe())
      val tC = System.nanoTime()
      PostingsIngest.compactSidecars(spark, idx)
      println(f"SOAK sidecar_compact          ${(System.nanoTime() - tC) / 1e9}%8.2f s (96 sidecar dirs -> 2)")
      time("sidecar_probe_1_gen")(probe())
      time("sidecar_probe_1_gen_w")(probe())
    }

    // Bulk sidecar heal (r17): the reconcile derives EVERY missing
    // bucket in ONE pass per sidecar — not one derivation per gen —
    // so healing a many-gen forest whose sidecar roots were lost costs
    // a flat derivation bill (one pinned forest scan + a fixed handful
    // of AQE stage materializations) plus O(gens) PARALLEL partition-
    // discovery listing jobs (tiny metadata jobs — the dir-listing
    // class compaction itself exists to bound) and O(gens) renames.
    // Grow a store, delete both sidecar roots (the loud-fail damage
    // state), and heal through one consolidate, counting submitted
    // jobs at two sizes: the non-listing job count must not move.
    if (want("sidecarheal")) {
      import graft.streaming.PostingsIngest
      // two sizes: the claim is job count FLAT in bucket count (the
      // one-pass derivation is 2 forest scans + a fixed handful of
      // AQE stage materializations), vs the per-bucket shape's
      // 2 jobs x gens
      for (nB <- Seq(4, 16)) {
        val base = java.nio.file.Files.createTempDirectory("soak_sheal").toString
        val store = s"$base/store"
        val idx = s"$base/idx"
        for (b <- 0 until nB) {
          PostingsIngest.ingestBatch(
            docs.filter(pmod(col("doc_id"), lit(nB)) === b), b, store)
          PostingsIngest.consolidate(spark, store, idx)
        }
        val idxPath = new org.apache.hadoop.fs.Path(idx)
        val fs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
        for (root <- Seq("stats", "dict"))
          fs.delete(new org.apache.hadoop.fs.Path(
            PostingsIngest.sidecarRootPath(spark, idx, root)), true)
        // an idle window bumps the watermark so the consolidate runs
        // its reconcile; the heal rebuilds every bucket per sidecar
        PostingsIngest.ingestBatch(docs.filter(lit(false)), nB.toLong, store)
        spark.sparkContext.setJobGroup(s"sheal$nB", "bulk sidecar heal")
        val tH = System.nanoTime()
        PostingsIngest.consolidate(spark, store, idx)
        val healSecs = (System.nanoTime() - tH) / 1e9
        spark.sparkContext.clearJobGroup()
        val jobs = spark.sparkContext.statusTracker
          .getJobIdsForGroup(s"sheal$nB").length
        println(f"SOAK sidecar_heal_${nB}%02d_buckets  $healSecs%8.2f s ($jobs jobs = fixed derivation + ~$nB listing jobs, for $nB buckets x 2 sidecars)")
        // the healed store serves the exact one-shot answer
        val served = graft.operators.IndexStore.bm25FromIndex(docs, spark, idx,
            graft.operators.Retrieval.NQueries, graft.operators.Retrieval.QueryLen,
            graft.operators.Retrieval.K)
          .orderBy("q_id", "rank").collect()
        val oneShot = graft.operators.Retrieval.bm25TopK(docs)
          .orderBy("q_id", "rank").collect()
        require(served.sameElements(oneShot), "healed store must serve exactly")
      }
    }

    // Blind-timer maintenance loop at 10x (r17 verdict #6): the
    // scheduler-facing contract Round17Spec proves at small scale,
    // soaked — maintain(rebaseAtGens=8, sidecarKeepLast=Some(2)) fired
    // blindly across 100+ ingest cycles with interleaved takedowns and
    // as-of probes. Claims under measurement: per-cycle cost is FLAT
    // (the store never accumulates state a later cycle pays for) and
    // every dir population stays bounded (postings gens by
    // rebaseAtGens, sidecar gens by keepLast within a keep-two-back
    // versioned root, hot store by watermark compaction, and — r19 —
    // tombstone dirs by the row-preserving snapshot fold, which keeps
    // the per-row batch ids the correction algebra depends on as DATA
    // while retiring the dirs; the ANN/band stores fold theirs as
    // plain id-sets — the AnnIngestSpec / PostingsIngestSpec loops).
    if (want("blindtimer")) {
      import graft.streaming.PostingsIngest
      import graft.operators.{IndexStore, Retrieval}
      val base = java.nio.file.Files.createTempDirectory("soak_btimer").toString
      val store = s"$base/store"
      val idx = s"$base/idx"
      val idxPath = new org.apache.hadoop.fs.Path(idx)
      val fs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
      val cycles = 104
      val perB = (nDocs / cycles).max(1L)
      def dirs(p: org.apache.hadoop.fs.Path, prefix: String): Int =
        if (!fs.exists(p)) 0
        else fs.listStatus(p).count(s =>
          s.isDirectory && s.getPath.getName.startsWith(prefix))
      val cycleSecs = new Array[Double](cycles)
      var maxGens, maxDict, maxStats, maxHot, maxTomb = 0
      for (c <- 0 until cycles) {
        val t0 = System.nanoTime()
        PostingsIngest.ingestBatch(
          docs.filter(col("doc_id") >= c * perB && col("doc_id") < (c + 1) * perB),
          c.toLong, store)
        if (c % 7 == 6) // takedown of an already-served doc
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
        cycleSecs(c) = (System.nanoTime() - t0) / 1e9
        maxGens = maxGens.max(dirs(new org.apache.hadoop.fs.Path(idx, "postings"), "gen="))
        maxDict = maxDict.max(dirs(new org.apache.hadoop.fs.Path(
          PostingsIngest.sidecarRootPath(spark, idx, "dict")), "gen="))
        maxStats = maxStats.max(dirs(new org.apache.hadoop.fs.Path(
          PostingsIngest.sidecarRootPath(spark, idx, "stats")), "gen="))
        maxHot = maxHot.max(dirs(new org.apache.hadoop.fs.Path(s"$store/postings"), "batch_id="))
        maxTomb = maxTomb.max(dirs(new org.apache.hadoop.fs.Path(idx, "tombstones"), "batch_id="))
      }
      def avg(s: Seq[Double]) = s.sum / s.size
      val firstQ = avg(cycleSecs.slice(4, 24).toSeq) // skip warm-up cycles
      val lastQ = avg(cycleSecs.takeRight(20).toSeq)
      println(f"SOAK blindtimer_${cycles}_cycles   ${cycleSecs.sum}%8.2f s total; " +
        f"per-cycle first20(warm) $firstQ%.2f s vs last20 $lastQ%.2f s (flat = no state debt); " +
        f"max dirs: postings-gens $maxGens, dict $maxDict, stats $maxStats, " +
        f"hot $maxHot, tombstones $maxTomb (bounded by the r19 row-preserving fold)")
      // r19: the postings tombstone forest is no longer the adjudicated
      // unbounded dir count — after each maintain the forest is the
      // unfolded tail plus the deferred last intake (TombstoneStore
      // keep-two-back). With takedowns every 7th cycle, the bound is
      // the per-takedown dir count between two purges, not cycles-ever.
      require(maxTomb <= 4,
        s"postings tombstone dirs must stay bounded under the fold, got $maxTomb")
      // loop horizon serves the exact one-shot answer over survivors.
      // Only doc_id < cycles*perB were ever ingested — integer division
      // leaves stragglers when nDocs % cycles != 0, and comparing
      // against the full frame shifts every score through n/sumdl/df
      // (the r18 soak's first run failed exactly here: same docs, same
      // ranks, scores off by the 8 uningested docs' statistics)
      val tombs = graft.streaming.TombstoneStore.readRows(spark, idx)
        .map(_.select("doc_id").distinct())
        .getOrElse(Seq.empty[Long].toDF("doc_id"))
      val ingested = docs.filter(col("doc_id") < cycles * perB)
      val alive = ingested.join(broadcast(tombs), Seq("doc_id"), "left_anti")
      val served = IndexStore.bm25FromIndex(alive, spark, idx,
          Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
        .orderBy("q_id", "rank").collect()
      val oneShot = Retrieval.bm25TopK(alive)
        .orderBy("q_id", "rank").collect()
      require(served.sameElements(oneShot),
        "blind-timer loop horizon must serve the one-shot answer")
    }

    // Takedown-heavy postings twin (r19, VERDICT r18 #2): a takedown
    // EVERY cycle — the deployment shape the r18 adjudication said
    // would "eventually feel the listing bill" when the postings
    // tombstone forest was unbounded. Claims under measurement: the
    // row-preserving snapshot fold keeps the tombstone dir count FLAT
    // at takedown volume (unfolded tail + deferred last intake, not
    // takedowns-ever), per-cycle cost stays flat (the fold itself is
    // O(snapshot + tail), and the snapshot is coalesced below the
    // shard threshold), and the horizon serve stays bit-equal to the
    // one-shot over survivors even though most tombstone batches live
    // only in the snapshot by then.
    //
    // r20 adds the AMORTIZED leg (`heavytakedown4`, VERDICT r19 #4):
    // same load with `purgeAtBatches = 4` — the O(live forest)
    // purging rebase fires once per 4 cycles instead of every cycle,
    // so per-cycle cost should drop toward the periodic-takedown
    // loop's while the dir bound widens by at most the 4 waiting
    // batches and the horizon serve stays bit-equal (hiding and score
    // corrections are serve-time, independent of purge latency).
    def heavyTakedownLeg(tag: String, purgeAt: Int): Unit = if (want(tag)) {
      import graft.streaming.PostingsIngest
      import graft.operators.{IndexStore, Retrieval}
      val base = java.nio.file.Files.createTempDirectory(s"soak_$tag").toString
      val store = s"$base/store"
      val idx = s"$base/idx"
      val idxPath = new org.apache.hadoop.fs.Path(idx)
      val fs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
      val cycles = 52
      val perB = (nDocs / cycles).max(1L)
      def dirs(p: org.apache.hadoop.fs.Path, prefix: String): Int =
        if (!fs.exists(p)) 0
        else fs.listStatus(p).count(s =>
          s.isDirectory && s.getPath.getName.startsWith(prefix))
      val cycleSecs = new Array[Double](cycles)
      var maxTomb, maxSnapV = 0
      for (c <- 0 until cycles) {
        val t0 = System.nanoTime()
        PostingsIngest.ingestBatch(
          docs.filter(col("doc_id") >= c * perB && col("doc_id") < (c + 1) * perB),
          c.toLong, store)
        if (c > 0) // one takedown batch EVERY cycle — clamped onto an
          // already-ingested doc (batch c-1's floor) so a tiny nDocs
          // (perB == 1) can't tombstone a phantom id like -1; ids stay
          // distinct per cycle either way, so the landed-count check
          // below is unaffected (r19 ADVICE)
          PostingsIngest.tombstoneDocs(
            Seq(math.max(c * perB - 2, (c - 1) * perB)).toDF("doc_id"),
            c.toLong, idx)
        PostingsIngest.maintain(spark, store, idx,
          rebaseAtGens = 8, sidecarKeepLast = Some(2),
          purgeAtBatches = purgeAt)
        cycleSecs(c) = (System.nanoTime() - t0) / 1e9
        maxTomb = maxTomb.max(
          dirs(new org.apache.hadoop.fs.Path(idx, "tombstones"), "batch_id="))
        maxSnapV = maxSnapV.max(
          dirs(new org.apache.hadoop.fs.Path(idx, "tombstones_snapshot"), "v="))
      }
      def avg(s: Seq[Double]) = s.sum / s.size
      val firstQ = avg(cycleSecs.slice(4, 24).toSeq)
      val lastQ = avg(cycleSecs.takeRight(20).toSeq)
      println(f"SOAK ${tag}_${cycles}_cycles ${cycleSecs.sum}%8.2f s total; " +
        f"per-cycle first20(warm) $firstQ%.2f s vs last20 $lastQ%.2f s (flat = fold " +
        f"amortized); max dirs: tombstones $maxTomb, snapshot versions $maxSnapV " +
        f"(${cycles - 1} takedowns ever landed, purgeAtBatches=$purgeAt)")
      // dir bound under amortized purge: each fold's intake is purgeAt
      // dirs, retired ONE FOLD LATE (deferred retention), and up to
      // purgeAt-1 fresh batches wait unpurged before the next fold —
      // post-maintain max = 2*purgeAt - 1 (= 1 at the default, 7 at 4;
      // both measured exactly)
      require(maxTomb <= 2 * purgeAt - 1 && maxSnapV <= 2,
        s"takedown-heavy loop must stay bounded: tomb dirs $maxTomb, versions $maxSnapV")
      val tombs = graft.streaming.TombstoneStore.readRows(spark, idx)
        .map(_.select("doc_id").distinct())
        .getOrElse(Seq.empty[Long].toDF("doc_id"))
      require(tombs.count() == (cycles - 1).toLong,
        "every takedown ever landed must still be served from the snapshot")
      val ingested = docs.filter(col("doc_id") < cycles * perB)
      val alive = ingested.join(broadcast(tombs), Seq("doc_id"), "left_anti")
      val served = IndexStore.bm25FromIndex(alive, spark, idx,
          Retrieval.NQueries, Retrieval.QueryLen, Retrieval.K)
        .orderBy("q_id", "rank").collect()
      val oneShot = Retrieval.bm25TopK(alive)
        .orderBy("q_id", "rank").collect()
      require(served.sameElements(oneShot),
        "takedown-heavy loop horizon must serve the one-shot answer")
    }
    heavyTakedownLeg("heavytakedown", purgeAt = 1)
    heavyTakedownLeg("heavytakedown4", purgeAt = 4)

    // ANN blind-timer twin (r17 verdict #4): 48+ maintenance cycles on
    // the IVFADC store. The adjudication this leg records: the ANN
    // layout has NO per-gen sidecar growth to bound — as-of serving
    // rides the `_gens` markers plus the src_gen data column (no
    // per-gen dict/stats the postings store needs), and the quantizer
    // is one frozen artifact — so the dir populations are exactly
    // gens (bounded by rebaseAtGens), the hot store (watermark
    // compaction), and tombstones (folded at/below the purge stamp
    // since r18). Flat per-cycle cost + bounded dirs is the whole
    // contract.
    if (want("annblind")) {
      import graft.streaming.AnnIngest
      val base = java.nio.file.Files.createTempDirectory("soak_annbt").toString
      val store = s"$base/store"
      val idx = s"$base/idx"
      val idxPath = new org.apache.hadoop.fs.Path(idx)
      val fs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
      val cycles = 52
      val perB = (nVecs / cycles).max(1L)
      def dirs(p: org.apache.hadoop.fs.Path, prefix: String): Int =
        if (!fs.exists(p)) 0
        else fs.listStatus(p).count(s =>
          s.isDirectory && s.getPath.getName.startsWith(prefix))
      val cycleSecs = new Array[Double](cycles)
      var maxGens, maxHot, maxTomb = 0
      for (c <- 0 until cycles) {
        val t0 = System.nanoTime()
        AnnIngest.ingestBatch(
          vecs.filter(col("vec_id") >= c * perB && col("vec_id") < (c + 1) * perB),
          c.toLong, store)
        if (c % 7 == 6)
          AnnIngest.tombstone(
            spark.range(c * perB - 3, c * perB - 1).select(col("id").as("vec_id")),
            c.toLong, idx)
        AnnIngest.maintain(spark, store, idx, rebaseAtGens = 8)
        cycleSecs(c) = (System.nanoTime() - t0) / 1e9
        maxGens = maxGens.max(dirs(new org.apache.hadoop.fs.Path(idx, "index"), "gen="))
        maxHot = maxHot.max(dirs(new org.apache.hadoop.fs.Path(s"$store/vecs"), "batch_id="))
        maxTomb = maxTomb.max(dirs(new org.apache.hadoop.fs.Path(idx, "tombstones"), "batch_id="))
      }
      def avg(s: Seq[Double]) = s.sum / s.size
      println(f"SOAK annblind_${cycles}_cycles    ${cycleSecs.sum}%8.2f s total; " +
        f"per-cycle first20(warm) ${avg(cycleSecs.slice(4, 24).toSeq)}%.2f s vs " +
        f"last20 ${avg(cycleSecs.takeRight(20).toSeq)}%.2f s; " +
        f"max dirs: gens $maxGens, hot $maxHot, tombstones $maxTomb")
      // loop horizon: the grown serve equals the generic search over
      // the surviving corpus
      val (centroids, books) = AnnIngest.loadQuantizer(spark, idx)
      // the takedown set reads through the snapshot+tail store — after
      // the folds the raw tombstones dir holds at most the deferred
      // last intake, which readers of the current snapshot exclude
      val tombs = graft.streaming.TombstoneStore.read(spark, idx, "vec_id").get
      val grown = AnnIngest.searchGrown(vecs, spark, idx, nQueries = 3, k = 4)
        .orderBy("query_id", "rank").collect()
      val idxDf = spark.read.parquet(s"$idx/index")
        .select("vec_id", "cell", "codes")
        .join(broadcast(tombs), Seq("vec_id"), "left_anti")
      val generic = Similarity.ivfPqSearch(vecs, idxDf, centroids, books,
          nQueries = 3, k = 4)
        .orderBy("query_id", "rank").collect()
      require(grown.sameElements(generic),
        "ANN blind-timer loop horizon must serve the generic answer")
    }

    // Band-store blind-timer twin — completes the triad (postings =
    // blindtimer, ANN = annblind): 52 maintenance cycles on the
    // MinHash band forest with takedowns every 7th cycle, then a
    // grown-index dedup probe against the inline incremental answer
    // over survivors. Dir populations: gens (rebaseAtGens), hot store
    // (tiered), tombstones (snapshot fold).
    if (want("dedupblind")) {
      import graft.streaming.DedupIngest
      val base = java.nio.file.Files.createTempDirectory("soak_dedupbt").toString
      val store = s"$base/store"
      val idx = s"$base/idx"
      val idxPath = new org.apache.hadoop.fs.Path(idx)
      val fs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
      val cycles = 52
      val perB = (nDocs / cycles).max(1L)
      def dirs(p: org.apache.hadoop.fs.Path, prefix: String): Int =
        if (!fs.exists(p)) 0
        else fs.listStatus(p).count(s =>
          s.isDirectory && s.getPath.getName.startsWith(prefix))
      val cycleSecs = new Array[Double](cycles)
      var maxGens, maxHot, maxTomb = 0
      for (c <- 0 until cycles) {
        val t0 = System.nanoTime()
        DedupIngest.ingestBatch(
          docs.filter(col("doc_id") >= c * perB && col("doc_id") < (c + 1) * perB),
          c.toLong, store)
        if (c % 7 == 6)
          DedupIngest.tombstoneDocs(
            spark.range(c * perB - 3, c * perB - 1).select(col("id").as("doc_id")),
            c.toLong, idx)
        DedupIngest.maintain(spark, store, idx, rebaseAtGens = 8)
        cycleSecs(c) = (System.nanoTime() - t0) / 1e9
        maxGens = maxGens.max(dirs(new org.apache.hadoop.fs.Path(idx, "bands"), "gen="))
        maxHot = maxHot.max(dirs(new org.apache.hadoop.fs.Path(s"$store/bands"), "batch_id="))
        maxTomb = maxTomb.max(dirs(new org.apache.hadoop.fs.Path(idx, "tombstones"), "batch_id="))
      }
      def avg(s: Seq[Double]) = s.sum / s.size
      println(f"SOAK dedupblind_${cycles}_cycles  ${cycleSecs.sum}%8.2f s total; " +
        f"per-cycle first20(warm) ${avg(cycleSecs.slice(4, 24).toSeq)}%.2f s vs " +
        f"last20 ${avg(cycleSecs.takeRight(20).toSeq)}%.2f s; " +
        f"max dirs: gens $maxGens, hot $maxHot, tombstones $maxTomb")
      // loop horizon: the grown-index probe equals the inline
      // incremental flow over the ingested survivors
      val probeDocs = spark.range(5).select(
        (col("id") + 10000000L).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(0, 39), " +
          "i -> concat('w', pmod(id * 31 + i * 17, 2000))))").as("text"))
      val tombs = graft.streaming.TombstoneStore.read(spark, idx, "doc_id").get
      val ingested = docs.filter(col("doc_id") < cycles * perB)
      val alive = ingested.join(broadcast(tombs), Seq("doc_id"), "left_anti")
      val got = DedupIngest.dedupAgainstIndex(probeDocs, ingested, spark, idx, 0.5)
        .select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want0 = graft.operators.Dedup.minhashLshIncremental(probeDocs, alive, 0.5)
        .select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(got == want0,
        "dedup blind-timer loop horizon must serve the inline answer")
    }

    // Incremental connected components: the claim under measurement
    // is "label maintenance is bounded by the batch, not the archive".
    // Archive = 10-node chain components over the whole corpus; batch
    // = bridge edges merging component pairs. The archive's labels are
    // prebuilt OUTSIDE the timed window (in production they exist on
    // disk); the merge is timed against re-running CC over every edge.
    if (want("incrcc")) {
      import graft.operators.Dedup
      val chain = spark.range(nDocs)
        .filter(pmod(col("id"), lit(10)) =!= 9)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val bridges = spark.range(nDocs / 100).select(
        (col("id") * 100).as("doc_a"), (col("id") * 100 + 55).as("doc_b"))
      time("incrcc_full_recluster") {
        Dedup.canonicalClusters(chain.unionByName(bridges)) }
      val labels0 = graft.core.Materialize.pin(
        Dedup.canonicalClusters(chain))
      labels0.count() // force — archive labels are the precondition
      time("incrcc_merge_batch") {
        Dedup.clustersIncremental(labels0, bridges) }
    }

    // Growing MinHash band store: the claim under measurement is the
    // probe shape — a SMALL daily batch against a LARGE grown index
    // should scan only its pruned pbh partitions, vs the flat
    // flat-scan probe that reads every band row ever ingested.
    // pbhMod here is sized for the pruning demonstration (a 20-doc
    // batch = 160 band rows over mod 1024 touches ~15% of dirs); a
    // production sizing balances that against file counts exactly as
    // pbModForPostings does one store over.
    if (want("dedupconsolidation")) {
      import graft.streaming.DedupIngest
      import graft.operators.Dedup
      val base = java.nio.file.Files.createTempDirectory("soak_dedupconsol").toString
      val nB = 8
      val store = s"$base/store"
      val tI = System.nanoTime()
      for (b <- 0 until nB)
        DedupIngest.ingestBatch(
          docs.filter(pmod(col("doc_id"), lit(nB)) === b), b, store)
      println(f"SOAK dedupconsol_ingest_8     ${(System.nanoTime() - tI) / 1e9}%8.2f s (banding $nDocs docs)")
      val tC = System.nanoTime()
      DedupIngest.consolidate(spark, store, s"$base/idx", pbhMod = 1024)
      println(f"SOAK dedupconsol_fold         ${(System.nanoTime() - tC) / 1e9}%8.2f s")
      // the daily batch: 20 unseen doc ids whose text repeats corpus
      // docs 0-9, so every probe doc has at least one true near-dup
      val newDocs = spark.range(20).select(
        (col("id") + nDocs).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(0, 39), " +
          "i -> concat('w', pmod((id % 10) * 31 + i * 17, 2000))))").as("text"))
      // ADAPTIVE (r16): at this index size the predicted saving is
      // under the break-even, so the probe takes the whole-root shape
      // — it must track probe_flat, not pay the old ~1 s enumeration
      // constant. forced_pruned re-measures the explicit leaf-dir
      // shape (the at-scale winner) for the comparison.
      time("dedupconsol_probe_adaptive") {
        DedupIngest.dedupAgainstIndex(newDocs, docs, spark, s"$base/idx", 0.5) }
      time("dedupconsol_probe_forced_pruned") {
        val nb = graft.core.Materialize.pin(Dedup.minhashBands(newDocs))
        Dedup.minhashLshIncrementalIndexed(newDocs, docs,
          DedupIngest.corpusBandsFromIndex(spark, s"$base/idx", nb,
            flatBelowSavedBytes = 0L),
          0.5, newBandsIn = Some(nb)) }
      time("dedupconsol_probe_flat") {
        Dedup.minhashLshIncrementalIndexed(newDocs, docs,
          spark.read.parquet(s"$store/bands").select("doc_id", "band", "bh"),
          0.5) }
      // second (warm) round — the first probe also pays warming the
      // corpus-text verification scan all three shapes share, so the
      // adaptive decision is judged on the warm readings
      time("dedupconsol_probe_adaptive_w") {
        DedupIngest.dedupAgainstIndex(newDocs, docs, spark, s"$base/idx", 0.5) }
      time("dedupconsol_probe_forcedpr_w") {
        val nb = graft.core.Materialize.pin(Dedup.minhashBands(newDocs))
        Dedup.minhashLshIncrementalIndexed(newDocs, docs,
          DedupIngest.corpusBandsFromIndex(spark, s"$base/idx", nb,
            flatBelowSavedBytes = 0L),
          0.5, newBandsIn = Some(nb)) }
      time("dedupconsol_probe_flat_w") {
        Dedup.minhashLshIncrementalIndexed(newDocs, docs,
          spark.read.parquet(s"$store/bands").select("doc_id", "band", "bh"),
          0.5) }
    }

    // Growing IVFADC store at corpus scale: the dense twin of the
    // consolidation leg. Claims measured: (a) incremental encode cost
    // tracks NEW batch size, not index size; (b) the probe is leaf-
    // dir bounded (gen count hurts file opens, rebase reclaims);
    // (c) a tombstone purge is one forced fold, and serving cost is
    // unchanged after it.
    if (want("annconsolidation")) {
      import graft.streaming.AnnIngest
      val base = java.nio.file.Files.createTempDirectory("soak_annconsol").toString
      val nB = 8
      val store = s"$base/store"
      for (b <- 0 until nB)
        AnnIngest.ingestBatch(
          vecs.filter(pmod(col("vec_id"), lit(nB)) === b), b, store)
      val tF = System.nanoTime()
      AnnIngest.consolidate(spark, store, s"$base/idx_full", pqIters = 1)
      println(f"SOAK annconsol_all_8_batches  ${(System.nanoTime() - tF) / 1e9}%8.2f s (train+encode ${nVecs}%,d vecs)")
      val store2 = s"$base/store2"
      var lastIncr = 0.0
      for (b <- 0 until nB) {
        AnnIngest.ingestBatch(
          vecs.filter(pmod(col("vec_id"), lit(nB)) === b), b, store2)
        val t0 = System.nanoTime()
        AnnIngest.consolidate(spark, store2, s"$base/idx_incr", pqIters = 1)
        lastIncr = (System.nanoTime() - t0) / 1e9
      }
      println(f"SOAK annconsol_incr_last      $lastIncr%8.2f s (1 of $nB batches encoded)")
      time("annconsol_probe_8_gens") {
        AnnIngest.searchGrown(vecs, spark, s"$base/idx_incr",
          nQueries = 10, k = 5) }
      val tR = System.nanoTime()
      AnnIngest.rebase(spark, s"$base/idx_incr")
      println(f"SOAK annconsol_rebase         ${(System.nanoTime() - tR) / 1e9}%8.2f s")
      time("annconsol_probe_rebased") {
        AnnIngest.searchGrown(vecs, spark, s"$base/idx_incr",
          nQueries = 10, k = 5) }
      // takedown: 1% of the corpus tombstoned, purged, re-probed
      import spark.implicits._
      AnnIngest.tombstone(
        vecs.filter(pmod(col("vec_id"), lit(100)) === 7).select("vec_id"),
        0L, s"$base/idx_incr")
      time("annconsol_probe_tombstoned") {
        AnnIngest.searchGrown(vecs, spark, s"$base/idx_incr",
          nQueries = 10, k = 5) }
      val tP = System.nanoTime()
      AnnIngest.rebase(spark, s"$base/idx_incr")
      println(f"SOAK annconsol_purge          ${(System.nanoTime() - tP) / 1e9}%8.2f s (1%% of corpus tombstoned)")
      time("annconsol_probe_purged") {
        AnnIngest.searchGrown(vecs, spark, s"$base/idx_incr",
          nQueries = 10, k = 5) }
    }

    spark.stop()
  }
}
