package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Linkage, Similarity}

/** Round 14: a plan-level pin for the IVFADC dynamic partition
  * pruning (previously verified only by PlanCheck eyeball), the
  * build-side PQ dimension guard, and the phonetic third
  * sorted-neighborhood pass with its swap-typo blind-spot case. */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(tag).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // ---- IVFADC dynamic partition pruning: plan-asserted ----

  test("IVFADC probe scan is partition-pruned to the probed cells") {
    // r13's claim was "the cell-partitioned index gets DPP for free"
    // — verified only by PlanCheck eyeball, and in fact a V1-reader
    // behavior: V2 FileScan has no runtime-filtering surface in Spark
    // 4.1, so under the engine's V2 default Catalyst plants nothing
    // and the probe would read EVERY cell directory. ivfPqSearch now
    // plants the probed-cell set as a static isin (the quantizer is
    // driver-held, so the set is quantizer-sized); this pin asserts
    // the filter actually reaches the scan's PartitionFilters — the
    // regression it guards is exactly the silent full-index scan the
    // V2 migration would have shipped.
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
    val path = tmp("r14-ivfpq")
    IndexStore.buildIvfPqIndex(emb, path)
    val (index, cents, books) = IndexStore.loadIvfPqIndex(spark, path)
    val ann = Similarity.ivfPqSearch(emb, index, cents, books, nQueries = 10, k = 5)
    val plan = ann.queryExecution.executedPlan.toString
    val indexScan = plan.linesIterator
      .filter(l => l.contains("ParquetScan") && l.contains("/index")).toSeq
    assert(indexScan.nonEmpty,
      s"expected the codes index scan in the plan:\n$plan")
    assert(indexScan.forall(_.contains("PartitionFilters: [cell")),
      s"index scan must carry a cell partition filter; got:\n${indexScan.mkString("\n")}")
    val searched = ann.select("neighbor_id").distinct().count()
    assert(searched > 0, "probe must still find neighbors")
  }

  // ---- PQ build-side dimension guard ----

  test("pqEncode refuses a corpus whose dimension disagrees with the codebook") {
    // search side was guarded in r13 (requireQueryDim); the build side
    // writes a DURABLE artifact, so garbage codes from a wrong-dim
    // corpus would persist across sessions — it must fail loudly too
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
    val books = Similarity.pqCodebooks(emb)
    val wrong = emb.select(col("vec_id"),
      expr("slice(embedding, 1, 32)").as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.pqEncode(wrong, books).collect()
    }
    assert(e.getMessage.contains("codebook total dimension"))
  }

  // ---- phonetic third sorted-neighborhood pass ----

  test("adjacent transposition escapes forward AND reversed passes; phonetic catches it") {
    // "Johnson" -> "Jhonson": the swap breaks the head (forward sort
    // teleports) and, with enough same-suffix neighbors, the reversed
    // key too. Soundex is transposition-stable for same-class
    // consonants, so both variants share a code and land adjacent
    // under the phonetic key. Fixture: >window fillers between the
    // twins in BOTH the forward order (Ji..Jn prefixes) and the
    // reversed order (...inson/..mnson tails), none sharing the twins'
    // soundex block.
    val twins = Seq((1L, "Johnson"), (2L, "Jhonson"))
    val fwdFill = (0 until 12).map(i => (100L + i, f"J${('i' + i % 5).toChar}lander$i%02d"))
    val revFill = (0 until 12).map(i => (200L + i, f"Pav${('i' + i % 5).toChar}nson"))
    val df = (twins ++ fwdFill ++ revFill).toDF("id", "name")

    def pairs(keys: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column]) =
      Linkage.sortedNeighborhoodMultiPass(df, col("id"), col("name"),
        window = 3, maxDist = 2, keys = keys)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val twoPass = pairs(Seq(identity, reverse))
    assert(!twoPass.contains((1L, 2L)),
      "fixture must place the transposed twin outside both windows " +
        "(otherwise this pins nothing)")
    val threePass = pairs(Seq(identity, reverse, Linkage.phoneticKey))
    assert(threePass.contains((1L, 2L)),
      "phonetic pass must recover the transposed pair")
    assert(twoPass.subsetOf(threePass), "extra pass only ADDS pairs")
  }

  test("semantic recall gate is partition-count invariant (float k-means margin)") {
    // the gate's boolean rides k-means centroids computed with float
    // avg, whose summation order varies with partitioning — the
    // Round11Spec invariance pattern, applied to the one new row whose
    // decision is NOT integer-exact. probes=3 must leave enough margin
    // that ULP-level centroid jitter cannot flip a boundary pair out
    // of all three probed cells (also verified by hand at sf0.01 under
    // 4/5/32 partitions: (59, true) in all three).
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val rows = Seq("3", "4", "7").map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        SparkEntry.queries("x_dedup_semantic_recall")(spark, dir)
          .as[(Long, Boolean)].head()
      }
      assert(rows.distinct.size == 1 && rows.head._2,
        s"gate row must be partition-invariant and true: $rows")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("A-ES weighted no-replacement sample: exact n, distinct, weight-biased, TakeOrdered plan") {
    val orders = graft.core.Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("w_cents"))
    val n = 300
    val sample = graft.operators.Sampling.weightedSampleNoReplace(
      orders, col("o_orderkey"), col("w_cents"), n)
    val rows = sample.as[(Long, Long)].collect()
    assert(rows.length == n, "exactly n rows")
    assert(rows.map(_._1).distinct.length == n, "no replacement: keys distinct")
    // weight bias: the sampled mean weight must exceed the population
    // mean (value-weighted selection over-represents heavy orders)
    val popMean = orders.agg(avg("w_cents")).as[Double].head()
    val sampleMean = rows.map(_._2).sum.toDouble / n
    assert(sampleMean > popMean,
      s"PPS sample mean $sampleMean must exceed population mean $popMean")
    // scale shape: top-n by score must plan as TakeOrderedAndProject,
    // not a global sort
    val plan = sample.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
    // partition-count invariance (hash scores are partition-free)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = graft.operators.Sampling.weightedSampleNoReplace(
        orders.repartition(7), col("o_orderkey"), col("w_cents"), n)
        .as[(Long, Long)].collect().toSet
      assert(again == rows.toSet, "same sample under different partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("stratified weighted sample: n per stratum, reduces to stratifiedSample on constant weights") {
    val orders = graft.core.Tables.t(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("w_cents"))
    val s10 = graft.operators.Sampling.stratifiedWeightedSample(
      orders, col("o_orderpriority"), col("o_orderkey"), col("w_cents"), 10)
    val perStratum = s10.groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    val sizes = orders.groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    sizes.foreach { case (k, total) =>
      assert(perStratum(k) == math.min(10L, total),
        s"stratum $k: want min(10, $total), got ${perStratum(k)}")
    }
    // constant weights: the race score is -ln(u)/c — same ORDER as the
    // plain hashScore sort (u -> -ln(u) monotone DEcreasing, so
    // ascending score = descending u)... which is a DIFFERENT order
    // than stratifiedSample's ascending hashScore. The reduction claim
    // is about the DESIGN (uniform inclusion probability), so assert
    // the distributional reduction: same per-stratum counts.
    val flat = graft.operators.Sampling.stratifiedWeightedSample(
      orders.withColumn("w1", lit(1L)),
      col("o_orderpriority"), col("o_orderkey"), col("w1"), 10)
    assert(flat.groupBy("o_orderpriority").count().as[(String, Long)]
      .collect().toMap == perStratum.map { case (k, _) =>
        k -> math.min(10L, sizes(k)) },
      "constant-weight draw keeps the same per-stratum counts")
  }

  test("token budget fill covers the budget with the boundary doc included whole") {
    val docs = graft.core.Tables.t(spark, dir, "documents")
    val budget = 5000L
    val fill = graft.operators.Corpus.tokenBudgetFill(docs, budget)
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    val total = fill.map(_._2).sum
    assert(fill.last._3 == total, "cum of last selected doc = selected total")
    assert(total >= budget, s"selected $total tokens must cover budget $budget")
    assert(total - fill.last._2 < budget,
      "removing the boundary doc must drop below budget (minimal cover)")
    // determinism: same set under different partitioning
    val again = graft.operators.Corpus.tokenBudgetFill(docs.repartition(7), budget)
      .as[(Long, Long, Long)].collect().toSet
    assert(again == fill.toSet, "same fill under different partitioning")
  }

  test("MatVecCentered kernel equals the composed column form bit-for-bit") {
    val w = Seq(Seq(2.0f, 0.5f), Seq(-1.0f, 3.0f))
    val m = Seq(0.25f, -0.75f)
    val vecs = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(-0.5f, 0.125f)),
      (3L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val kernel = vecs.select(col("vec_id"),
      graft.functions.MatVecCentered.matVecCentered(col("embedding"), w, m)
        .as("y")).as[(Long, Seq[Float])].collect().toMap
    // reference: double-accumulated per-element compose
    val expect = Seq(1L -> Seq(1.0, 2.0), 2L -> Seq(-0.5, 0.125),
      3L -> Seq(0.0, 0.0)).toMap.map { case (id, v) =>
      id -> w.map(row => row.zip(v.zip(m).map { case (x, mm) =>
        x - mm.toDouble }).map { case (ww, c) => ww * c }.sum.toFloat)
    }
    assert(kernel == expect, s"kernel $kernel != compose $expect")
  }

  test("whitening: covariance lands on the identity, projection is scan-only") {
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
    val gate = SparkEntry.queries("x_sim_whiten")(spark, dir)
      .as[(Long, Boolean)].head()
    assert(gate._1 > 0 && gate._2, s"whitened covariance off identity: $gate")
    // the projection itself must be one scan + projection — no
    // Exchange anywhere (the kernel is a per-row map)
    val (w, m) = graft.operators.Similarity.whitenParams(emb, 64)
    val proj = emb.select(
      graft.functions.MatVecCentered.matVecCentered(col("embedding"), w, m))
    assert(!proj.queryExecution.executedPlan.toString.contains("Exchange"),
      "whitening projection must not shuffle")
  }

  test("PCA axes are orthonormal, sign-pinned, and compose with PQ") {
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
    val (axes, _, lam) = graft.operators.Similarity.pcaParams(emb, 64, 16)
    assert(lam.size == 64 && lam.zip(lam.tail).forall { case (a, b) => a >= b },
      "eigenvalues must come back descending")
    for (a <- axes.indices; b <- a until axes.size) {
      val dot = axes(a).zip(axes(b)).map { case (x, y) => x.toDouble * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-4, s"axes $a x $b = $dot, want $want")
    }
    axes.foreach { ax =>
      val pivot = ax.maxBy(v => math.abs(v))
      assert(pivot >= 0, "sign convention: largest-magnitude component positive")
    }
    // the compose story: PCA to 16 dims, then PQ the reduced vectors —
    // the dim guard must accept the reduced width end-to-end
    val reduced = graft.operators.Similarity.pcaReduce(emb, 64, 16)
    val books = graft.operators.Similarity.pqCodebooks(
      reduced, m = 4, ksub = 16, iters = 2, dim = 16)
    val codes = graft.operators.Similarity.pqEncode(reduced, books)
    assert(codes.count() == emb.count(),
      "every reduced vector encodes")
  }

  test("linear probe learns the REAL label beyond its majority baseline") {
    // the gate uses a constructed separable task (machinery test);
    // this is the interesting one: label%2 is genuinely (weakly)
    // linearly decodable from these embeddings — 0.618 vs 0.508
    // baseline at sf0.001 — and the probe must find that signal
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
      .withColumn("__y", (col("label") % 2).cast("int"))
    val (w, m, b) = graft.operators.Similarity.linearProbeParams(
      emb, col("__y"), 64)
    val scored = graft.operators.Similarity.probeScore(emb, w, m, b)
    val n = emb.count()
    val acc = scored.filter((col("score") > 0.5).cast("int") === col("__y"))
      .count().toDouble / n
    val base = math.max(
      emb.filter(col("__y") === 1).count().toDouble / n,
      emb.filter(col("__y") === 0).count().toDouble / n)
    assert(acc > base + 0.05,
      s"probe accuracy $acc must beat majority baseline $base by 5pp")
  }

  test("linear probe refuses a single-class target") {
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.linearProbeParams(emb, lit(1), 64)
    }
    assert(e.getMessage.contains("both classes"))
  }

  test("whiten artifact: store roundtrips the fit exactly, wrong dim fails loudly") {
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
    val path = tmp("r14-whiten")
    IndexStore.buildWhitenIndex(emb, path)
    val (w0, m0) = graft.operators.Similarity.whitenParams(emb, 64)
    val (w1, m1) = IndexStore.loadWhitenIndex(spark, path)
    assert(w1 == w0 && m1 == m0, "artifact must roundtrip the fit bit-exactly")
    val e = intercept[IllegalArgumentException] {
      IndexStore.loadWhitenIndex(spark, path, expectDim = 32)
    }
    assert(e.getMessage.contains("fitted at dim"))
    // from-index apply equals the inline apply on every row
    val inline = graft.operators.Similarity.whiten(emb, 64)
      .as[(Long, Seq[Float])].collect().toMap
    val fromIdx = IndexStore.whitenFromIndex(emb, spark, path)
      .as[(Long, Seq[Float])].collect().toMap
    assert(fromIdx == inline, "serve-time path must equal the inline path")
  }

  test("Mahalanobis ranks a planted out-of-distribution vector first; corpus mean ~ d") {
    // plant a vector ~20 whitened-sigma along the lowest-variance
    // principal axis: its maha² is ~400 against a corpus mean of ~64
    // (the chi-square mean = d identity the gate also checks), so it
    // must rank first under the FIT-corpus transform
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
    val (axes, mean, lam) = graft.operators.Similarity.pcaParams(emb, 64, 64)
    val lowAxis = axes.last // axes come variance-descending; last = lowest
    val mag = 20.0f * math.sqrt(lam.last + 1e-4).toFloat
    val planted = mean.zip(lowAxis).map { case (mm, a) => mm + mag * a }
    val withOutlier = emb.unionByName(
      Seq((999999L, planted)).toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .withColumn("label", lit(0L)).select("vec_id", "embedding", "label"))
    val (w, m) = graft.operators.Similarity.whitenParams(emb, 64)
    val scores = graft.operators.Similarity.mahalanobisScores(withOutlier, w, m)
    val top = scores.orderBy(col("maha2").desc).limit(1)
      .as[(Long, Double)].head()
    assert(top._1 == 999999L,
      s"planted out-of-distribution vector must rank first, got $top")
    val meanM = scores.filter(col("vec_id") =!= 999999L)
      .agg(avg("maha2")).as[Double].head()
    assert(math.abs(meanM / 64 - 1.0) < 0.1,
      s"fit-corpus mean maha2 $meanM must sit near d=64")
  }

  test("phonetic key is degenerate on the gate corpus — documented reason it stays out") {
    // every c_name shares the letter skeleton "Customer#<digits>";
    // soundex ignores digits, so the phonetic code is CONSTANT and the
    // pass collapses into a duplicate of the forward pass. Pinning the
    // degeneracy keeps the gate-row decision honest (see
    // Linkage.phoneticKey doc).
    val codes = graft.core.Tables.t(spark, dir, "customer")
      .select(soundex(upper(col("c_name"))).as("code"))
      .distinct().as[String].collect()
    assert(codes.length == 1,
      s"expected one constant soundex code over c_name, got ${codes.length}")
  }

  test("personalized PageRank: mass stays near the seeds, other components get zero") {
    import graft.operators.Graph
    // component A: 1-2-3 path seeded at 1; component B: 10-11, unseeded
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val r = Graph.pprInt(edges, seeds = Seq(1L))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(10L) == 0L && r(11L) == 0L,
      "no teleport and no inbound mass => exactly zero, not epsilon")
    // at 3 iters a path graph oscillates by parity (node 2 holds most
    // mass), so the stable claims are: the seed beats the distance-2
    // node, and every seed-reachable node carries mass
    assert(r(1L) > r(3L), s"seed must outrank the distance-2 node, got $r")
    assert(r(2L) > 0L && r(3L) > 0L)
  }
}
