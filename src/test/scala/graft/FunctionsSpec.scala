package graft

import graft.functions.{CosineSimilarity, TopK}
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.classic.GraftColumnBridge

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("CosineSimilarity expression matches the composable HOF formulation bitwise") {
    val emb = Seq(
      (0L, Seq(1f, 2f, 3f, 4f)),
      (1L, Seq(-1f, 0.5f, 2f, -3f)),
      (2L, Seq(0.1f, 0.2f, 0.3f, 0.4f))).toDF("vec_id", "embedding")
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
    val native = pairs.select(
      CosineSimilarity.cosineSim(col("a.embedding"), col("b.embedding")).as("sim"))
      .as[Double].collect().toSeq
    val hof = pairs.select(
      (aggregate(
        zip_with(
          expr("transform(a.embedding, x -> CAST(x AS DOUBLE))"),
          expr("transform(b.embedding, x -> CAST(x AS DOUBLE))"),
          (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(expr("transform(a.embedding, x -> CAST(x AS DOUBLE))"),
          lit(0.0), (acc, x) => acc + x * x)) *
          sqrt(aggregate(expr("transform(b.embedding, x -> CAST(x AS DOUBLE))"),
            lit(0.0), (acc, x) => acc + x * x)))).as("sim"))
      .as[Double].collect().toSeq
    assert(native == hof)
    // identical vectors => similarity 1.0 (within fp)
    val self = emb.select(
      CosineSimilarity.cosineSim(col("embedding"), col("embedding"))).as[Double].collect()
    assert(self.forall(s => math.abs(s - 1.0) < 1e-12))
  }

  test("CosineSimilarity nulls out on length mismatch and zero norm (no silent prefix score)") {
    val df = Seq(
      (1L, Seq(1f, 2f, 3f), Seq(1f, 2f)),        // mismatched dims
      (2L, Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)),    // zero-norm left
      (3L, Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)))    // healthy
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
      CosineSimilarity.cosineSim(col("a"), col("b")).as("sim"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).isEmpty, "length mismatch must be null, not a truncated score")
    assert(out(2L).isEmpty, "zero norm must be null, not NaN")
    assert(out(3L).exists(s => math.abs(s - 1.0) < 1e-12))
    // same semantics whether interpreted or codegen'd: force interpreted path
    val interp = df.filter(col("id") === 1L || col("id") === 2L)
      .select(CosineSimilarity.cosineSim(col("a"), col("b"))).collect()
    assert(interp.forall(_.isNullAt(0)))
  }

  test("CosineSimilarity rejects non-float-array inputs") {
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    val err = intercept[Exception] {
      df.select(CosineSimilarity.cosineSim(col("v"), col("v"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine_similarity"))
  }

  test("RegexpCount matches size(regexp_extract_all) and registers in SQL") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq("a b  c", "", "xx yy", "one").toDF("t")
    df.createOrReplaceTempView("rc_texts")
    val fused = spark.sql("SELECT regexp_count(t, '\\\\S+') AS n FROM rc_texts ORDER BY n")
      .as[Int].collect().toSeq
    val composed = spark.sql(
      "SELECT size(regexp_extract_all(t, '\\\\S+', 0)) AS n FROM rc_texts ORDER BY n")
      .as[Int].collect().toSeq
    assert(fused == composed && fused == Seq(0, 1, 2, 3))
  }

  test("FuseRegexpCount rule rewrites size(regexp_extract_all(_, _, 0))") {
    val q = Seq("a b c").toDF("t")
      .selectExpr("size(regexp_extract_all(t, '\\\\S+', 0)) AS n")
    val optimized = graft.functions.FuseRegexpCount(q.queryExecution.analyzed)
    assert(optimized.toString.contains("regexp_count"),
      s"expected fused expression in:\n$optimized")
    // original composable form evaluates to the same count
    assert(q.as[Int].head() == 3)
  }

  test("cosine_similarity registered as a SQL function") {
    graft.functions.GraftFunctions.register(spark)
    Seq((Seq(1f, 0f), Seq(1f, 0f)), (Seq(1f, 0f), Seq(0f, 1f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val sims = spark.sql("SELECT cosine_similarity(a, b) AS s FROM vecs ORDER BY s")
      .as[Double].collect().toSeq
    assert(sims == Seq(0.0, 1.0))
  }

  test("argmax_cosine and sign_buckets registered as SQL functions") {
    graft.functions.GraftFunctions.register(spark)
    Seq(Tuple1(Seq(0f, 1f))).toDF("v").createOrReplaceTempView("sqlfn_vecs")
    // nearest centroid of (0,1) among [(1,0), (0,1)] is index 1
    val am = spark.sql(
      "SELECT argmax_cosine(v, array(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(0 AS FLOAT), CAST(1 AS FLOAT)))) AS c FROM sqlfn_vecs")
      .as[Int].head()
    assert(am == 1)
    // one table with one plane (0,1): dot > 0 -> bucket bit set
    val sb = spark.sql(
      "SELECT sign_buckets(v, array(array(array(CAST(0 AS FLOAT), CAST(1 AS FLOAT))))) AS b FROM sqlfn_vecs")
      .as[Seq[Int]].head()
    assert(sb == Seq(1))
    // nearest-by-L2 differs from nearest-by-cosine when magnitudes do:
    // (0,1) is closer (L2) to (0,2)? no — dist((0,1),(1,0))=sqrt2,
    // dist((0,1),(0,3))=2 -> index 0 wins by L2
    val al = spark.sql(
      "SELECT argmin_l2(v, array(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(0 AS FLOAT), CAST(3 AS FLOAT)))) AS c FROM sqlfn_vecs")
      .as[Int].head()
    assert(al == 0)
    // pq_cosine: 1 subspace, codebook [(1,0),(0,1)], code 1 -> recon
    // (0,1) == query -> cosine 1.0
    val pq = spark.sql(
      "SELECT pq_cosine(array(1), v, array(array(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(0 AS FLOAT), CAST(1 AS FLOAT))))) AS s FROM sqlfn_vecs")
      .as[Double].head()
    assert(pq == 1.0)
  }

  test("TopK aggregator: bounded buffer, ordered output, tiebreak by id") {
    val data = Seq(
      (1L, 0.9, 100L), (1L, 0.9, 50L), (1L, 0.1, 1L), (1L, 0.5, 2L),
      (2L, 0.3, 7L))
      .toDF("key", "score", "id").as[(Long, Double, Long)]
    val top2 = data.groupByKey(_._1).mapValues(r => (r._2, r._3))
      .agg(new TopK(2).toColumn.name("top"))
      .collect().toMap
    assert(top2(1L) == Seq((0.9, 50L), (0.9, 100L))) // tie -> smaller id first
    assert(top2(2L) == Seq((0.3, 7L)))
  }

  test("CountMinSketch: never undercounts, heavy hitter within eps*N, merge = sum") {
    import graft.functions.CountMinSketch
    val depth = 4
    val width = 272 // eps = e/272 ~ 0.01
    // 1000x one heavy item + 500 singletons, spread over 8 partitions
    // so partial sketches MUST merge correctly for the totals to hold
    val items = (Seq.fill(1000)("heavy") ++ (0 until 500).map(i => s"rare_$i"))
    val ds = spark.sparkContext.parallelize(items, 8).toDS()
    val sketch = ds.select(new CountMinSketch(depth, width).toColumn).head()
    val n = items.size
    val eps = math.E / width
    val heavyEst = CountMinSketch.estimate(sketch, depth, width, "heavy")
    assert(heavyEst >= 1000L, "estimates never undercount")
    assert(heavyEst <= 1000L + (eps * n).ceil.toLong * depth,
      "heavy-hitter overestimate stays bounded")
    (0 until 500 by 50).foreach { i =>
      val e = CountMinSketch.estimate(sketch, depth, width, s"rare_$i")
      assert(e >= 1L && e <= 1L + (eps * n).ceil.toLong * depth)
    }
    assert(CountMinSketch.estimate(sketch, depth, width, "absent") <= (eps * n).ceil.toLong * depth,
      "absent items only see collision mass")
    assert(sketch.grouped(width).map(_.sum).toSeq == Seq.fill(depth)(n.toLong),
      "every row's counters sum to the stream length (merge is element-wise sum)")
  }

  test("HeavyHitters: MG guarantee survives lossy evictions and partition merges") {
    import graft.functions.HeavyHitters
    val k = 16
    // Zipf-ish stream over a domain (2000 singleton-ish tails) that is
    // 125x the counter budget, spread over 8 partitions so the keyed
    // merge-and-cut path MUST run; heads are far above N/(k+1)
    val heads = (0 until 4).flatMap(i => Seq.fill(800 - 100 * i)(s"head_$i"))
    val tail = (0 until 2000).map(i => s"tail_${i % 997}")
    val items = scala.util.Random.shuffle(heads ++ tail)
    val n = items.size
    val ds = spark.sparkContext.parallelize(items, 8).toDS()
    val summary = ds.select(new HeavyHitters(k).toColumn).head()
    assert(summary.size <= k, "summary never exceeds its counter budget")
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // every item with true count > N/(k+1) is present (the guarantee)
    exact.filter { case (_, c) => c * (k + 1) > n }.keys.foreach { x =>
      assert(summary.contains(x), s"true heavy hitter $x evicted")
    }
    // counters under-count, never fabricate: est <= true, and the
    // undercount is bounded by N/(k+1)
    summary.foreach { case (t, est) =>
      assert(exact.contains(t), s"summary fabricated unseen item $t")
      assert(est >= 1L && est <= exact(t), s"$t over-counted: $est > ${exact(t)}")
      assert(est >= exact(t) - n / (k + 1) - 1, s"$t undercount beyond bound")
    }
    // exact regime: domain <= k means no eviction ever fires and the
    // summary IS the exact frequency table
    val small = spark.sparkContext.parallelize(
      Seq("a", "b", "a", "c", "a", "b"), 3).toDS()
    assert(small.select(new HeavyHitters(8).toColumn).head() ==
      Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("native top-k query equals window-rank top-k query") {
    val emb = (0L until 30L).map(i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))).toDF("vec_id", "embedding")
    val a = Similarity.cosineTopK(emb, 3, 4)
      .orderBy("query_id", "rank").as[(Long, Long, Int)].collect().toSeq
    val b = Similarity.cosineTopKNative(emb, 3, 4)
      .orderBy("query_id", "rank").as[(Long, Long, Int)].collect().toSeq
    assert(a == b)
  }

  test("GraftColumnBridge degrades unpersistCheckpoint to a logged no-op when gated") {
    import org.apache.spark.sql.classic.GraftColumnBridge
    val df = spark.range(5).toDF("id").localCheckpoint()
    GraftColumnBridge.forceDegraded = true
    try {
      GraftColumnBridge.unpersistCheckpoint(df) // must not throw
      assert(GraftColumnBridge.degradedObserved,
        "fallback path must record that it was taken")
      assert(df.count() == 5, "frame stays usable after the no-op release")
    } finally {
      GraftColumnBridge.forceDegraded = false
      // reset the probe too, so no later assertion can confuse THIS
      // forced degradation with a real one it is trying to detect
      GraftColumnBridge.degradedObserved = false
    }
    // healthy path still works after the gate clears
    GraftColumnBridge.unpersistCheckpoint(df)
  }

  test("BloomMightContain: codegen and interpreted agree, null keys stay " +
      "null, both key types probe the same sketch the UDF form did") {
    import org.apache.spark.util.sketch.BloomFilter
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bf = BloomFilter.create(1000, 0.01)
    Seq(1L, 42L, 77L).foreach(bf.putLong)
    val df = Seq(Some(1L), Some(2L), Some(42L), None).toDF("k")
    val probed = df.select(col("k"),
        graft.functions.BloomMightContain.bloomMightContain(bf, col("k")).as("hit"))
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
          (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    assert(probed(Some(1L)).contains(true) && probed(Some(42L)).contains(true))
    assert(probed(None).isEmpty,
      "a null key must yield null (a Filter then drops it — the UDF forms' behavior)")
    // interpreted eval (no codegen) returns the same answers
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytesLit = Literal.create(bos.toByteArray,
      org.apache.spark.sql.types.BinaryType)
    assert(graft.functions.BloomMightContain(bytesLit, Literal(42L))
      .eval(null) == true)
    // string keys probe via mightContainString — the decontamination form
    val bfs = BloomFilter.create(100, 0.01)
    bfs.putString("the quick brown")
    val dfs = Seq("the quick brown", "never inserted").toDF("g")
    val hits = dfs.filter(graft.functions.BloomMightContain
        .bloomMightContain(bfs, col("g"))).collect().map(_.getString(0))
    assert(hits.sameElements(Array("the quick brown")))
    // wrong key type refuses at analysis with the function's name
    val err = intercept[Exception] {
      Seq(1).toDF("i").select(graft.functions.BloomMightContain
        .bloomMightContain(bf, col("i"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("bloom_might_contain"))
  }

  test("bridge refuses an unverified Spark loudly, naming versions and remedy") {
    assert(GraftColumnBridge.VerifiedSparkVersions.contains(
      org.apache.spark.SPARK_VERSION),
      "the running Spark must itself be on the verified list — " +
        "re-verify the bridge and update VerifiedSparkVersions")
    try {
      GraftColumnBridge.versionOverrideForTest = Some("9.9.9-unverified")
      val e = intercept[IllegalStateException] {
        GraftColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.Literal(1))
      }
      assert(e.getMessage.contains("9.9.9-unverified"))
      assert(e.getMessage.contains("4.1.2"))
      assert(e.getMessage.contains("VerifiedSparkVersions"))
      assert(e.getMessage.contains("allowUnverifiedSpark"))
      // the documented opt-out downgrades the refusal to a warning
      sys.props("graft.bridge.allowUnverifiedSpark") = "true"
      try {
        val c = GraftColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.Literal(1))
        assert(spark.range(1).select(c.as("one")).collect().head.getInt(0) == 1)
      } finally sys.props.remove("graft.bridge.allowUnverifiedSpark")
    } finally GraftColumnBridge.versionOverrideForTest = None
    // pin restored: the verified path works again with no opt-out set
    val c = GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal(2))
    assert(spark.range(1).select(c.as("two")).collect().head.getInt(0) == 2)
  }
}
