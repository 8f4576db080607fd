package graft

import graft.plans.RangeJoinRewrite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The naive-range-join rewrite must change the PLAN (nested-loop ->
  * equi-join) without changing the RESULT (exact multiset, verified
  * against the un-rewritten session). */
class RangeJoinRewriteSpec extends SparkSpec {

  private def frames(s: SparkSession) = {
    val clicks = s.range(2000).select(
      (col("id") * 37 % 5000).as("c_sec"), col("id").as("click_id"))
    val purchases = s.range(300).select(
      (col("id") * 91 % 5000).as("p_sec"), col("id").as("purchase_id"))
    (clicks, purchases)
  }

  private def naiveJoin(s: SparkSession) = {
    val (clicks, purchases) = frames(s)
    clicks.join(purchases,
      col("c_sec") > col("p_sec") - 600 && col("c_sec") <= col("p_sec"))
      .select("click_id", "purchase_id")
  }

  test("pure-inequality range join rewrites to an equi-join with identical results") {
    val plain = spark.newSession()
    val opt = spark.newSession()
    opt.experimental.extraOptimizations = Seq(RangeJoinRewrite)

    val before = naiveJoin(plain).queryExecution.executedPlan.toString
    assert(before.contains("BroadcastNestedLoopJoin"),
      "without the rule the pure-inequality join must be a nested loop")

    val after = naiveJoin(opt).queryExecution.executedPlan.toString
    assert(!after.contains("BroadcastNestedLoopJoin"),
      "the rule must remove the nested loop")
    assert(after.contains("SortMergeJoin") || after.contains("ShuffledHashJoin")
      || after.contains("BroadcastHashJoin"),
      "the rewritten join must be an equi-join")

    val expected = naiveJoin(plain).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val actual = naiveJoin(opt).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(actual.sameElements(expected) && expected.nonEmpty)
  }

  test("x_events_range_naive gate query: rule fires without touching the caller's session, no BNLJ, oracle shape") {
    import graft.operators.Temporal
    val s = spark.newSession()
    val df = Temporal.eventsRangeNaive(s, "/root/testdata/sf0.001")
    // the query isolates the rule in its own child session — the
    // CALLER's optimizer list must stay untouched (no rule leakage
    // into subsequent queries on s)
    assert(!s.experimental.extraOptimizations.contains(RangeJoinRewrite))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "gate query must run through the bucketed rewrite")
    // equivalence vs an un-rewritten session running the same naive join
    val plain = spark.newSession()
    val e = graft.core.Tables.t(plain, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
    val clicks = e.filter(col("event_type") === "click").select(col("sec").as("c_sec"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"))
    val expected = purchases.join(clicks,
        col("c_sec") > col("p_sec") - 3600L && col("c_sec") <= col("p_sec"))
      .groupBy("user_id", "event_id", "p_sec")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val actual = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(actual.sameElements(expected) && expected.nonEmpty)
  }

  test("x_events_range_naive reuses its child session: a second call compiles nothing") {
    // a new child session per call ran its tasks under a new class
    // loader, which misses Spark's generated-class cache every time
    val s = spark.newSession()
    def run(): Long = {
      val (c0, _) = JobProbe.compiled()
      graft.operators.Temporal.eventsRangeNaive(s, "/root/testdata/sf0.001").collect()
      JobProbe.compiled()._1 - c0
    }
    val first = run()
    assert(first > 0, "the first call on a new caller session compiles its classes")
    val second = run()
    assert(second == 0, s"the second call must hit the cache; it compiled $second classes")
  }

  test("joins that already have a cross-side equality are left alone") {
    val opt = spark.newSession()
    opt.experimental.extraOptimizations = Seq(RangeJoinRewrite)
    val (clicks, purchases) = frames(opt)
    val keyed = clicks.withColumn("k", col("click_id") % 7)
      .join(purchases.withColumn("k2", col("purchase_id") % 7),
        col("k") === col("k2") &&
          col("c_sec") > col("p_sec") - 600 && col("c_sec") <= col("p_sec"))
    val plan = keyed.queryExecution.executedPlan.toString
    assert(!plan.contains("__rjr_b"), "equi-keyed range joins must not be rewritten")
  }

  test("inclusive lower bound (BETWEEN shape) is rewritten and exact") {
    val plain = spark.newSession()
    val opt = spark.newSession()
    opt.experimental.extraOptimizations = Seq(RangeJoinRewrite)
    def q(s: SparkSession) = {
      val (clicks, purchases) = frames(s)
      clicks.join(purchases,
        col("c_sec") >= col("p_sec") - 600 && col("c_sec") < col("p_sec"))
        .select("click_id", "purchase_id")
    }
    assert(!q(opt).queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val expected = q(plain).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val actual = q(opt).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(actual.sameElements(expected) && expected.nonEmpty)
  }
}
