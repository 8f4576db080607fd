package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** ENFORCED plan contracts (r20, VERDICT r19 #1 — "the one structural
  * gap left"): every round until now, the 0-SortMergeJoin / 0-UDF /
  * 0-CartesianProduct invariants on the pinned rows were verified by a
  * human running `runMain graft.PlanCheck` and eyeballing the output.
  * Nothing in `sbt test` failed if a refactor or a Spark upgrade
  * silently flipped a pinned broadcast join to a shuffled sort-merge
  * join. This spec promotes the audit to a failing test:
  *
  *   - every [[PlanCheck.PinnedRows]] row, built at sf0.001 on the
  *     SHARED engine session config ([[graft.core.GraftSession]]),
  *     must plan with 0 SortMergeJoin (minus the pinned corpus×corpus
  *     exceptions below), 0 ScalaUDF / Python eval, 0 CartesianProduct;
  *   - the calibration row must stay JOIN-FREE with exactly one
  *     Exchange (scan → codegen'd fold → partial agg → one 4-value
  *     merge Exchange → final agg) — anything else and the row no
  *     longer measures pure host CPU;
  *   - the detector itself is validated: a deliberately-broken plan
  *     (an unhinted join with the broadcast threshold disabled) MUST
  *     trip it — so a Spark version that renames the plan nodes makes
  *     this spec fail loudly instead of the guards going quietly
  *     vacuous.
  *
  * sf0.001 keeps the store-building gate rows (grown/asof/maintained/
  * ann-grown/dedup-grown) cheap; their plan shapes are scale-free —
  * the shapes are decided by hints, artifact layouts, and sizes that
  * the gates themselves construct.
  */
class PlanGuardSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  /** Forbidden physical-plan fragments, with the node names Spark 4
    * renders in FormattedMode — the exact contract every round's
    * manual audit checked: 0 SortMergeJoin, 0 UDF eval, 0 cartesian.
    * BroadcastNestedLoopJoin is deliberately NOT here: it is the
    * intended plan for the tiny-broadcast-side theta shapes this
    * engine uses everywhere (a query set or stats singleton joined
    * against the corpus without equi-keys — the similarity / BM25
    * probe families), never a corpus-sized nested loop. */
  private val Forbidden = Seq(
    "SortMergeJoin", "CartesianProduct",
    "ScalaUDF", "BatchEvalPython", "ArrowEvalPython")

  /** Pinned per-row exceptions, each with its design rationale, so an
    * accidental new violation cannot hide behind a blanket rule:
    *  - j10_cross_join IS the cross-join operator row (tiny-sides
    *    contract, reference parity) — cartesian is its semantics;
    *  - the five SortMergeJoin rows are corpus×corpus joins where the
    *    shuffle join IS the scale design (nothing to broadcast):
    *    j11_full_outer (full outer on two fact tables — Spark cannot
    *    broadcast full outer), x_cdc_snapshot_diff (full outer of two
    *    whole snapshots), x_events_range_count (fact×fact per-user
    *    range join), x_graph_common_neighbors (edge-set self-join for
    *    wedges), x_pipeline_curation (corpus-sized dedup join inside
    *    the pipeline). Every OTHER row flipping to SMJ fails the
    *    suite. */
  private val Allowed: Map[String, Set[String]] = Map(
    "j10_cross_join" -> Set("CartesianProduct"),
    "j11_full_outer" -> Set("SortMergeJoin"),
    "x_cdc_snapshot_diff" -> Set("SortMergeJoin"),
    "x_events_range_count" -> Set("SortMergeJoin"),
    "x_graph_common_neighbors" -> Set("SortMergeJoin"),
    "x_pipeline_curation" -> Set("SortMergeJoin"))

  private def violations(name: String, df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.explainString(FormattedMode)
    Forbidden.filter(f => plan.contains(f))
      .filterNot(Allowed.getOrElse(name, Set.empty).contains)
      .map(f => s"$name: $f\n--- plan ---\n$plan")
  }

  test("every pinned row plans without SortMergeJoin, UDF eval, or an " +
      "unpinned cartesian (the PlanCheck audit, enforced)") {
    val bad = PlanCheck.PinnedRows.flatMap { n =>
      violations(n, SparkEntry.queries(n)(spark, SfDir))
    }
    assert(bad.isEmpty, bad.mkString("\n\n"))
  }

  test("the calibration row stays join-free with exactly one Exchange") {
    val plan = SparkEntry.queries("x_calibration_fold")(spark, SfDir)
      .queryExecution.explainString(FormattedMode)
    assert(!plan.contains("Join"), s"calibration row must be join-free:\n$plan")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"calibration row must have exactly one Exchange, got $exchanges:\n$plan")
  }

  test("the detector detects: an unhinted join with the broadcast " +
      "threshold disabled MUST trip the SortMergeJoin guard (guards can " +
      "never go quietly vacuous under a plan-node rename)") {
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$SfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = spark.read.parquet(s"$SfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val broken = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      assert(violations("broken", broken).nonEmpty,
        "the deliberately-broken plan must be flagged — if this fails, " +
          "Spark renamed its join nodes and every guard above is vacuous")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      aqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("x_calibration_fold plans as one codegen'd scan->fold->agg with a " +
      "single exchange — no joins, no extra shuffles, pruned scan") {
    val df = graft.operators.Relational.queries("x_calibration_fold")(
      spark, SfDir)
    df.collect() // finalize the AQE plan so codegen spans are visible
    // the AdaptiveSparkPlan string prints BOTH the final and the
    // initial plan — assert over the final section only, or every
    // node would count twice
    val physical = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!physical.contains("Join"), "calibration row must not join")
    val exchanges = "Exchange".r.findAllIn(physical).length
    assert(exchanges == 1,
      s"calibration row must shuffle exactly once (the 4-value partial-agg " +
        s"merge); got $exchanges:\n$physical")
    // column pruning reaches the scan: only the four seed key columns
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .forall(scan.contains), s"scan must read the four seed columns: $scan")
    assert(!scan.contains("l_extendedprice") && !scan.contains("l_comment"),
      s"scan must prune non-seed columns: $scan")
    // the fold is inside whole-stage codegen (an interpreted 32-step
    // chain would measure expression-tree walking, not host CPU) —
    // the simple plan string marks codegen'd operators with a *(n)
    // stage prefix
    assert("""\*\(\d+\) Project""".r.findFirstIn(physical).nonEmpty,
      s"the fold Project must run inside whole-stage codegen:\n$physical")
  }
}
