package graft.operators

import graft.core.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Temporal join operators the reference lacks (its workload is
  * batch-relational only — SURVEY.md §1.1) but any large-scale event
  * pipeline needs: point-in-time (as-of) join and bounded range join.
  *
  * Scale design — both avoid the naive O(|left| x |right|) range
  * cross-join that Spark's optimizer would otherwise plan for an
  * inequality condition:
  *
  *  - [[asOfJoin]] is the union-merge formulation: tag both streams,
  *    union them (no join at all), sort within each user partition
  *    once, and carry the last left-row forward with a running
  *    `last(..., ignoreNulls)` window. ONE shuffle on the equality
  *    key, linear work per partition, identical shape on a
  *    1000-executor cluster because users are independent.
  *
  *  - [[rangeCountJoin]] buckets time into interval-width buckets and
  *    equi-joins on (user, bucket) ∪ (user, bucket-1) — every true
  *    match lands in one of the two buckets, so the range predicate
  *    only post-filters a candidate set that is bounded by bucket
  *    density, never the full pair space. This is the standard
  *    bucketized range-join rewrite (what Databricks' range-join hint
  *    does) expressed with built-ins.
  */
object Temporal {

  type Q = (SparkSession, String) => DataFrame

  /** ts arrives as raw nanos (LongType — see Tables.t). */
  private def tsSec = expr("ts div 1000000000")

  /** Integer FLOOR division (`div` truncates toward zero, so for
    * negative seconds bucket 0 would span (-w, w) — twice the intended
    * width — breaking the one-earlier-bucket bound both rewrites rely
    * on). Floor division keeps every bucket exactly `w` wide for ALL
    * integral seconds: `l in (r-w, r]  =>  floorDiv(l) in
    * {floorDiv(r), floorDiv(r)-1}` holds with no sign caveat. */
  private def floorDiv(c: String, w: Long): String =
    s"(($c div $w) - (CASE WHEN $c % $w < 0 THEN 1 ELSE 0 END))"

  /** As-of join: attach to each `right` row (at r_sec) the greatest
    * `leftSec` <= r_sec within the same `key` partition. Returns the
    * right frame + `asof_sec` column (null when no prior left row).
    * Ties at equal seconds count as "prior" (<=), implemented by
    * sorting left rows before right rows at the same timestamp. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
      leftSec: String, rightSec: String): DataFrame = {
    val rightCols = right.columns.toSeq
    val carried = rightCols.filterNot(_ == key)
    val rTypes = right.schema.map(f => f.name -> f.dataType).toMap
    // Right rows carry their full payload through the union; left rows
    // pad it with typed nulls. No row id, no join-back — the output is
    // produced directly by the one windowed pass (a second join on a
    // synthetic id would be a whole extra shuffle at scale).
    val l = left.select(
      col(key) +: col(leftSec).as("__sec") +: lit(0).as("__kind") +:
        carried.map(c => lit(null).cast(rTypes(c)).as(c)): _*)
    val r = right.select(
      col(key) +: col(rightSec).as("__sec") +: lit(1).as("__kind") +:
        carried.map(col): _*)
    val w = Window.partitionBy(key).orderBy("__sec", "__kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__asof",
        last(when(col("__kind") === 0, col("__sec")), ignoreNulls = true).over(w))
      .filter(col("__kind") === 1)
      .select((rightCols.map(col) :+ col("__asof").as("asof_sec")): _*)
  }

  /** Pathological-hot-key as-of join: identical semantics to
    * [[asOfJoin]], but the window partitions on (key, coarse time
    * bucket) instead of key alone, with a boundary-stitch pass.
    *
    * Why: per-key ordering is inherently serial per window partition,
    * and AQE cannot split a window partition — so with [[asOfJoin]]
    * one key owning 90% of the rows bounds wall-clock by that key's
    * own single-partition sort. Bucketing caps every window partition
    * at one bucket's rows; the serial floor becomes
    * O(rows-per-bucket), independent of how hot the key is.
    *
    * Stitch: within a bucket the running `last(left)` window is
    * oblivious to earlier buckets, so a right row whose nearest prior
    * left sits in an earlier bucket needs a carry-in. The carry frame
    * is one row per (key, bucket) — max left sec per bucket, then a
    * strictly-prior running max over the per-key bucket sequence (a
    * window over the TINY aggregate, O(#buckets) serial work, not
    * O(#rows)) — joined back on (key, bucket) and coalesced under the
    * local result. Buckets come from FLOOR division (see [[floorDiv]]),
    * so for ALL integral seconds — negative included — any left row in
    * an earlier bucket has sec strictly below the current bucket's
    * floor: carry-ins never violate the <= bound and local results
    * always beat them when present. */
  def asOfJoinBucketed(left: DataFrame, right: DataFrame, key: String,
      leftSec: String, rightSec: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive (got $bucketWidth)")
    val rightCols = right.columns.toSeq
    val carried = rightCols.filterNot(_ == key)
    val rTypes = right.schema.map(f => f.name -> f.dataType).toMap
    val l = left.select(
      col(key) +: col(leftSec).as("__sec") +: lit(0).as("__kind") +:
        carried.map(c => lit(null).cast(rTypes(c)).as(c)): _*)
    val r = right.select(
      col(key) +: col(rightSec).as("__sec") +: lit(1).as("__kind") +:
        carried.map(col): _*)
    val u = l.unionByName(r)
      .withColumn("__bucket", expr(floorDiv("__sec", bucketWidth)))
    val wLocal = Window.partitionBy(col(key), col("__bucket"))
      .orderBy("__sec", "__kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localized = u.withColumn("__asof_local",
      last(when(col("__kind") === 0, col("__sec")), ignoreNulls = true).over(wLocal))
    // carry frame: last left sec per populated (key, bucket), then the
    // strictly-prior running max across each key's bucket sequence
    val bucketLast = u.groupBy(col(key), col("__bucket"))
      .agg(max(when(col("__kind") === 0, col("__sec"))).as("__last_left"))
    val wCarry = Window.partitionBy(key).orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bucketLast.withColumn("__carry",
        max("__last_left").over(wCarry))
      .select(col(key), col("__bucket"), col("__carry"))
    localized.join(carry, Seq(key, "__bucket"), "left")
      .filter(col("__kind") === 1)
      .select((rightCols.map(col) :+
        coalesce(col("__asof_local"), col("__carry")).as("asof_sec")): _*)
  }

  /** Purchase-to-last-click attribution as an as-of join: each
    * purchase gets the second of the user's most recent click at or
    * before it. */
  val eventsAsof: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("sec"))
    val clicks = e.filter(col("event_type") === "click").select(col("user_id"), col("sec"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"))
    asOfJoin(clicks, purchases, "user_id", "sec", "p_sec")
      .select(col("user_id"), col("event_id"), col("p_sec"), col("asof_sec").as("c_sec"))
      .orderBy("user_id", "event_id")
  }

  /** Bounded range-count join: for each right row, count left rows with
    * sec in (r_sec - width, r_sec] on the same key, via the two-bucket
    * equi-join rewrite. Zero-match rows are preserved with count 0. */
  def rangeCountJoin(left: DataFrame, right: DataFrame, key: String,
      leftSec: String, rightSec: String, width: Long): DataFrame = {
    val l = left.select(col(key), col(leftSec).as("__lsec"))
      .withColumn("__bucket", expr(floorDiv("__lsec", width)))
    // The synthetic row id feeds BOTH the probe side and the restore
    // join, and Spark re-executes the subtree per consumer;
    // monotonically_increasing_id is partitioning-dependent, so the two
    // executions could disagree on ids under AQE re-planning — the ids
    // must be materialized ONCE to be a join key at all.
    val rWithId = graft.core.Materialize.pin(
      right.withColumn("__rid", monotonically_increasing_id()))
    val probes = rWithId
      .select(col("__rid"), col(key), col(rightSec).as("__rsec"))
      .withColumn("__bucket",
        explode(array(expr(floorDiv("__rsec", width)),
          expr(s"${floorDiv("__rsec", width)} - 1"))))
    val hits = probes.join(l, Seq(key, "__bucket"))
      .filter(col("__lsec") > col("__rsec") - width && col("__lsec") <= col("__rsec"))
      .groupBy("__rid").agg(count(lit(1)).as("__n"))
    rWithId.join(hits, Seq("__rid"), "left")
      .withColumn("n_in_range", coalesce(col("__n"), lit(0L)))
      .drop("__rid", "__n")
  }

  /** Clicks within the hour before each purchase (inclusive bound). */
  val eventsRangeCount: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("sec"))
    val clicks = e.filter(col("event_type") === "click").select(col("user_id"), col("sec"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"))
    rangeCountJoin(clicks, purchases, "user_id", "sec", "p_sec", 3600L)
      .select(col("user_id"), col("event_id"), col("p_sec"), col("n_in_range").as("n_clicks"))
      .orderBy("user_id", "event_id")
  }

  /** The same attribution query through [[asOfJoinBucketed]] — the
    * hot-key stitch path under the SAME hash-checked oracle as
    * x_events_asof (output-identity is the operator's contract). */
  val eventsAsofBucketed: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("sec"))
    val clicks = e.filter(col("event_type") === "click").select(col("user_id"), col("sec"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"))
    asOfJoinBucketed(clicks, purchases, "user_id", "sec", "p_sec", 3600L)
      .select(col("user_id"), col("event_id"), col("p_sec"), col("asof_sec").as("c_sec"))
      .orderBy("user_id", "event_id")
  }

  /** Window-bounded last-touch attribution: each purchase is
    * attributed iff the user's most recent click at-or-before it is
    * within one hour; the hourly conversion report sums revenue by
    * attribution outcome. The lookup is [[asOfJoin]]'s union-merge
    * (one shuffle on user_id, no range cross-join), the window bound
    * and the rollup are per-row arithmetic + one partial-aggregated
    * groupBy. Revenue aggregates in integer cents (value is 2-dp) so
    * the sums are exact and order-free — a double SUM's low bits
    * depend on partition merge order and would never hash-match. */
  val eventsAttribution: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("sec"),
        round(col("value") * 100).cast(LongType).as("rev_cents"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("sec"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"),
        col("rev_cents"))
    asOfJoin(clicks, purchases, "user_id", "sec", "p_sec")
      .withColumn("attributed",
        col("asof_sec").isNotNull && (col("p_sec") - col("asof_sec") <= 3600))
      .groupBy(expr("p_sec div 3600").as("hour"), col("attributed"))
      .agg(count(lit(1)).as("n_purchases"),
        sum("rev_cents").as("rev_cents"))
      .orderBy("hour", "attributed")
  }

  /** Child sessions of [[eventsRangeNaive]], one per caller session.
    * Every new session runs its tasks under its own class loader, and
    * Spark's generated-class cache is keyed by class loader, so a
    * session per call recompiled all of the query's classes. */
  private val rangeSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  private def rangeRewriteSession(s0: SparkSession): SparkSession =
    rangeSessions.synchronized {
      rangeSessions.computeIfAbsent(s0, _ => {
        val s = s0.newSession()
        s.experimental.extraOptimizations = Seq(graft.plans.RangeJoinRewrite)
        s
      })
    }

  /** Naive-form range join, exercised THROUGH the optimizer rule: the
    * query is written as the obvious inequality-only inner join — the
    * shape Spark would otherwise plan as BroadcastNestedLoopJoin — and
    * [[graft.plans.RangeJoinRewrite]] turns it into the two-bucket
    * equi-join. The rule is registered into a dedicated child session
    * (`newSession()` — shared SparkContext, isolated session state),
    * made once per caller session ([[rangeRewriteSession]]), not the
    * caller's: mutating the caller's
    * `experimental.extraOptimizations` would leak the rule into every
    * subsequent query on that session, and the contains/append is a
    * non-atomic check-then-act under concurrent submission. A
    * production deployment registers it once via
    * `spark.sql.extensions` instead. Keyless on purpose: a cross-side
    * equality would give Spark an equi key and the rule would
    * correctly decline. Semantics: clicks across ALL users in the
    * hour before each purchase (global temporal click density). */
  val eventsRangeNaive: Q = (s0, dir) => {
    val s = rangeRewriteSession(s0)
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("sec"))
    val clicks = e.filter(col("event_type") === "click").select(col("sec").as("c_sec"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec").as("p_sec"))
    // bounded column (c_sec) on the LEFT child — the shape the rule
    // rewrites (left gains the bucket column; right gets the 2-bucket
    // explode, duplicating the smaller purchase side, not the clicks)
    clicks.join(purchases,
        col("c_sec") > col("p_sec") - 3600L && col("c_sec") <= col("p_sec"))
      .groupBy("user_id", "event_id", "p_sec")
      .agg(count(lit(1)).as("n_clicks_global"))
      .orderBy("user_id", "event_id")
  }

  /** Interval-overlap join: all (a, b) pairs on the same `key` whose
    * [start, end] intervals intersect. Both sides explode to every
    * width-`width` bucket their interval covers and equi-join on
    * (key, bucket); the exact overlap predicate post-filters, and each
    * true pair is counted EXACTLY once by keeping only the bucket
    * containing max(aStart, bStart) — when two intervals overlap, the
    * later start lies inside both, so both sides exploded that bucket;
    * any other shared bucket is discarded instead of distinct-ing the
    * whole output (a distinct here would be a second full shuffle).
    *
    * Correct for ANY width (coverage is exhaustive); width tunes cost —
    * explode factor is len/width + 1 per row, candidate density is one
    * bucket's worth. Column names must be disjoint across the sides
    * except `key`. */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, key: String,
      aStart: String, aEnd: String, bStart: String, bEnd: String,
      width: Long): DataFrame = {
    require(width > 0, s"width must be positive (got $width)")
    val ae = a.withColumn("__bucket",
      explode(sequence(expr(floorDiv(aStart, width)), expr(floorDiv(aEnd, width)))))
    val be = b.withColumn("__bucket",
      explode(sequence(expr(floorDiv(bStart, width)), expr(floorDiv(bEnd, width)))))
    ae.join(be, Seq(key, "__bucket"))
      .filter(col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd))
      .filter(col("__bucket") ===
        expr(floorDiv(s"greatest($aStart, $bStart)", width)))
      .drop("__bucket")
  }

  /** View/click sessions that overlap in time for the same user, with
    * deterministic synthetic durations (event_id % 600 seconds) so the
    * oracle can rebuild the intervals exactly. */
  val eventsIntervalOverlap: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("sec"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"),
        col("sec").as("v_start"), (col("sec") + col("event_id") % 600).as("v_end"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("sec").as("c_start"), (col("sec") + col("event_id") % 600).as("c_end"))
    intervalOverlapJoin(v, c, "user_id", "v_start", "v_end", "c_start", "c_end", 600L)
      .select(col("user_id"), col("v_id"), col("c_id"),
        (least(col("v_end"), col("c_end")) -
          greatest(col("v_start"), col("c_start"))).as("overlap_sec"))
      .orderBy("user_id", "v_id", "c_id")
  }

  /** Hourly resample with forward fill — the time-series
    * regularization every metrics/sensor training pipeline needs:
    * per-user dense hour spine from the user's first to last observed
    * hour, 0-count gap hours, and the last observed hourly cents sum
    * carried forward (LOCF). Integer cents keep the fill value
    * bit-portable.
    *
    * Scale shape: the hourly pre-aggregate is partial-combined (the
    * raw event count never crosses the wire); the spine explode is
    * per-user bounded by that user's own active span, not the global
    * calendar — a user active for a day adds 24 rows no matter how
    * long the table's history is; spine/hourly join on (user_id, h)
    * and the LOCF window on user_id are the same key family, and
    * users are independent so the plan partitions cleanly at any
    * executor count. The `last(_, ignoreNulls)` frame is
    * unbounded-preceding..current — a running value, NOT a whole-
    * partition buffer. */
  def resampleFfill(e: DataFrame): DataFrame = {
    val hourly = e.groupBy("user_id", "h")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
    val spine = hourly.groupBy("user_id")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("user_id", "h"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("cents_ffill", last("cents", ignoreNulls = true).over(w))
      .select("user_id", "h", "n_events", "cents_ffill")
  }

  /** Gate: hourly LOCF-resampled per-user spend series. */
  val eventsResample: Q = (s, dir) =>
    resampleFfill(t(s, dir, "events")
      .select(col("user_id"), expr("(ts div 1000000000) div 3600").as("h"),
        floor(col("value") * 100).cast(LongType).as("cents")))
      .orderBy("user_id", "h")

  /** Ordered-funnel conversion SUMMARY: per-step user counts and
    * conversion bp against the step-1 population, for an arbitrary
    * step list. Complements [[Events.eventsFunnel]]'s per-USER stage
    * table: that one answers "how far did each user get" with a
    * >=-ordered window stack; this one answers "how many converted at
    * each step" with STRICT ordering — each step's clock starts at
    * the previous step's first qualifying event, the no-lookback
    * definition (an early purchase before the first view does not
    * count, and a same-second tie does not either).
    *
    * Scale shape: three filtered min-aggregations chained by
    * user-keyed joins — each join's probe side shrinks to the
    * previous step's survivors, every aggregation map-combines, and
    * the final counts are one-row frames crossed broadcast. */
  def funnelSteps(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val e = events.select(col("user_id"), col("event_type"),
      expr("ts div 1000000000").as("sec"))
    val firsts = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, i)) =>
        val base = e.filter(col("event_type") === step)
        val gated = prev match {
          case None => base
          case Some(p) => base
            .join(p.select(col("user_id"), col("step_sec").as("prev_sec")), Seq("user_id"))
            .filter(col("sec") > col("prev_sec"))
        }
        Some(gated.groupBy("user_id").agg(min("sec").as("step_sec")))
    }.flatten
    val counts = firsts.zip(steps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_.unionByName(_))
    val top = counts.filter(col("step") === 1)
      .select(col("n_users").as("n_top"))
    counts.crossJoin(broadcast(top))
      .select(col("step"), col("step_name"), col("n_users"),
        // guard the empty-funnel corpus: with no step-1 users, integer
        // `div` by zero would yield silent NULL bp rows (and the DuckDB
        // twin would raise) — define conversion over an empty top as 0
        when(col("n_top") > 0, expr("n_users * 10000 div n_top"))
          .otherwise(lit(0L)).as("conv_bp"))
  }

  val eventsFunnelSteps: Q = (s, dir) =>
    funnelSteps(t(s, dir, "events"), Seq("view", "click", "purchase"))
      .orderBy("step")

  val queries: Map[String, Q] = Map(
    "x_events_resample" -> eventsResample,
    "x_events_interval_overlap" -> eventsIntervalOverlap,
    "x_events_asof" -> eventsAsof,
    "x_events_asof_bucketed" -> eventsAsofBucketed,
    "x_events_attribution" -> eventsAttribution,
    "x_events_funnel_steps" -> eventsFunnelSteps,
    "x_events_range_count" -> eventsRangeCount,
    "x_events_range_naive" -> eventsRangeNaive)

  private val eventsCte =
    "WITH e AS (SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events), " +
      "p AS (SELECT user_id, event_id, sec FROM e WHERE event_type = 'purchase'), " +
      "c AS (SELECT user_id, sec FROM e WHERE event_type = 'click') "

  private val asofOracle =
    eventsCte +
      "SELECT p.user_id, p.event_id, p.sec AS p_sec, " +
      "(SELECT MAX(c.sec) FROM c WHERE c.user_id = p.user_id AND c.sec <= p.sec) AS c_sec " +
      "FROM p ORDER BY user_id, event_id"

  val oracles: Map[String, String] = Map(
    "x_events_funnel_steps" ->
      ("WITH e AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events), " +
        "s1 AS (SELECT user_id, MIN(sec) AS step_sec FROM e WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, MIN(e.sec) AS step_sec FROM e JOIN s1 USING (user_id) " +
        "WHERE e.event_type = 'click' AND e.sec > s1.step_sec GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, MIN(e.sec) AS step_sec FROM e JOIN s2 USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.sec > s2.step_sec GROUP BY e.user_id), " +
        "c AS (SELECT 1 AS step, 'view' AS step_name, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1 " +
        "UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2 " +
        "UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3), " +
        "tp AS (SELECT n_users AS n_top FROM c WHERE step = 1) " +
        "SELECT step, step_name, n_users, " +
        "CASE WHEN tp.n_top > 0 THEN n_users * 10000 // tp.n_top ELSE 0 END AS conv_bp " +
        "FROM c, tp ORDER BY step"),
    "x_events_resample" ->
      ("WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, " +
        "CAST(floor(value * 100) AS BIGINT) AS cents FROM events), " +
        "hr AS (SELECT user_id, h, CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(SUM(cents) AS BIGINT) AS cents FROM e GROUP BY user_id, h), " +
        "sp AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM " +
        "(SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hr GROUP BY user_id)), " +
        "j AS (SELECT sp.user_id, sp.h, COALESCE(hr.n_events, 0) AS n_events, hr.cents " +
        "FROM sp LEFT JOIN hr ON sp.user_id = hr.user_id AND sp.h = hr.h) " +
        "SELECT user_id, h, n_events, last_value(cents IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_ffill " +
        "FROM j ORDER BY user_id, h"),
    "x_events_interval_overlap" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events), " +
        "v AS (SELECT user_id, event_id AS v_id, sec AS v_start, sec + (event_id % 600) AS v_end FROM e WHERE event_type = 'view'), " +
        "c AS (SELECT user_id, event_id AS c_id, sec AS c_start, sec + (event_id % 600) AS c_end FROM e WHERE event_type = 'click') " +
        "SELECT v.user_id AS user_id, v_id, c_id, (least(v_end, c_end) - greatest(v_start, c_start)) AS overlap_sec " +
        "FROM v JOIN c ON v.user_id = c.user_id AND v_start <= c_end AND c_start <= v_end " +
        "ORDER BY v.user_id, v_id, c_id"),
    "x_events_asof" -> asofOracle,
    // output-identity with the plain form is the bucketed operator's
    // contract — same oracle
    "x_events_asof_bucketed" -> asofOracle,
    "x_events_attribution" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, " +
        "CAST(round(value * 100) AS BIGINT) AS rev FROM events), " +
        "c AS (SELECT user_id, sec FROM e WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, event_id, sec, rev FROM e WHERE event_type = 'purchase'), " +
        "a AS (SELECT p.sec, p.rev, " +
        "(SELECT MAX(c.sec) FROM c WHERE c.user_id = p.user_id AND c.sec <= p.sec) AS c_sec FROM p) " +
        "SELECT sec // 3600 AS hour, (c_sec IS NOT NULL AND sec - c_sec <= 3600) AS attributed, " +
        "CAST(COUNT(*) AS BIGINT) AS n_purchases, CAST(SUM(rev) AS BIGINT) AS rev_cents " +
        "FROM a GROUP BY hour, attributed ORDER BY hour, attributed"),
    "x_events_range_count" ->
      (eventsCte +
        "SELECT p.user_id, p.event_id, p.sec AS p_sec, " +
        "CAST((SELECT COUNT(*) FROM c WHERE c.user_id = p.user_id AND c.sec > p.sec - 3600 AND c.sec <= p.sec) AS BIGINT) AS n_clicks " +
        "FROM p ORDER BY user_id, event_id"),
    // inner join: zero-match purchases drop on both sides
    "x_events_range_naive" ->
      (eventsCte +
        "SELECT p.user_id, p.event_id, p.sec AS p_sec, " +
        "CAST(COUNT(*) AS BIGINT) AS n_clicks_global " +
        "FROM p JOIN c ON c.sec > p.sec - 3600 AND c.sec <= p.sec " +
        "GROUP BY p.user_id, p.event_id, p.sec ORDER BY p.user_id, p.event_id"))
}
