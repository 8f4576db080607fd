package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-wide SparkSession defaults, applied by every entry point
  * (Verify / Bench / Soak / PlanCheck / demos) and the shared test
  * session so the whole suite runs on ONE planner configuration.
  *
  * The load-bearing choice is the V2 parquet reader
  * (`spark.sql.sources.useV1SourceList=""`) with
  * `spark.sql.parquet.aggregatePushdown=true` as the DEFAULT, not a
  * per-spec opt-in. What V2 buys at 100 TB:
  *
  *  - COUNT/MIN/MAX over a clean scan plan as `PushedAggregation` and
  *    are answered from row-group footers — zero data pages read.
  *    Table-level bookkeeping (row counts, key ranges for partition
  *    planning) becomes a metadata operation (Round13Spec pin, now an
  *    always-on capability).
  *  - Runtime filtering on non-partition columns (`DynamicPruning` on
  *    BatchScan) in addition to the partition-dir pruning both
  *    readers share.
  *
  * What V2 does NOT change: predicate/projection pushdown and
  * partition pruning parity with V1 is asserted by the plan specs
  * (PartitionPruningSpec, Round14Spec), and value results are gated
  * by the 202-row driver oracle — the migration shipped only after
  * the full gate re-ran green under V2.
  *
  * Known V2 carve-out: BUCKETED catalog tables. The V2 path-based
  * reader has no bucketing surface, but bucketed reads go through the
  * catalog (`spark.table`) which plans `FileSourceScanExec` from the
  * table's HadoopFsRelation regardless of `useV1SourceList`, so
  * Layout.layoutBucketedJoin's zero-Exchange plan is unaffected
  * (BucketingSpec asserts it under this default).
  */
object GraftSession {

  /** Session-conf defaults; exposed as data so tests can assert them
    * and forked bench children re-apply them identically. */
  val defaults: Seq[(String, String)] = Seq(
    // V2 parquet/orc reader: footer-answered aggregates + runtime
    // filtering; the one remaining engine-wide planner upgrade from
    // SCALE.md r13, promoted to the default in r14.
    "spark.sql.sources.useV1SourceList" -> "",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Spark's JVM-wide generated-class cache (a static conf, read
    // when the JVM generates its first class). At Spark's default of
    // 100 it holds fewer classes than one operation uses, so LRU
    // eviction drops each class before its next use and every warm
    // pass recompiles about as many classes as the cold pass did.
    // Distinct classes one operation compiles (cold, cache unbounded,
    // stage ids out of class names as below): 218 for an etl_pipeline
    // pass, 175 for a gate_job_bound pass, 361 for an all-phases
    // Pipeline.run (PipelineOrchestratorSpec's inputs), 805-914 for a
    // Bench child group (a quarter of the rows, sf0.01). The cap is
    // over twice the largest. Metaspace used after three passes, at
    // Spark's 100 and with every class held: 167.8 and 168.1 MB for
    // etl_pipeline, 163.3 MB both for gate_job_bound, 168.8 and
    // 170.2 MB for the all-phases run.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // Whole-stage classes are named after their codegen stage id, and
    // AQE numbers stages in the order it re-plans them, which varies
    // with task timing: the same stage code under another id is a new
    // cache key. Without the id in the name it is one class (the id
    // stays in the plan's `*(n)` prefix).
    "spark.sql.codegen.useIdInClassName" -> "false",
    // fork-free permission setting for file: writes (LocalFs)
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName)

  /** Apply the engine defaults to a builder (master/parallelism are
    * the caller's — they differ between tests, verify, and bench). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    defaults.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
