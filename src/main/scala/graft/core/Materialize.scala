package graft.core

import org.apache.spark.sql.DataFrame

/** Central materialization pin for in-query DataFrame reuse.
  *
  * Several operators must materialize a subtree once because Spark
  * re-executes shared subtrees per consumer (no ReusedExchange across
  * differently-canonicalized self-join sides) or because the subtree
  * is non-deterministic (`monotonically_increasing_id`) and must not
  * be recomputed with a different partitioning. The default pin is
  * `localCheckpoint()` — executor-memory blocks, no filesystem
  * round-trip, ideal on local[32] and fine on a cluster for jobs that
  * can simply be re-run on executor loss.
  *
  * Local checkpoints are NOT fault-tolerant: the lineage is truncated
  * and the blocks live only on executors, so on a real cluster losing
  * one executor mid-query kills the query. Long jobs that need to
  * survive executor loss set
  * `spark.graft.materialize.reliable=true` on the session (plus
  * `sparkContext.setCheckpointDir` pointing at HDFS/S3) and every pin
  * becomes a reliable `checkpoint()` — same semantics, blocks
  * replicated to the checkpoint dir, at the cost of one filesystem
  * round-trip per pin. This mirrors the `reliable` parameter of
  * [[graft.operators.Dedup.canonicalClusters]], session-wide.
  */
object Materialize {

  val ReliableConf = "spark.graft.materialize.reliable"

  /** True when the session opted into reliable pins. */
  def isReliable(s: org.apache.spark.sql.SparkSession): Boolean =
    s.conf.get(ReliableConf, "false").toBoolean

  /** Pin `df`'s result for in-query reuse; mode chosen by
    * [[ReliableConf]] on the owning session (default: local). */
  def pin(df: DataFrame): DataFrame = {
    val pinned =
      if (isReliable(df.sparkSession)) {
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          s"$ReliableConf=true requires sparkContext.setCheckpointDir " +
            "(point it at a fault-tolerant filesystem)")
        df.checkpoint()
      } else df.localCheckpoint()
    // checkpoints carry the source plan's estimated stats; cap them so
    // chained pins can never compound size estimates past BigInteger's
    // range (see canonicalClusters — a no-op for bounded estimates)
    org.apache.spark.sql.classic.GraftColumnBridge.capCheckpointStats(pinned)
  }

  /** True when `df` IS a pinned scan — its logical plan is the bare
    * `LogicalRDD` leaf a checkpoint leaves behind (no operators on
    * top, so re-pinning it would copy the same blocks verbatim). */
  def isPinned(df: DataFrame): Boolean =
    df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Drops the blocks of every pin scanned by `df`'s plan (its
    * checkpoint leaves) — for a frame built over its own pins, such as
    * [[Ids.denseId]]'s result, once nothing will read it again. A
    * reliable pin's files stay in the checkpoint dir. Pins also scanned
    * by a frame in `keep` (inputs the caller still owns) stay. */
  def release(df: DataFrame, keep: Seq[DataFrame] = Nil): Unit = {
    val kept = keep.flatMap(pinnedRdds).map(_.id).toSet
    pinnedRdds(df).filterNot(r => kept(r.id)).foreach(_.unpersist(blocking = false))
  }

  private def pinnedRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** [[pin]] unless the frame is already a bare pinned scan — the
    * guard that lets gate code hand an already-pinned frame to an
    * operator that pins its own input ([[graft.operators.Graph.pprInt]])
    * without paying a second, byte-identical localCheckpoint. */
  def pinIfNeeded(df: DataFrame): DataFrame =
    if (isPinned(df)) df else pin(df)
}
