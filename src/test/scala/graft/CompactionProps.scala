package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based invariants for sink-store compaction: on RANDOM
  * batch layouts (count, sizes, gaps from zero-row batches) with a
  * random watermark, (1) compaction is content-neutral and keeps
  * above-watermark partitions untouched, and (2) a crash at either
  * injectable phase boundary followed by recovery yields the same
  * content as never crashing — properties the example-based
  * CompactionSpec cannot sweep. */
object CompactionProps extends Properties("graft.compaction") {

  private lazy val spark: SparkSession = graft.core.GraftSession.configure(
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  private lazy val fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  // batch sizes, possibly zero (a zero-row batch writes NO partition
  // dir — watermark gaps must not confuse the fold)
  private val layoutGen: Gen[(List[Int], Int)] = for {
    nBatches <- Gen.chooseNum(1, 7)
    sizes <- Gen.listOfN(nBatches, Gen.chooseNum(0, 25))
    safeBelow <- Gen.chooseNum(0, nBatches + 1)
  } yield (sizes, safeBelow)

  private def mkStore(sizes: List[Int]): String = {
    val store = s"${Files.createTempDirectory("compact-prop")}/store"
    sizes.zipWithIndex.foreach { case (n, b) =>
      graft.streaming.EventStreams.idempotentParquetSink(store)(
        spark.range(b * 100, b * 100 + n)
          .select(col("id"), (col("id") % 7).as("v")), b.toLong)
    }
    store
  }

  private def contents(store: String): Seq[String] = {
    import spark.implicits._
    // a store of only zero-row batches has dirs but no data files —
    // unreadable IS empty (same convention as VecIngestSpec)
    if (!fs.exists(new Path(store))) Seq.empty
    else
      try spark.read.parquet(store).select("id", "v").as[(Long, Long)]
        .collect().sorted.map(_.toString).toSeq
      catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }
  }

  property("compact is content-neutral and never touches ids >= safeBelow") =
    forAll(layoutGen) { case (sizes, safeBelow) =>
      val store = mkStore(sizes)
      val before = contents(store)
      val tailDirs = fs.listStatus(new Path(store))
        .map(_.getPath.getName)
        .filter(n => n.startsWith("batch_id=") &&
          n.stripPrefix("batch_id=").toLong >= safeBelow).toSet
      graft.streaming.Compaction.compact(spark, store, safeBelow.toLong,
        targetFileBytes = 1L << 20)
      val tailAfter = fs.listStatus(new Path(store))
        .map(_.getPath.getName)
        .filter(n => n.startsWith("batch_id=") &&
          n.stripPrefix("batch_id=").toLong >= safeBelow).toSet
      contents(store) == before && tailAfter == tailDirs
    }

  // ---- size-tiered compaction (r19, VERDICT r18 #5) --------------------

  // recompute the engine's geometric size class from outside: smallest
  // k with bytes <= 256KiB * fanout^k
  private def sizeClassOf(bytes: Long, fanout: Int): Int = {
    var c = 0
    var cap = 256L * 1024
    while (bytes > cap && c < 62) { c += 1; cap = cap * fanout }
    c
  }

  private def eligibleSizes(store: String, safeBelow: Long): Seq[Long] =
    fs.listStatus(new Path(store)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id=") &&
        s.getPath.getName.stripPrefix("batch_id=").toLong < safeBelow)
      .map(d => fs.listStatus(d.getPath).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .map(_.getLen).sum)

  private val tieredGen: Gen[(List[Int], Int, Int)] = for {
    nBatches <- Gen.chooseNum(1, 12)
    sizes <- Gen.listOfN(nBatches, Gen.chooseNum(0, 40))
    safeBelow <- Gen.chooseNum(0, nBatches + 1)
    fanout <- Gen.chooseNum(2, 5)
  } yield (sizes, safeBelow, fanout)

  property("compactTiered terminates on random layouts, preserves the row " +
      "multiset, leaves no mergeable class (each < fanout dirs), settles " +
      "marker-only dirs, and never touches ids >= safeBelow") =
    forAll(tieredGen) { case (sizes, safeBelow, fanout) =>
      val store = mkStore(sizes)
      val before = contents(store)
      val tailDirs = fs.listStatus(new Path(store))
        .map(_.getPath.getName)
        .filter(n => n.startsWith("batch_id=") &&
          n.stripPrefix("batch_id=").toLong >= safeBelow).toSet
      // the call RETURNING is the termination proof (each pass merges
      // >= fanout >= 2 dirs into one, so eligible dir count strictly
      // decreases); the stats list bounds the pass count
      val stats = graft.streaming.Compaction.compactTiered(
        spark, store, safeBelow.toLong, fanout = fanout,
        targetFileBytes = 1L << 20)
      val tailAfter = fs.listStatus(new Path(store))
        .map(_.getPath.getName)
        .filter(n => n.startsWith("batch_id=") &&
          n.stripPrefix("batch_id=").toLong >= safeBelow).toSet
      val classes = eligibleSizes(store, safeBelow.toLong).filter(_ > 0)
        .groupBy(sizeClassOf(_, fanout))
      val noMergeable = classes.values.forall(_.size < fanout)
      // committed marker-only dirs (zero-row batches) are settled by
      // deletion below the watermark
      val markerOnly = eligibleSizes(store, safeBelow.toLong).count(_ == 0)
      contents(store) == before &&
        tailAfter == tailDirs &&
        noMergeable &&
        markerOnly == 0 &&
        stats.forall(s => s.batchesMerged >= fanout)
    }

  property("compactTiered on an externally-fabricated ZERO-BYTE data file " +
      "(no parquet footer — unreachable from any real sink) leaves the dir " +
      "untouched rather than feeding it to a parquet read or deleting data") =
    forAll(Gen.chooseNum(1, 5)) { n =>
      val store = mkStore(List.fill(n)(10))
      val before = contents(store)
      // fabricate the edge: a committed dir whose only data file is
      // 0 bytes — dataFiles is nonEmpty but the byte sum is 0, so the
      // engine classifies it neither as marker-only debt (settled by
      // deletion) nor as mergeable (b > 0). It must simply survive.
      val weird = new Path(store, s"batch_id=${n + 50}")
      fs.mkdirs(weird)
      fs.create(new Path(weird, "part-00000.parquet")).close()
      graft.streaming.Compaction.compactTiered(spark, store,
        safeBelow = n + 100L, fanout = 2, targetFileBytes = 1L << 20)
      // read the surviving REAL dirs only (a whole-store read would
      // choke on the footer-less file itself — which is exactly why
      // no real sink can produce this shape)
      import spark.implicits._
      val realDirs = fs.listStatus(new Path(store)).toSeq
        .map(_.getPath).filter(p => p.getName.startsWith("batch_id=") &&
          p.getName != weird.getName)
        .filter(p => fs.listStatus(p).exists(f => f.isFile && f.getLen > 0 &&
          !f.getPath.getName.startsWith("_")))
        .map(_.toString)
      val after =
        if (realDirs.isEmpty) Seq.empty[String]
        else spark.read.parquet(realDirs: _*).select("id", "v")
          .as[(Long, Long)].collect().sorted.map(_.toString).toSeq
      fs.exists(new Path(weird, "part-00000.parquet")) && after == before
    }

  property("crash at a random phase + recover == never crashed") =
    forAll(layoutGen, Gen.oneOf("built", "swapping")) {
      case ((sizes, safeBelow), crashAt) =>
        val store = mkStore(sizes)
        val before = contents(store)
        val crashed =
          try {
            graft.streaming.Compaction.compact(spark, store, safeBelow.toLong,
              targetFileBytes = 1L << 20,
              onPhase = p => if (p == crashAt) throw new RuntimeException("die"))
            false
          } catch { case e: RuntimeException if e.getMessage == "die" => true }
        if (crashed) graft.streaming.Compaction.recover(spark, store)
        // a second compact (same watermark) must also be clean
        graft.streaming.Compaction.compact(spark, store, safeBelow.toLong,
          targetFileBytes = 1L << 20)
        contents(store) == before
    }

  // fast default profile (r22): full sweep depth via
  // -Dgraft.props.trials=full — see graft.TestProfile
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(TestProfile.trials(100, 15))
}
