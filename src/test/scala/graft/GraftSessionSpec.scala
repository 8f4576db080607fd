package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.reflect.io.Directory

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.core.LocalFs

/** The engine-wide session defaults ([[graft.core.GraftSession]]) that
  * every entry point and the suite share: the V2 parquet reader, a
  * generated-class cache that holds the engine's plan traffic, and the
  * fork-free `file:` filesystem ([[LocalFs]]). */
class GraftSessionSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // ---- V2 reader is the engine-wide default ----

  test("GraftSession defaults put every entry point on the V2 reader") {
    assert(spark.conf.get("spark.sql.sources.useV1SourceList") == "",
      "suite session must run the V2 parquet reader")
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") == "true",
      "footer aggregate pushdown must be on by default")
  }

  test("footer-answered aggregates are an ALWAYS-ON capability (no conf flip)") {
    // the Round13Spec pin flipped session confs around the assertion;
    // with GraftSession the DEFAULT session must plan PushedAggregation
    val agg = spark.read.parquet(s"$dir/lineitem.parquet")
      .agg(count(lit(1)).as("n"), min("l_orderkey").as("lo"),
        max("l_orderkey").as("hi"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [COUNT(*)"),
      "default session must push COUNT/MIN/MAX to the parquet footer scan")
    val (n, lo, hi) = agg.as[(Long, Long, Long)].head()
    assert(n > 0 && hi >= lo)
    // and the GATE ROW built on this capability plans it on BOTH legs
    val gate = SparkEntry.queries("x_profile_footer_stats")(spark, dir)
    val plan = gate.queryExecution.executedPlan.toString
    assert("PushedAggregation: \\[COUNT\\(\\*\\)".r.findAllIn(plan).size == 2,
      s"both footer-stats legs must be footer-answered; got:\n$plan")
  }

  // ---- generated-class cache ----

  test("a second round of 150 distinct generated classes compiles nothing") {
    // codegen inlines the literal, so each query's whole-stage class
    // is its own; 150 of them overflow Spark's default cache of 100
    def round(): Long = {
      val (c0, _) = JobProbe.compiled()
      (1 to 150).foreach(i => spark.range(4).selectExpr(s"id * ${1000 + i} AS v").collect())
      JobProbe.compiled()._1 - c0
    }
    val first = round()
    assert(first >= 150, s"each query must compile its own class; the first round compiled $first")
    val second = round()
    assert(second == 0,
      s"the cache must hold every class of the first round; the second round compiled $second")
  }

  // ---- fork-free file: filesystem ----

  private val dirs = scala.collection.mutable.Buffer.empty[JPath]

  override def afterAll(): Unit =
    try dirs.foreach(d => new Directory(d.toFile).deleteRecursively()) finally super.afterAll()

  private def tmp(tag: String): JPath = {
    val d = Files.createTempDirectory(tag)
    dirs += d
    d
  }

  private def hpath(root: JPath, rel: String): Path = new Path(root.resolve(rel).toUri)

  /** Relative path -> permission string of every entry under `root`. */
  private def modes(root: JPath): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  test("the session resolves file:/// to LocalFs") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[LocalFs])
    assert(new Path(tmp("gs-fs").toUri).getFileSystem(conf).isInstanceOf[LocalFs])
  }

  test("LocalFs gives written files and dirs the stock local filesystem's permissions") {
    val conf = spark.sessionState.newHadoopConf()
    val stock = new org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)
    val ours = new LocalFs
    ours.initialize(new URI("file:///"), conf)
    val trees = Seq(stock, ours).map { fs =>
      val root = tmp("gs-perm")
      fs.mkdirs(hpath(root, "a/b"))
      val out = fs.create(hpath(root, "a/b/part-0"))
      out.writeBytes("x")
      out.close()
      modes(root)
    }
    assert(trees(0).keySet == Set("a", "a/b", "a/b/part-0", "a/b/.part-0.crc"))
    assert(trees(1) == trees(0))
    // and a Spark write through the session gets the same file mode
    val out = tmp("gs-write").resolve("t.parquet")
    Seq(1, 2, 3).toDF("v").write.parquet(out.toString)
    val written = modes(out)
    assert(written.keys.exists(_.endsWith(".parquet")), written)
    assert(written.filter(_._1.endsWith(".parquet")).values.toSet == Set(trees(0)("a/b/part-0")))
  }

  test("LocalFs.rename onto an existing file returns false and leaves both files") {
    val fs = FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
    val root = tmp("gs-rename")
    def write(name: String, body: String): Path = {
      val p = hpath(root, name)
      val out = fs.create(p)
      out.writeBytes(body)
      out.close()
      p
    }
    def read(p: Path): String = Files.readString(root.resolve(p.getName))
    val src = write("src", "from")
    val dst = write("dst", "to")
    assert(!fs.rename(src, dst))
    assert(read(src) == "from" && read(dst) == "to")
    val free = hpath(root, "free")
    assert(fs.rename(src, free))
    assert(!fs.exists(src) && read(free) == "from")
  }
}
