package graft.pset

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PSet is a catalog of DataFrames keyed by slot path — the Spark
  * form of the reference's nested dict
  * (/root/reference/PharmacoDI/read_pset.py:93-113). Tables stay lazy:
  * the catalog holds plans, not data, so a 100 TB PSet costs nothing
  * to "read" until a builder triggers an action.
  */
final case class PSet(name: String, tables: Map[Seq[String], DataFrame]) {
  def apply(path: String*): DataFrame = tables(path.toSeq)
  def get(path: String*): Option[DataFrame] = tables.get(path.toSeq)
  def has(path: String*): Boolean = tables.contains(path.toSeq)

  /** Subitem names under a slot (e.g. mDataTypes under molecularProfiles). */
  def subitems(slot: String): Seq[String] =
    tables.keys.collect { case Seq(`slot`, sub, _*) => sub }.toSeq.distinct.sorted
}

/** Reads a `{name}_PSet` directory exported in the rPharmacoDI layout:
  * files named `slot$subitem$...$...@item.{csv,csv.gz,parquet,txt}`
  * (/root/reference/PharmacoDI/read_pset.py:40-74). Listing is
  * driver-side metadata; each file becomes a lazy DataFrame.
  */
object PSetReader {

  /** Strip `.*@` prefix and format suffixes from a path segment
    * (read_pset.py:69-72). */
  private[graft] def cleanSegment(seg: String): String =
    seg.replaceAll(".*@|\\.csv\\.gz$|\\.csv$|\\.parquet$|\\.txt$", "")

  def read(spark: SparkSession, fileRoot: String, name: String): PSet = {
    // listed through Hadoop FileSystem, so fileRoot may be any URI
    // (file:, hdfs:, s3a:) the session can read
    val dir = new Path(s"$fileRoot/${name}_PSet")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory)
      throw new IllegalArgumentException(
        s"No PSet directory named $name could be found in $fileRoot")
    val files = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("."))
    val tables = files.map { f =>
      val segs = f.getPath.getName.split("\\$").toSeq.map(cleanSegment)
      val df = readFile(spark, f.getPath.toString)
      segs -> df
    }.toMap
    PSet(name, tables)
  }

  /** Multi-format dispatch (read_pset.py:80-90). CSVs use
    * header+inferSchema to mirror pandas; callers harmonize to
    * declared schemas afterwards (utilities.py:6-50 semantics).
    */
  def readFile(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".csv") || path.endsWith(".csv.gz"))
      spark.read.option("header", "true").option("inferSchema", "true")
        .option("nullValue", "NA").csv(path)
    else if (path.endsWith(".parquet"))
      spark.read.parquet(path)
    else if (path.endsWith(".txt"))
      spark.read.text(path)
    else
      throw new IllegalArgumentException(s"Unsupported file type: $path")
}
