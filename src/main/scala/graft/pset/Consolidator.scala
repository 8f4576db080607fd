package graft.pset

import graft.core.Ids
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-PSet consolidation — the Spark re-expression of
  * `combine_all_pset_tables`
  * (/root/reference/PharmacoDI/combine_pset_tables.py:27-178):
  * glob-load per-PSet tables, union + dedup, map natural keys to
  * surrogate ids against the primary dimensions, sort, assign dense
  * ids, write.
  *
  * Scale shape: dimension tables (tissue/compound/gene/dataset/cell)
  * are small -> broadcast in every FK mapping, so each secondary table
  * is one fact scan with zero join shuffles; the only fact shuffles
  * are the dedup and the final sort the semantics require. Dense ids
  * use the zipWithIndex path (no single-partition window).
  */
object Consolidator {

  /** Load every PSet's copy of `name` from
    * `{dataDir}/{pset}/{pset}_{name}.parquet`, union by name (schemas
    * may differ per PSet — rbind force=True), dedup
    * (combine_pset_tables.py:214-234).
    */
  def loadTable(spark: SparkSession, dataDir: String, name: String): DataFrame = {
    // listed through Hadoop FileSystem, so dataDir may be any URI
    // (file:, hdfs:, s3a:) the session can write to
    val root = new Path(dataDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val paths = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(d => new Path(d.getPath, s"${d.getPath.getName}_$name.parquet"))
      .filter(fs.exists).map(_.toString)
    require(paths.nonEmpty, s"no per-PSet tables named $name under $dataDir")
    paths.map(spark.read.parquet(_))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .dropDuplicates()
  }

  /** Dimension prepared for FK joins (combine_pset_tables.py:275-292):
    * (id, joinCol) with joinCol the renamed natural key. */
  def renameAndKey(df: DataFrame, joinCol: String, ogCol: String = "name"): DataFrame =
    df.select(col("id"), col(ogCol).as(joinCol))

  /** FK mapping with unmatched audit + delete
    * (combine_pset_tables.py:296-330): left join on the natural key,
    * drop rows that fail to map (reported), swap natural key for
    * surrogate id. Extra key columns (e.g. dataset_id for the
    * experiment dim) join as additional equi-conditions.
    */
  def joinTables(fact: DataFrame, dim: DataFrame, joinCol: String,
      extraKeys: Seq[String] = Nil,
      onUnmatched: DataFrame => Unit = _ => ()): DataFrame = {
    val keys = joinCol +: extraKeys
    val d = broadcast(dim.withColumnRenamed("id", "__id"))
    val joined = fact.join(d, keys, "left")
    val unmatched = joined.filter(col("__id").isNull).select(joinCol).distinct()
    onUnmatched(unmatched)
    joined.filter(col("__id").isNotNull)
      .drop(joinCol)
      .withColumnRenamed("__id", joinCol)
  }

  /** Write `df` as parquet at `path` and return the written table read
    * back with the schema known from the write, so the read runs no
    * footer-inference job. The file reader makes every field nullable,
    * which is exactly what inference returns, so the frame equals a
    * bare `spark.read.parquet(path)`. */
  def writeRead(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Sort + dense id + parquet sink (combine_pset_tables.py:334-349);
    * returns the written table ([[writeRead]]). */
  def writeTable(df: DataFrame, name: String, outDir: String,
      addIndex: Boolean = true, sortCols: Seq[Column] = Nil): DataFrame = {
    val sorted = if (sortCols.nonEmpty) df.orderBy(sortCols: _*) else df
    writeRead(if (addIndex) Ids.denseId(sorted, sortCols) else sorted,
      s"$outDir/$name.parquet")
  }

  /** Full consolidation. `compoundMeta` carries (name, compound_uid)
    * — the curated metadata join (combine_pset_tables.py:73-81).
    * Returns the final tables (also written to outDir).
    */
  def combineAll(spark: SparkSession, dataDir: String, outDir: String,
      compoundMeta: DataFrame,
      audit: (String, DataFrame) => Unit = (_, _) => ()): Map[String, DataFrame] = {

    // every written table, read back as written — the returned map
    var out = Map.empty[String, DataFrame]
    def write(name: String, df: DataFrame, addIndex: Boolean = true,
        sortCols: Seq[Column] = Nil): DataFrame = {
      val written = writeTable(df, name, outDir, addIndex, sortCols)
      out += name -> written
      written
    }

    // --- primary (combine_pset_tables.py:51-89)
    val tissue = renameAndKey(write("tissue", loadTable(spark, dataDir, "tissue"),
      sortCols = Seq(col("name").asc_nulls_last)), "tissue_id")
    val gene = renameAndKey(write("gene", loadTable(spark, dataDir, "gene"),
      sortCols = Seq(col("name"))), "gene_id")
    val dataset = renameAndKey(write("dataset", loadTable(spark, dataDir, "dataset"),
      sortCols = Seq(col("name"))), "dataset_id")
    val compound = renameAndKey(write("compound",
      loadTable(spark, dataDir, "compound")
        .join(broadcast(compoundMeta.select(col("name"), col("compound_uid"))),
          Seq("name"), "left"),
      sortCols = Seq(col("name"))), "compound_id")
    var dims = Map("tissue" -> tissue, "gene" -> gene,
      "dataset" -> dataset, "compound" -> compound)

    def loadJoinWrite(name: String, fks: Seq[String], addIndex: Boolean = true): DataFrame = {
      val mapped = fks.foldLeft(loadTable(spark, dataDir, name)) { (df, fk) =>
        joinTables(df, dims(fk), s"${fk}_id", onUnmatched = audit(s"$name.$fk", _))
      }
      write(name, mapped, addIndex, fks.map(fk => col(s"${fk}_id")))
    }

    // --- secondary (combine_pset_tables.py:93-143)
    // cell natural keys arrive as (name, tissue_id-as-name); map tissue
    // then register the cell dim.
    val cellTable = write("cell",
      joinTables(loadTable(spark, dataDir, "cell"), tissue, "tissue_id",
        onUnmatched = audit("cell.tissue", _)),
      sortCols = Seq(col("tissue_id"), col("name")))
    dims += "cell" -> renameAndKey(cellTable, "cell_id")

    loadJoinWrite("compound_annotation", Seq("compound"), addIndex = false)

    // gene_annotation joined the reverse way so genes cut out are
    // included back (combine_pset_tables.py:115-119)
    val geneAnnot = gene.join(
      loadTable(spark, dataDir, "gene_annotation")
        .withColumnRenamed("gene_id", "__name"),
      col("gene_id") === col("__name"), "left")
      .drop("__name")
      .withColumnRenamed("gene_id", "name")
      .withColumnRenamed("id", "gene_id")
      .drop("name")
    write("gene_annotation", geneAnnot, addIndex = false)

    loadJoinWrite("dataset_cell", Seq("dataset", "cell"), addIndex = false)
    loadJoinWrite("dataset_tissue", Seq("dataset", "tissue"), addIndex = false)
    loadJoinWrite("dataset_compound", Seq("dataset", "compound"), addIndex = false)
    loadJoinWrite("mol_cell", Seq("cell", "dataset"))
    loadJoinWrite("dataset_statistics", Seq("dataset"))

    // --- experiment family (combine_pset_tables.py:147-178)
    val expMapped = Seq("cell", "compound", "dataset", "tissue")
      .foldLeft(loadTable(spark, dataDir, "experiment")
        .withColumnRenamed("name", "experiment_name")) { (df, fk) =>
        joinTables(df, dims(fk), s"${fk}_id", onUnmatched = audit(s"experiment.$fk", _))
      }
    val expSort = Seq("cell_id", "compound_id", "dataset_id", "tissue_id").map(col)
    val expWithId = Ids.denseId(expMapped.orderBy(expSort: _*), expSort)
    write("experiment",
      expWithId.select("id", "cell_id", "compound_id", "dataset_id", "tissue_id"),
      addIndex = false)

    // experiment dim keyed on (dataset_id, experiment_id)
    val expDim = expWithId.select(col("id"),
      col("experiment_name").as("experiment_id"), col("dataset_id"))

    for (name <- Seq("dose_response", "profile")) {
      var df = loadTable(spark, dataDir, name)
      if (name == "profile")
        // IC50 overflow clamp (combine_pset_tables.py:173)
        df = df.withColumn("IC50", least(col("IC50"), lit(1e54)))
      df = joinTables(df, dataset, "dataset_id", onUnmatched = audit(s"$name.dataset", _))
      df = joinTables(df, expDim, "experiment_id", extraKeys = Seq("dataset_id"),
        onUnmatched = audit(s"$name.experiment", _))
      df = df.drop("dataset_id")
      write(name, df, addIndex = name == "dose_response", Seq(col("experiment_id")))
    }
    out
  }
}
