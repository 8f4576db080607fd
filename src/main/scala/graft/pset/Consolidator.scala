package graft.pset

import graft.core.{Ids, Materialize}
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
    * `{dataDir}/{pset}/{pset}_{name}.parquet` in one read with the
    * table's declared schema ([[PSetBuilders.Schemas]]) — the union of
    * the copies, with no footer-inference job — and dedup
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
    spark.read.schema(PSetBuilders.Schemas(name)).parquet(paths: _*).dropDuplicates()
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
    * returns the written table ([[writeRead]]). The dense ids' pin is
    * read by this write only, so it is released once the write ends;
    * pins of the frames in `keep` stay ([[Materialize.release]]). */
  def writeTable(df: DataFrame, name: String, outDir: String,
      addIndex: Boolean = true, sortCols: Seq[Column] = Nil,
      keep: Seq[DataFrame] = Nil): DataFrame = {
    val sorted = if (sortCols.nonEmpty) df.orderBy(sortCols: _*) else df
    val path = s"$outDir/$name.parquet"
    if (!addIndex) writeRead(sorted, path)
    else {
      val indexed = Ids.denseId(sorted, sortCols)
      try writeRead(indexed, path) finally Materialize.release(indexed, keep)
    }
  }

  /** The consolidated tables in the order a one-table-at-a-time
    * consolidation builds them, which is the order [[combineAll]]
    * reports their audits in. */
  private val AuditOrder: Seq[String] = Seq("tissue", "gene", "dataset", "compound", "cell",
    "compound_annotation", "gene_annotation", "dataset_cell", "dataset_tissue",
    "dataset_compound", "mol_cell", "dataset_statistics", "experiment",
    "dose_response", "profile")

  /** Full consolidation. `compoundMeta` carries (name, compound_uid)
    * — the curated metadata join (combine_pset_tables.py:73-81).
    * Returns the final tables (also written to outDir).
    *
    * The tables are built in four dependency waves, and the tables of
    * one wave are built and written concurrently
    * ([[graft.core.Par.all]]):
    *  1. the primary dimensions: tissue, gene, dataset, compound;
    *  2. cell, and the tables keyed on primary dimensions only:
    *     compound_annotation, gene_annotation, dataset_tissue,
    *     dataset_compound, dataset_statistics;
    *  3. the tables keyed on cell: dataset_cell, mol_cell, experiment;
    *  4. the tables keyed on experiment: dose_response, profile.
    *
    * `audit` receives each FK mapping's unmatched natural keys, on the
    * calling thread only and in the order of [[AuditOrder]]: a build
    * records its calls, and they are replayed once every earlier
    * table's have been. No audit frame reads a dense-id pin, so each
    * stays readable after this returns, when every pin is released.
    */
  def combineAll(spark: SparkSession, dataDir: String, outDir: String,
      compoundMeta: DataFrame,
      audit: (String, DataFrame) => Unit = (_, _) => ()): Map[String, DataFrame] = {
    type Record = (String, DataFrame) => Unit
    type Build = Record => DataFrame

    // every written table, read back as written — the returned map
    var out = Map.empty[String, DataFrame]
    var heard = Map.empty[String, Seq[(String, DataFrame)]]
    var replayed = 0
    def wave(builds: (String, Build)*): Map[String, DataFrame] = {
      val built = graft.core.Par.all(builds.map { case (name, build) => () =>
        val calls = Seq.newBuilder[(String, DataFrame)]
        (name, build((what, df) => calls += (what -> df)), calls.result())
      })
      out ++= built.map(b => b._1 -> b._2)
      heard ++= built.map(b => b._1 -> b._3)
      while (replayed < AuditOrder.size && heard.contains(AuditOrder(replayed))) {
        heard(AuditOrder(replayed)).foreach(audit.tupled)
        replayed += 1
      }
      built.map(b => b._1 -> b._2).toMap
    }
    def write(name: String, df: DataFrame, addIndex: Boolean = true,
        sortCols: Seq[Column] = Nil): DataFrame =
      writeTable(df, name, outDir, addIndex, sortCols, keep = Seq(compoundMeta))
    def primary(name: String, extend: DataFrame => DataFrame = identity,
        sortCol: Column = col("name")): (String, Build) =
      name -> (_ => write(name, extend(loadTable(spark, dataDir, name)), sortCols = Seq(sortCol)))

    // --- primary (combine_pset_tables.py:51-89)
    val primaries = wave(
      primary("tissue", sortCol = col("name").asc_nulls_last),
      primary("gene"),
      primary("dataset"),
      primary("compound", _.join(
        broadcast(compoundMeta.select(col("name"), col("compound_uid"))), Seq("name"), "left")))
    var dims = primaries.map { case (n, df) => n -> renameAndKey(df, s"${n}_id") }

    def loadJoinWrite(name: String, fks: Seq[String], addIndex: Boolean = true): (String, Build) =
      name -> { record =>
        val mapped = fks.foldLeft(loadTable(spark, dataDir, name)) { (df, fk) =>
          joinTables(df, dims(fk), s"${fk}_id", onUnmatched = record(s"$name.$fk", _))
        }
        write(name, mapped, addIndex, fks.map(fk => col(s"${fk}_id")))
      }

    // --- secondary (combine_pset_tables.py:93-143)
    // cell natural keys arrive as (name, tissue_id-as-name); map tissue
    // then register the cell dim.
    val cell = wave(
      "cell" -> (record => write("cell",
        joinTables(loadTable(spark, dataDir, "cell"), dims("tissue"), "tissue_id",
          onUnmatched = record("cell.tissue", _)),
        sortCols = Seq(col("tissue_id"), col("name")))),
      loadJoinWrite("compound_annotation", Seq("compound"), addIndex = false),
      // gene_annotation joined the reverse way so genes cut out are
      // included back (combine_pset_tables.py:115-119)
      "gene_annotation" -> (_ => write("gene_annotation", dims("gene").join(
        loadTable(spark, dataDir, "gene_annotation")
          .withColumnRenamed("gene_id", "__name"),
        col("gene_id") === col("__name"), "left")
        .drop("__name")
        .withColumnRenamed("gene_id", "name")
        .withColumnRenamed("id", "gene_id")
        .drop("name"), addIndex = false)),
      loadJoinWrite("dataset_tissue", Seq("dataset", "tissue"), addIndex = false),
      loadJoinWrite("dataset_compound", Seq("dataset", "compound"), addIndex = false),
      loadJoinWrite("dataset_statistics", Seq("dataset")))("cell")
    dims += "cell" -> renameAndKey(cell, "cell_id")

    // --- experiment family (combine_pset_tables.py:147-178)
    // set by the experiment build; read after its wave has returned
    var expMapped: DataFrame = null
    var expWithId: DataFrame = null
    try {
      wave(
        loadJoinWrite("dataset_cell", Seq("dataset", "cell"), addIndex = false),
        loadJoinWrite("mol_cell", Seq("cell", "dataset")),
        "experiment" -> { record =>
          expMapped = Seq("cell", "compound", "dataset", "tissue")
            .foldLeft(loadTable(spark, dataDir, "experiment")
              .withColumnRenamed("name", "experiment_name")) { (df, fk) =>
              joinTables(df, dims(fk), s"${fk}_id", onUnmatched = record(s"experiment.$fk", _))
            }
          val expSort = Seq("cell_id", "compound_id", "dataset_id", "tissue_id").map(col)
          expWithId = Ids.denseId(expMapped.orderBy(expSort: _*), expSort)
          write("experiment",
            expWithId.select("id", "cell_id", "compound_id", "dataset_id", "tissue_id"),
            addIndex = false)
        })

      // experiment dim keyed on (dataset_id, experiment_id); its ids are
      // the pinned ones, while the audit reads the unpinned keys
      val expDim = expWithId.select(col("id"),
        col("experiment_name").as("experiment_id"), col("dataset_id"))
      val expKeys = expMapped.select(col("experiment_name").as("experiment_id"), col("dataset_id"))
      def fact(name: String): (String, Build) = name -> { record =>
        var df = loadTable(spark, dataDir, name)
        if (name == "profile")
          // IC50 overflow clamp (combine_pset_tables.py:173)
          df = df.withColumn("IC50", least(col("IC50"), lit(1e54)))
        df = joinTables(df, dims("dataset"), "dataset_id",
          onUnmatched = record(s"$name.dataset", _))
        record(s"$name.experiment", df.join(broadcast(expKeys),
          Seq("experiment_id", "dataset_id"), "left_anti").select("experiment_id").distinct())
        df = joinTables(df, expDim, "experiment_id", extraKeys = Seq("dataset_id"))
          .drop("dataset_id")
        write(name, df, addIndex = name == "dose_response", Seq(col("experiment_id")))
      }
      wave(fact("dose_response"), fact("profile"))
    } finally if (expWithId != null) Materialize.release(expWithId)
    out
  }
}
