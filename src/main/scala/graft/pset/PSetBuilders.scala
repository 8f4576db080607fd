package graft.pset

import graft.core.Harmonize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-PSet table builders — the Spark re-expression of the
  * reference's per-PSet phase
  * (/root/reference/PharmacoDI/build_all_pset_tables.py:30-78).
  * Every builder is a pure `PSet => DataFrame` plan: no actions, so
  * Catalyst fuses each chain into a small number of stages, and
  * [[writeAll]] runs a PSet's table writes concurrently
  * ([[graft.core.Par.all]]) as [[Pipeline.run]] runs whole PSets.
  * Every emitted table has the fixed schema declared in [[Schemas]].
  */
object PSetBuilders {

  /** The schema of each table [[buildAll]] emits, as a parquet read
    * returns it (every field nullable). [[Consolidator.loadTable]]
    * reads all PSets' copies of a table with it, so the read infers
    * nothing from file footers. */
  val Schemas: Map[String, StructType] = {
    def s(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    def strings(names: String*) = s(names.map(_ -> StringType): _*)
    Map(
      "dataset" -> strings("name"),
      "tissue" -> strings("name"),
      "compound" -> strings("name"),
      "compound_annotation" -> s("compound_id" -> StringType, "smiles" -> StringType,
        "inchikey" -> StringType, "pubchem" -> StringType, "fda_status" -> BooleanType),
      "cell" -> strings("name", "tissue_id"),
      "gene" -> strings("name"),
      "gene_annotation" -> s("gene_id" -> StringType, "symbol" -> StringType,
        "gene_seq_start" -> LongType, "gene_seq_end" -> LongType),
      "dataset_cell" -> strings("dataset_id", "cell_id"),
      "dataset_tissue" -> strings("dataset_id", "tissue_id"),
      "dataset_compound" -> strings("dataset_id", "compound_id"),
      "experiment" -> strings("name", "cell_id", "compound_id", "dataset_id", "tissue_id"),
      "dose_response" -> s("experiment_id" -> StringType, "dose" -> DoubleType,
        "response" -> DoubleType, "dataset_id" -> StringType),
      "profile" -> s(("experiment_id" -> StringType) +:
        Seq("HS", "Einf", "EC50", "AAC", "IC50", "DSS1", "DSS2", "DSS3").map(_ -> DoubleType) :+
        ("dataset_id" -> StringType): _*),
      "mol_cell" -> s("cell_id" -> StringType, "dataset_id" -> StringType,
        "mDataType" -> StringType, "num_prof" -> IntegerType),
      "dataset_statistics" -> s(("dataset_id" -> StringType) +:
        Seq("cell_lines", "tissues", "compounds", "experiments", "genes").map(_ -> LongType): _*))
  }

  /** dataset (build_primary_pset_tables.py:40): one row, the PSet name. */
  def buildDataset(spark: SparkSession, psetName: String): DataFrame = {
    import spark.implicits._
    Seq(psetName).toDF("name")
  }

  /** tissue (build_primary_pset_tables.py:71-83): distinct tissueid, sorted. */
  def buildTissue(pset: PSet): DataFrame =
    pset("cell").select(col("tissueid").cast(StringType).as("name"))
      .distinct().orderBy("name")

  /** compound (build_primary_pset_tables.py:87-96): distinct drugid. */
  def buildCompound(pset: PSet): DataFrame =
    pset("drug").select(col("drugid").cast(StringType).as("name")).distinct()

  /** cell (build_primary_pset_tables.py:157-167): cellid -> name,
    * tissueid -> tissue_id. */
  def buildCell(pset: PSet): DataFrame =
    pset("cell").select(col("cellid").cast(StringType).as("name"),
      col("tissueid").cast(StringType).as("tissue_id"))

  /** gene (build_primary_pset_tables.py:53-67): union of distinct
    * `.features` across mDataTypes, Ensembl version stripped. */
  def buildGene(pset: PSet): DataFrame = {
    val parts = pset.subitems("molecularProfiles").flatMap { m =>
      pset.get("molecularProfiles", m, "rowData")
        .map(_.select(col("`.features`").cast(StringType).as("name")))
    }
    parts.reduce(_ union _)
      .select(regexp_replace(col("name"), "\\.[0-9]*$", "").as("name"))
      .distinct()
  }

  /** gene_annotation (build_primary_pset_tables.py:99-126): gene_id
    * (version stripped via `\..*$`) + typed-null annotation columns. */
  def buildGeneAnnotation(pset: PSet): DataFrame = {
    val parts = pset.subitems("molecularProfiles").flatMap { m =>
      pset.get("molecularProfiles", m, "rowData")
        .map(_.select(col("`.features`").cast(StringType).as("gene_id")))
    }
    parts.reduce(_ union _)
      .select(regexp_replace(col("gene_id"), "\\..*$", "").as("gene_id"),
        lit(null).cast(StringType).as("symbol"),
        lit(null).cast(LongType).as("gene_seq_start"),
        lit(null).cast(LongType).as("gene_seq_end"))
      .distinct()
  }

  /** compound_annotation (build_primary_pset_tables.py:130-152).
    * Implements the intended schema: the reference renames FDA ->
    * fda_status then harmonizes on the stale name 'FDA', yielding an
    * all-null column (documented defect; SURVEY.md §8). */
  def buildCompoundAnnotation(pset: PSet): DataFrame = {
    val renames = Map("rownames" -> "compound_id", "drugid" -> "compound_id",
      ".rownames" -> "compound_id", "cid" -> "pubchem", "FDA" -> "fda_status")
    val drug = pset("drug")
    val renamed = renames.foldLeft(drug) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
    Harmonize.harmonize(renamed, Schemas("compound_annotation"))
  }

  /** experiment (build_experiment_tables.py:41-75): sensitivity info
    * + tissue_id via left join against the (small, broadcast) cell
    * table; experiment_id kept as natural key `name`. */
  def buildExperiment(pset: PSet, psetName: String, cellDf: DataFrame): DataFrame =
    pset("sensitivity", "info")
      .select(col("`.rownames`").cast(StringType).as("name"),
        col("cellid").cast(StringType).as("cell_id"),
        col("drugid").cast(StringType).as("compound_id"))
      .withColumn("dataset_id", lit(psetName))
      .join(broadcast(cellDf.select(col("name").as("__cell"), col("tissue_id"))),
        col("cell_id") === col("__cell"), "left")
      .select("name", "cell_id", "compound_id", "dataset_id", "tissue_id")

  /** Melt one wide dose/viability matrix to long form
    * (build_experiment_tables.py:105-121): id `.exp_id`, var dose_id
    * (numeric suffix of the wide column), dropna, int cast. */
  private[pset] def meltWide(df: DataFrame, valueName: String): DataFrame = {
    val valueCols = df.columns.filterNot(_ == ".exp_id").toSeq
    df.select((col("`.exp_id`").cast(StringType).as("experiment_id") +:
        valueCols.map(c => col(s"`$c`").cast(DoubleType).as(c))): _*)
      .unpivot(Array(col("experiment_id")), "dose_col", valueName)
      .filter(col(valueName).isNotNull)
      .withColumn("dose_id",
        regexp_extract(col("dose_col"), "([0-9]+)$", 1).cast(IntegerType))
      .drop("dose_col")
  }

  /** dose_response (build_experiment_tables.py:91-139): melt dose and
    * viability, equi-join on (experiment_id, dose_id), round to 8
    * digits BEFORE any dedup (SURVEY §7.4.5), add dataset_id. The two
    * melts share the same source partitioning, so at scale this is a
    * co-partitioned join on the composite key. */
  def buildDoseResponse(pset: PSet, psetName: String): DataFrame = {
    val dose = meltWide(pset("sensitivity", "raw.Dose"), "dose")
    val resp = meltWide(pset("sensitivity", "raw.Viability"), "response")
    dose.join(resp, Seq("experiment_id", "dose_id"))
      .select(col("experiment_id"),
        round(col("dose"), 8).as("dose"),
        round(col("response"), 8).as("response"))
      .withColumn("dataset_id", lit(psetName))
  }

  /** profile (build_experiment_tables.py:143-181): rename variants,
    * harmonize to the declared stat schema, add dataset_id. */
  def buildProfile(pset: PSet, psetName: String): DataFrame = {
    val renames = Map(".rownames" -> "experiment_id", "rownames" -> "experiment_id",
      "einf" -> "Einf", "E_inf" -> "Einf", "aac_recomputed" -> "AAC",
      "ic50_recomputed" -> "IC50", "ec50" -> "EC50", "slope_recomputed" -> "HS")
    val prof = pset("sensitivity", "profiles")
    val renamed = renames.foldLeft(prof) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
    require(renamed.columns.contains("experiment_id"),
      "No experiment_id column in sensitivity profiles!")
    Harmonize.harmonize(renamed,
      StructType(Schemas("profile").filterNot(_.name == "dataset_id")))
      .withColumn("dataset_id", lit(psetName))
  }

  /** dataset_cell / dataset_tissue / dataset_compound
    * (build_dataset_join_tables.py:46-97). */
  def buildDatasetCell(psetName: String, cellDf: DataFrame): DataFrame =
    cellDf.select(lit(psetName).as("dataset_id"), col("name").as("cell_id"))
  def buildDatasetTissue(psetName: String, tissueDf: DataFrame): DataFrame =
    tissueDf.select(lit(psetName).as("dataset_id"), col("name").as("tissue_id"))
  def buildDatasetCompound(psetName: String, compoundDf: DataFrame): DataFrame =
    compoundDf.select(lit(psetName).as("dataset_id"), col("name").as("compound_id"))

  /** mol_cell (build_all_pset_tables.py:82-135): per mDataType profile
    * counts per cell (group-by count, the pandas value_counts), left
    * joined onto dataset_cell, nulls -> 0. */
  def buildMolCell(pset: PSet, psetName: String, datasetCell: DataFrame): DataFrame = {
    val types = pset.subitems("molecularProfiles")
    val parts = types.map { m =>
      val counts = pset("molecularProfiles", m, "colData")
        .groupBy(col("cellid").cast(StringType).as("cellid"))
        .agg(count(lit(1)).as("num_prof"))
      datasetCell
        .join(broadcast(counts), col("cell_id") === col("cellid"), "left")
        .select(col("cell_id"), col("dataset_id"),
          lit(m).as("mDataType"), col("num_prof"))
    }
    parts.reduce(_ unionByName _)
      .na.fill(0, Seq("num_prof"))
      .withColumn("num_prof", col("num_prof").cast(IntegerType))
  }

  /** dataset_statistics (build_all_pset_tables.py:139-173): one-row
    * summary, as one lazy plan — a cross join of one-row counts, so
    * the counts run when the table is written, beside the PSet's other
    * writes. `genes` is 0 for a PSet without molecular profiles. */
  def buildDatasetStats(spark: SparkSession, psetName: String,
      dfs: Map[String, DataFrame]): DataFrame = {
    def n(table: String, as: String): DataFrame =
      dfs.get(table).fold(spark.range(1).select(lit(0L).as(as)))(_.agg(count(lit(1)).as(as)))
    Seq(n("cell", "cell_lines"), n("tissue", "tissues"), n("compound", "compounds"),
      n("experiment", "experiments"), n("gene", "genes"))
      .foldLeft(buildDataset(spark, psetName).select(col("name").as("dataset_id")))(_ crossJoin _)
  }

  /** Full per-PSet build (build_all_pset_tables.py:30-67): plans
    * only — it runs no Spark job; [[writeAll]] runs them. */
  def buildAll(spark: SparkSession, pset: PSet): Map[String, DataFrame] = {
    val hasMol = pset.subitems("molecularProfiles").nonEmpty
    val cell = buildCell(pset)
    val tissue = buildTissue(pset)
    val compound = buildCompound(pset)
    var dfs = Map(
      "dataset" -> buildDataset(spark, pset.name),
      "tissue" -> tissue,
      "compound" -> compound,
      "compound_annotation" -> buildCompoundAnnotation(pset),
      "cell" -> cell)
    if (hasMol) {
      dfs += "gene" -> buildGene(pset)
      dfs += "gene_annotation" -> buildGeneAnnotation(pset)
    }
    val datasetCell = buildDatasetCell(pset.name, cell)
    dfs += "dataset_cell" -> datasetCell
    dfs += "dataset_tissue" -> buildDatasetTissue(pset.name, tissue)
    dfs += "dataset_compound" -> buildDatasetCompound(pset.name, compound)
    dfs += "experiment" -> buildExperiment(pset, pset.name, cell)
    dfs += "dose_response" -> buildDoseResponse(pset, pset.name)
    dfs += "profile" -> buildProfile(pset, pset.name)
    if (hasMol) dfs += "mol_cell" -> buildMolCell(pset, pset.name, datasetCell)
    dfs += "dataset_statistics" -> buildDatasetStats(spark, pset.name, dfs)
    dfs
  }

  /** Per-PSet sink (write_pset_table.py:20-39): parquet at
    * `{dir}/{pset}/{pset}_{table}.parquet`. The tables are independent
    * plans written to disjoint paths, so they are written concurrently. */
  def writeAll(dfs: Map[String, DataFrame], psetName: String, outDir: String): Unit =
    graft.core.Par.all(dfs.toSeq.map { case (name, df) => () =>
      df.write.mode("overwrite")
        .parquet(s"$outDir/$psetName/${psetName}_$name.parquet")
    })
}
