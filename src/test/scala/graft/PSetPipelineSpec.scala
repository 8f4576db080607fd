package graft

import graft.pset._
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** Golden end-to-end test of the PharmacoDI-parity pipeline over a
  * synthetic mini-PSet pair (FIXTURES.md §A1): read -> per-PSet build
  * -> write -> cross-PSet consolidate, asserting the reference's
  * observable semantics (FK mapping + unmatched audit, dense ids,
  * dedup, IC50 clamp, version stripping).
  */
class PSetPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  /** Two PSets sharing cells/tissues/compounds; PSetB has an
    * unmatched-tissue cell and an IC50 above the clamp. */
  private lazy val root: String = {
    val root = Files.createTempDirectory("minipsets")
    val a = Files.createDirectory(root.resolve("PSetA_PSet"))
    writeCsv(a, "cell.csv", "cellid,tissueid\nc1,lung\nc2,breast\n")
    writeCsv(a, "drug.csv", "drugid,smiles,inchikey,cid,FDA\nd1,CC,IK1,5757.0,true\nd2,CN,IK2,42.0,false\n")
    writeCsv(a, "sensitivity$info.csv", ".rownames,cellid,drugid\ne1,c1,d1\ne2,c2,d2\n")
    writeCsv(a, "sensitivity$raw.Dose.csv", ".exp_id,doses1,doses2\ne1,0.1,0.2\ne2,0.1,NA\n")
    writeCsv(a, "sensitivity$raw.Viability.csv", ".exp_id,doses1,doses2\ne1,99.0,55.0\ne2,98.0,NA\n")
    writeCsv(a, "sensitivity$profiles.csv",
      ".rownames,aac_recomputed,ic50_recomputed,HS,einf,ec50,DSS1,DSS2,DSS3\n" +
        "e1,0.5,0.3,1.0,0.1,0.2,1,2,3\ne2,0.6,1e60,1.1,0.2,0.3,4,5,6\n")
    writeCsv(a, "molecularProfiles$rna$rowData.csv", ".features\nENSG00000001.5\nENSG00000002.1\n")
    writeCsv(a, "molecularProfiles$rna$colData.csv", "cellid\nc1\nc1\nc2\n")
    writeCsv(a, "annotation.txt", "PSetA annotation\n")

    val b = Files.createDirectory(root.resolve("PSetB_PSet"))
    writeCsv(b, "cell.csv", "cellid,tissueid\nc2,breast\nc3,mystery_tissue\n")
    writeCsv(b, "drug.csv", "drugid,smiles,inchikey,cid,FDA\nd2,CN,IK2,42.0,false\nd3,CO,IK3,7.0,true\n")
    writeCsv(b, "sensitivity$info.csv", ".rownames,cellid,drugid\ne3,c2,d3\n")
    writeCsv(b, "sensitivity$raw.Dose.csv", ".exp_id,doses1\ne3,0.4\n")
    writeCsv(b, "sensitivity$raw.Viability.csv", ".exp_id,doses1\ne3,77.0\n")
    writeCsv(b, "sensitivity$profiles.csv",
      ".rownames,aac_recomputed,ic50_recomputed,HS,einf,ec50,DSS1,DSS2,DSS3\n" +
        "e3,0.7,0.4,1.2,0.3,0.4,7,8,9\n")
    writeCsv(b, "molecularProfiles$rna$rowData.csv", ".features\nENSG00000002.3\nENSG00000003.9\n")
    writeCsv(b, "molecularProfiles$rna$colData.csv", "cellid\nc2\nc3\n")
    root.toString
  }

  private lazy val outRoot = Files.createTempDirectory("psetout").toString
  private lazy val finalDir = Files.createTempDirectory("psetfinal").toString

  private lazy val consolidated: Map[String, org.apache.spark.sql.DataFrame] = {
    for (name <- Seq("PSetA", "PSetB")) {
      val pset = PSetReader.read(spark, root, name)
      PSetBuilders.writeAll(PSetBuilders.buildAll(spark, pset), name, outRoot)
    }
    val meta = Seq(("d1", "PDB1"), ("d2", "PDB2"), ("d3", "PDB3"))
      .toDF("name", "compound_uid")
    // drop the mystery tissue from the tissue dim so the unmatched-FK
    // audit path fires for PSetB's c3
    Consolidator.combineAll(spark, outRoot, finalDir, meta)
  }

  test("reader parses $-separated names and slot paths") {
    val pset = PSetReader.read(spark, root, "PSetA")
    assert(pset.has("cell"))
    assert(pset.has("sensitivity", "info"))
    assert(pset.has("molecularProfiles", "rna", "rowData"))
    assert(pset.subitems("molecularProfiles") == Seq("rna"))
    assert(PSetReader.cleanSegment("raw.Dose.csv") == "raw.Dose")
  }

  test("per-PSet build: gene versions stripped, dose/viability melted with NA drop") {
    val pset = PSetReader.read(spark, root, "PSetA")
    val dfs = PSetBuilders.buildAll(spark, pset)
    val genes = dfs("gene").as[String].collect().toSet
    assert(genes == Set("ENSG00000001", "ENSG00000002"))
    // e2 dose2 is NA => only 3 dose_response rows
    val dr = dfs("dose_response").collect()
    assert(dr.length == 3)
    val stats = dfs("dataset_statistics").head()
    assert(stats.getAs[Long]("cell_lines") == 2 && stats.getAs[Long]("experiments") == 2)
    val molCell = dfs("mol_cell").select("cell_id", "num_prof")
      .as[(String, Int)].collect().toMap
    assert(molCell == Map("c1" -> 2, "c2" -> 1))
  }

  /** PSetB's export without its molecularProfiles files. */
  private lazy val noMolRoot: String = {
    val dir = Files.createTempDirectory("minipsets-nomol")
    val b = Files.createDirectory(dir.resolve("PSetC_PSet"))
    Files.list(Path.of(root, "PSetB_PSet")).toArray.map(_.asInstanceOf[Path])
      .filterNot(_.getFileName.toString.startsWith("molecularProfiles"))
      .foreach(f => Files.copy(f, b.resolve(f.getFileName)))
    dir.toString
  }

  test("every built table has its declared schema, with or without molecularProfiles") {
    for ((r, name) <- Seq(root -> "PSetA", root -> "PSetB", noMolRoot -> "PSetC")) {
      val dfs = PSetBuilders.buildAll(spark, PSetReader.read(spark, r, name))
      val expected = PSetBuilders.Schemas.keySet --
        (if (name == "PSetC") Set("gene", "gene_annotation", "mol_cell") else Set.empty)
      assert(dfs.keySet == expected, name)
      for ((t, df) <- dfs)
        assert(org.apache.spark.sql.types.StructType(df.schema.map(_.copy(nullable = true))) ==
          PSetBuilders.Schemas(t), s"$name $t")
      if (name == "PSetC")
        assert(dfs("dataset_statistics").as[(String, Long, Long, Long, Long, Long)].collect()
          .toSeq == Seq(("PSetC", 2L, 2L, 2L, 1L, 0L)))
    }
  }

  test("buildAll runs no Spark job") {
    val pset = PSetReader.read(spark, root, "PSetA")
    val (build, marker) = Seq("build", "marker").map(g => s"$g-${java.util.UUID.randomUUID()}") match {
      case Seq(b, m) => (b, m)
    }
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      try {
        spark.sparkContext.setJobGroup(build, "buildAll")
        PSetBuilders.buildAll(spark, pset)
        // the bus delivers in order: once the marker's job is heard, any
        // job buildAll started has been heard too
        spark.sparkContext.setJobGroup(marker, "marker")
        spark.range(1).count()
      } finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(marker))
      assert(!groups.contains(build))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("combineAll releases every dense-id pin and its audit frames stay readable") {
    consolidated // the per-PSet tables under outRoot
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val audits = scala.collection.mutable.ArrayBuffer[(String, org.apache.spark.sql.DataFrame)]()
    val meta = Seq(("d1", "PDB1")).toDF("name", "compound_uid")
    val out = Consolidator.combineAll(spark, outRoot,
      Files.createTempDirectory("psetfinal-pins").toString, meta, (w, df) => audits += (w -> df))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(out("experiment").count() == 3)
    val unmatched = audits.map { case (w, df) =>
      w -> df.collect().map(r => String.valueOf(r.get(0))).toSet }.toMap
    assert(unmatched.values.forall(_.isEmpty), unmatched.toString)
    // the order a one-table-at-a-time consolidation reports them in
    assert(audits.map(_._1).toSeq == Seq("cell.tissue", "compound_annotation.compound",
      "dataset_cell.dataset", "dataset_cell.cell", "dataset_tissue.dataset",
      "dataset_tissue.tissue", "dataset_compound.dataset", "dataset_compound.compound",
      "mol_cell.cell", "mol_cell.dataset", "dataset_statistics.dataset",
      "experiment.cell", "experiment.compound", "experiment.dataset", "experiment.tissue",
      "dose_response.dataset", "dose_response.experiment",
      "profile.dataset", "profile.experiment"))
  }

  test("consolidation: dense ids, cross-PSet dedup, surrogate FK mapping") {
    val tissue = consolidated("tissue")
    val names = tissue.orderBy("id").select("name").as[String].collect().toSeq
    assert(names == names.sorted, "tissue ids assigned in name order")
    assert(tissue.select("id").as[Long].collect().toSet == (1L to names.length).toSet)

    // c2 appears in both PSets -> exactly one consolidated cell row
    val cell = consolidated("cell")
    assert(cell.filter(col("name") === "c2").count() == 1)
    // cell tissue_id values are surrogate ids from the tissue table
    val tissueIds = tissue.select("id").as[Long].collect().toSet
    assert(cell.select("tissue_id").as[Long].collect().forall(tissueIds))

    // experiment family mapped end-to-end: 3 experiments, 4 dose_response rows
    assert(consolidated("experiment").count() == 3)
    assert(consolidated("dose_response").count() == 4)
  }

  test("profile IC50 clamped at 1e54 (combine_pset_tables.py:173)") {
    val ic50 = consolidated("profile").agg(max("IC50")).head().getDouble(0)
    assert(ic50 <= 1e54)
  }

  test("compound table carries curated compound_uid (combine_pset_tables.py:73-81)") {
    val uid = consolidated("compound").filter(col("name") === "d2")
      .select("compound_uid").as[String].head()
    assert(uid == "PDB2")
  }

  test("synonym builder: melt + regex dataset normalization + FK map") {
    val meta = Seq(
      ("c1", "PSetA_cell", "GDSC_cell"),
      ("c2", "PSetB_cell", null))
      .toDF("unique.cellid", "PSetA.cellid", "GDSC.cellid")
    // dataset table: PSetA/PSetB from consolidation; add GDSC_v2 row
    val ds = consolidated("dataset").select("id", "name")
      .union(Seq((99L, "GDSC_v2")).toDF("id", "name"))
    val syn = SynonymBuilders.buildCellSynonyms(
      meta, consolidated("cell"), ds, Seq("PSetA", "PSetB", "GDSC"))
    val rows = syn.select("cell_name", "dataset_id").as[(String, Long)].collect().toSet
    val psetAId = consolidated("dataset").filter(col("name") === "PSetA")
      .select("id").as[Long].head()
    assert(rows.contains(("PSetA_cell", psetAId)))
    assert(rows.contains(("GDSC_cell", 99L))) // GDSC -> GDSC_v2 rule
    // dense ids 1..n
    val ids = syn.select("id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to ids.length))
  }
}

class CellosaurusSpec extends SparkSpec {
  import spark.implicits._

  test("record parse: header skip, '//' boundaries, '|||' multimap, pivot, cell join") {
    val header = (1 to 55).map(i => s"header line $i")
    val body = Seq(
      "ID   CELL_A", "AC   CVCL_0001", "SY   synA1; synA2",
      "DR   DB; one", "DR   DB; two", "//",
      "ID   CELL_B", "AC   CVCL_0002", "CA   Cancer cell line", "//")
    val path = java.nio.file.Files.createTempFile("cello", ".txt")
    java.nio.file.Files.writeString(path, (header ++ body).mkString("\n") + "\n")

    val parsed = Cellosaurus.parse(spark, path.toString)
    val recA = parsed.filter(col("identifier") === "CELL_A").head()
    assert(recA.getAs[String]("accession") == "CVCL_0001")
    assert(recA.getAs[String]("dr") == "DB; one|||DB; two")

    val cellDf = Seq((1L, "CELL_A"), (2L, "CELL_X")).toDF("id", "name")
    val built = Cellosaurus.build(spark, path.toString, cellDf)
    val rows = built.select("identifier", "cell_id").as[(String, Long)].collect().toSeq
    assert(rows == Seq(("CELL_A", 1L))) // only matched cells survive
    assert(built.columns.contains("id"))
  }
}
