package graft

import graft.core.Par
import graft.pset._
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end orchestrator spec: raw exports -> Pipeline.run ->
  * consolidated + synonym + cellosaurus tables in one call. */
class PipelineOrchestratorSpec extends SparkSpec {
  import spark.implicits._

  test("Pipeline.run produces consolidated, synonym and cellosaurus tables") {
    val root = Files.createTempDirectory("orch").toString
    val dir = new java.io.File(s"$root/Mini_PSet"); dir.mkdirs()
    def w(n: String, s: String): Unit =
      Files.writeString(java.nio.file.Paths.get(dir.getPath, n), s)
    w("cell.csv", "cellid,tissueid\nc1,lung\nc2,breast\n")
    w("drug.csv", "drugid,smiles,inchikey,cid,FDA\nd1,CC,IK1,1.0,true\n")
    w("sensitivity$info.csv", ".rownames,cellid,drugid\ne1,c1,d1\n")
    w("sensitivity$raw.Dose.csv", ".exp_id,doses1\ne1,0.5\n")
    w("sensitivity$raw.Viability.csv", ".exp_id,doses1\ne1,42.0\n")
    w("sensitivity$profiles.csv",
      ".rownames,aac_recomputed,ic50_recomputed,HS,einf,ec50,DSS1,DSS2,DSS3\ne1,0.5,0.3,1,0.1,0.2,1,2,3\n")
    w("molecularProfiles$rna$rowData.csv", ".features\nENSG1.2\n")
    w("molecularProfiles$rna$colData.csv", "cellid\nc1\n")

    val cello = Files.createTempFile("cello", ".txt")
    Files.writeString(cello,
      ((1 to 55).map(i => s"h$i") ++
        Seq("ID   c1", "AC   CVCL_9", "CA   line", "//")).mkString("\n") + "\n")

    // full 17-column gene-signature export shape (one row, dataset Mini)
    val geneSig = Seq(("ENSG1.5", "d1", "Mini", "lung", Some(0.01)))
      .toDF("gene", "compound", "dataset", "tissue", "fdr_permutation")
      .withColumn("estimate", lit(0.5)).withColumn("lower_analytic", lit(0.1))
      .withColumn("upper_analytic", lit(0.9)).withColumn("lower_permutation", lit(0.1))
      .withColumn("upper_permutation", lit(0.9)).withColumn("n", lit(10))
      .withColumn("pvalue_analytic", lit(0.05)).withColumn("pvalue_permutation", lit(0.04))
      .withColumn("df", lit(8)).withColumn("fdr_analytic", lit(0.2))
      .withColumn("significant_permutation", lit(1)).withColumn("mDataType", lit("rna"))

    val cfg = PipelineConfig(
      rawDir = root,
      workDir = Files.createTempDirectory("orch-work").toString,
      finalDir = Files.createTempDirectory("orch-final").toString,
      psetNames = Seq("Mini"),
      cellosaurusPath = Some(cello.toString),
      cellSynonymMeta = Some(Seq(("c1", "c1_alias"))
        .toDF("unique.cellid", "Mini.cellid")),
      tissueSynonymMeta = Some(Seq(("lung", "lung_alias"))
        .toDF("unique.tissueid", "Mini.tissueid")),
      compoundSynonymMeta = Some(Seq(("d1", "d1_syn"))
        .toDF("unique.drugid", "Mini.drugid")),
      gctSignature = Some(Seq(("ENSG1", "lung", "d1", 0.9, 0.5, "AAC", "rna"))
        .toDF("Gene", "Tissue", "Drug", "FWER_genes", "estimate", "sens_stat", "mDataType")),
      gcdSignature = Some(Seq(("ENSG1", "d1", "Mini", 0.7, "rna"))
        .toDF("gene", "compound", "dataset", "estimate", "mDataType")),
      geneSignatures = Some(geneSig),
      gencode = Some(Seq(("ENSG1.7", "GENE-ONE", 100L, 200L, "+", "chr1"))
        .toDF("gene_id", "gene_name", "start", "end", "strand", "seqnames")),
      chemblTargets = Some(Seq(("TargetA", 1L, "P001"))
        .toDF("name", "compound_id", "uniprot_id")),
      drugbankTargets = Some(Seq(("TargetB", "d1_syn", "P002"))
        .toDF("name", "compound_name", "uniprot_id")),
      uniprotToEnsembl = Some(Seq(("P001", "ENSG1"), ("P002", "ENSG1"))
        .toDF("uniprot_id", "ensembl_id")),
      clinicalStudies = Some(Seq(("NCT1", "http://x", "Recruiting", "d1_syn"))
        .toDF("nct", "link", "status", "compound_name")))

    val meta = Seq(("d1", "UID1")).toDF("name", "compound_uid")
    val tables = Pipeline.run(spark, cfg, meta)

    // golden-check: one call yields the COMPLETE table set a reference
    // user gets from build_all + combine_all + synonym/meta/target/
    // trial builders
    assert(tables.keySet == Set(
      "tissue", "gene", "dataset", "compound", "cell", "compound_annotation",
      "gene_annotation", "dataset_cell", "dataset_tissue", "dataset_compound",
      "mol_cell", "dataset_statistics", "experiment", "dose_response", "profile",
      "cell_synonym", "tissue_synonym", "compound_synonym", "cellosaurus",
      "gene_compound_tissue", "gene_compound_dataset",
      "gene_compound_tissue_dataset", "target", "compound_target",
      "gene_target", "clinical_trial", "compound_trial"))
    assert(tables("cell_synonym").filter(col("cell_name") === "c1_alias").count() == 1)
    assert(tables("cellosaurus").filter(col("identifier") === "c1").count() == 1)

    // phase 5: signature facts mapped to the consolidated surrogate ids
    assert(tables("gene_compound_tissue").select("gene_id", "compound_id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L)))
    assert(tables("gene_compound_dataset").select("gene_id", "dataset_id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L)))
    assert(tables("gene_compound_tissue_dataset").select("permutation_done")
      .as[Int].collect().toSeq == Seq(1))
    // gencode enrichment lands on gene_annotation without mangling rows
    assert(tables("gene_annotation")
      .filter(col("symbol") === "GENE-ONE").count() == 1)

    // phase 6: targets + trials resolve through compound_synonym
    assert(tables("target").select("name").as[String].collect().toSet ==
      Set("TargetA", "TargetB"))
    assert(tables("compound_target").count() == 2) // chembl direct + drugbank via synonym
    assert(tables("gene_target").select("gene_id").distinct()
      .as[Long].collect().toSeq == Seq(1L))
    assert(tables("clinical_trial").count() == 1)
    assert(tables("compound_trial").select("compound_id")
      .as[Long].collect().toSeq == Seq(1L))

    // final tables exist as parquet on disk
    for (n <- Seq("cell_synonym", "gene_compound_tissue", "target", "clinical_trial"))
      assert(new java.io.File(s"${cfg.finalDir}/$n.parquet").exists(), n)

    // every returned table carries the schema that inference gives a
    // bare read of the same file
    for ((n, df) <- tables)
      assert(df.schema == spark.read.parquet(s"${cfg.finalDir}/$n.parquet").schema, n)
  }

  /** The minimal one-cell Mini PSet export under `root`. */
  private def writeMiniPSet(root: String): Unit = {
    val dir = new java.io.File(s"$root/Mini_PSet"); dir.mkdirs()
    def w(n: String, s: String): Unit =
      Files.writeString(java.nio.file.Paths.get(dir.getPath, n), s)
    w("cell.csv", "cellid,tissueid\nc1,lung\n")
    w("drug.csv", "drugid,smiles,inchikey,cid,FDA\nd1,CC,IK1,1.0,true\n")
    w("sensitivity$info.csv", ".rownames,cellid,drugid\ne1,c1,d1\n")
    w("sensitivity$raw.Dose.csv", ".exp_id,doses1\ne1,0.5\n")
    w("sensitivity$raw.Viability.csv", ".exp_id,doses1\ne1,42.0\n")
    w("sensitivity$profiles.csv",
      ".rownames,aac_recomputed,ic50_recomputed,HS,einf,ec50,DSS1,DSS2,DSS3\ne1,0.5,0.3,1,0.1,0.2,1,2,3\n")
    w("molecularProfiles$rna$rowData.csv", ".features\nENSG1.2\n")
    w("molecularProfiles$rna$colData.csv", "cellid\nc1\n")
  }

  /** PSet `name` of a family whose members overlap: PSet k has cells
    * c{k}, c{k+1}, compounds d{k}, d{k+1}, two experiments (one with a
    * NA dose) and an experiment on an unlisted compound; genes
    * ENSG{k}, ENSG{k+1}. `profiles` replaces the profiles export. */
  private def writeFamilyPSet(root: String, name: String, k: Int,
      profiles: Option[String] = None): Unit = {
    val dir = new java.io.File(s"$root/${name}_PSet"); dir.mkdirs()
    def w(n: String, s: String): Unit =
      Files.writeString(java.nio.file.Paths.get(dir.getPath, n), s)
    val (a, b) = (k, k + 1)
    w("cell.csv", s"cellid,tissueid\nc$a,t${a % 2}\nc$b,t${b % 2}\n")
    w("drug.csv", s"drugid,smiles,inchikey,cid,FDA\nd$a,C$a,IK$a,$a.0,true\nd$b,C$b,IK$b,$b.0,false\n")
    w("sensitivity$info.csv",
      s".rownames,cellid,drugid\ne${k}_1,c$a,d$a\ne${k}_2,c$b,d$b\ne${k}_x,c$a,dX\n")
    w("sensitivity$raw.Dose.csv", s".exp_id,doses1,doses2\ne${k}_1,0.$a,0.$b\ne${k}_2,0.$b,NA\n")
    w("sensitivity$raw.Viability.csv", s".exp_id,doses1,doses2\ne${k}_1,9$a.0,5$a.0\ne${k}_2,8$b.0,NA\n")
    w("sensitivity$profiles.csv", profiles.getOrElse(
      ".rownames,aac_recomputed,ic50_recomputed,HS,einf,ec50,DSS1,DSS2,DSS3\n" +
        s"e${k}_1,0.$a,0.3,1,0.1,0.2,1,2,3\ne${k}_2,0.$b,1e60,1,0.1,0.2,4,5,6\n"))
    w("molecularProfiles$rna$rowData.csv", s".features\nENSG$a.1\nENSG$b.2\n")
    w("molecularProfiles$rna$colData.csv", s"cellid\nc$a\nc$a\nc$b\n")
  }

  test("concurrent PSet builds give the sequential result and the same audit calls") {
    val root = Files.createTempDirectory("orch-par").toString
    val names = Seq("PA", "PB", "PC")
    names.zipWithIndex.foreach { case (n, i) => writeFamilyPSet(root, n, i + 1) }
    val meta = Seq(("d1", "UID1"), ("d3", "UID3")).toDF("name", "compound_uid")
    val caller = Thread.currentThread()
    def run(): (Map[String, Seq[String]], Seq[(String, Set[String])], Boolean) = {
      val cfg = PipelineConfig(rawDir = root,
        workDir = Files.createTempDirectory("orch-par-work").toString,
        finalDir = Files.createTempDirectory("orch-par-final").toString,
        psetNames = names)
      val calls = scala.collection.mutable.ArrayBuffer[(String, DataFrame)]()
      var onCaller = true
      val tables = Pipeline.run(spark, cfg, meta, (what, df) => {
        onCaller &&= Thread.currentThread() eq caller
        calls += (what -> df)
      })
      (tables.map { case (n, df) => n -> df.collect().map(_.toString).toSeq.sorted },
        calls.toSeq.map { case (w, df) => w -> df.collect().map(r => String.valueOf(r.get(0))).toSet },
        onCaller)
    }
    val (seqTables, seqAudit, _) = Par.serially(run())
    val (parTables, parAudit, onCaller) = run()
    assert(parTables.keySet == seqTables.keySet)
    for (n <- seqTables.keys) assert(parTables(n) == seqTables(n), n)
    assert(seqTables("dataset").size == 3 && seqTables("cell").size == 4)
    assert(parAudit == seqAudit)
    assert(onCaller, "every audit call on the calling thread")
    assert(parAudit.collect { case (w, keys) if keys.nonEmpty => w -> keys } ==
      Seq("experiment.compound" -> Set("dX")))
  }

  test("a PSet whose build throws fails Pipeline.run with that exception and leaves no marker") {
    val root = Files.createTempDirectory("orch-fail").toString
    writeFamilyPSet(root, "PA", 1)
    writeFamilyPSet(root, "Bad", 2, profiles = Some("aac_recomputed,ic50_recomputed\n0.5,0.3\n"))
    writeFamilyPSet(root, "PC", 3)
    val cfg = PipelineConfig(rawDir = root,
      workDir = Files.createTempDirectory("orch-fail-work").toString,
      finalDir = Files.createTempDirectory("orch-fail-final").toString,
      psetNames = Seq("PA", "Bad", "PC"))
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, cfg,
      Seq(("d1", "UID1")).toDF("name", "compound_uid"), resumePerPset = true))
    assert(e.getMessage.contains("No experiment_id column in sensitivity profiles"))
    assert(!new java.io.File(s"${cfg.workDir}/Bad/_graft_pset_done").exists())
  }

  test("resumePerPset skips completed PSets and rebuilds after a crash (no marker)") {
    val root = Files.createTempDirectory("orch-r").toString
    writeMiniPSet(root)
    val cfg = PipelineConfig(
      rawDir = root,
      workDir = Files.createTempDirectory("orch-r-work").toString,
      finalDir = Files.createTempDirectory("orch-r-final").toString,
      psetNames = Seq("Mini"))
    val meta = Seq(("d1", "UID1")).toDF("name", "compound_uid")
    val probe = new java.io.File(s"${cfg.workDir}/Mini/Mini_cell.parquet")
    val marker = new java.io.File(s"${cfg.workDir}/Mini/_graft_pset_done")

    val first = Pipeline.run(spark, cfg, meta, resumePerPset = true)
    assert(marker.exists(), "marker stamped after the PSet's tables commit")
    val mtime1 = probe.lastModified()
    val cells1 = first("cell").collect().map(_.toString).toSeq

    // resumed run: phase 1 untouched, consolidated output identical
    val second = Pipeline.run(spark, cfg, meta, resumePerPset = true)
    assert(probe.lastModified() == mtime1, "completed PSet must be skipped")
    assert(second("cell").collect().map(_.toString).toSeq == cells1)

    // crash simulation: tables present but no marker -> full rebuild
    Thread.sleep(1100) // parquet dir mtime has second granularity on some fs
    assert(marker.delete())
    Pipeline.run(spark, cfg, meta, resumePerPset = true)
    assert(probe.lastModified() > mtime1, "unmarked PSet must rebuild")
    assert(marker.exists(), "rebuild re-stamps")

    // default (resume off) always rebuilds
    Thread.sleep(1100)
    val mtime2 = probe.lastModified()
    Pipeline.run(spark, cfg, meta)
    assert(probe.lastModified() > mtime2)
  }

  test("Pipeline.run reads and writes through Hadoop FileSystem URIs (file:)") {
    // rawDir/workDir/finalDir as `file:` URIs: PSet and per-PSet table
    // listings must go through the session's FileSystem, not java.io
    val root = Files.createTempDirectory("orch-uri").toString
    writeMiniPSet(root)
    val work = Files.createTempDirectory("orch-uri-work").toString
    val fin = Files.createTempDirectory("orch-uri-final").toString
    val cfg = PipelineConfig(rawDir = s"file:$root", workDir = s"file:$work",
      finalDir = s"file:$fin", psetNames = Seq("Mini"))
    val tables = Pipeline.run(spark, cfg, Seq(("d1", "UID1")).toDF("name", "compound_uid"))
    assert(tables("cell").count() == 1)
    assert(tables("experiment").count() == 1)
    assert(tables("dose_response").count() == 1)
    assert(new java.io.File(s"$work/Mini/Mini_cell.parquet").exists())
    assert(new java.io.File(s"$fin/experiment.parquet").exists())
  }
}
