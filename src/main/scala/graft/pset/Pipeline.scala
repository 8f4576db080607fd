package graft.pset

import graft.core.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single entry point for the full PharmacoDI workload — the Spark
  * analog of running the reference's build_all_pset_tables +
  * combine_all_pset_tables + synonym/meta/cellosaurus builders
  * (/root/reference/PharmacoDI/build_all_pset_tables.py:30-78,
  * combine_pset_tables.py:27-47). A user of the reference points this
  * at the same inputs and gets the same ~25 tables as parquet.
  *
  * @param rawDir       directory containing `{name}_PSet` export dirs
  * @param workDir      per-PSet intermediate tables (parquet)
  * @param finalDir     consolidated output tables (parquet)
  * @param compoundMeta curated (name, compound_uid) metadata
  *                     (drugs_with_ids — combine_pset_tables.py:73-81)
  *
  * Phase-5 inputs (meta/statistics tables from gene-signature exports —
  * build_meta_tables.py, build_gene_compound_tissue_dataset_tables.py):
  * @param gctSignature      gene-compound-tissue signature export
  * @param gcdSignature      gene-compound-dataset signature export
  * @param geneSignatures    per-dataset GCTD signature exports (one
  *                          frame; rows filtered per PSet by `dataset`)
  * @param compoundNamePatch corrected (drugid, unique.drugid, dataset)
  *                          names (build_meta_tables.py:199-208)
  * @param gencode           Gencode annotation for genomic coordinates
  *                          (map_genes_to_genomic_coordinates.py:20-68)
  *
  * Phase-6 inputs (external-enrichment snapshots — the pre-fetched API
  * dumps the reference consumes, build_target_tables.py:41-59,
  * build_clinical_trial_tables.py:30-74):
  * @param chemblTargets    (name, compound_id, uniprot_id)
  * @param drugbankTargets  (name, compound_name, uniprot_id)
  * @param uniprotToEnsembl (uniprot_id, ensembl_id) mapping
  * @param clinicalStudies  (nct, link, status, compound_name)
  */
final case class PipelineConfig(
    rawDir: String,
    workDir: String,
    finalDir: String,
    psetNames: Seq[String],
    cellosaurusPath: Option[String] = None,
    cellSynonymMeta: Option[DataFrame] = None,
    tissueSynonymMeta: Option[DataFrame] = None,
    compoundSynonymMeta: Option[DataFrame] = None,
    gctSignature: Option[DataFrame] = None,
    gcdSignature: Option[DataFrame] = None,
    geneSignatures: Option[DataFrame] = None,
    compoundNamePatch: Option[DataFrame] = None,
    gencode: Option[DataFrame] = None,
    chemblTargets: Option[DataFrame] = None,
    drugbankTargets: Option[DataFrame] = None,
    uniprotToEnsembl: Option[DataFrame] = None,
    clinicalStudies: Option[DataFrame] = None)

object Pipeline {

  /** Phase 1+2: per-PSet builds, then cross-PSet consolidation.
    * Returns the consolidated tables; synonym/cellosaurus phases run
    * when their inputs are configured.
    *
    * Each PSet is an independent Spark job DAG writing its own
    * directory, so phase 1 builds the PSets concurrently, and each
    * PSet writes its tables concurrently; phase 2 consolidates in
    * concurrent dependency waves ([[Consolidator.combineAll]]). At
    * most `defaultParallelism` thunks run at once per level
    * ([[graft.core.Par.all]]). The first failure cancels the other
    * PSets' jobs and is rethrown as it was raised. `audit` is called
    * on the calling thread only.
    *
    * `resumePerPset` makes phase 1 restartable at PSet granularity —
    * the unit the reference also checkpoints at (each PSet's tables
    * are written to disk before combining, build_all_pset_tables.py:
    * 30-78): a `_graft_pset_done` marker is stamped AFTER a PSet's
    * full table set commits, and a resumed run skips marked PSets. A
    * crash mid-build leaves no marker, so that PSet (and only it)
    * rebuilds — with hundreds of PSets at production scale, a died
    * run redoes one unit instead of the whole phase. Opt-in because
    * skipping is only sound while the raw exports are unchanged;
    * delete the marker (or the PSet's workDir) to force a rebuild. */
  def run(spark: SparkSession, cfg: PipelineConfig, compoundMeta: DataFrame,
      audit: (String, DataFrame) => Unit = (_, _) => (),
      resumePerPset: Boolean = false): Map[String, DataFrame] = {

    // Phase 1: per-PSet table builds (E1)
    graft.core.Par.all(cfg.psetNames.map { name => () =>
      val done = new org.apache.hadoop.fs.Path(
        s"${cfg.workDir}/$name/_graft_pset_done")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!(resumePerPset && graft.core.Markers.read(fs, done).isDefined)) {
        val pset = PSetReader.read(spark, cfg.rawDir, name)
        val tables = PSetBuilders.buildAll(spark, pset)
        PSetBuilders.writeAll(tables, name, cfg.workDir)
        // stamped only after every table committed; content lists the
        // tables for operator inspection
        graft.core.Markers.forceWrite(fs, done, tables.keys.toSeq.sorted.mkString("\n"))
      }
    })

    // Phase 2: cross-PSet consolidation (E2)
    var tables = Consolidator.combineAll(spark, cfg.workDir, cfg.finalDir,
      compoundMeta, audit)

    // Phases 3-6 build over the caller's frames and the written tables;
    // the dense-id pins a build takes are read by its own write only
    // (clinical_trial's also by compound_trial's), so each write
    // releases them, leaving any pin of the caller's frames alone
    val inputs = compoundMeta +: cfg.productIterator.collect { case Some(df: DataFrame) => df }.toSeq
    def writeFinal(name: String, df: DataFrame, release: Boolean = true): Unit =
      try tables += name -> Consolidator.writeRead(df, s"${cfg.finalDir}/$name.parquet")
      finally if (release) Materialize.release(df, keep = inputs)

    // Phase 3: synonyms (E3) — driven by configured curation metadata
    cfg.cellSynonymMeta.foreach { meta =>
      writeFinal("cell_synonym", SynonymBuilders.buildCellSynonyms(
        meta, tables("cell"), tables("dataset"), cfg.psetNames))
    }
    cfg.tissueSynonymMeta.foreach { meta =>
      writeFinal("tissue_synonym", SynonymBuilders.buildTissueSynonyms(
        meta, tables("tissue"), tables("dataset"), cfg.psetNames))
    }
    cfg.compoundSynonymMeta.foreach { meta =>
      writeFinal("compound_synonym", SynonymBuilders.buildCompoundSynonyms(
        meta, tables("compound"), tables("dataset"), cfg.psetNames))
    }

    // Phase 4: Cellosaurus enrichment
    cfg.cellosaurusPath.foreach { path =>
      writeFinal("cellosaurus", Cellosaurus.build(spark, path, tables("cell")))
    }

    // Phase 5: meta/statistics tables from gene-signature exports (E4).
    // Count-shaped audits reuse the DataFrame audit channel as one-row
    // frames so a single callback observes every phase.
    import spark.implicits._
    val countAudit: (String, Long) => Unit =
      (what, n) => audit(what, Seq(n).toDF("n_unmatched"))

    cfg.gctSignature.foreach { sig =>
      writeFinal("gene_compound_tissue", MetaBuilders.buildGeneCompoundTissue(
        sig, tables("gene"), tables("compound"), tables("tissue")))
    }
    cfg.gcdSignature.foreach { sig =>
      writeFinal("gene_compound_dataset", MetaBuilders.buildGeneCompoundDataset(
        sig, tables("gene"), tables("compound"), tables("dataset"),
        cfg.compoundNamePatch, countAudit))
    }
    cfg.geneSignatures.foreach { sig =>
      val perPset = cfg.psetNames.map(
        MetaBuilders.buildGeneCompoundTissueDatasetPerPset(sig, _))
      writeFinal("gene_compound_tissue_dataset",
        MetaBuilders.buildGeneCompoundTissueDataset(perPset, tables("gene"),
          tables("compound"), tables("tissue"), tables("dataset"), countAudit))
    }
    cfg.gencode.foreach { gc =>
      // staged through workDir: gene_annotation.parquet cannot be
      // overwritten while the enrichment plan still reads it lazily
      val before = tables("gene_annotation").count()
      val enriched = Consolidator.writeRead(MetaBuilders.mapGenomicCoordinates(
          tables("gene_annotation"), tables("gene"), gc),
        s"${cfg.workDir}/gene_annotation_enriched.parquet")
      // reference raises if the join mangles rows
      // (map_genes_to_genomic_coordinates.py:60-64)
      require(enriched.count() == before,
        s"genomic-coordinate join changed gene_annotation row count ($before -> ${enriched.count()})")
      writeFinal("gene_annotation", enriched)
    }

    // Phase 6: external-enrichment tables (E5) — targets from
    // ChEMBL+DrugBank snapshots, clinical trials; compound links
    // resolve through the phase-3 compound_synonym table.
    for (ch <- cfg.chemblTargets; db <- cfg.drugbankTargets) {
      writeFinal("target", EnrichmentBuilders.buildTarget(ch, db))
      tables.get("compound_synonym").foreach { syn =>
        writeFinal("compound_target",
          EnrichmentBuilders.buildCompoundTarget(ch, db, tables("target"), syn))
      }
      cfg.uniprotToEnsembl.foreach { u2e =>
        writeFinal("gene_target", EnrichmentBuilders.buildGeneTarget(
          ch, db, tables("target"), u2e, tables("gene")))
      }
    }
    for (studies <- cfg.clinicalStudies; syn <- tables.get("compound_synonym")) {
      val (trials, compoundTrial) =
        EnrichmentBuilders.buildClinicalTrialTables(studies, syn)
      try {
        writeFinal("clinical_trial", trials, release = false)
        writeFinal("compound_trial", compoundTrial)
      } finally Materialize.release(trials, keep = inputs)
    }

    tables
  }
}
