package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{RangeJoin, WindowOps}
import graft.release.Filters
import graft.sources.CbioSinks

/** Consortium-release pipeline (SURVEY §3.3; reference
  * bin/database_to_staging.py → database_to_staging.py:1713-1956).
  *
  * Every stage is a pure DataFrame transform; the reference's two R
  * subprocesses (MAFinBED, mergeCheck) become a broadcast range-join
  * and a window pass. Stage order matches run_genie_filters
  * (database_to_staging.py:1074-1154):
  *
  *   1. MAFinBED (F3): variants must overlap their assay's padded BED
  *      regions → out-of-panel variants removed.
  *   2. mutationInCis (F4): adjacent same-sample variants < 6bp apart
  *      with ΔVAF < 5% → samples flagged, TOSS'd samples dropped.
  *   3. germline/gnomAD (F1): population AF > 5e-4 removed unless
  *      whitelisted (F2 containment in known-somatic sites).
  *   4. no-gene-panel (F5): samples whose SEQ_ASSAY_ID has no BED drop.
  *   5. oncotree mapping (J5/F6) + AGE conversion (F8) + PHI
  *      redaction (F7) on clinical; keep-list propagation (F10) to all
  *      genomic artifacts; cBioPortal sinks (S13-S15).
  */
object ReleaseJob {

  final case class ReleaseInputs(clinical: DataFrame, maf: DataFrame, bed: DataFrame,
                                 assayPadding: DataFrame, oncotree: DataFrame,
                                 somaticWhitelist: DataFrame)

  final case class ReleaseOutputs(clinical: DataFrame, maf: DataFrame,
                                  droppedSamples: DataFrame)

  /** F3: keep variants overlapping their assay's padded panel regions.
    * BED is panel-scale (small) → broadcast range join per SEQ_ASSAY_ID.
    */
  def mafInBed(maf: DataFrame, bed: DataFrame, assayPadding: DataFrame): DataFrame = {
    val paddedBed = bed
      .join(broadcast(assayPadding), Seq("SEQ_ASSAY_ID"), "left")
      .withColumn("PAD", coalesce(col("GENE_PADDING"), lit(10)))
      .select(col("SEQ_ASSAY_ID"), col("CHROMOSOME"),
        (col("START_POSITION") - col("PAD")).as("BED_START"),
        (col("END_POSITION") + col("PAD")).as("BED_END"))
    maf.join(
        broadcast(paddedBed),
        maf("SEQ_ASSAY_ID") === paddedBed("SEQ_ASSAY_ID") &&
          maf("CHROMOSOME") === paddedBed("CHROMOSOME") &&
          RangeJoin.overlaps(maf("START_POSITION"), maf("END_POSITION"),
            col("BED_START"), col("BED_END")),
        "left_semi")
  }

  /** F4: flag samples with adjacent in-cis variant pairs; returns the
    * sample ids to drop (TOSS policy).
    */
  def mutationInCisSamples(maf: DataFrame): DataFrame = {
    val withVaf = maf.withColumn("VAF",
      when(col("T_DEPTH").isNull || col("T_DEPTH") === 0, lit(1.0))
        .otherwise(col("T_ALT_COUNT") / col("T_DEPTH")))
    val d = WindowOps.adjacentDeltas(
      withVaf.select("TUMOR_SAMPLE_BARCODE", "CHROMOSOME", "START_POSITION", "VAF"),
      Seq("TUMOR_SAMPLE_BARCODE", "CHROMOSOME"), Seq("START_POSITION"),
      Seq("START_POSITION", "VAF"))
    d.filter(WindowOps.cisFlag(col("START_POSITION_delta"), col("VAF_delta"), lit(null)))
      .select(col("TUMOR_SAMPLE_BARCODE")).distinct()
  }

  /** F1+F2: germline AF filter with somatic-whitelist containment. */
  def germlineFilter(maf: DataFrame, whitelist: DataFrame, afCols: Seq[String],
                     threshold: Double = 5e-4): DataFrame = {
    val wl = whitelist.select(
      col("CHROMOSOME").as("WL_CHROM"),
      col("START_POSITION").as("WL_START"), col("END_POSITION").as("WL_END"))
    val flagged = maf.join(
        broadcast(wl),
        col("CHROMOSOME") === col("WL_CHROM") &&
          RangeJoin.contained(col("START_POSITION"), col("END_POSITION"),
            col("WL_START"), col("WL_END")),
        "left")
      .withColumn("WHITELISTED", col("WL_CHROM").isNotNull)
      .drop("WL_CHROM", "WL_START", "WL_END")
      .dropDuplicates(maf.columns.toIndexedSeq)
    flagged
      .filter(Filters.germlineKeep(afCols.map(col), threshold, col("WHITELISTED")))
      .drop("WHITELISTED")
  }

  /** Full release: returns filtered clinical + maf + the dropped-sample
    * audit table.
    */
  def run(in: ReleaseInputs): ReleaseOutputs = {
    // 1-2. variant-level filters
    val inBed   = mafInBed(in.maf, in.bed, in.assayPadding)
    val tossIds = mutationInCisSamples(inBed)
    val afterCis = inBed.join(broadcast(tossIds), Seq("TUMOR_SAMPLE_BARCODE"), "left_anti")
    val gnomadCols = in.maf.columns.filter(_.toUpperCase.startsWith("GNOMAD")).toSeq
    val mafClean = germlineFilter(afterCis, in.somaticWhitelist, gnomadCols)

    // 4. no-gene-panel filter on clinical
    val panels = in.bed.select("SEQ_ASSAY_ID").distinct()
    val clinicalWithPanel = in.clinical.join(broadcast(panels), Seq("SEQ_ASSAY_ID"), "left_semi")

    // 5. oncotree mapping + AGE + redaction
    val released = clinicalWithPanel
      .withColumn("ONCOTREE_CODE", upper(col("ONCOTREE_CODE")))
      .join(broadcast(in.oncotree), Seq("ONCOTREE_CODE"), "left")
      .filter(col("CANCER_TYPE").isNotNull) // F6: deprecated codes drop
      .withColumn("AGE_AT_SEQ_REPORT", Filters.daysToYears(col("AGE_AT_SEQ_REPORT")))
      .withColumn("BIRTH_YEAR", Filters.redactAge(col("BIRTH_YEAR")))

    // F10: propagate the final keep list back to the MAF
    val keep = released.select(col("SAMPLE_ID").as("TUMOR_SAMPLE_BARCODE"))
    val mafFinal = mafClean.join(broadcast(keep), Seq("TUMOR_SAMPLE_BARCODE"), "left_semi")

    val dropped = in.clinical.select("SAMPLE_ID")
      .except(released.select("SAMPLE_ID"))
    ReleaseOutputs(released, mafFinal, dropped)
  }

  /** data_gene_matrix.txt (database_to_staging.py:1595-1653 +
    * process_functions.py:1138-1157 `add_columns_to_data_gene_matrix`):
    * one row per sample with its mutations panel; the cna/sv columns
    * repeat the panel id when that PANEL has any CNA/SV sample (the
    * reference flags panels, not samples) and "NA" otherwise; WES
    * panels excluded; empty sample ids dropped.
    */
  def geneMatrix(clinical: DataFrame, cnaSamples: DataFrame, svSamples: DataFrame,
                 wesAssayIds: Seq[String] = Nil): DataFrame = {
    val base0 = clinical.select(col("SAMPLE_ID"), col("SEQ_ASSAY_ID").as("mutations"))
      .filter(col("SAMPLE_ID").isNotNull && col("SAMPLE_ID") =!= "")
      .dropDuplicates("SAMPLE_ID")
    val base =
      if (wesAssayIds.isEmpty) base0
      else base0.filter(!col("mutations").isInCollection(wesAssayIds))

    def flagColumn(df: DataFrame, samples: DataFrame, name: String): DataFrame = {
      val idCol = samples.columns.head
      // panels that have ≥1 flagged sample — tiny, broadcast both ways
      val seqids = df
        .join(broadcast(samples.select(col(idCol).as("SAMPLE_ID")).distinct()),
          Seq("SAMPLE_ID"), "left_semi")
        .select(col("mutations").as(s"__$name")).distinct()
      df.join(broadcast(seqids), col("mutations") === col(s"__$name"), "left")
        .withColumn(name, when(col(s"__$name").isNotNull, col("mutations")).otherwise(lit("NA")))
        .drop(s"__$name")
    }
    flagColumn(flagColumn(base, cnaSamples, "cna"), svSamples, "sv")
  }

  /** Everything a structurally complete consortium release carries
    * (database_to_staging.py:1358-1956). `bed` doubles as the
    * genomic_information source and the per-assay gene-panel source.
    */
  final case class FullReleaseInputs(clinicalSample: DataFrame,
                                     clinicalPatient: DataFrame,
                                     maf: DataFrame, cnaLong: DataFrame,
                                     seg: DataFrame, sv: DataFrame,
                                     bed: DataFrame, assayInfo: DataFrame)

  /** Write the COMPLETE release folder in the reference's versioned
    * layout (`Release <major>/<version>/…`, database_to_staging.py:
    * 2034-2125) and return the manifest (paths relative to the release
    * dir, sorted). `public = true` applies the consortium→public
    * differences (consortium_to_public.py:41-359): data_clinical.txt is
    * consortium-only (database_to_staging.py:2085).
    *
    * Every artifact's CONTENT comes out of a distributed plan; the
    * single-file names are the coalesce(1) publish step (release
    * artifacts are panel/clinical-scale, orders smaller than the input).
    *
    * The data artifacts and the id collects are independent (each
    * writes its own path or returns its own ids, none prints), so they
    * run as overlapped Spark actions ([[graft.core.Fan.overlap]]). The
    * fixed five case lists, the meta files, the manifest walk and the
    * data guide then run on the caller thread in a fixed order, after
    * every overlapped write has landed. File contents do not depend on
    * which action finishes first.
    */
  def writeFullRelease(in: FullReleaseInputs, baseDir: String, studyId: String,
                       genieVersion: String, public: Boolean = false): Seq[String] = {
    import graft.sources.Tsv
    val (releaseDir, caseListsDir) = CbioSinks.releaseFolderLayout(baseDir, genieVersion)
    def ids(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq
    def write(df: => DataFrame, name: String): () => Seq[String] =
      () => { Tsv.writeSingle(df, s"$releaseDir/$name"); Nil }
    def clinicalFile(df: DataFrame, headers: Map[String, CbioSinks.ClinicalHeader],
                     name: String): () => Seq[String] =
      () => { CbioSinks.writeClinical(df, headers, s"$releaseDir/$name"); Nil }

    // ---- the ids of the fixed case lists; the CNA thunk also writes
    // data_CNA.txt, whose matrix columns are the cna ids (panel-scale) ----
    val idThunks = Seq[() => Seq[String]](
      () => {
        val cnaSampleIds = ids(in.cnaLong.select("SAMPLE_ID").distinct().orderBy("SAMPLE_ID"))
        Tsv.writeSingle(graft.formats.CnaFormat.toWide(in.cnaLong, cnaSampleIds),
          s"$releaseDir/data_CNA.txt", naToken = "NA")
        cnaSampleIds
      },
      () => ids(in.clinicalSample.select("SAMPLE_ID").distinct()),
      () => ids(in.maf.select(col("TUMOR_SAMPLE_BARCODE").as("SAMPLE_ID")).distinct()
        .join(broadcast(in.clinicalSample.select("SAMPLE_ID").distinct()), Seq("SAMPLE_ID"), "left_semi")),
      () => ids(in.sv.select("SAMPLE_ID").distinct()))

    val writes = Seq[() => Seq[String]](
      // ---- clinical trio (database_to_staging.py:1358-1392) ----
      clinicalFile(in.clinicalSample,
        Map("SAMPLE_ID" -> CbioSinks.ClinicalHeader("Sample Identifier", "A unique sample identifier", "STRING"),
          "PATIENT_ID" -> CbioSinks.ClinicalHeader("Patient Identifier", "A unique patient identifier", "STRING")),
        "data_clinical_sample.txt"),
      clinicalFile(in.clinicalPatient,
        Map("PATIENT_ID" -> CbioSinks.ClinicalHeader("Patient Identifier", "A unique patient identifier", "STRING")),
        "data_clinical_patient.txt")) ++
      (if (public) Nil
       else Seq(write(in.clinicalSample.join(in.clinicalPatient, Seq("PATIENT_ID"), "left"),
         "data_clinical.txt"))) ++
      Seq(
        // ---- genomic artifacts ----
        write(in.maf, "data_mutations_extended.txt"),
        write(in.seg, "data_cna_hg19.seg"),
        write(in.sv, "data_sv.txt"),
        write(geneMatrix(in.clinicalSample,
          in.cnaLong.select("SAMPLE_ID"), in.sv.select("SAMPLE_ID")), "data_gene_matrix.txt"),
        write(in.assayInfo, "assay_information.txt"),
        write(in.bed, "genomic_information.txt"),
        // ---- case lists per cancer type ----
        () => {
          CbioSinks.writeCaseLists(in.clinicalSample, "CANCER_TYPE", "SAMPLE_ID",
            studyId, caseListsDir)
          Nil
        },
        // ---- per-assay gene panels (store_gene_panel_files,
        // database_to_staging.py:809-845): one groupBy pass, tiny output ----
        () => {
          in.bed
            .groupBy("SEQ_ASSAY_ID")
            .agg(sort_array(collect_set(graft.sources.Bed.cleanSymbol(col("HUGO_SYMBOL")))).as("genes"))
            .collect()
            .foreach { r =>
              val assay = r.getString(0)
              val genes = r.getAs[scala.collection.Seq[String]]("genes")
              val content = s"stable_id: $assay\ndescription: ${genes.length} genes\n" +
                s"gene_list: ${genes.mkString("\t")}\n"
              java.nio.file.Files.write(
                java.nio.file.Paths.get(s"$releaseDir/data_gene_panel_$assay.txt"),
                content.getBytes("UTF-8"))
            }
          Nil
        })

    val Seq(cnaIds, allIds, seqIds, svIds) =
      graft.core.Fan.overlap(idThunks ++ writes).take(idThunks.size)

    // ---- the fixed five case lists (create_case_lists.py:144-247) ----
    CbioSinks.writeCaseList(allIds, "all", "All samples", studyId, caseListsDir)
    CbioSinks.writeCaseList(seqIds, "sequenced", "Sequenced Tumors", studyId, caseListsDir)
    CbioSinks.writeCaseList(cnaIds, "cna", "Samples with CNA data", studyId, caseListsDir)
    CbioSinks.writeCaseList(svIds, "sv", "Samples with SV data", studyId, caseListsDir)
    CbioSinks.writeCaseList(cnaIds.intersect(seqIds), "cnaseq",
      "Samples with CNA and mutation data", studyId, caseListsDir)

    // ---- meta files (database_to_staging.py:1960-2006) ----
    CbioSinks.writeMetaStudy(studyId, "GENIE-like", "Test cohort", genieVersion, releaseDir)
    CbioSinks.writeMetaClinical(studyId, patientLevel = false, releaseDir)
    CbioSinks.writeMetaClinical(studyId, patientLevel = true, releaseDir)
    CbioSinks.writeMetaMaf(studyId, releaseDir)

    // ---- manifest ----
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(releaseDir)
    val walked = java.nio.file.Files.walk(base)
    val artifacts =
      try walked.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString)
        // a re-release over an existing dir must not list the previous
        // run's guide (it is re-rendered and re-appended below)
        .filter(_ != "data_guide.md")
        .toSeq.sorted
      finally walked.close()

    // ---- data guide (templates/data_guide_template.Rnw:1-502, the
    // release-time documentation artifact): rendered from the gated
    // release inputs + the artifact list just written ----
    graft.stats.DataGuide.write(
      graft.stats.DataGuide.render(genieVersion, in.assayInfo,
        dataFiles = artifacts,
        clinicalColumns =
          (in.clinicalSample.columns ++ in.clinicalPatient.columns).toSeq.distinct),
      s"$releaseDir/data_guide.md")
    (artifacts :+ "data_guide.md").sorted
  }

  /** Release-dashboard wiki document (R/dashboard_markdown_generator.R —
    * a SEPARATE job in the reference, rendered from the release's own
    * files and stored on the release folder's wiki; not part of the
    * database_to_staging.py artifact manifest). CENTER is derived from
    * the identifier prefix exactly like the template's
    * createCenterColumn (dashboardTemplate.Rmd:30-37). Returns the
    * rendered markdown (also written to `outDir/dashboard.md`).
    */
  def writeDashboardWiki(out: ReleaseOutputs, outDir: String, release: String): String = {
    import graft.stats.{Dashboard, DashboardWiki}
    // try_element_at: a dashless id must not kill the render under ANSI
    // mode — it lands in a NULL center bucket instead
    val clinC = out.clinical.withColumn("CENTER",
      try_element_at(split(col("PATIENT_ID"), "-"), lit(2)))
    val mafC = out.maf.withColumn("CENTER",
      try_element_at(split(col("TUMOR_SAMPLE_BARCODE"), "-"), lit(2)))
    val failed =
      if (mafC.columns.contains("Annotation_Status"))
        Dashboard.failedAnnotationCounts(mafC, Seq("CENTER"))
      else // no annotation column in this release → an empty summary
        mafC.filter(lit(false)).groupBy("CENTER").agg(count(lit(1)).as("n_failed"))
    val attrs = Seq("PRIMARY_RACE" -> "Race", "ETHNICITY" -> "Ethnicity", "SEX" -> "Sex")
      .filter { case (c, _) => clinC.columns.contains(c) }
      .map { case (c, label) =>
        label -> Dashboard.centerCategoryDistribution(clinC, "CENTER", c)
          .orderBy("CENTER", c)
      }
    val md = DashboardWiki.render(release,
      Dashboard.releaseContent(clinC, mafC, "CENTER", "SAMPLE_ID").orderBy("Center"),
      failed, attrs)
    DashboardWiki.write(md, s"$outDir/dashboard.md")
    md
  }

  /** Write release artifacts in cBioPortal layout. */
  def writeArtifacts(out: ReleaseOutputs, outDir: String, studyId: String): Unit = {
    CbioSinks.writeClinical(
      out.clinical.select("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "AGE_AT_SEQ_REPORT", "SEQ_ASSAY_ID"),
      Map("SAMPLE_ID" -> CbioSinks.ClinicalHeader("Sample Identifier", "A unique sample identifier", "STRING"),
        "CANCER_TYPE" -> CbioSinks.ClinicalHeader("Cancer Type", "Oncotree-mapped cancer type", "STRING")),
      s"$outDir/data_clinical_sample.txt")
    graft.sources.Tsv.write(out.maf, s"$outDir/data_mutations_extended", naToken = "")
    CbioSinks.writeCaseLists(out.clinical, "CANCER_TYPE", "SAMPLE_ID", studyId, s"$outDir/case_lists")
  }
}
