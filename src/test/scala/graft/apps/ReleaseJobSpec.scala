package graft.apps

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Oncotree

class ReleaseJobSpec extends SparkSpec {
  import spark.implicits._

  private def inputs = {
    val clinical = Seq(
      // sample, patient, age days, oncotree, assay, birth year
      ("GENIE-C-p1-s1", "GENIE-C-p1", "12000", "LUAD", "C-A1", "1950"),
      ("GENIE-C-p2-s2", "GENIE-C-p2", ">32485", "NSCLC", "C-A1", ">89"),
      ("GENIE-C-p3-s3", "GENIE-C-p3", "9000", "GONE", "C-A1", "1960"),  // deprecated code → dropped
      ("GENIE-C-p4-s4", "GENIE-C-p4", "8000", "LUAD", "C-NOBED", "1970"), // no panel → dropped
      ("GENIE-C-p5-s5", "GENIE-C-p5", "7000", "LUAD", "C-A1", "1980")   // cis-flagged below
    ).toDF("SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE", "SEQ_ASSAY_ID", "BIRTH_YEAR")

    val maf = Seq(
      // barcode, chrom, start, end, assay, t_depth, t_alt, gnomad af
      ("GENIE-C-p1-s1", "1", 150L, 151L, "C-A1", 100.0, 30.0, 0.0),     // keep
      ("GENIE-C-p1-s1", "1", 5000L, 5001L, "C-A1", 100.0, 30.0, 0.0),   // out of panel → drop
      ("GENIE-C-p1-s1", "2", 150L, 151L, "C-A1", 100.0, 30.0, 0.01),    // germline AF → drop
      ("GENIE-C-p2-s2", "2", 900L, 901L, "C-A1", 100.0, 30.0, 0.01),    // germline but whitelisted → keep
      ("GENIE-C-p5-s5", "1", 200L, 201L, "C-A1", 100.0, 30.0, 0.0),     // cis pair →
      ("GENIE-C-p5-s5", "1", 203L, 204L, "C-A1", 100.0, 31.0, 0.0)      // sample TOSS'd
    ).toDF("TUMOR_SAMPLE_BARCODE", "CHROMOSOME", "START_POSITION", "END_POSITION",
      "SEQ_ASSAY_ID", "T_DEPTH", "T_ALT_COUNT", "GNOMAD_AF")

    val bed = Seq(
      ("C-A1", "1", 100L, 300L), ("C-A1", "2", 100L, 1000L)
    ).toDF("SEQ_ASSAY_ID", "CHROMOSOME", "START_POSITION", "END_POSITION")

    val padding = Seq(("C-A1", 10)).toDF("SEQ_ASSAY_ID", "GENE_PADDING")

    val oncotree = Oncotree.toDataFrame(spark, Seq(
      Oncotree.Node("LUAD", "LUNG", "NSCLC", "Non-Small Cell Lung Cancer", "Lung Adenocarcinoma"),
      Oncotree.Node("NSCLC", "LUNG", "", "Non-Small Cell Lung Cancer", "NSCLC")))

    val whitelist = Seq(("2", 890L, 910L))
      .toDF("CHROMOSOME", "START_POSITION", "END_POSITION")

    ReleaseJob.ReleaseInputs(clinical, maf, bed, padding, oncotree, whitelist)
  }

  test("release pipeline applies F1-F10 in reference order") {
    val out = ReleaseJob.run(inputs)

    val samples = out.clinical.select("SAMPLE_ID").as[String].collect().toSet
    assert(samples == Set("GENIE-C-p1-s1", "GENIE-C-p2-s2", "GENIE-C-p5-s5"))

    val dropped = out.droppedSamples.as[String].collect().toSet
    assert(dropped == Set("GENIE-C-p3-s3", "GENIE-C-p4-s4"))

    val variants = out.maf
      .select("TUMOR_SAMPLE_BARCODE", "CHROMOSOME", "START_POSITION")
      .as[(String, String, Long)].collect().toSet
    // p1: in-panel non-germline variant kept, out-of-panel + germline dropped
    // p2: whitelisted germline kept; p5: cis-TOSS'd sample gone entirely
    assert(variants == Set(
      ("GENIE-C-p1-s1", "1", 150L),
      ("GENIE-C-p2-s2", "2", 900L)))

    // F8/F7 applied: day ages → years, sentinels redacted
    val byId = out.clinical.select("SAMPLE_ID", "AGE_AT_SEQ_REPORT", "BIRTH_YEAR")
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId("GENIE-C-p1-s1") == (("32", "1950")))
    assert(byId("GENIE-C-p2-s2") == ((">89", "cannotReleaseHIPAA")))
  }

  test("artifacts: cBioPortal layout written end-to-end") {
    val dir = tmpDir("release")
    val out = ReleaseJob.run(inputs)
    ReleaseJob.writeArtifacts(out, dir, "genie_test")
    val clinical = scala.io.Source.fromFile(s"$dir/data_clinical_sample.txt").getLines().toSeq
    assert(clinical.take(4).forall(_.startsWith("#")))
    assert(clinical.exists(_.contains("Non-Small Cell Lung Cancer")))
    assert(new java.io.File(s"$dir/case_lists").listFiles().nonEmpty)
  }

  test("dashboard wiki: rendered from the release outputs with derived centers") {
    val dir = tmpDir("release-wiki")
    val out = ReleaseJob.run(inputs)
    val md = ReleaseJob.writeDashboardWiki(out, dir, "15.1-consortium")
    assert(md.startsWith("---\ntitle: '15.1-consortium'\n---"))
    // template sections present and ordered
    val sections = Seq("## Sample and Variant Count per center",
      "## GENIE Retraction Policy",
      "### Genome nexus failed annotations summary",
      "## Distribution of Clinical Attributes")
    val idx = sections.map(md.indexOf)
    assert(idx.forall(_ >= 0) && idx == idx.sorted, s"bad sections:\n$md")
    // the content table counts the released samples per derived center
    val released = out.clinical.count()
    assert(md.contains(s"| Total | $released |"))
    // file landed next to the release
    assert(new java.io.File(s"$dir/dashboard.md").exists())
  }

  test("full consortium→public release: complete folder manifest parity") {
    val base = tmpDir("full-release")
    val out = ReleaseJob.run(inputs)

    val clinicalSample = out.clinical
      .select("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "AGE_AT_SEQ_REPORT", "SEQ_ASSAY_ID")
    val clinicalPatient = out.clinical
      .select("PATIENT_ID", "BIRTH_YEAR").dropDuplicates("PATIENT_ID")
    val cna = Seq(("TP53", "GENIE-C-p1-s1", 2.0), ("EGFR", "GENIE-C-p1-s1", -1.0))
      .toDF("HUGO_SYMBOL", "SAMPLE_ID", "VALUE")
    val seg = Seq(("GENIE-C-p1-s1", "1", 100L, 200L, 5, 0.25))
      .toDF("ID", "CHROM", "LOC.START", "LOC.END", "NUM.MARK", "SEG.MEAN")
    val sv = Seq(("GENIE-C-p2-s2", "SOMATIC")).toDF("SAMPLE_ID", "SV_STATUS")
    val bedWithGenes = Seq(
      ("C-A1", "1", 100L, 300L, "TP53"), ("C-A1", "2", 100L, 1000L, "EGFR"))
      .toDF("SEQ_ASSAY_ID", "CHROMOSOME", "START_POSITION", "END_POSITION", "HUGO_SYMBOL")
    val assayInfo = Seq(("C-A1", "Illumina")).toDF("SEQ_ASSAY_ID", "PLATFORM")
    val full = ReleaseJob.FullReleaseInputs(clinicalSample, clinicalPatient,
      out.maf, cna, seg, sv, bedWithGenes, assayInfo)

    // ---- consortium: the reference's complete artifact set ----
    val manifest = ReleaseJob.writeFullRelease(full, base, "genie_test", "15.1-consortium")
    val expectedFixed = Set(
      // database_to_staging.py:942,1011,1174,1358-1392,1426,1546,1620,1681
      "assay_information.txt", "data_CNA.txt", "data_clinical.txt",
      "data_clinical_patient.txt", "data_clinical_sample.txt",
      "data_cna_hg19.seg", "data_gene_matrix.txt",
      "data_gene_panel_C-A1.txt", "data_mutations_extended.txt",
      "data_sv.txt", "genomic_information.txt",
      // meta files (database_to_staging.py:1960-2006)
      "meta_clinical_patient.txt", "meta_clinical_sample.txt",
      "meta_mutations_extended.txt", "meta_study.txt",
      // create_case_lists.py:73-247: per-type + the fixed five
      "case_lists/cases_all.txt", "case_lists/cases_sequenced.txt",
      "case_lists/cases_cna.txt", "case_lists/cases_sv.txt",
      "case_lists/cases_cnaseq.txt",
      "case_lists/cases_non_small_cell_lung_cancer.txt",
      // release documentation (templates/data_guide_template.Rnw)
      "data_guide.md")
    assert(manifest.toSet == expectedFixed,
      s"manifest mismatch:\n missing=${expectedFixed -- manifest.toSet}\n extra=${manifest.toSet -- expectedFixed}")
    assert(manifest.distinct == manifest, "manifest must not repeat entries")
    val releaseDir = s"$base/Release 15/15.1-consortium"
    def snapshot(): Map[String, Seq[Byte]] = manifest.map { f =>
      f -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$releaseDir/$f")).toSeq
    }.toMap
    val firstRun = snapshot()
    // re-release over the existing dir (a data-fix re-run) is
    // idempotent: the previous run's data_guide.md must not surface as
    // a duplicate manifest entry, and every artifact is rewritten with
    // the same bytes
    val manifest2 = ReleaseJob.writeFullRelease(full, base, "genie_test", "15.1-consortium")
    assert(manifest2 == manifest)
    val secondRun = snapshot()
    manifest.foreach(f => assert(secondRun(f) == firstRun(f), s"$f differs between runs"))

    // the fixed case lists carry exactly the expected ids; cnaseq is
    // the intersection of the cna and sequenced ids
    def caseIds(slug: String): Seq[String] = new String(firstRun(s"case_lists/cases_$slug.txt").toArray, "UTF-8")
      .linesIterator.collectFirst { case l if l.startsWith("case_list_ids: ") =>
        l.stripPrefix("case_list_ids: ").split("\t").toSeq.filter(_.nonEmpty) }.get
    assert(caseIds("all") == Seq("GENIE-C-p1-s1", "GENIE-C-p2-s2", "GENIE-C-p5-s5"))
    assert(caseIds("sequenced") == Seq("GENIE-C-p1-s1", "GENIE-C-p2-s2"))
    assert(caseIds("cna") == Seq("GENIE-C-p1-s1"))
    assert(caseIds("sv") == Seq("GENIE-C-p2-s2"))
    assert(caseIds("cnaseq") == Seq("GENIE-C-p1-s1"))
    // versioned layout: Release <major>/<version> (database_to_staging.py:2034-2125)
    assert(new java.io.File(s"$base/Release 15/15.1-consortium/data_clinical.txt").exists())

    // spot-check content: gene panel carries the BED genes, case list the ids
    val panel = scala.io.Source.fromFile(
      s"$base/Release 15/15.1-consortium/data_gene_panel_C-A1.txt").mkString
    assert(panel.contains("gene_list: EGFR\tTP53"))
    val casesAll = scala.io.Source.fromFile(
      s"$base/Release 15/15.1-consortium/case_lists/cases_all.txt").mkString
    assert(casesAll.contains("GENIE-C-p1-s1"))

    // ---- public: data_clinical.txt is consortium-only ----
    val pubBase = tmpDir("public-release")
    val scope = Seq(
      graft.release.PublicRelease.Scope("SAMPLE_ID", public = true),
      graft.release.PublicRelease.Scope("PATIENT_ID", public = true),
      graft.release.PublicRelease.Scope("CANCER_TYPE", public = true),
      graft.release.PublicRelease.Scope("AGE_AT_SEQ_REPORT", public = false),
      graft.release.PublicRelease.Scope("SEQ_ASSAY_ID", public = true))
    val (pubClin, pubMaf) = graft.release.PublicRelease.convert(
      out.clinical, out.maf, scope)
    val pubManifest = ReleaseJob.writeFullRelease(
      full.copy(clinicalSample = pubClin
        .join(clinicalSample.select("SAMPLE_ID", "AGE_AT_SEQ_REPORT"), Seq("SAMPLE_ID"), "left")
        .select("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "AGE_AT_SEQ_REPORT", "SEQ_ASSAY_ID"),
        maf = pubMaf),
      pubBase, "genie_public", "15.1-public", public = true)
    assert(!pubManifest.contains("data_clinical.txt"))
    assert((manifest.toSet - "data_clinical.txt") == pubManifest.toSet)
  }

  test("data_gene_matrix: panel-level cna/sv flags, WES panels excluded") {
    val clinical = Seq(
      ("s1", "P1"), ("s2", "P1"), ("s3", "P2"), ("s4", "WES1"), ("", "P2")
    ).toDF("SAMPLE_ID", "SEQ_ASSAY_ID")
    val cna = Seq("s1").toDF("SAMPLE_ID")      // panel P1 has CNA
    val sv  = Seq("s3").toDF("SAMPLE_ID")      // panel P2 has SV
    val m = ReleaseJob.geneMatrix(clinical, cna, sv, Seq("WES1"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(m.keySet == Set("s1", "s2", "s3")) // WES + empty id dropped
    assert(m("s1") == ("P1", "P1", "NA"))
    assert(m("s2") == ("P1", "P1", "NA"))     // panel-level: s2 inherits P1's cna flag
    assert(m("s3") == ("P2", "NA", "P2"))
  }
}
