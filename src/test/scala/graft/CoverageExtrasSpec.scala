package graft

import org.apache.spark.sql.functions._

import graft.formats.{AssayFormat, ClinicalFormat}
import graft.operators.RowIndex
import graft.release.PublicRelease
import graft.rules.CrossFileChecks
import graft.sources.Oncotree

class CoverageExtrasSpec extends SparkSpec {
  import spark.implicits._

  test("P23: assay enumeration battery") {
    val assay = Seq(
      ("CTR-A1", "Hybrid Selection", "Illumina", "120", ">20%", Seq("snv", "gene_level_cna")),
      ("XYZ-A2", "Wrong Selection", "Typewriter", "abc", "20%", Seq("snv", "nonsense"))
    ).toDF("SEQ_ASSAY_ID", "LIBRARY_SELECTION", "PLATFORM", "READ_LENGTH",
      "SPECIMEN_TUMOR_CELLULARITY", "ALTERATION_TYPES")
    val res = AssayFormat.validate(assay, "CTR")
    val byRule = res.findings.map(f => f.rule -> f.count).toMap
    assert(byRule("seq_assay_id_prefix") == 1)
    assert(byRule("library_selection") == 1)
    assert(byRule("platform") == 1)
    assert(byRule("read_length_int") == 1)
    assert(byRule("cellularity_format") == 1)
    assert(byRule("alteration_types") == 1)
  }

  test("P24/P26: cross-file anti-join checks with normalization") {
    val clinical = Seq(("GENIE-C-s1", "C_A1"), ("GENIE-C-s2", "C-A2")).toDF("SAMPLE_ID", "SEQ_ASSAY_ID")
    val assay = Seq("C-A1").toDF("SEQ_ASSAY_ID")
    // C_A1 normalizes to C-A1 (present); C-A2 missing
    val missing = CrossFileChecks.clinicalAssayIds(clinical, assay).as[String].collect().toSeq
    assert(missing == Seq("C-A2"))

    val maf = Seq("GENIE-C-s1", "GENIE-C-s9").toDF("TUMOR_SAMPLE_BARCODE")
    val orphan = CrossFileChecks.mafSampleIds(maf, clinical).as[String].collect().toSeq
    assert(orphan == Seq("GENIE-C-S9")) // normalized form reported

    val resub = Seq(("p.V600E", 100L, "A", "GENIE-C-s1", "T")).toDF(
      "HGVSp_Short", "Start_Position", "Reference_Allele", "Tumor_Sample_Barcode", "Tumor_Seq_Allele2")
    val db = resub.limit(0)
    assert(CrossFileChecks.unknownCisVariants(resub, db).count() == 1)
    assert(CrossFileChecks.unknownCisVariants(resub, resub).count() == 0)
  }

  test("P9/P10: redaction co-occurrence and oncotree membership findings") {
    val patient = Seq(
      ("GENIE-C-p1", ">32485", ">89"),     // consistent
      ("GENIE-C-p2", ">32485", "1990"),    // sentinel mismatch
      ("GENIE-C-p3", "5000", "1990")       // consistent plain
    ).toDF("PATIENT_ID", "INT_CONTACT", "YEAR_CONTACT")
    val res = graft.rules.Rules.Battery.run(patient,
      ClinicalFormat.patientRules("C").filter(_.name == "int_year_redaction_consistency"))
    assert(res.findings.head.count == 1)

    val sample = Seq(
      ("GENIE-C-p1-s1", "GENIE-C-p1", "LUAD"), // mapped, ungendered
      ("GENIE-C-p2-s2", "GENIE-C-p2", "ZZZZ"), // unmapped
      ("GENIE-C-p1-s3", "GENIE-C-p1", "PRAD"), // PROSTATE primary, SEX=1 → ok
      ("GENIE-C-p2-s4", "GENIE-C-p2", "PRAD"), // PROSTATE primary, SEX=2 → conflict
      ("GENIE-C-p2-s5", "GENIE-C-p2", "UCEC")  // UTERUS primary, SEX=2 → ok
    ).toDF("SAMPLE_ID", "PATIENT_ID", "ONCOTREE_CODE")
    val pat = Seq(("GENIE-C-p1", "1"), ("GENIE-C-p2", "2")).toDF("PATIENT_ID", "SEX")
    val tree = Oncotree.toDataFrame(spark, Seq(
      Oncotree.Node("LUAD", "LUNG", "NSCLC", "NSCLC", "Lung Adenocarcinoma"),
      Oncotree.Node("PRAD", "PROSTATE", "", "Prostate Cancer", "Prostate Adenocarcinoma"),
      Oncotree.Node("UCEC", "UTERUS", "", "Endometrial Cancer", "Uterine Endometrioid Carcinoma")))
    val findings = ClinicalFormat.oncotreeFindings(sample, pat, tree)
    assert(findings.find(_.rule == "oncotree_membership").get.count == 1)
    val sex = findings.find(_.rule == "sex_cancer_conflict").get
    assert(sex.count == 1)
    assert(sex.message ==
      "Sample Clinical File: Some SAMPLE_IDs have conflicting SEX and ONCOTREE_CODES: GENIE-C-p2-s4")
  }

  test("P10: empty / non-numeric SEX counts as a gendered-cancer conflict") {
    val sample = Seq(("GENIE-C-p1-s1", "GENIE-C-p1", "TESTIS"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "ONCOTREE_CODE")
    val pat = Seq(("GENIE-C-p1", "")).toDF("PATIENT_ID", "SEX") // pandas: "" → NaN ≠ 1.0
    val tree = Oncotree.toDataFrame(spark,
      Seq(Oncotree.Node("TESTIS", "TESTIS", "", "Testicular Cancer", "Testis")))
    val findings = ClinicalFormat.oncotreeFindings(sample, pat, tree)
    assert(findings.find(_.rule == "sex_cancer_conflict").get.count == 1)
  }

  test("P8: DEAD/INT_DOD full reference consistency semantics") {
    val patient = Seq(
      ("GENIE-C-p1", "True", "500"),             // ok: dead with numeric interval
      ("GENIE-C-p2", "True", "Not Applicable"),  // flag: dead ∧ Not Applicable
      ("GENIE-C-p3", "False", "Not Applicable"), // ok
      ("GENIE-C-p4", "False", "500"),            // flag: alive ∧ numeric
      ("GENIE-C-p5", "False", "Unknown"),        // flag: alive ∧ any non-N/A value
      ("GENIE-C-p6", "Unknown", "Unknown"),      // ok: sentinel equals INT_DOD
      ("GENIE-C-p7", "Unknown", "Not Collected") // flag: sentinel mismatch
    ).toDF("PATIENT_ID", "DEAD", "INT_DOD")
    val res = graft.rules.Rules.Battery.run(patient,
      ClinicalFormat.patientRules("C").filter(_.name == "dead_dod_consistency"))
    assert(res.findings.head.count == 4)
    assert(res.findings.head.message.startsWith(
      "Patient Clinical File: DEAD value is inconsistent with INT_DOD"))
  }

  test("clinical process: remap + DETAILED + update_clinical cleanup parity") {
    // mirrors tests/test_clinical.py:26-48 mapping fixtures and
    // clinical.py:419-459 update_clinical semantics
    val sample = Seq(
      ("GENIE-C-p1-s1", "GENIE-C-p1", " ctr_a1 ", "jan-2017", "1"),
      ("GENIE-C-p2-s2", "GENIE-C-p2", "CTR-A2", "Release", "2")
    ).toDF("SAMPLE_ID", "PATIENT_ID", "SEQ_ASSAY_ID", "SEQ_DATE", "SAMPLE_TYPE")
    val patient = Seq(("GENIE-C-p1", "1", "1950.0"), ("GENIE-C-p2", "2", "1960"))
      .toDF("PATIENT_ID", "SEX", "BIRTH_YEAR")
    val sexMap = Seq(("1", "Male", "Male"), ("2", "Female", "Female"),
      ("99", "Unknown", "Not coded")).toDF("CODE", "CBIO_LABEL", "DESCRIPTION")
    val stMap = Seq(("1", "Test", "non"), ("2", "Why", "asdf"))
      .toDF("CODE", "CBIO_LABEL", "DESCRIPTION")

    val out = ClinicalFormat.process(sample, patient,
      Map("SEX" -> sexMap, "SAMPLE_TYPE" -> stMap), center = "C")
    val rows = out.select("SAMPLE_ID", "SEQ_ASSAY_ID", "SEQ_DATE", "SEX",
        "SEX_DETAILED", "SAMPLE_TYPE", "SAMPLE_TYPE_DETAILED", "BIRTH_YEAR", "CENTER")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(rows("GENIE-C-p1-s1") ==
      Seq("CTR-A1", "Jan-2017", "Male", "Male", "Test", "non", "1950", "C"))
    assert(rows("GENIE-C-p2-s2") ==
      Seq("CTR-A2", "Release", "Female", "Female", "Why", "asdf", "1960", "C"))
    val years = out.select("SAMPLE_ID", "SEQ_YEAR").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(years("GENIE-C-p1-s1").contains(2017))
    assert(years("GENIE-C-p2-s2").isEmpty) // "Release" → null SEQ_YEAR

    // template projection drops everything not in the template
    val projected = ClinicalFormat.process(sample, patient, Map.empty,
      center = "C", templateCols = Seq("SAMPLE_ID", "PATIENT_ID", "CENTER"))
    assert(projected.columns.toSeq == Seq("SAMPLE_ID", "PATIENT_ID", "CENTER"))
  }

  test("F12: public scope projection + FILTER rewrite") {
    val clinical = Seq(("GENIE-C-s1", "GENIE-C-p1", "secret"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "PRIVATE_NOTES")
    val maf = Seq(("GENIE-C-s1", "common_variant"), ("GENIE-C-s1", "ok"), ("GENIE-X-s9", "ok"))
      .toDF("TUMOR_SAMPLE_BARCODE", "FILTER")
    val scope = Seq(PublicRelease.Scope("SAMPLE_ID", true),
      PublicRelease.Scope("PATIENT_ID", true), PublicRelease.Scope("PRIVATE_NOTES", false))
    val (pubC, pubM) = PublicRelease.convert(clinical, maf, scope)
    assert(pubC.columns.toSeq == Seq("SAMPLE_ID", "PATIENT_ID"))
    val rows = pubM.select("TUMOR_SAMPLE_BARCODE", "FILTER").as[(String, String)].collect().toSeq
    assert(rows == Seq(("GENIE-C-s1", "PASS"))) // common_variant + foreign sample dropped
  }

  test("P3: deterministic row indices from parquet metadata") {
    val dir = tmpDir("rowidx")
    Seq((10, "a"), (20, "b"), (30, "c"), (40, "d"))
      .toDF("k", "v").repartition(2).write.parquet(s"$dir/t")
    val idx1 = RowIndex.forParquet(spark, s"$dir/t").select("row_id", "k")
      .as[(Long, Int)].collect().toMap
    val idx2 = RowIndex.forParquet(spark, s"$dir/t").select("row_id", "k")
      .as[(Long, Int)].collect().toMap
    assert(idx1 == idx2)                       // stable across reads
    assert(idx1.keySet == Set(0L, 1L, 2L, 3L)) // dense 0..n-1
  }

  test("registry hygiene: no silently-shadowed duplicate query/oracle names") {
    // Map literals dedupe duplicate keys without a warning — a second
    // registration of an existing name silently drops one definition
    // and costs the gate a query slot. Parse the source to catch it.
    val src = java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")
    assume(java.nio.file.Files.exists(src), "source tree not present")
    val text = java.nio.file.Files.readString(src)
    def dups(pattern: scala.util.matching.Regex): Seq[String] = pattern
      .findAllMatchIn(text).map(_.group(1)).toSeq
      .groupBy(identity).collect { case (n, hits) if hits.size > 1 => n }.toSeq
    val qDups = dups(""""([a-z0-9_]+)" -> \(\(s, dir\)""".r)
    assert(qDups.isEmpty, s"duplicate query registrations: $qDups")
    // every query has an oracle and vice versa (the driver treats a
    // missing oracle as a weaker rows-only check — never intended here)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      s"query/oracle key mismatch: ${
        (SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet) ++
          (SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet)}")
  }
}
