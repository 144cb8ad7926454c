package graft.formats

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FormatsSpec extends SparkSpec {
  import spark.implicits._

  test("CNA: melt → validate → merge duplicates → explicit pivot") {
    val wide = Seq(
      ("TP53", Some(1.0), Some(0.0)),
      ("EGFR", Some(-1.0), Some(7.0)),   // 7.0 out of domain
      ("TP53", Some(0.0), Some(2.0))     // dup symbol (post-remap collision)
    ).toDF("Hugo_Symbol", "S1", "S2")

    val long = CnaFormat.melt(wide)
    assert(long.count() == 6)
    assert(CnaFormat.invalidValues(long).count() == 1)

    val merged = CnaFormat.mergeDuplicateGenes(long.filter(col("VALUE") =!= 7.0))
    val tp53 = merged.filter($"HUGO_SYMBOL" === "TP53")
      .select("SAMPLE_ID", "VALUE").as[(String, Option[Double])].collect().toMap
    // S1: {1.0, 0.0} → two distinct with a zero → nonzero 1.0
    assert(tp53("S1").contains(1.0))
    // S2: {0.0, 2.0} → nonzero 2.0
    assert(tp53("S2").contains(2.0))

    val wideOut = CnaFormat.toWide(merged, Seq("S1", "S2"))
    assert(wideOut.columns.toSeq == Seq("HUGO_SYMBOL", "S1", "S2"))
    assert(wideOut.count() == 2)
  }

  test("CNA: cross-center merge replaces the shell join") {
    val a = Seq(("TP53", "S1", 1.0)).toDF("HUGO_SYMBOL", "SAMPLE_ID", "VALUE")
    val b = Seq(("TP53", "S2", -1.0), ("KRAS", "S2", 0.0)).toDF("HUGO_SYMBOL", "SAMPLE_ID", "VALUE")
    val merged = CnaFormat.mergeCenters(Seq(a, b))
    assert(merged.count() == 3)
    assert(merged.filter($"HUGO_SYMBOL" === "KRAS").count() == 1)
  }

  test("SEG: battery flags chrom/integer/numeric/nulls") {
    val seg = Seq(
      ("GENIE-CTR-1", "chr1", "100", "200", "5", "0.5"),
      ("GENIE-CTR-2", "99", "1.5", "200", "5", "abc"),
      ("BAD", "2", "100", null, "5", "0.5")
    ).toDF("ID", "CHROM", "LOC.START", "LOC.END", "NUM.MARK", "SEG.MEAN")
    val res = SegFormat.validate(seg, "CTR")
    val byRule = res.findings.map(f => f.rule -> f.count).toMap
    assert(byRule("id_prefix") == 1)
    assert(byRule("chr_prefix") == 1)  // warning: chr1
    assert(byRule("chrom_domain") == 1)
    assert(byRule("loc_start_int") == 1)
    assert(byRule("num_mark_int") == 0)
    assert(byRule("seg_mean_numeric") == 1)
    assert(byRule("no_nulls") == 1)
    // golden message parity incl. the reference's "integars" typo
    assert(res.findings.find(_.rule == "loc_start_int").get.message ==
      "Seg: Only integars allowed in these column(s): LOC.START.")
    assert(res.findings.find(_.rule == "seg_mean_numeric").get.message ==
      "Seg: Only numerical values allowed in SEG.MEAN.")
  }

  test("P21: full CNA validate — first column, sample ids, values, remap dups") {
    val wide = Seq(
      ("EGFR", "0", "1.5"),
      ("EGFR;ALT", "0.3", "-2"),   // 0.3 bad value; cleans to EGFR → remap dup
      ("UNKNOWN", "1", "2")        // not in bed → dropped from remap check
    ).toDF("Hugo_Symbol", "GENIE-CTR-s1", "BADCOL")
    val bed = Seq("EGFR", "TP53").toDF("HUGO_SYMBOL")
    val res = CnaFormat.validate(wide, "CTR", Some(bed))
    val byRule = res.findings.map(f => f.rule -> f).toMap
    assert(!byRule.contains("first_column")) // Hugo_Symbol ok (case-insensitive)
    assert(byRule("sample_columns").count == 1) // BADCOL
    assert(byRule("sample_columns").message == "cnv: samples must start with GENIE-CTR")
    assert(byRule("value_domain").count == 1)   // the 0.3 cell
    assert(byRule("value_domain").message ==
      "All values must be NA/blank, -2, -1.5, -1, -0.5, 0, 0.5, 1, 1.5, or 2.")
    assert(byRule("duplicate_symbols_after_remap").count == 2) // both EGFR rows

    val wrongFirst = Seq(("x", "0")).toDF("GENE", "GENIE-CTR-s1")
    assert(CnaFormat.validate(wrongFirst, "CTR").findings
      .exists(f => f.rule == "first_column" &&
        f.message == "Your cnv file's first column must be Hugo_Symbol"))
  }

  test("SV: duplicates + center extraction") {
    val sv = Seq(
      ("GENIE-CTR-1-01", "del"), ("GENIE-CTR-1-01", "del"), ("GENIE-XYZ-2-01", "dup")
    ).toDF("SAMPLE_ID", "SV_TYPE")
    val res = SvFormat.validate(sv, "CTR")
    val byRule = res.findings.map(f => f.rule -> f.count).toMap
    assert(byRule("duplicate_rows") == 1)
    assert(byRule("sample_id_prefix") == 1)
    val centers = sv.select(SvFormat.centerOf(col("SAMPLE_ID"))).distinct()
      .as[String].collect().toSet
    assert(centers == Set("CTR", "XYZ"))
  }

  test("clinical and MAF validators find the same defects on every overlapped run") {
    // driver-local frames: each validator plans them from several pool
    // threads at once, the pattern behind the PQ-code race (ROADMAP 7)
    val sample = Seq(
      ("GENIE-CTR-p1-s1", "GENIE-CTR-p1", "1200", "LUAD", "1", "CTR-A1"),
      ("GENIE-CTR-p1-s1", "GENIE-CTR-p1", "1200", "LUAD", "1", "CTR-A1"),     // duplicate id
      ("BAD-p2-s2", "GENIE-CTR-p2", "abc", "luad", "1", "XYZ-A1"),            // five row defects
      ("GENIE-CTR-p9-s9", "GENIE-CTR-p9", "900", "LUAD", "1", "CTR-A1")       // orphan
    ).toDF("SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE", "SAMPLE_TYPE", "SEQ_ASSAY_ID")
    val patient = Seq(
      ("GENIE-CTR-p1", "1", "1", "1", "1950"),
      ("GENIE-CTR-p2", "2", "1", "1", "3000"),                                // future birth year
      ("OTHER-p3", "1", "1", "1", "1960")                                     // bad prefix
    ).toDF("PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY", "BIRTH_YEAR")
    val maf = Seq(
      ("1", "100", "101", "A", "GENIE-CTR-p1-s1", "T", "30"),
      ("1", "100", "101", "A", "GENIE-CTR-p1-s1", "T", "30"),                 // duplicate variant
      ("99", "200", "201", "A", "GENIE-CTR-p1-s1", "G", "30"),                // bad chromosome
      ("2", "300", "299", "QQ", "WRONG-1", "C", "x")                          // four row defects
    ).toDF("CHROMOSOME", "START_POSITION", "END_POSITION", "REFERENCE_ALLELE",
      "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2", "T_DEPTH")

    def fired(res: graft.rules.ValidationResult) =
      res.findings.filter(_.count > 0).map(f => (f.rule, f.count, f.example))
    val clinicalWant = Seq(
      ("sample_id_prefix", 1L, Some("BAD-p2-s2")), ("patient_in_sample", 1L, Some("BAD-p2-s2")),
      ("age_at_seq_report", 1L, Some("BAD-p2-s2")), ("oncotree_code_case", 1L, Some("BAD-p2-s2")),
      ("seq_assay_id_prefix", 1L, Some("BAD-p2-s2")), ("patient_id_prefix", 1L, Some("OTHER-p3")),
      ("birth_year", 1L, Some("GENIE-CTR-p2")), ("duplicate_sample_id", 1L, None),
      ("orphan_samples", 1L, Some("GENIE-CTR-p9-s9")))
    val bad = Some("2 300 QQ WRONG-1 C")
    val mafWant = Seq(
      ("chromosome_domain", 1L, Some("99 200 A GENIE-CTR-p1-s1 G")), ("start_le_end", 1L, bad),
      ("ref_allele", 1L, bad), ("barcode_prefix", 1L, bad), ("numeric_t_depth", 1L, bad),
      ("duplicate_variants", 1L, Some("GENIE-CTR-p1-s1")))
    (1 to 30).foreach { i =>
      assert(fired(ClinicalFormat.validate(sample, patient, "CTR")) == clinicalWant, s"clinical run $i")
      assert(fired(MafFormat.validate(maf, "CTR")) == mafWant, s"maf run $i")
    }
  }
}
