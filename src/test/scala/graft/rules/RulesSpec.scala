package graft.rules

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.formats.{ClinicalFormat, MafFormat}

class RulesSpec extends SparkSpec {
  import spark.implicits._

  test("battery: all rules evaluated in one pass with counts + examples") {
    val df = Seq(("A", "x"), ("B", "y"), ("Z", null)).toDF("status", "v")
    val rules = Seq(
      RowRule("status_domain", "error", Rules.domain(col("status"), Seq("A", "B")),
        col("status"), "bad status: {count} rows (e.g. {example})"),
      RowRule("v_null", "warning", col("v").isNull, col("status"), "{count} null v"))
    val res = Rules.Battery.run(df, rules)
    assert(!res.isValid)
    assert(res.errors.head.count == 1)
    assert(res.errors.head.example.contains("Z"))
    assert(res.errors.head.message == "bad status: 1 rows (e.g. Z)")
    assert(res.warnings.head.count == 1)
  }

  test("battery duplicate key: groups, excess rows, rows in groups and listed values") {
    // key k: b x3, a x2, null x2, c x1; whole rows: (b,1), (a,1) and (null,1) twice each
    val df = Seq[(String, String)](("b", "1"), ("b", "1"), ("b", "2"), ("a", "1"), ("a", "1"),
      (null, "1"), (null, "1"), ("c", "1")).toDF("k", "v")
    val keyed = Rules.Battery.run(df,
      Seq(RowRule("v_two", "warning", col("v") === "2", col("k"), "{count} rows, e.g. {example}")),
      Some(DuplicateKey(Seq(col("k")), Some(col("k")))))
    // null keys group together; the listed values are distinct, sorted, non-null
    assert(keyed.dups == Duplicates(groups = 3, excessRows = 4, rowsInGroups = 7, listed = Seq("a", "b")))
    assert(keyed.result.findings == Seq(Finding("v_two", "warning", 1, Some("b"), "1 rows, e.g. b")))

    val whole = Rules.Battery.run(df, Nil, Some(DuplicateKey(Rules.allColumns(df)))).dups
    assert(whole == Duplicates(3, 3, 6, Nil))
    assert(whole.excessRows == df.count() - df.dropDuplicates().count())

    val empty = Rules.Battery.run(df.limit(0), Nil, Some(DuplicateKey(Seq(col("k")), Some(col("k")))))
    assert(empty.dups == Duplicates(0, 0, 0, Nil))
    assert(empty.result.findings.isEmpty)
  }

  test("predicates: integer / allele / chromosome / year") {
    val df = Seq("123", "-4", "1.5", "abc").toDF("x")
    assert(df.filter(Rules.notInteger(col("x"))).count() == 2)

    val alleles = Seq("ATCG", "atcgn", "---", "AT-CG", "NA").toDF("a")
    assert(alleles.filter(Rules.badAllele(col("a"))).count() == 1) // AT-CG ("NA" is [ATCGN]+!)

    val chroms = Seq("1", "22", "X", "MT", "23", "chr1").toDF("c")
    assert(chroms.filter(Rules.badChromosome(col("c"))).count() == 2)
    assert(chroms.filter(Rules.badChromosome(col("c"), allowChrPrefix = true)).count() == 1)

    val years = Seq("1999", "2030", "Unknown", "99").toDF("y")
    assert(years.filter(Rules.badYear(col("y"), 2026, Seq("Unknown"))).count() == 2)
  }

  test("clinical format: orphan samples + id prefix violations found") {
    val sample = Seq(
      ("GENIE-CTR-p1-s1", "GENIE-CTR-p1", "100", "LUAD", "1", "CTR-A1"),
      ("BAD-ID", "GENIE-CTR-p9", "200", "BRCA", "2", "CTR-A1")
    ).toDF("SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE", "SAMPLE_TYPE", "SEQ_ASSAY_ID")
    val patient = Seq(
      ("GENIE-CTR-p1", "1", "1", "1", "1950")
    ).toDF("PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY", "BIRTH_YEAR")

    val res = ClinicalFormat.validate(sample, patient, "CTR")
    val byRule = res.findings.map(f => f.rule -> f.count).toMap
    assert(byRule("sample_id_prefix") == 1)
    assert(byRule("patient_in_sample") == 1) // BAD-ID doesn't contain its patient id
    assert(byRule("orphan_samples") == 1)
    assert(!res.isValid)
    // golden message parity (process_functions.py:214-216)
    assert(res.findings.find(_.rule == "sample_id_prefix").get.message ==
      "Sample Clinical File: SAMPLE_ID must start with GENIE-CTR")

    // P28: deprecated SEQ_DATE column flags with the verbatim message
    val withSeqDate = sample.withColumn("SEQ_DATE", org.apache.spark.sql.functions.lit("Jan-2017"))
    val res2 = ClinicalFormat.validate(withSeqDate, patient, "CTR")
    assert(res2.findings.exists(f => f.rule == "deprecated_col_SEQ_DATE" &&
      f.message == "Sample Clinical File: SEQ_DATE is now deprecated. Please remove."))
  }

  test("maf format: duplicates and bad alleles") {
    val maf = Seq(
      ("1", "100", "101", "A", "GENIE-CTR-1", "T"),
      ("1", "100", "101", "A", "GENIE-CTR-1", "T"), // dup
      ("25", "5", "4", "QQ", "NOPE", "T")
    ).toDF("CHROMOSOME", "START_POSITION", "END_POSITION", "REFERENCE_ALLELE",
      "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2")
    val res = MafFormat.validate(maf, "CTR")
    val byRule = res.findings.map(f => f.rule -> f.count).toMap
    assert(byRule("duplicate_variants") == 1)
    assert(byRule("chromosome_domain") == 1)
    assert(byRule("ref_allele") == 1)
    assert(byRule("start_le_end") == 1)
    assert(byRule("barcode_prefix") == 1)
  }
}
