package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def writeFile(dir: String, name: String, content: String): String = {
    val p = Paths.get(dir, name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("S1/S11: TSV round trip strips .0 and skips # comments") {
    val dir = tmpDir("tsv")
    val in = writeFile(dir, "t.tsv",
      "# a comment line\nID\tVAL\n1\t2.5\n2\t3\n")
    val df = Tsv.readAllString(spark, in)
    assert(df.columns.toSeq == Seq("ID", "VAL"))
    assert(df.count() == 2)

    val out = s"$dir/out"
    val typed = df.selectExpr("cast(ID as long) ID", "cast(VAL as double) VAL")
    Tsv.write(typed, out, naToken = "NA")
    val lines = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines())
    // integral double serialized without .0
    assert(lines.exists(_ == "2\t3"), s"got ${lines.toSeq}")
    assert(lines.exists(_ == "1\t2.5"))
  }

  test("S11: NaN/Infinity/huge doubles survive the .0-free writer") {
    val dir = tmpDir("tsv-nan")
    val df = Seq((1L, Double.NaN), (2L, Double.PositiveInfinity), (3L, 1e31), (4L, 7.0))
      .toDF("ID", "VAL")
    Tsv.write(df, s"$dir/out", naToken = "NA")
    val lines = Files.list(Paths.get(s"$dir/out")).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSet
    assert(lines.exists(l => l.startsWith("1\t") && l.contains("NaN")), lines)
    assert(lines.exists(l => l.startsWith("2\t") && l.toLowerCase.contains("inf")), lines)
    assert(lines.exists(l => l.startsWith("3\t") && l.contains("E31")), lines)
    assert(lines.contains("4\t7"), lines)
  }

  test("S3: MAF reader keeps NA literals in allele cols, nulls elsewhere") {
    val dir = tmpDir("maf")
    val in = writeFile(dir, "m.maf",
      "CHROMOSOME\tSTART_POS\tREF\tTUMOR_SEQ_ALLELE2\tHGVSP\n" +
        "1\t100\tNA\tATCG\tNA\n" +
        "2\t200\tTT\tnan\tp.V600E\n")
    val df = Maf.read(spark, in)
    // canonical renames applied
    assert(df.columns.contains("START_POSITION"))
    assert(df.columns.contains("REFERENCE_ALLELE"))
    val rows = df.orderBy("CHROMOSOME").collect()
    assert(rows(0).getAs[String]("REFERENCE_ALLELE") == "NA")   // allele: literal kept
    assert(rows(0).getAs[String]("HGVSP") == null)              // non-allele: nulled
    assert(rows(1).getAs[String]("TUMOR_SEQ_ALLELE2") == "nan") // allele: literal kept
  }

  test("S3: field-count mismatch detection") {
    val dir = tmpDir("mafc")
    val in = writeFile(dir, "m.maf",
      "A\tB\tC\n1\t2\t3\n1\t2\n")
    assert(Maf.fieldCountMismatches(spark, in) == 1)
  }

  test("S4: VCF reader finds #CHROM header and applies NA contract") {
    val dir = tmpDir("vcf")
    val in = writeFile(dir, "v.vcf",
      "##fileformat=VCFv4.2\n##source=test\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
        "1\t100\trs1\tNA\tT\tNA\tPASS\tDP=3\n")
    val df = Vcf.read(spark, in)
    assert(df.columns.toSeq == Seq("CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO"))
    val r = df.collect()(0)
    assert(r.getAs[String]("REF") == "NA")   // allele keeps literal
    assert(r.getAs[String]("QUAL") == null)  // non-allele nulled
  }

  test("S5: BED reader rejects header-smelling files, strips chr prefix") {
    val dir = tmpDir("bed")
    val good = writeFile(dir, "g.bed", "chr1\t10\t100\tTP53\tTrue\n2\t5\t50\tEGFR;x\tFalse\n")
    val df = Bed.read(spark, good)
    val rows = df.orderBy("CHROMOSOME").collect()
    assert(rows.map(_.getAs[String]("CHROMOSOME")).toSeq == Seq("1", "2"))

    val bad = writeFile(dir, "b.bed", "Chromosome\tStart\tEnd\tGene\tPanel\n1\t2\t3\tX\tTrue\n")
    assertThrows[IllegalArgumentException](Bed.read(spark, bad))

    import org.apache.spark.sql.functions.col
    val genes = Bed.panelGenes(df.filter(col("INCLUDE_IN_PANEL"))).collect().map(_.getString(0))
    assert(genes.toSeq == Seq("TP53"))
  }

  test("S6: assay YAML explodes to one row per (pipeline, assay)") {
    val yaml =
      """CTR-P1:
        |  library_selection: Hybrid Selection
        |  platform: Illumina
        |  read_length: 100
        |  assay_specific_info:
        |    - SEQ_ASSAY_ID: CTR-A1
        |      number_of_genes: 300
        |      alteration_types: [snv, cnv]
        |    - SEQ_ASSAY_ID: CTR-A2
        |      number_of_genes: 50
        |""".stripMargin
    val df = Assay.parse(spark, yaml)
    assert(df.count() == 2)
    val a1 = df.filter($"SEQ_ASSAY_ID" === "CTR-A1").collect()(0)
    assert(a1.getAs[String]("PLATFORM") == "Illumina")
    assert(a1.getAs[scala.collection.Seq[String]]("ALTERATION_TYPES").toSeq == Seq("snv", "cnv"))
    assert(a1.getAs[Int]("GENE_PADDING") == 10) // default
    val export = Assay.exportView(df).filter($"SEQ_ASSAY_ID" === "CTR-A1").collect()(0)
    assert(export.getAs[String]("ALTERATION_TYPES") == "snv;cnv")
  }

  test("S13/S14/S15: cBioPortal sinks write headers, case lists, panels") {
    val dir = tmpDir("cbio")
    val df = Seq(("GENIE-C-1-01", "LUAD"), ("GENIE-C-2-01", "BRCA"), ("GENIE-C-3-01", "LUAD"))
      .toDF("SAMPLE_ID", "CANCER_TYPE")
    CbioSinks.writeClinical(df,
      Map("SAMPLE_ID" -> CbioSinks.ClinicalHeader("Sample Identifier", "Sample ID", "STRING")),
      s"$dir/data_clinical_sample.txt")
    val content = scala.io.Source.fromFile(s"$dir/data_clinical_sample.txt").getLines().toSeq
    assert(content.take(4).forall(_.startsWith("#")))
    assert(content(4) == "SAMPLE_ID\tCANCER_TYPE")
    assert(content.length == 8)

    val files = CbioSinks.writeCaseLists(df, "CANCER_TYPE", "SAMPLE_ID", "genie", s"$dir/case_lists")
    assert(files.length == 2)
    val luad = scala.io.Source.fromFile(files.find(_.contains("luad")).get).mkString
    assert(luad.contains("GENIE-C-1-01\tGENIE-C-3-01"))

    val panel = CbioSinks.writeGenePanel(
      Seq("EGFR", "TP53").toDF("HUGO_SYMBOL"), "CTR-A1", dir)
    assert(scala.io.Source.fromFile(panel).mkString.contains("gene_list: EGFR\tTP53"))
  }

  test("P20: VCF structured validation with verbatim messages") {
    import graft.sources.Vcf
    // 11-column tumor/normal VCF with a duplicate variant and a null FORMAT
    val vcf = Seq(
      ("1", "100", "rs1", "A", "T", ".", "PASS", "DP=4", "GT", "0/1", "0/0"),
      ("1", "100", "rs2", "A", "T", ".", "PASS", "DP=5", "GT", "0/1", "0/0"), // dup (CHROM,POS,REF,ALT)
      ("2", "200", "rs3", "G", "C", ".", "PASS", "DP=6", null, "0/1", "0/0")
    ).toDF("CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT",
      "GENIE-CTR-1-1", "NOTGENIE")
    val res = Vcf.validate(vcf, "CTR")
    val msgs = res.findings.map(f => f.rule -> f.message).toMap
    assert(msgs("duplicate_variants") == "vcf: Must not have duplicate variants.")
    assert(msgs("format_missing_values") == "vcf: Must not have missing values in FORMAT column.")
    assert(msgs("normal_sample_column") == "vcf: normal sample column must start with GENIE-CTR")
    assert(!msgs.contains("tumor_sample_column")) // tumor column is well-formed
    assert(!res.isValid)

    // 9 columns → too few; missing headers message when FORMAT absent
    val nine = vcf.drop("GENIE-CTR-1-1", "NOTGENIE")
    val res9 = Vcf.validate(nine, "CTR")
    assert(res9.findings.exists(f => f.rule == "too_few_columns" &&
      f.message.startsWith("vcf: Must have at least 10 columns.")))
    val res8 = Vcf.validate(nine.drop("FORMAT"), "CTR")
    assert(res8.findings.exists(_.rule == "missing_headers"))

    // 10-column single-sample with TUMOR header is fine
    val ten = vcf.drop("NOTGENIE").withColumnRenamed("GENIE-CTR-1-1", "TUMOR")
      .na.fill("GT", Seq("FORMAT")).dropDuplicates("CHROM", "POS", "REF", "ALT")
    assert(Vcf.validate(ten, "CTR").isValid)
  }

  test("P20: VCF row findings keep their counts and order") {
    import graft.rules.Finding
    // 11 columns: a well-formed tumor column and a foreign normal column
    val vcf = Seq[(String, String, String, String, String, String, String, String, String, String, String)](
      ("1", "100", "rs1", "A", "T", ".", "PASS", "DP=4", "GT", "0/1", "0/0"),
      ("1", "100", "rs1", "A", "T", ".", "PASS", "DP=4", "GT", "0/1", "0/0"),    // duplicate variant
      (null, "200", "rs2", "A", "T", ".", "PASS", "DP=5", "GT", "0/1", "0/0"),   // space delimited
      ("1 300 rs3", null, "rs3", "A", "T", ".", "PASS", "DP=6", "GT", "0/1", "0/0"), // space delimited + whitespace
      ("2", "400", "rs4", "G", "C", ".", "PASS", "DP=7", null, null, "0/0"),     // FORMAT + tumor missing
      ("2", "500", "rs5", "G", "C", ".", "PASS", "DP 8", "GT", null, null)       // tumor + normal missing, whitespace
    ).toDF("CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT",
      "GENIE-CTR-1-1", "NOTGENIE")
    val fired = graft.sources.Vcf.validate(vcf, "CTR").findings.filter(_.count > 0)
    assert(fired == Seq(
      Finding("duplicate_variants", "error", 1, None, "vcf: Must not have duplicate variants."),
      Finding("space_delimited", "error", 2, None,
        "vcf: May contain rows that are space delimited instead of tab delimited."),
      Finding("format_missing_values", "error", 1, None,
        "vcf: Must not have missing values in FORMAT column."),
      Finding("normal_sample_column", "error", 1, None,
        "vcf: normal sample column must start with GENIE-CTR"),
      Finding("missing_values_genie-ctr-1-1", "error", 2, None,
        "vcf: Must not have missing values in GENIE-CTR-1-1 column."),
      Finding("missing_values_notgenie", "error", 1, None,
        "vcf: Must not have missing values in NOTGENIE column."),
      Finding("whitespace", "warning", 2, None,
        "vcf: Should not have any white spaces in any of the columns.")))
  }

  test("meta sinks + versioned release folder make a structurally complete release") {
    import java.nio.file.{Files, Paths}
    val base = tmpDir("release-folder")
    val (releaseDir, caseLists) = CbioSinks.releaseFolderLayout(base, "15.4-consortium")
    assert(releaseDir.endsWith("Release 15/15.4-consortium"))
    assert(Files.isDirectory(Paths.get(caseLists)))

    val study = CbioSinks.writeMetaStudy("genie_ctr", "GENIE", "Test cohort",
      "15.4-consortium", releaseDir)
    val sampleMeta  = CbioSinks.writeMetaClinical("genie_ctr", patientLevel = false, releaseDir)
    val patientMeta = CbioSinks.writeMetaClinical("genie_ctr", patientLevel = true, releaseDir)
    val mafMeta     = CbioSinks.writeMetaMaf("genie_ctr", releaseDir)

    val studyText = new String(Files.readAllBytes(Paths.get(study)), "UTF-8")
    assert(studyText.contains("name: GENIE Cohort v15.4-consortium"))
    assert(studyText.contains("cancer_study_identifier: genie_ctr"))
    assert(new String(Files.readAllBytes(Paths.get(sampleMeta)), "UTF-8")
      .contains("datatype: SAMPLE_ATTRIBUTES"))
    assert(new String(Files.readAllBytes(Paths.get(patientMeta)), "UTF-8")
      .contains("data_filename: data_clinical_patient.txt"))
    assert(new String(Files.readAllBytes(Paths.get(mafMeta)), "UTF-8")
      .contains("stable_id: mutations"))

    // version revision (database_to_staging.py:1977-1996)
    CbioSinks.reviseMetaVersion(study, "16.1-consortium")
    val revised = new String(Files.readAllBytes(Paths.get(study)), "UTF-8")
    assert(revised.contains("name: GENIE Cohort v16.1-consortium"))
    assert(!revised.contains("15.4-consortium"))
  }
}
