package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rules.{DuplicateKey, Finding, RowRule, Rules, ValidationResult}

/** VCF reader (SURVEY §2.1 S4; reference vcf.py:32-91).
  *
  * VCF prepends `##` meta lines and a `#CHROM ...` header line. The
  * reference scans for the header then re-reads with those names. Spark
  * shape: one pass over `spark.read.text` to find the header (cheap —
  * headers sit in the first KB of the first partition), then a schema'd
  * csv read of the body with `#`-comment skipping; the same NA contract
  * as MAF applies (REF/ALT keep literal "NA").
  */
object Vcf {

  /** The 8 always-required headers (vcf.py:113-130); FORMAT is required
    * only when tumor/normal sample columns are present (the 10/11-column
    * rule, vcf.py:131-160).
    */
  val requiredHeaders: Seq[String] =
    Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO")

  /** Locate the `#CHROM` header line and return its column names. */
  def headerColumns(spark: SparkSession, path: String): Seq[String] = {
    val header = spark.read.text(path)
      .filter(col("value").startsWith("#CHROM"))
      .limit(1).collect().headOption
      .map(_.getString(0))
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no #CHROM header line — not a VCF"))
    header.stripPrefix("#").split("\t", -1).toSeq
  }

  /** S4: read body rows with the located header names; allele columns
    * (REF/ALT) keep NA literals, the rest are NA-normalized.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val cols = headerColumns(spark, path)
    val body = spark.read
      .option("sep", "\t")
      .option("comment", "#")
      .option("nullValue", "")
      .csv(path)
      .toDF(cols: _*)
    val exempt = Set("REF", "ALT")
    body.select(body.columns.toIndexedSeq.map { c =>
      if (exempt.contains(c.toUpperCase)) col(c)
      else when(col(c).isin(Maf.naStrings: _*), lit(null)).otherwise(col(c)).as(c)
    }: _*)
  }

  /** P20 (vcf.py:92-275): structured validation of a read VCF frame
    * (columns as [[read]] yields them — '#' stripped from CHROM).
    * Messages verbatim from the reference, including the 10/11-column
    * tumor/normal sample rules.
    */
  def validate(df: DataFrame, center: String): ValidationResult = {
    val cols = df.columns.toSeq
    var findings = Vector.empty[Finding]
    def add(rule: String, msg: String): Unit =
      findings :+= Finding(rule, "error", 1, None, msg)

    // tumor/normal column-count rules (vcf.py:215-275): column names only
    def genieIdErrs(id: String, colDesc: String): Seq[String] = {
      val prefix = if (!id.startsWith(s"GENIE-$center"))
        Seq(s"vcf: $colDesc must start with GENIE-$center") else Nil
      val len = if (id.length >= 50)
        Seq(s"vcf: $colDesc must have less than 50 characters.") else Nil
      prefix ++ len
    }
    var sampleId: Option[String] = None
    var normalId: Option[String] = None
    if (cols.length > 11)
      add("too_many_columns",
        "vcf: Should not have more than 11 columns. Only single sample or " +
          "matched tumor normal vcf files are accepted.")
    else if (cols.length == 11) {
      sampleId = Some(cols(cols.length - 2)); normalId = Some(cols.last)
      genieIdErrs(sampleId.get, "tumor sample column")
        .foreach(m => add("tumor_sample_column", m))
      genieIdErrs(normalId.get, "normal sample column")
        .foreach(m => add("normal_sample_column", m))
    } else if (cols.length == 10) {
      if (!cols.contains("TUMOR")) {
        sampleId = Some(cols.last)
        val errs = genieIdErrs(sampleId.get, "tumor sample column")
        if (errs.nonEmpty)
          add("tumor_sample_column", errs.mkString(" ") +
            " if vcf represents a single sample and TUMOR is not the sample column header.")
      } else sampleId = Some("TUMOR")
    } else
      add("too_few_columns",
        "vcf: Must have at least 10 columns. If the vcf represents a single " +
          "sample, then it's missing a tumor sample column. If the vcf " +
          "represents a matched tumor normal, then it's missing both normal " +
          "sample and tumor sample columns.")

    // one battery: the header-gated row rules and duplicate key, then
    // the sample-column nulls and the whitespace smell (vcf.py:13-15,
    // 166-169)
    def rule(name: String, sev: String, violation: Column, msg: String) =
      RowRule(name, sev, violation, Rules.noExample, msg)
    val headered = Seq("CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT")
      .forall(cols.contains)
    val headerRules = if (!headered) Nil else Seq(
      rule("space_delimited", "error", col("CHROM").isNull || col("POS").isNull,
        "vcf: May contain rows that are space delimited instead of tab delimited."),
      rule("format_missing_values", "error", col("FORMAT").isNull,
        "vcf: Must not have missing values in FORMAT column."))
    val valueRules = (sampleId.toSeq ++ normalId.toSeq).filter(cols.contains).map(c =>
      rule(s"missing_values_${c.toLowerCase}", "error", col(c).isNull,
        s"vcf: Must not have missing values in $c column.")) :+
      rule("whitespace", "warning",
        cols.map(c => coalesce(col(c).cast("string").contains(" "), lit(false))).reduce(_ || _),
        "vcf: Should not have any white spaces in any of the columns.")
    val battery = Rules.Battery.run(df, headerRules ++ valueRules,
      Option.when(headered)(DuplicateKey(Seq("CHROM", "POS", "REF", "ALT").map(col))))
    val (headerFindings, valueFindings) = battery.result.findings.splitAt(headerRules.length)
    val headerChecks =
      if (headered) Finding("duplicate_variants", "error", battery.dups.groups, None,
        "vcf: Must not have duplicate variants.") +: headerFindings
      else Seq(Finding("missing_headers", "error", 1, None,
        "vcf: Must have these headers: CHROM, POS, ID, REF, ALT, QUAL, FILTER, INFO, FORMAT."))
    ValidationResult(headerChecks ++ findings ++ valueFindings)
  }
}
