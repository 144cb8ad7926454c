package graft.formats

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.rules.{DuplicateKey, RowRule, Rules, ValidationResult}

/** MAF format validator (SURVEY §2.2 P13-P17; reference maf.py).
  * One-pass battery keyed on the primary key; the global cross-column
  * allele check (P17) is a bool aggregate folded into the same
  * aggregation.
  */
object MafFormat {

  val requiredColumns: Seq[String] = Seq(
    "CHROMOSOME", "START_POSITION", "END_POSITION", "REFERENCE_ALLELE",
    "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2")

  /** The variant primary key: duplicate check (P14) and table upsert. */
  val primaryKey: Seq[String] = Seq(
    "CHROMOSOME", "START_POSITION", "REFERENCE_ALLELE", "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2")

  val numericColumns: Seq[String] = Seq(
    "START_POSITION", "END_POSITION", "T_DEPTH", "T_REF_COUNT",
    "T_ALT_COUNT", "N_DEPTH", "N_REF_COUNT", "N_ALT_COUNT")

  def rowRules(center: String): Seq[RowRule] = {
    val key = concat_ws(" ", primaryKey.map(col): _*)
    Seq(
      RowRule("chromosome_domain", "error",
        Rules.badChromosome(col("CHROMOSOME"), allowChrPrefix = false), key,
        "maf: Please double check your CHROMOSOME column.  This column must only be these values: " +
          (1 to 22).mkString(", ") + ", X, Y, MT"),
      RowRule("start_le_end", "warning",
        // try_cast: ANSI mode throws on dirty position strings otherwise
        Rules.startAfterEnd(col("START_POSITION").try_cast("long"),
          col("END_POSITION").try_cast("long")), key,
        "Mutation: START_POSITION after END_POSITION ({count} rows, e.g. {example})"),
      RowRule("tsa2_allele", "error",
        Rules.badAllele(col("TUMOR_SEQ_ALLELE2")), key,
        "maf: Your TUMOR_SEQ_ALLELE2 column has invalid allele values. " +
          "This is the list of accepted allele values that can appear individually " +
          "or in combination with each other: A,T,C,G,N.\n" +
          "This is the list of accepted allele values that can only appear individually: -"),
      RowRule("ref_allele", "error",
        Rules.badAllele(col("REFERENCE_ALLELE")), key,
        "maf: Your REFERENCE_ALLELE column has invalid allele values. " +
          "This is the list of accepted allele values that can appear individually " +
          "or in combination with each other: A,T,C,G,N.\n" +
          "This is the list of accepted allele values that can only appear individually: -"),
      RowRule("barcode_prefix", "error",
        Rules.badIdentifier(col("TUMOR_SAMPLE_BARCODE"), s"GENIE-$center"), key,
        s"maf: TUMOR_SAMPLE_BARCODE must start with GENIE-$center")) ++
    // P15 (maf.py:300-327): each present numeric column must coerce to
    // float; literal-NA values were nulled on read and pass like the
    // reference's na_values path. One rule per column, skipped when the
    // column is absent (requires), message verbatim.
    numericColumns.map(c =>
      RowRule(s"numeric_${c.toLowerCase}", "error",
        col(c).isNotNull && col(c).try_cast("double").isNull, key,
        s"maf: $c must be a numerical column.", requires = Seq(c)))
  }

  /** `sp` mirrors the reference's special-prep flag (maf.py:303): SP
    * centers are exempt from the T_DEPTH/T_REF_COUNT requirement.
    */
  def validate(maf: DataFrame, center: String, sp: Boolean = false): ValidationResult = {
    import graft.rules.Finding
    val missing = requiredColumns.filterNot(maf.columns.map(_.toUpperCase).contains)
    // golden template verbatim (maf.py:253-265, incl. its "makesure" quirk)
    val schemaFindings =
      if (missing.isEmpty) Nil
      else Seq(Finding("missing_headers", "error", missing.length.toLong, None,
        s"maf: Must at least have these headers: ${missing.mkString(",")}. " +
          "If you are writing your maf file with R, please make" +
          "sure to specify the 'quote=FALSE' parameter."))
    if (missing.nonEmpty) return ValidationResult(schemaFindings)

    // ONE scan: the whole row battery + the P17 cross-column bool
    // aggregate (maf.py:14-123); P14: duplicate variants on the trimmed
    // 5-col PK (maf.py:273-299), the offending barcodes listed
    val battery = Rules.Battery.run(maf, rowRules(center),
      Some(DuplicateKey(primaryKey.map(c => trim(col(c)).as(c)), Some(col("TUMOR_SAMPLE_BARCODE")))),
      Seq(bool_and(coalesce(col("TUMOR_SEQ_ALLELE2") === col("REFERENCE_ALLELE"), lit(false)))
        .as("tsa2_always_ref")))
    val dupSamples = battery.dups.listed
    val dupFinding = Finding("duplicate_variants", "error", battery.dups.groups, dupSamples.headOption,
      "maf: Must not have duplicated variants. Samples with duplicated variants: " +
        dupSamples.mkString(", "))

    // maf.py:301-304: without T_DEPTH there must at least be T_REF_COUNT
    val depthFindings =
      if (!sp && !maf.columns.contains("T_DEPTH") && !maf.columns.contains("T_REF_COUNT"))
        Seq(Finding("missing_t_depth", "error", 1, None,
          "maf: If missing T_DEPTH, must have T_REF_COUNT!"))
      else Nil

    val tsa2AlwaysRef = battery.extras.get("tsa2_always_ref")
      .collect { case b: Boolean => b }.getOrElse(false)
    val p17 = Finding("tsa2_equals_ref_everywhere", "error",
      if (tsa2AlwaysRef) 1 else 0, None,
      "Mutation: TUMOR_SEQ_ALLELE2 equals REFERENCE_ALLELE on every row — wrong column mapping")

    ValidationResult(schemaFindings ++ battery.result.findings ++ depthFindings :+ dupFinding :+ p17)
  }
}
