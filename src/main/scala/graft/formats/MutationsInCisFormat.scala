package graft.formats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rules.{CrossFileChecks, Finding, RowRule, Rules, ValidationResult}

/** Validator for the mutations-in-cis filter file
  * (`mutationsInCis_filtered_samples.csv`, genie_registry/
  * mutationsInCis.py:48-118). Three checks, messages verbatim:
  *
  *  - required headers (mutationsInCis.py:61-90);
  *  - when a prior database snapshot is supplied, every resubmitted
  *    variant's 5-column primary key must already exist in it
  *    (mutationsInCis.py:92-107) — delegated to
  *    [[CrossFileChecks.unknownCisVariants]] so the comparison is a
  *    distributed anti-join on the concatenated key, never a collect;
  *  - GENIE identifier prefix/length on Tumor_Sample_Barcode
  *    (process_functions.py:199-222), a one-pass rule battery.
  */
object MutationsInCisFormat {

  // mutationsInCis.py:61-75
  val requiredHeaders: Seq[String] = Seq(
    "Flag", "Center", "Tumor_Sample_Barcode", "Hugo_Symbol", "HGVSp_Short",
    "Variant_Classification", "Chromosome", "Start_Position",
    "Reference_Allele", "Tumor_Seq_Allele2", "t_alt_count_num", "t_depth")

  def validate(df: DataFrame, center: String,
               db: Option[DataFrame] = None): ValidationResult = {
    var findings = Vector.empty[Finding]

    val missing = requiredHeaders.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      findings :+= Finding("missing_headers", "error", missing.length.toLong, None,
        "Mutations In Cis Filter File: " +
          s"Must at least have these headers: ${missing.mkString(",")}.")
    else db.foreach { existing =>
      val unknown = CrossFileChecks.unknownCisVariants(df, existing).count()
      if (unknown > 0)
        findings :+= Finding("unknown_variants", "error", unknown, None,
          "Mutations In Cis Filter File: All variants must come from the " +
            "original mutationInCis_filtered_samples.csv file in " +
            "each institution's staging folder.")
    }

    if (df.columns.contains("Tumor_Sample_Barcode")) {
      val id = col("Tumor_Sample_Barcode")
      findings ++= Rules.Battery.run(df, Seq(
        RowRule("identifier_prefix", "error",
          !coalesce(id.startsWith(s"GENIE-$center"), lit(false)), Rules.noExample,
          s"Mutations In Cis Filter File: TUMOR_SAMPLE_BARCODE must start with GENIE-$center"),
        RowRule("identifier_length", "error", length(id) >= 50, Rules.noExample,
          "Mutations In Cis Filter File: TUMOR_SAMPLE_BARCODE must have less than 50 characters."))
      ).findings
    }

    ValidationResult(findings)
  }
}
