package graft.formats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.rules.{RowRule, Rules, ValidationResult}

/** SEG + SV format validators (SURVEY §2.2 P22, P14; reference seg.py,
  * structural_variant.py). Small rule sets; same one-pass battery.
  */
object SegFormat {

  val requiredColumns: Seq[String] = Seq(
    "ID", "CHROM", "LOC.START", "LOC.END", "NUM.MARK", "SEG.MEAN")

  /** Messages verbatim from the reference incl. the "integars" typo
    * (seg.py:63-90, validate.py:170-216, process_functions.py:692-705,
    * 214-221).
    */
  def rowRules(center: String): Seq[RowRule] = {
    val key = col("ID")
    val chromVals = (1 to 22).map(_.toString) ++ Seq("X", "Y", "MT")
    def intRule(c: String) =
      RowRule(s"${c.toLowerCase.replace('.', '_')}_int", "error",
        Rules.notInteger(col(s"`$c`")), key,
        s"Seg: Only integars allowed in these column(s): $c.", requires = Seq(c))
    Seq(
      RowRule("id_prefix", "error",
        col("ID").isNull || !col("ID").startsWith(s"GENIE-$center"), key,
        s"Seg: ID must start with GENIE-$center", requires = Seq("ID")),
      RowRule("id_length", "error",
        length(col("ID")) >= 50, key,
        "Seg: ID must have less than 50 characters.", requires = Seq("ID")),
      RowRule("chr_prefix", "warning",
        coalesce(col("CHROM").contains("chr"), lit(false)), key,
        "Seg: Should not have the chr prefix in front of chromosomes.",
        requires = Seq("CHROM")),
      RowRule("chrom_domain", "error",
        Rules.badChromosome(col("CHROM"), allowChrPrefix = true), key,
        "Seg: Please double check your CHROM column.  This column must " +
          s"only be these values: ${chromVals.mkString(", ")}",
        requires = Seq("CHROM")),
      intRule("LOC.START"), intRule("LOC.END"), intRule("NUM.MARK"),
      RowRule("seg_mean_numeric", "error",
        col("`SEG.MEAN`").isNotNull && col("`SEG.MEAN`").try_cast("double").isNull, key,
        "Seg: Only numerical values allowed in SEG.MEAN.",
        requires = Seq("SEG.MEAN")),
      RowRule("no_nulls", "error",
        requiredColumns.map(c => col(s"`$c`").isNull).reduce(_ || _), key,
        "Seg: No null or empty values allowed in column(s): {count} rows affected",
        requires = requiredColumns))
  }

  def validate(seg: DataFrame, center: String): ValidationResult = {
    import graft.rules.Finding
    val missing = requiredColumns.filterNot(seg.columns.map(_.toUpperCase).contains)
    // verbatim seg.py:63-65
    val schemaFindings =
      if (missing.isEmpty) Nil
      else Seq(Finding("missing_headers", "error", missing.length.toLong, None,
        s"Your seg file is missing these headers: ${missing.mkString(", ")}."))
    if (missing.nonEmpty) ValidationResult(schemaFindings.toSeq)
    else {
      // the row count rides the battery's single aggregation
      val (battery, extras) = Rules.Battery.runWithExtras(seg, rowRules(center),
        Seq(count(lit(1)).as("n_rows")))
      // P14: exact duplicate rows
      val dups = extras("n_rows").asInstanceOf[Long] - seg.dropDuplicates().count()
      ValidationResult(battery.findings :+
        Finding("duplicate_rows", "warning", dups, None, s"Seg: $dups duplicated rows"))
    }
  }
}

/** SV validator: full-row duplicates + sample-id checks + germline drop
  * (structural_variant.py:31-88, database_to_staging.py:862-881).
  */
object SvFormat {

  def validate(sv: DataFrame, center: String): ValidationResult = {
    import graft.rules.Finding
    val idCol = sv.columns.map(_.toUpperCase)
      .find(c => c == "SAMPLE_ID" || c == "SAMPLE_ID_TUMOR").getOrElse("SAMPLE_ID")
    if (!sv.columns.map(_.toUpperCase).contains(idCol))
      return ValidationResult(Seq(Finding("missing_col_SAMPLE_ID", "error", 1, None,
        "SV: missing required column SAMPLE_ID")))
    // the row count rides the battery's single aggregation
    val (battery, extras) = Rules.Battery.runWithExtras(sv, Seq(
      RowRule("sample_id_prefix", "error",
        Rules.badIdentifier(col(idCol), s"GENIE-$center"), col(idCol),
        s"SV: SAMPLE_ID must start with GENIE-$center ({count} rows, e.g. {example})")),
      Seq(count(lit(1)).as("n_rows")))
    val dups = extras("n_rows").asInstanceOf[Long] - sv.dropDuplicates().count()
    ValidationResult(battery.findings :+
      Finding("duplicate_rows", "error", dups, None, s"SV: $dups duplicated rows"))
  }

  /** C13: center extraction from the sample id (split on '-', part 2). */
  def centerOf(c: Column): Column = split(c, "-").getItem(1)
}
