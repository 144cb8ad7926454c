package graft.formats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.rules.{DuplicateKey, RowRule, Rules, ValidationResult}

/** Clinical (sample + patient) format: validator + processor
  * (SURVEY §2.2 P1-P12, §2.1 S2; reference clinical.py).
  *
  * The whole battery evaluates in ONE pass (Rules.Battery); every check
  * is a codegen'd predicate, so validating a 100 TB clinical dump is a
  * single scan.
  */
object ClinicalFormat {

  val sampleRequired: Seq[String] = Seq(
    "SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE",
    "SAMPLE_TYPE", "SEQ_ASSAY_ID")
  val patientRequired: Seq[String] = Seq(
    "PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY", "BIRTH_YEAR")

  /** Interval sentinels (clinical.py:112-219): redaction markers that
    * must co-occur between INT_* and YEAR_* columns.
    */
  val daySentinels: Seq[String]  = Seq(">32485", "<6570", "Unknown", "Not Collected", "Not Released")
  val yearSentinels: Seq[String] = Seq(">89", "<18", "Unknown", "Not Collected", "Not Released")

  /** DEAD sentinel strings that must equal INT_DOD verbatim
    * (clinical.py:89-96 `allowed_str`).
    */
  val deadSentinels: Seq[String] = Seq("Unknown", "Not Collected", "Not Applicable", "Not Released")

  /** P1: missing required columns (schema-level, driver-side). */
  def missingColumns(df: DataFrame, required: Seq[String]): Seq[String] =
    required.filterNot(df.columns.map(_.toUpperCase).contains)

  /** Sample-file row rules (center-parameterized). Messages verbatim
    * from the reference (clinical.py:904-906, 948-952, 1058-1061;
    * process_functions.py:214-221).
    */
  def sampleRules(center: String): Seq[RowRule] = {
    val sid = col("SAMPLE_ID")
    Seq(
      RowRule("sample_id_prefix", "error",
        sid.isNull || !sid.startsWith(s"GENIE-$center"), sid,
        s"Sample Clinical File: SAMPLE_ID must start with GENIE-$center",
        requires = Seq("SAMPLE_ID")),
      RowRule("sample_id_length", "error",
        length(sid) >= 50, sid,
        "Sample Clinical File: SAMPLE_ID must have less than 50 characters.",
        requires = Seq("SAMPLE_ID")),
      // message verbatim incl. the reference's "much" typo (clinical.py:904-906)
      RowRule("patient_in_sample", "error",
        !coalesce(sid.contains(col("PATIENT_ID")), lit(false)), sid,
        "Sample Clinical File: PATIENT_ID's much be contained in the SAMPLE_ID's (ex. SAGE-1 <-> SAGE-1-2)",
        requires = Seq("SAMPLE_ID", "PATIENT_ID")),
      // clinical.py:938-952: only Unknown/>32485/<6570 are exempt from
      // the integer check (NOT the full day-sentinel list)
      RowRule("age_at_seq_report", "error",
        Rules.notInteger(col("AGE_AT_SEQ_REPORT")) &&
          !col("AGE_AT_SEQ_REPORT").isInCollection(Seq("Unknown", ">32485", "<6570")), sid,
        "Sample Clinical File: Please double check your AGE_AT_SEQ_REPORT. " +
          "It must be an integer, 'Unknown', '>32485', '<6570'.",
        requires = Seq("AGE_AT_SEQ_REPORT")),
      RowRule("oncotree_code_case", "warning",
        col("ONCOTREE_CODE") =!= upper(col("ONCOTREE_CODE")), sid,
        "Sample: ONCOTREE_CODE should be uppercase ({count} rows, e.g. {example})",
        requires = Seq("ONCOTREE_CODE")),
      RowRule("seq_assay_empty", "error",
        col("SEQ_ASSAY_ID").isNull || trim(col("SEQ_ASSAY_ID")) === "", sid,
        "Sample Clinical File: Please double check your SEQ_ASSAY_ID columns, there are empty rows.",
        requires = Seq("SEQ_ASSAY_ID")),
      // _validate_sample_class_and_type (clinical.py:693-778): cfDNA ⇔
      // SAMPLE_TYPE 8, both directions. SAMPLE_TYPE coerces numerically
      // (pandas to_numeric errors="coerce": non-numeric → NaN ≠ 8 flags);
      // a null SAMPLE_CLASS ≠ 'cfDNA' flags likewise — both via null-safe
      // comparisons. Runs only when both columns exist (clinical.py:1235-1244).
      RowRule("sample_class_requires_type8", "error",
        col("SAMPLE_CLASS") === "cfDNA" &&
          !(expr("try_cast(SAMPLE_TYPE as double)") <=> 8.0), sid,
        "Sample Clinical File: Invalid SAMPLE_TYPE values detected for " +
          "SAMPLE_CLASS = 'cfDNA'. When SAMPLE_CLASS is 'cfDNA', SAMPLE_TYPE must be 8.",
        requires = Seq("SAMPLE_CLASS", "SAMPLE_TYPE")),
      RowRule("sample_type8_requires_class", "error",
        (expr("try_cast(SAMPLE_TYPE as double)") <=> 8.0) &&
          !(col("SAMPLE_CLASS") <=> "cfDNA"), sid,
        "Sample Clinical File: Invalid SAMPLE_CLASS values detected for " +
          "SAMPLE_TYPE = 8. When SAMPLE_TYPE is 8, SAMPLE_CLASS must be 'cfDNA'.",
        requires = Seq("SAMPLE_CLASS", "SAMPLE_TYPE")),
      RowRule("seq_assay_id_prefix", "error",
        col("SEQ_ASSAY_ID").isNotNull && trim(col("SEQ_ASSAY_ID")) =!= "" &&
          !upper(col("SEQ_ASSAY_ID")).startsWith(center), sid,
        "Sample Clinical File: Please make sure your SEQ_ASSAY_IDs start with " +
          s"your center abbreviation: {example}.",
        requires = Seq("SEQ_ASSAY_ID")),
      RowRule("empty_row", "error",
        Rules.emptyRow(Seq(sid, col("PATIENT_ID"), col("ONCOTREE_CODE"))), lit("<empty>"),
        "Sample: {count} entirely empty rows",
        requires = Seq("SAMPLE_ID", "PATIENT_ID", "ONCOTREE_CODE")))
  }

  def patientRules(center: String, currentYear: Int = 2026): Seq[RowRule] = {
    val pid = col("PATIENT_ID")
    Seq(
      RowRule("patient_id_prefix", "error",
        pid.isNull || !pid.startsWith(s"GENIE-$center"), pid,
        s"Patient Clinical File: PATIENT_ID must start with GENIE-$center",
        requires = Seq("PATIENT_ID")),
      RowRule("patient_id_length", "error",
        length(pid) >= 50, pid,
        "Patient Clinical File: PATIENT_ID must have less than 50 characters.",
        requires = Seq("PATIENT_ID")),
      // _check_year (clinical.py:20-69) with the BIRTH_YEAR sentinel list
      RowRule("birth_year", "error",
        Rules.badYear(col("BIRTH_YEAR"), currentYear, yearSentinels :+ "cannotReleaseHIPAA"), pid,
        "Patient Clinical File: Please double check your BIRTH_YEAR column, " +
          s"it must be an integer in YYYY format <= $currentYear or " +
          "'Unknown', 'Not Collected', 'Not Released', '>89', '<18'.",
        requires = Seq("BIRTH_YEAR")),
      RowRule("death_after_contact", "error",
        col("YEAR_DEATH").rlike("^\\d{4}$") && col("YEAR_CONTACT").rlike("^\\d{4}$") &&
          col("YEAR_DEATH").cast("int") < col("YEAR_CONTACT").cast("int"), pid,
        "Patient Clinical File: Please double check your YEAR_DEATH and " +
          "YEAR_CONTACT columns. YEAR_DEATH must be >= YEAR_CONTACT.",
        requires = Seq("YEAR_DEATH", "YEAR_CONTACT")),
      // _check_int_dod_validity (clinical.py:1090-1118): numeric-only compare
      RowRule("int_dod_validity", "error",
        col("INT_DOD").try_cast("double").isNotNull &&
          col("INT_CONTACT").try_cast("double").isNotNull &&
          col("INT_DOD").try_cast("double") < col("INT_CONTACT").try_cast("double"), pid,
        "Patient Clinical File: Please double check your INT_DOD and " +
          "INT_CONTACT columns. INT_DOD must be >= INT_CONTACT.",
        requires = Seq("INT_DOD", "INT_CONTACT")),
      // P8 (clinical.py:72-109): dead ⇒ INT_DOD ≠ "Not Applicable";
      // alive ⇒ INT_DOD = "Not Applicable" (any other value flags, not just
      // numeric); DEAD sentinel strings must equal INT_DOD verbatim.
      // Null-safe (<=>) so a missing INT_DOD flags like pandas NaN != str.
      RowRule("dead_dod_consistency", "error",
        (col("DEAD") === "True" && (col("INT_DOD") <=> "Not Applicable")) ||
          (col("DEAD") === "False" && !(col("INT_DOD") <=> "Not Applicable")) ||
          (col("DEAD").isInCollection(deadSentinels) && !(col("DEAD") <=> col("INT_DOD"))), pid,
        "Patient Clinical File: DEAD value is inconsistent with INT_DOD for at least one patient.",
        requires = Seq("DEAD", "INT_DOD")),
      // P9 (clinical.py:112-219): redaction sentinels must co-occur
      // between the day-resolution INT_* and year-resolution YEAR_* pair
      RowRule("int_year_redaction_consistency", "error",
        (col("INT_CONTACT") === ">32485") =!= (col("YEAR_CONTACT").isin(">89", "cannotReleaseHIPAA")) ||
          (col("INT_CONTACT") === "<6570") =!= (col("YEAR_CONTACT") === "<18"), pid,
        "Patient: INT_CONTACT and YEAR_CONTACT redaction sentinels do not co-occur ({count} rows, e.g. {example})",
        requires = Seq("INT_CONTACT", "YEAR_CONTACT")))
  }

  /** P10 gendered primaries (clinical.py:969-970): a sample whose
    * oncotree PRIMARY node is one of these needs SEX 1 (male) or 2
    * (female).
    */
  val maleOncoCodes: Seq[String]  = Seq("TESTIS", "PROSTATE", "PENIS")
  val womenOncoCodes: Seq[String] = Seq("CERVIX", "VULVA", "UTERUS", "OVARY")

  /** P10 SEX-vs-cancer conflict (clinical.py:985-1016) over a row with
    * the oncotree PRIMARY_CODE (not the sample's own code) and SEX: an
    * empty or non-numeric SEX conflicts (pandas NaN != 1.0 is True).
    */
  val sexConflict: Column = {
    val sexD = expr("try_cast(SEX as double)")
    (col("PRIMARY_CODE").isInCollection(maleOncoCodes) && !(sexD <=> 1.0)) ||
      (col("PRIMARY_CODE").isInCollection(womenOncoCodes) && !(sexD <=> 2.0))
  }

  /** P10 (clinical.py:630-691): oncotree membership (case-insensitive)
    * + SEX vs gendered-cancer-type conflicts, via the broadcast map.
    */
  def oncotreeFindings(sample: DataFrame, patient: DataFrame,
                       oncotree: DataFrame): Seq[graft.rules.Finding] = {
    import graft.rules.Finding
    // one action: count + offending codes together
    val unmappedRow = sample
      .withColumn("ONCOTREE_CODE", upper(col("ONCOTREE_CODE")))
      .join(broadcast(oncotree.select("ONCOTREE_CODE", "CANCER_TYPE")), Seq("ONCOTREE_CODE"), "left")
      .filter(col("CANCER_TYPE").isNull && col("ONCOTREE_CODE").isNotNull)
      .agg(count(lit(1)).as("n"),
        slice(sort_array(collect_set(col("ONCOTREE_CODE"))), 1, 5).as("codes"))
      .head()
    val nUnmapped = unmappedRow.getAs[Long]("n")
    val unmappedCodes = unmappedRow.getAs[scala.collection.Seq[String]]("codes").toSeq

    val (conflicts, conflictIds) =
      if (!patient.columns.contains("SEX")) (0L, Seq.empty[String])
      else {
        val row = sample
          .select(col("SAMPLE_ID"), col("PATIENT_ID"), upper(col("ONCOTREE_CODE")).as("ONCOTREE_CODE"))
          .join(broadcast(oncotree.select("ONCOTREE_CODE", "PRIMARY_CODE")), Seq("ONCOTREE_CODE"))
          .join(patient.select("PATIENT_ID", "SEX"), Seq("PATIENT_ID"))
          .filter(sexConflict)
          .agg(count(lit(1)).as("n"),
            sort_array(collect_set(col("SAMPLE_ID"))).as("ids")).head()
        (row.getAs[Long]("n"), row.getAs[scala.collection.Seq[String]]("ids").toSeq)
      }

    Seq(
      // verbatim _validate_oncotree_code_mapping_message (clinical.py:676-691)
      Finding("oncotree_membership", "error", nUnmapped, unmappedCodes.headOption,
        "Sample Clinical File: Please double check that all your ONCOTREE " +
          s"CODES exist in the mapping. You have $nUnmapped samples that " +
          s"don't map. These are the codes that don't map: ${unmappedCodes.mkString(",")}"),
      Finding("sex_cancer_conflict", "warning", conflicts, conflictIds.headOption,
        "Sample Clinical File: Some SAMPLE_IDs have conflicting SEX and " +
          s"ONCOTREE_CODES: ${conflictIds.mkString(",")}"))
  }

  /** Full validate: schema checks + one-pass row battery over the
    * sample/patient pair. Its three Spark actions (sample battery keyed
    * on SAMPLE_ID, patient battery, orphan anti-join) are independent
    * and run overlapped ([[graft.core.Fan.overlap]]).
    */
  def validate(sample: DataFrame, patient: DataFrame, center: String): ValidationResult = {
    import graft.rules.Finding
    // golden message templates verbatim from the reference
    // (clinical.py:853, 877, 964, 1026, 1063; tests/test_clinical.py)
    val schemaFindings =
      missingColumns(sample, sampleRequired).map(c =>
        Finding(s"missing_col_$c", "error", 1, None,
          s"Sample Clinical File: Must have $c column.")) ++
      missingColumns(patient, patientRequired).map(c =>
        Finding(s"missing_col_$c", "error", 1, None,
          s"Patient Clinical File: Must have $c column.")) ++
      // P28 (clinical.py:780-797): deprecated columns must be absent
      Seq("SEQ_DATE").filter(c => sample.columns.map(_.toUpperCase).contains(c)).map(c =>
        Finding(s"deprecated_col_$c", "error", 1, None,
          s"Sample Clinical File: $c is now deprecated. Please remove."))
    // the sample battery's key is P11: duplicated SAMPLE_ID (clinical.py:855-858)
    def sampleFindings: Seq[Finding] = {
      val key = Option.when(sample.columns.contains("SAMPLE_ID"))(DuplicateKey(Seq(col("SAMPLE_ID"))))
      val battery = Rules.Battery.run(sample, sampleRules(center), key)
      battery.result.findings :+ Finding("duplicate_sample_id", "error", battery.dups.groups, None,
        "Sample Clinical File: No duplicated SAMPLE_ID allowed.\n" +
          "If there are no duplicated SAMPLE_IDs, and both sample and patient files are uploaded, " +
          "then please check to make sure no duplicated PATIENT_IDs exist in the patient clinical file.")
    }

    // P11 cross-frame: orphan samples (patient id absent from patient file,
    // clinical.py:909-918) — guarded on key columns, computed in ONE action
    // (count + full offending-id list like the reference)
    def orphanFinding: Finding =
      if (!sample.columns.contains("PATIENT_ID") || !patient.columns.contains("PATIENT_ID") ||
          !sample.columns.contains("SAMPLE_ID"))
        Finding("orphan_samples", "error", 0, None, "")
      else {
        val row = sample.join(patient.select("PATIENT_ID"), Seq("PATIENT_ID"), "left_anti")
          .agg(count(lit(1)).as("n"),
            sort_array(collect_set(col("SAMPLE_ID"))).as("ids")).head()
        val orphans = row.getAs[Long]("n")
        val ids = row.getAs[scala.collection.Seq[String]]("ids").toSeq
        Finding("orphan_samples", "error", orphans, ids.headOption,
          "Patient Clinical File: All samples must have associated patient information " +
            s"and no null patient ids allowed. These samples are missing patient data: ${ids.mkString(", ")}")
      }

    // the three actions are independent: overlapped; the duplicate
    // finding prints after the patient battery's
    val Seq(sampleFs :+ dup, patientFs, orphans) = graft.core.Fan.overlap(Seq[() => Seq[Finding]](
      () => sampleFindings,
      () => Rules.Battery.run(patient, patientRules(center)).findings,
      () => Seq(orphanFinding)))
    ValidationResult(schemaFindings ++ sampleFs ++ patientFs ++ (dup +: orphans))
  }

  /** pandas-int normalization (update_clinical clinical.py:421-448 +
    * checkInt): integral numeric strings lose their ".0"; everything
    * else passes through.
    */
  private def intNormalize(c: Column): Column = {
    val d = c.try_cast("double")
    when(d.isNotNull && !isnan(d) && d === floor(d),
      d.cast("decimal(30,0)").cast("string")).otherwise(c)
  }

  /** Processor: S2 pair join + remap_clinical_values (clinical.py:321-383)
    * + update_clinical per-row cleanup (clinical.py:419-459) + template
    * projection and CENTER stamp (_process clinical.py:486-525) — all
    * pure column expressions, one codegen'd projection after the
    * broadcast remap joins.
    *
    * `codeMaps` are small code→label tables per mapped column; a map
    * with a DESCRIPTION column also yields the reference's
    * `{col}_DETAILED` companion.
    */
  def process(sample: DataFrame, patient: DataFrame,
              codeMaps: Map[String, DataFrame],
              center: String = "",
              templateCols: Seq[String] = Nil): DataFrame = {
    val joined = sample.join(patient, Seq("PATIENT_ID"), "inner")

    // J5 remaps: col → CBIO_LABEL; col_DETAILED → DESCRIPTION
    val remapped = codeMaps.foldLeft(joined) { case (df, (colName, mapDf)) =>
      if (!df.columns.contains(colName)) df
      else {
        val withLabel = df
          .join(broadcast(mapDf.withColumnRenamed("CODE", colName)
            .withColumnRenamed("CBIO_LABEL", s"${colName}_LABEL")
            .withColumnsRenamed(Map("DESCRIPTION" -> s"${colName}_DESC"))),
            Seq(colName), "left")
        val withDetailed =
          if (!withLabel.columns.contains(s"${colName}_DESC")) withLabel
          else withLabel
            .withColumn(s"${colName}_DETAILED",
              coalesce(col(s"${colName}_DESC"), col(colName).cast("string")))
            .drop(s"${colName}_DESC")
        withDetailed
          .withColumn(colName, coalesce(col(s"${colName}_LABEL"), col(colName).cast("string")))
          .drop(s"${colName}_LABEL")
      }
    }

    // update_clinical: SEQ_ASSAY_ID dash+upper, SEQ_DATE title + SEQ_YEAR,
    // int coercion, trim every string column
    val cleaned0 = remapped.select(remapped.columns.toIndexedSeq.map { c =>
      val base = col(c)
      c.toUpperCase match {
        case "SEQ_ASSAY_ID" => upper(regexp_replace(trim(base), "_", "-")).as(c)
        case "SEQ_DATE"     => initcap(trim(base)).as(c)
        case "BIRTH_YEAR" | "AGE_AT_SEQ_REPORT" | "YEAR_CONTACT" | "YEAR_DEATH" =>
          intNormalize(trim(base)).as(c)
        case _ if remapped.schema(c).dataType == org.apache.spark.sql.types.StringType =>
          trim(base).as(c)
        case _ => base
      }
    }: _*)
    val cleaned =
      if (!cleaned0.columns.contains("SEQ_DATE")) cleaned0
      else cleaned0.withColumn("SEQ_YEAR",
        when(col("SEQ_DATE") === "Release", lit(null).cast("int"))
          .otherwise(split(col("SEQ_DATE"), "-").getItem(1).try_cast("int")))

    val stamped =
      if (center.isEmpty) cleaned else cleaned.withColumn("CENTER", lit(center))

    // template projection (_process: drop non-template columns), emitted
    // in template order — the order the release artifact wants
    if (templateCols.isEmpty) stamped
    else stamped.select(templateCols
      .flatMap(tc => stamped.columns.find(_.equalsIgnoreCase(tc)))
      .map(col): _*)
  }
}
