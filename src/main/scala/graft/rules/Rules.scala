package graft.rules

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Validation-rule framework (SURVEY §2.2 P1-P30): the one place that
  * turns the upload validators' predicates into counts.
  *
  * Reference shape: each check scans the frame and appends to an error /
  * warning string (example_filetype_format.py:223-271). Naive translation
  * would be one Spark action per rule — N scans. Instead every rule
  * contributes a violation predicate (`Column`) plus an example-key
  * expression, and [[Battery.run]] evaluates the whole battery in ONE
  * aggregation pass over the data: `agg(count(when(p,1)), min(when(p,key)))`
  * per rule. At 100 TB that is a single scan with map-side partial
  * aggregation and a 1-row result — no collect of violating rows, no
  * per-rule job.
  *
  * A battery may also carry one [[DuplicateKey]] (SURVEY P14/A1: MAF,
  * VCF, SV, SEG, clinical and CNA each count rows sharing a key). The
  * key is a grouped aggregation of its own, overlapped with the rule
  * aggregation ([[graft.core.Fan.overlap]]): it shuffles only the key
  * columns, where folding the rule partials into the grouping would
  * shuffle rows × rules.
  */
final case class Finding(rule: String, severity: String, count: Long,
                         example: Option[String], message: String)

final case class ValidationResult(findings: Seq[Finding]) {
  def errors: Seq[Finding]   = findings.filter(f => f.severity == "error" && f.count > 0)
  def warnings: Seq[Finding] = findings.filter(f => f.severity == "warning" && f.count > 0)
  def isValid: Boolean       = errors.isEmpty
}

/** A single row-level rule: rows where `violation` is true are invalid;
  * `exampleKey` identifies an offending row in the error message.
  * `requires` lists columns the rule touches — a battery skips rules
  * whose columns are absent (the reference's P1 existence checks gate
  * the rest of its battery the same way).
  */
final case class RowRule(name: String, severity: String, violation: Column,
                         exampleKey: Column, messageTemplate: String,
                         requires: Seq[String] = Nil) {
  def applicableTo(columns: Seq[String]): Boolean = {
    val have = columns.map(_.toUpperCase).toSet
    requires.forall(c => have.contains(c.toUpperCase))
  }
}

/** A battery's duplicate-key check: rows with equal `key` values form a
  * group (null keys group together, as in `dropDuplicates`). `listed`,
  * an expression over the key's named columns, is collected over the
  * duplicated groups.
  */
final case class DuplicateKey(key: Seq[Column], listed: Option[Column] = None)

/** What a [[DuplicateKey]] found: the duplicated groups (n > 1), the
  * excess rows (Σ n−1 over them), the rows inside them, and the distinct
  * non-null `listed` values over them, sorted.
  */
final case class Duplicates(groups: Long, excessRows: Long, rowsInGroups: Long, listed: Seq[String])

object Rules {

  /** The example key of a rule whose finding names no example. */
  val noExample: Column = lit(null).cast("string")

  /** Every column of `df`, quoted: the key of a whole-row duplicate check. */
  def allColumns(df: DataFrame): Seq[Column] =
    df.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`"))

  // ---- predicate builders (the P-library) -------------------------------

  /** P2: value must be in `allowed`; optionally NA-allowed; optionally a
    * `sep`-separated multi-value cell where every part must be allowed.
    */
  def domain(c: Column, allowed: Seq[String], naAllowed: Boolean = false,
             sep: Option[String] = None): Column = {
    val base = sep match {
      case Some(s) => !forall(split(c, java.util.regex.Pattern.quote(s)), v => trim(v).isInCollection(allowed))
      case None    => !c.isInCollection(allowed)
    }
    if (naAllowed) base && c.isNotNull && c =!= "NA" else base && c.isNotNull
  }

  /** P4: integer-parseable string (digits only, optional sign). */
  def notInteger(c: Column): Column =
    c.isNotNull && !c.cast("string").rlike("^-?\\d+$")

  /** P5: GENIE-style identifier: required prefix and max length
    * (process_functions.py:199-222).
    */
  def badIdentifier(c: Column, prefix: String, maxLen: Int = 50): Column =
    c.isNull || !c.startsWith(prefix) || length(c) >= maxLen

  /** P6: 4-digit year ≤ `maxYear`, with allowed sentinel strings. */
  def badYear(c: Column, maxYear: Int, sentinels: Seq[String]): Column =
    c.isNotNull && !c.isInCollection(sentinels) &&
      (!c.rlike("^\\d{4}$") || c.cast("int") > maxYear)

  /** P16: allele regex ^[ATCGN]+$ or all-dashes, case-insensitive
    * (validate.py:426-480).
    */
  def badAllele(c: Column): Column =
    c.isNotNull && !c.rlike("(?i)^([ATCGN]+|-+)$")

  /** P18: chromosome domain 1-22/X/Y/MT after optional chr-prefix strip
    * (validate.py:170-216).
    */
  def badChromosome(c: Column, allowChrPrefix: Boolean = false): Column = {
    val norm    = if (allowChrPrefix) regexp_replace(c, "^chr", "") else c
    val allowed = (1 to 22).map(_.toString) ++ Seq("X", "Y", "MT")
    c.isNull || !norm.isInCollection(allowed)
  }

  /** P19: start must be ≤ end (warning in the reference). */
  def startAfterEnd(start: Column, end: Column): Column =
    start.isNotNull && end.isNotNull && start > end

  /** P27: entirely-empty row. */
  def emptyRow(cols: Seq[Column]): Column =
    cols.map(_.isNull).reduce(_ && _)

  /** C2 (process_functions.py:307-324 `checkGenieId`): reformat an id
    * into the GENIE-{center}- form. "{center}-x" → "GENIE-{center}-x";
    * anything else not already "GENIE-{center}-"-prefixed →
    * "GENIE-{center}-{id}"; correct ids pass through verbatim.
    */
  def checkGenieId(c: Column, center: String): Column =
    when(c.startsWith(s"$center-"), concat(lit("GENIE-"), c))
      .when(!c.startsWith(s"GENIE-$center-"), concat(lit(s"GENIE-$center-"), c))
      .otherwise(c)

  // ---- the single-pass battery ------------------------------------------

  object Battery {

    /** A keyed battery's findings, its key's duplicates (all zero without
      * a key) and its extra aggregates by name.
      */
    final case class Outcome(result: ValidationResult, dups: Duplicates, extras: Map[String, Any])

    /** Evaluate all rules in one aggregation over `df`; rules touching
      * absent columns are skipped.
      */
    def run(df: DataFrame, allRules: Seq[RowRule]): ValidationResult =
      run(df, allRules, None).result

    /** The battery plus `key`'s duplicate count, two independent actions
      * run overlapped. `extras` (the MAF P17 cross-column bool aggs)
      * fold into the rule aggregation, the SAME single scan, and come
      * back as a name→value map.
      */
    def run(df: DataFrame, allRules: Seq[RowRule], key: Option[DuplicateKey],
            extras: Seq[Column] = Nil): Outcome = {
      val rules = allRules.filter(_.applicableTo(df.columns.toSeq))
      val aggs = rules.zipWithIndex.flatMap { case (r, i) =>
        Seq(
          sum(when(r.violation, 1L).otherwise(0L)).as(s"c$i"),
          min(when(r.violation, r.exampleKey.cast("string"))).as(s"e$i")
        )
      } ++ extras
      val ruleAction = if (aggs.isEmpty) None else Some(() => df.agg(aggs.head, aggs.tail: _*).head())
      val keyAction = key.map(k => () => duplicates(df, k))
      val rows = graft.core.Fan.overlap((ruleAction ++ keyAction).toSeq)
      val ruleRow = ruleAction.map(_ => rows.head)
      val findings = ruleRow.toSeq.flatMap(row => rules.zipWithIndex.map { case (r, i) =>
        val n  = Option(row.getAs[Long](s"c$i")).getOrElse(0L)
        val ex = Option(row.getAs[String](s"e$i"))
        Finding(r.name, r.severity, n, ex,
          r.messageTemplate.replace("{count}", n.toString).replace("{example}", ex.getOrElse("")))
      })
      val extraVals = ruleRow.toSeq.flatMap(row => row.schema.fieldNames.drop(rules.length * 2)
        .map(n => n -> row.getAs[Any](n))).toMap
      val dups = keyAction.map(_ => rows.last)
        .fold(Duplicates(0, 0, 0, Nil))(r => Duplicates(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[String](3).toSeq))
      Outcome(ValidationResult(findings), dups, extraVals)
    }

    /** One grouped aggregation by the key, then a 1-row aggregation over
      * its duplicated groups.
      */
    private def duplicates(df: DataFrame, k: DuplicateKey): Row = {
      val n = col("__n")
      df.groupBy(k.key: _*).agg(count(lit(1)).as("__n")).filter(n > 1)
        .agg(count(lit(1)), coalesce(sum(n - 1), lit(0L)), coalesce(sum(n), lit(0L)),
          sort_array(collect_set(k.listed.getOrElse(noExample).cast("string"))))
        .head()
    }

    /** Battery as a DataFrame (for pipelines that persist findings):
      * one row per rule with count + example, computed in one pass.
      */
    def asDataFrame(df: DataFrame, allRules: Seq[RowRule]): DataFrame = {
      val rules = allRules.filter(_.applicableTo(df.columns.toSeq))
      if (rules.isEmpty)
        return df.limit(0).select(
          lit("").as("rule"), lit("").as("severity"),
          lit(0L).as("n_violations"), lit(null).cast("string").as("example"))
      val perRule = rules.map { r =>
        struct(
          lit(r.name).as("rule"), lit(r.severity).as("severity"),
          sum(when(r.violation, 1L).otherwise(0L)).as("n_violations"),
          min(when(r.violation, r.exampleKey.cast("string"))).as("example")
        )
      }
      df.agg(array(perRule: _*).as("f"))
        .select(explode(col("f")).as("f"))
        .select(col("f.rule"), col("f.severity"), col("f.n_violations"), col("f.example"))
    }
  }
}
