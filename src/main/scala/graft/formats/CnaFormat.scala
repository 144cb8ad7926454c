package graft.formats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.rules.{DuplicateKey, RowRule, Rules}

/** CNA (copy-number) matrix format (SURVEY §1.1 matrix table, §2.2 P21,
  * §2.5 A7, §2.4 J2; reference cna.py).
  *
  * The file arrives WIDE (Hugo_Symbol × one column per sample). Wide is
  * hostile at scale — we melt to long `(HUGO_SYMBOL, SAMPLE_ID, VALUE)`
  * immediately (cna.py:194-209 reads wide, our long form replaces its
  * per-column loops), operate long, and only pivot back at export with
  * an explicit sample-column list (SURVEY §7.4 hard part 4: explicit
  * columns, no 10k-column inference).
  */
object CnaFormat {

  /** Allowed discrete CNA values (cna.py:178-193). */
  val allowedValues: Seq[Double] = Seq(-2.0, -1.5, -1.0, 0.0, 0.5, 1.0, 1.5, 2.0)

  /** Melt a wide CNA frame (first col = HUGO_SYMBOL, rest = samples)
    * to long form. stack() keeps this a single codegen'd projection.
    */
  def melt(wide: DataFrame): DataFrame = {
    val sampleCols = wide.columns.drop(1)
    val stackExpr = sampleCols.map(c => s"'$c', `$c`").mkString(", ")
    wide.selectExpr("`" + wide.columns.head + "` as HUGO_SYMBOL",
        s"stack(${sampleCols.length}, $stackExpr) as (SAMPLE_ID, VALUE)")
  }

  /** P21: a long-form VALUE outside the domain. */
  val invalidValue: Column =
    col("VALUE").isNotNull && !col("VALUE").cast("double").isInCollection(allowedValues)

  /** P21: value-domain violations (long form — one filter, no per-column
    * loop).
    */
  def invalidValues(long: DataFrame): DataFrame = long.filter(invalidValue)

  /** P21 (cna.py:178-279): full CNA validation — first-column name,
    * sample-column identifiers, value domain over the melted long form
    * (ONE pass, no per-column loop), and the no-duplicate-symbols-after-
    * remap check against the center's bed genes (validateSymbol
    * cna.py:14-66: exact match, else cleaned-symbol match, else dropped).
    * Messages verbatim, including the reference's value list that its
    * own message disagrees with.
    */
  def validate(wide: DataFrame, center: String,
               bedGenes: Option[DataFrame] = None): graft.rules.ValidationResult = {
    import graft.rules.Finding
    var findings = Vector.empty[Finding]
    val first = wide.columns.headOption.getOrElse("")
    if (first.toUpperCase != "HUGO_SYMBOL")
      findings :+= Finding("first_column", "error", 1, None,
        "Your cnv file's first column must be Hugo_Symbol")
    val sampleCols = wide.columns.drop(1).filterNot(_.toUpperCase == "ENTREZ_GENE_ID")
    val badPrefix = sampleCols.filterNot(_.startsWith(s"GENIE-$center"))
    if (badPrefix.nonEmpty)
      findings :+= Finding("sample_columns", "error", badPrefix.length.toLong,
        badPrefix.headOption, s"cnv: samples must start with GENIE-$center")
    val tooLong = sampleCols.filter(_.length >= 50)
    if (tooLong.nonEmpty)
      findings :+= Finding("sample_columns_length", "error", tooLong.length.toLong,
        tooLong.headOption, "cnv: samples must have less than 50 characters.")

    if (sampleCols.nonEmpty) {
      val long = melt(wide.select((wide.columns.head +: sampleCols).toIndexedSeq.map(col): _*))
      findings ++= Rules.Battery.run(long, Seq(RowRule("value_domain", "error", invalidValue,
        Rules.noExample, "All values must be NA/blank, -2, -1.5, -1, -0.5, 0, 0.5, 1, 1.5, or 2."))).findings
    }

    bedGenes.foreach { bed =>
      val bedSyms = bed.select(upper(col("HUGO_SYMBOL")).as("__b")).distinct()
      val mapped = wide.select(upper(col(wide.columns.head)).as("sym"))
        .withColumn("clean", graft.sources.Bed.cleanSymbol(col("sym")))
        .join(broadcast(bedSyms), col("sym") === col("__b"), "left")
        .withColumn("remapped", col("__b")).drop("__b")
        .join(broadcast(bedSyms.withColumnRenamed("__b", "__b2")),
          col("clean") === col("__b2"), "left")
        .withColumn("remapped", coalesce(col("remapped"), col("__b2")))
        .filter(col("remapped").isNotNull)
      val dups = Rules.Battery.run(mapped, Nil,
        Some(DuplicateKey(Seq(col("remapped")), Some(col("remapped"))))).dups
      findings :+= Finding("duplicate_symbols_after_remap", "error", dups.rowsInGroups, None,
        s"Your CNA file has duplicated Hugo_Symbols (After remapping of genes): -> ${dups.listed.mkString(",")}.")
    }
    graft.rules.ValidationResult(findings)
  }

  /** A7 `mergeCNAvalues` (cna.py:86-105): after symbol remap two rows
    * may land on the same (gene, sample). Resolution: 1 distinct
    * non-null value → keep it; 2 distinct of which one is 0 → the
    * nonzero; anything else → null. Expressed as conditional aggregates
    * (no UDAF needed — map-side partial aggregation works).
    */
  def mergeDuplicateGenes(long: DataFrame): DataFrame =
    long.groupBy("HUGO_SYMBOL", "SAMPLE_ID")
      .agg(
        countDistinct(col("VALUE")).as("__n"),
        max(col("VALUE")).as("__max"),
        max(when(col("VALUE") =!= 0, col("VALUE"))).as("__max_nz"),
        bool_or(coalesce(col("VALUE") === 0, lit(false))).as("__has0"))
      .select(col("HUGO_SYMBOL"), col("SAMPLE_ID"),
        when(col("__n") === 1, col("__max"))
          .when(col("__n") === 2 && col("__has0"), col("__max_nz"))
          .otherwise(lit(null)).as("VALUE"))

  /** J2: merge long CNA across centers = plain unionByName, then A7
    * resolution — the shell `join` on sorted files (database_to_staging
    * .py:1504-1507) disappears entirely.
    */
  def mergeCenters(centers: Seq[DataFrame]): DataFrame =
    mergeDuplicateGenes(centers.reduce(_ unionByName _))

  /** Export pivot with an EXPLICIT sample list (keep-samples from the
    * release), blank→NA semantics (cna.py:166-172).
    */
  def toWide(long: DataFrame, sampleIds: Seq[String]): DataFrame =
    long.groupBy("HUGO_SYMBOL")
      .pivot("SAMPLE_ID", sampleIds)
      .agg(first(col("VALUE")))
      .orderBy("HUGO_SYMBOL")
}
