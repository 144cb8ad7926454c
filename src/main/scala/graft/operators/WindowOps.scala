package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-shaped operators (SURVEY §2.6 W1-W3).
  *
  * W1 is the heart of the mutation-in-cis filter
  * (R/mergecheck_functions.R:126-167): per sample, sort variants by
  * genomic position and compare each to its predecessor. In Spark that
  * is a single `Window.partitionBy(sample).orderBy(position)` — one
  * shuffle on the sample key, then a streaming pass per partition;
  * no batching (the reference's 100k-variant chunks, R/mergeCheck.R:38)
  * is needed because state per group is O(1).
  */
object WindowOps {

  /** Adjacent-row deltas: for every `valueCols` v adds `v_prev` and
    * `v_delta` (current − previous) within `partitionCols` ordered by
    * `orderCols`. First row of each group has null prev/delta.
    */
  def adjacentDeltas(df: DataFrame, partitionCols: Seq[String],
                     orderCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
    valueCols.foldLeft(df) { (d, v) =>
      d.withColumn(s"${v}_prev", lag(col(v), 1).over(w))
        .withColumn(s"${v}_delta", col(v) - lag(col(v), 1).over(w))
    }
  }

  /** The mutation-in-cis criteria over pre-computed deltas
    * (mergecheck_functions.R:157-161): 0 < ΔBP < maxBp, ΔVAF < maxVafDelta,
    * Δcodon ∈ {1, NA}.
    */
  def cisFlag(bpDelta: Column, vafDelta: Column, codonDelta: Column,
              maxBp: Int = 6, maxVafDelta: Double = 0.05): Column =
    bpDelta.isNotNull && bpDelta > 0 && bpDelta < maxBp &&
      abs(vafDelta) < maxVafDelta &&
      (codonDelta.isNull || codonDelta === 1)

  /** Batch sessionization: gap-based session assignment per key. A
    * session breaks when the gap to the previous event exceeds `gap`
    * (same ts units as `tsCol`). Adds `session_idx` (1-based per key,
    * in ts order).
    *
    * One shuffle on the key; the lag + running-sum pair runs in a
    * single Window pass per partition — no self-join, no iteration,
    * O(1) state per key. Pass a unique tie-break in `orderCols` after
    * the timestamp for deterministic output.
    */
  def sessionize(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 orderCols: Seq[String], gap: Long): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull || col(tsCol) - prev > gap, lit(1L)).otherwise(lit(0L))
    df.withColumn("session_idx",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** W2: keep the latest row per group by `orderCols` descending
    * (extract.py:144-159 drop_duplicates keep="last"). Callers must pass
    * a tie-breaking unique column last for deterministic results.
    */
  def latestPerGroup(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols.map(col(_).desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
}
