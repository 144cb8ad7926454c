package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD2 (type-2 slowly-changing-dimension) history merge — the
  * versioned-table generalization of the reference's flat PK upsert
  * (load.py:129-347 keeps only the latest row; release snapshots are
  * reconstructed from folder copies, database_to_staging.py:1960-2006).
  * Here the table keeps every version with a validity interval instead.
  *
  * History columns: `valid_from: long`, `valid_to: long` (null = the
  * current row). Merging a snapshot taken at `ts`:
  *
  *  - pk in both, attrs equal     → current row passes through;
  *  - pk in both, attrs changed   → current row closes at `ts`, a new
  *                                  current row opens at `ts`;
  *  - pk only in existing         → retired: current row closes at `ts`;
  *  - pk only in snapshot         → new: a current row opens at `ts`.
  *
  * Physical shape: already-closed history never joins — it unions
  * straight through. Only the CURRENT slice joins the snapshot, one
  * full-outer hash join on the pk tuple (null-safe), then up to two
  * output rows per key via an inline array explode. At scale both sides
  * hash-partition on the pk once; no other shuffle exists.
  */
object Scd2 {

  def merge(existing: DataFrame, incoming: DataFrame, pkCols: Seq[String],
            attrCols: Seq[String], ts: Long): DataFrame = {
    val outCols = pkCols ++ attrCols ++ Seq("valid_from", "valid_to")
    val closedHist = existing.filter(col("valid_to").isNotNull)
      .select(outCols.map(col): _*)
    val current = existing.filter(col("valid_to").isNull)

    val l = current.withColumn("__lp", lit(true)).alias("__l")
    val r = incoming.withColumn("__rp", lit(true)).alias("__r")
    val keyMatch: Column =
      pkCols.map(c => col(s"__l.$c") <=> col(s"__r.$c")).reduce(_ && _)
    val attrsEqual: Column =
      attrCols.map(c => col(s"__l.$c") <=> col(s"__r.$c")).reduce(_ && _)

    def rowStruct(pkSide: String, attrSide: String, from: Column, to: Column) =
      struct(
        pkCols.map(c => col(s"$pkSide.$c").as(c)) ++
          attrCols.map(c => col(s"$attrSide.$c").as(c)) ++
          Seq(from.as("valid_from"), to.as("valid_to")): _*)

    val nullTo   = lit(null).cast("long")
    val oldKept   = rowStruct("__l", "__l", col("__l.valid_from"), nullTo)
    val oldClosed = rowStruct("__l", "__l", col("__l.valid_from"), lit(ts))
    val newOpen   = rowStruct("__r", "__r", lit(ts), nullTo)

    val both  = col("__lp").isNotNull && col("__rp").isNotNull
    val onlyL = col("__lp").isNotNull && col("__rp").isNull

    val mergedCurrent = l.join(r, keyMatch, "full_outer")
      .select(explode(
        when(both && attrsEqual, array(oldKept))
          .when(both && !attrsEqual, array(oldClosed, newOpen))
          .when(onlyL, array(oldClosed))
          .otherwise(array(newOpen))).as("__row"))
      .select(outCols.map(c => col(s"__row.$c").as(c)): _*)

    closedHist.unionByName(mergedCurrent)
  }

  /** Apply one full snapshot taken at `ts` to the history: the first
    * snapshot (no `existing`) initializes it — every row opens at `ts`
    * — and every later one is a [[merge]].
    */
  def scd2ApplyBatch(existing: Option[DataFrame], batch: DataFrame,
                     pkCols: Seq[String], attrCols: Seq[String],
                     ts: Long): DataFrame =
    existing match {
      case Some(ex) =>
        merge(ex, batch, pkCols, attrCols, ts)
      case None => batch
        .withColumn("valid_from", lit(ts))
        .withColumn("valid_to", lit(null).cast("long"))
    }
}
