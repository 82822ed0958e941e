package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension history — the warehouse-maintenance
  * operator the reference's append-only monthly reloads
  * (spark_elt_emr.py:150-170's blind partition append) never needed,
  * but any incremental 100 TB lakehouse does: turn a change log into
  * SCD Type-2 validity intervals.
  *
  * Scale notes: the operator shuffles exactly once on the
  * entity key; all windows share that partitioning (one exchange,
  * Catalyst reuses it across the lag/row_number/lead trio). State per
  * task is one entity's history — bounded by per-key cardinality, not
  * corpus size. A pathologically hot key (one user owning millions of
  * change rows) serializes that key's sort onto one task; that is the
  * inherent semantics of per-key ordering, and the mitigation is
  * upstream compaction, not salting (versions must see their
  * neighbors).
  */
object History {

  /** SCD Type-2 history from a change log: rows carrying the same
    * consecutive attribute value collapse into one version; each
    * version gets `[valid_from, valid_to)` with an open (NULL)
    * `valid_to` and `is_current = 1` on the latest. Version numbers
    * are 1-based per key in `(tsCol, tieCol)` order — the tie column
    * makes the ordering total so equal-timestamp changes replay
    * deterministically.
    */
  def scd2History(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, attrCol: String): DataFrame = {
    val byTime = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val changed = df
      .withColumn("prev_attr", lag(col(attrCol), 1).over(byTime))
      // first row per key, or the tracked attribute actually moved
      .filter(col("prev_attr").isNull || col("prev_attr") =!= col(attrCol))
    changed
      .withColumn("version", row_number().over(byTime).cast("long"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(byTime))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0).cast("int"))
      .select(col(keyCol), col("version"), col("valid_from"),
        col("valid_to"), col("is_current"), col(attrCol))
  }
}
