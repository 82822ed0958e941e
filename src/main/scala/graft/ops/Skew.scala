package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-key skew diagnosis — measures whether a key's frequency
  * distribution would funnel one join partition through a single task
  * at scale.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin`) covers
  * moderate skew automatically; salting the key (a per-row salt on the
  * big side, the small side replicated once per salt value) is the
  * heavy hammer for the single-hot-key regimes (null-heavy foreign
  * keys, celebrity entities) where even split partitions stay hot.
  */
object Skew {

  /** Join-key skew diagnosis — the measurement that decides between a
    * plain shuffle, AQE's skew handling, and salting the key: one
    * row of distribution statistics over the key's per-value counts
    * (top-1 share, median and p99 key size, their ratio) plus the
    * salting verdict at `saltThreshold` (top-1 share ≥ threshold ⇒
    * one task would process ≥ that fraction of the table after a
    * hash shuffle — the single-hot-key regime AQE splits can't fix).
    * NULL keys count as a key (they hash to one partition too — the
    * null-heavy foreign key is the classic celebrity key).
    *
    * Deterministic: counts are exact integers, the two percentiles
    * are order statistics, shares round to 4; the verdict compares
    * the ROUNDED share so engine replay can't flip at the boundary.
    *
    * Scale shape: one two-phase count aggregate keyed by the key
    * (hot keys collapse map-side — measuring skew never suffers it),
    * then a single-row reduce over the |keys|-sized count table. */
  def keySkewStats(df: DataFrame, keyCol: String,
      saltThreshold: Double = 0.05): DataFrame = {
    require(saltThreshold > 0 && saltThreshold <= 1,
      "saltThreshold in (0, 1]")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    counts.agg(
      sum(col("__c")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("__c")).as("top1_cnt"),
      percentile(col("__c"), lit(0.5)).as("p50_cnt"),
      percentile(col("__c"), lit(0.99)).as("p99_cnt"))
      .withColumn("top1_share",
        round(col("top1_cnt").cast("double") / col("n_rows"), 4))
      .withColumn("skew_ratio",
        round(col("top1_cnt").cast("double") / col("p50_cnt"), 4))
      .withColumn("needs_salting", col("top1_share") >= saltThreshold)
  }
}
