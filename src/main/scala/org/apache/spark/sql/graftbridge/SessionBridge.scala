package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Session scoping for operators that need one SQL conf changed for a
  * few jobs without touching the caller's session: the sql-private
  * `cloneSession` (same SparkContext, shared state and cache, a COPY
  * of every conf the caller set) and `Dataset.ofRows` (a frame's
  * analyzed plan as a frame of another session). */
object SessionBridge {
  def cloneOf(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def rehome(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
