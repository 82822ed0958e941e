package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — the audit step between two versions of an
  * ingested corpus (yesterday's crawl vs today's): classify every
  * document as added / removed / changed / unchanged.
  *
  * Scale shape: content is reduced to a 128-bit digest map-side
  * (the shuffle carries 32 hex chars per row, never the text), then
  * ONE full-outer shuffle join on the id — no text ever crosses the
  * wire, and the join key is the near-unique document id, so there
  * is no skew to salt. Downstream: `changed ∪ added` is the
  * re-process set, `removed` the tombstone set.
  */
object Diff {

  /** Per-document diff status between `oldDf` and `newDf` (same
    * schema): (idCol, status ∈ added|removed|changed|unchanged). */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // presence is tracked by an explicit flag, NOT by digest
    // nullability: md5(NULL text) is NULL, and conflating "row
    // absent" with "text NULL" would report a doc that is NULL in
    // both snapshots as 'added'
    val o = oldDf.select(col(idCol).as("id"),
      md5(col(textCol).cast("binary")).as("h_old"), lit(true).as("in_old"))
    val n = newDf.select(col(idCol).as("id"),
      md5(col(textCol).cast("binary")).as("h_new"), lit(true).as("in_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(!(col("h_old") <=> col("h_new")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }
}
