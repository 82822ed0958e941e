package graft.quality

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality assertion harness — first-class port of the
  * reference's check script (spark_check_emr.py:20-47, SURVEY §2.4
  * A2-A4): a named check is a scalar query over one table, an
  * expectation, and a comparison; failures throw so a pipeline step
  * fails loudly.
  *
  * Each check is a `COUNT` aggregate — at any scale it's a map-side
  * partial count + single final row, never a collect of data.
  */
final case class QualityCheck(
    checkType: String,
    tableName: String,
    query: DataFrame => Long,
    expected: Long,
    comparison: (Long, Long) => Boolean,
    describeComparison: String)

final case class QualityViolation(message: String)
  extends RuntimeException(message)

object DataQuality {

  /** `is_null` check: count of NULLs in a key column must equal 0
    * (reference spark_check_emr.py:64-67). */
  def isNull(table: String, keyColumn: String): QualityCheck =
    QualityCheck("is_null", table,
      df => df.filter(col(keyColumn).isNull).count(),
      expected = 0L, comparison = _ == _, describeComparison = "==")

  /** `is_empty` check: row count must be > 0
    * (reference spark_check_emr.py:68-85). */
  def isEmpty(table: String): QualityCheck =
    QualityCheck("is_empty", table,
      df => df.count(),
      expected = 0L, comparison = _ > _, describeComparison = ">")

  /** The reference's exact 7-check suite over the star-schema outputs
    * (spark_check_emr.py:63-85; `dim_station` notably unchecked —
    * kept for parity, with a stricter suite available below). */
  def referenceSuite: Seq[QualityCheck] = Seq(
    isNull("bikeshare_fact_table", "id"),
    isEmpty("bikeshare_fact_table"),
    isEmpty("dim_weather_table"),
    isEmpty("dim_covid_table"),
    isEmpty("dim_user_agg_table"),
    isEmpty("dim_time_table"),
    isEmpty("dim_bike_table"))

  /** Extended suite: also guards `dim_station` (the reference forgot
    * it) and the dims' surrogate keys. */
  def extendedSuite: Seq[QualityCheck] = referenceSuite ++ Seq(
    isEmpty("dim_station"),
    isNull("dim_time_table", "start_time"),
    isNull("dim_covid_table", "covid_id"),
    isNull("dim_weather_table", "weather_id"))

  /** Run checks against parquet outputs under `outputDir`
    * (reference table_validate, spark_check_emr.py:20-47), in suite
    * order, reading each table once per call. Throws
    * [[QualityViolation]] on the first failure. */
  def validate(spark: SparkSession, outputDir: String,
      checks: Seq[QualityCheck] = referenceSuite): Unit = {
    val tables = mutable.Map.empty[String, DataFrame]
    checks.foreach { c =>
      runCheck(c, tables.getOrElseUpdate(c.tableName, readTable(spark, outputDir, c.tableName)))
    }
  }

  private def readTable(spark: SparkSession, outputDir: String, name: String): DataFrame =
    graft.ParquetReader.read(spark, s"$outputDir/$name.parquet")

  /** Count of non-null fact foreign keys with no matching dimension
    * row — an anti-join, so it scales like any key join. */
  def orphanedKeys(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): Long =
    // alias both sides: factKey/dimKey often share a name, and a
    // same-name === would resolve to a trivially-true self-compare
    fact.select(col(factKey).as("__fact_key"))
      .filter(col("__fact_key").isNotNull).distinct()
      .join(dim.select(col(dimKey).as("__dim_key")).distinct(),
        col("__fact_key") === col("__dim_key"), "left_anti")
      .count()

  /** Referential-integrity gate: throws if any fact key misses its
    * dimension. NOTE the reference pipeline cannot pass this across
    * months: it rebuilds every dim from the CURRENT month's staging
    * only (inputs are cleaned between runs, clean_input_s3.py:19-34),
    * so a multi-month fact references dim rows that no longer exist —
    * a faithful-parity hazard this check makes visible (SURVEY §5).
    * The fix at scale is append+dedup dim maintenance; see
    * StarSchemaWriter's scaladoc. */
  def referentialCheck(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String, name: String): Unit = {
    val orphans = orphanedKeys(fact, factKey, dim, dimKey)
    if (orphans > 0)
      throw QualityViolation(
        s"referential check '$name' failed: $orphans fact ${factKey} values " +
          s"have no matching ${dimKey} row")
  }

  /** Schema-contract gate: throws if a table's (name, type) columns
    * drift from the declared contract ([[graft.etl.Schemas]] for the
    * star schema). Purely metadata — no job runs — so it belongs at
    * the head of every pipeline that consumes the table: a silently
    * widened or re-stringified column is the class of break the
    * reference's untyped outputs made routine. */
  def schemaCheck(df: DataFrame,
      expected: org.apache.spark.sql.types.StructType, name: String): Unit = {
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = expected.fields.map(f => (f.name, f.dataType)).toSeq
    if (got != want)
      throw QualityViolation(
        s"schema check '$name' failed:\n  got      $got\n  expected $want")
  }

  /** Schema-contract gate over every written star-schema table.
    * Hive-partitioned tables get a name→type compare (partition
    * columns come back at the END of a partitioned read, so column
    * order is a storage artifact there); every other table gets the
    * full ordered [[schemaCheck]]. */
  def schemaSuite(spark: SparkSession, outputDir: String): Unit = {
    val partitioned =
      Set("bikeshare_fact_table", "dim_time_table", "dim_user_agg_table")
    graft.etl.Schemas.byTable.foreach { case (table, schema) =>
      val df = readTable(spark, outputDir, table)
      if (partitioned.contains(table)) {
        val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val want = schema.fields.map(f => f.name -> f.dataType).toMap
        if (got != want)
          throw QualityViolation(
            s"schema check '$table' failed:\n  got      $got\n  expected $want")
      } else schemaCheck(df, schema, table)
    }
  }

  /** Run one check against an in-memory DataFrame (engine-level use,
    * no parquet round-trip). */
  def runCheck(c: QualityCheck, df: DataFrame): Unit = {
    val observed = c.query(df)
    if (!c.comparison(observed, c.expected))
      throw QualityViolation(
        s"${c.checkType} check failed on ${c.tableName}: " +
          s"observed $observed, expected ${c.describeComparison} ${c.expected}")
  }
}
