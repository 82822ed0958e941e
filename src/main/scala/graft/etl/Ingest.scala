package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staging-source readers for the Citi Bike data lake
  * (reference: spark_elt_emr.py:29-59, SURVEY.md §2.1 S1-S4).
  *
  * CSVs arrive all-string (`header=true`, no inferSchema) exactly like
  * the reference — typing happens in the table builds. The gzip codec
  * is auto-detected from the `.gz` extension; glob paths make
  * multi-file scans an implicit UNION ALL (U2). At scale each staging
  * directory is just a bigger glob — the reader is already
  * partition-parallel over files.
  */
object Ingest {

  /** P1: blanks → underscores in header names
    * (reference spark_elt_emr.py:33-34). */
  def normalizeSpaces(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.replace(" ", "_")).toIndexedSeq: _*)

  /** P2: lowercase header names (reference spark_elt_emr.py:56-57). */
  def normalizeLower(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)

  /** S1: trip-history events — gzipped CSV glob, header, all-string. */
  def readEvents(spark: SparkSession, inputDir: String): DataFrame =
    normalizeSpaces(
      spark.read.option("header", "true").csv(s"$inputDir/events/*.csv.gz"))

  /** S2: hourly weather — JSON array files, schema inferred
    * (reference spark_elt_emr.py:39-41). */
  def readWeathers(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.json(s"$inputDir/weathers/*.json")

  /** S1: GBFS stations — gzipped CSV (pandas-written: leading unnamed
    * index column rides along; the station build never selects it). */
  def readStations(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.option("header", "true").csv(s"$inputDir/stations/*.csv.gz")

  /** S1+P2: covid cases — gzipped CSV, uppercase headers lowercased. */
  def readCovids(spark: SparkSession, inputDir: String): DataFrame =
    normalizeLower(
      spark.read.option("header", "true").csv(s"$inputDir/covids/*.csv.gz"))

  /** All four staging tables, registered as temp views under the
    * reference's names (S4) so `spark.sql` parity queries also run. */
  def stageAll(spark: SparkSession, inputDir: String): Staging = {
    val s = Staging(
      events = readEvents(spark, inputDir),
      weathers = readWeathers(spark, inputDir),
      stations = readStations(spark, inputDir),
      covids = readCovids(spark, inputDir))
    s.events.createOrReplaceTempView("events_log_table")
    s.weathers.createOrReplaceTempView("weathers_log_table")
    s.stations.createOrReplaceTempView("stations_log_table")
    s.covids.createOrReplaceTempView("covids_log_table")
    s
  }
}

final case class Staging(
    events: DataFrame,
    weathers: DataFrame,
    stations: DataFrame,
    covids: DataFrame)
