package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every table is a single parquet file under `sfDir`. Loading goes
  * through [[ParquetReader]] (a plain parquet read whose schema is
  * inferred once per file identity) so Catalyst sees a plain
  * `LogicalRelation` — column pruning and filter pushdown reach the
  * scan for free. At 100 TB these would be hive-partitioned
  * directories; the API stays the same, so `sfDir` is the only thing
  * that changes between local tests and a cluster run.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ParquetReader.read(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
    * which Spark reads as TIMESTAMP_NTZ; cast it to the session-zone
    * `timestamp` every events query works in. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "events").withColumn("ts", col("ts").cast("timestamp"))
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
