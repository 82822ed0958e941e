package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

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
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects outright. We flip the legacy knob so the scan
    * yields the raw long and normalize to a microsecond TimestampType
    * ourselves (integer `div` — double division would lose precision
    * at 1.7e18 nanos). DuckDB's ns→us CAST truncates the same way, so
    * oracle SQL that does `CAST(ts AS TIMESTAMP)` agrees bit-for-bit.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
