package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  val sfDir = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every registered query executes and matches its declared column set") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0, s"$name failed to execute")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracleSql keys without queries: $unknown")
  }

  test("q1_agg groups are complete and counts add up to the table size") {
    import org.apache.spark.sql.functions._
    val q1 = SparkEntry.queries("q1_agg")(spark, sfDir)
    val total = q1.agg(sum("count_order")).head.getLong(0)
    assert(total == Tables.lineitem(spark, sfDir).count())
  }

  test("q9/q10: anti and semi joins partition the customer set") {
    val anti = SparkEntry.queries("q9_anti_join")(spark, sfDir).count()
    val semiDf = SparkEntry.queries("q10_semi_join")(spark, sfDir)
    import org.apache.spark.sql.functions._
    val semi = semiDf.agg(sum("n_customers")).head.getLong(0)
    val cust = Tables.customer(spark, sfDir).count()
    // anti(no F order) and semi(has O order) overlap, but each ≤ total
    assert(anti <= cust && semi <= cust)
  }

  test("q13 time dim: weekday within 1..7, month within 1..12") {
    import org.apache.spark.sql.functions._
    val td = SparkEntry.queries("q13_time_dim")(spark, sfDir)
    assert(td.filter(col("weekday") < 1 || col("weekday") > 7).count() == 0)
    assert(td.filter(col("month") < 1 || col("month") > 12).count() == 0)
  }

  test("events loader normalizes nanosecond ts to TimestampType") {
    import org.apache.spark.sql.types.TimestampType
    assert(Tables.events(spark, sfDir).schema("ts").dataType == TimestampType)
  }
}
