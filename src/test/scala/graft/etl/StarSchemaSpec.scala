package graft.etl

import graft.SparkTestSession
import graft.quality.{DataQuality, QualityViolation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end star-schema ELT over the handwritten staging fixtures
  * (FIXTURES.md): scan → normalize → join → distinct → sort → sink →
  * quality-validate, the reference's whole lifecycle (SURVEY §3). */
class StarSchemaSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val fixtures = getClass.getResource("/citibike").getPath
  private lazy val staging = Ingest.stageAll(spark, fixtures)

  test("events glob scan unions both monthly files with normalized headers") {
    assert(staging.events.count() == 8) // 6 NYC (incl. 1 dup) + 2 JC
    assert(staging.events.columns.contains("birth_year"))
    assert(staging.events.columns.contains("start_station_id"))
  }

  test("covid headers are lowercased") {
    assert(staging.covids.columns.contains("date_of_interest"))
    assert(staging.covids.columns.contains("bx_case_count"))
  }

  test("fact: row per trip, md5 id, computed partitions") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    assert(fact.count() == 8)
    val row = fact.filter(col("bike_id") === "30002" && col("duration") === "610").head()
    // id = md5(concat(starttime, bikeid)) over the raw strings
    val expectedId = java.security.MessageDigest.getInstance("MD5")
      .digest("2020-01-01 08:45:10.000030002".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getAs[String]("id") == expectedId)
    assert(row.getAs[Int]("year") == 2020 && row.getAs[Int]("month") == 1)
  }

  test("fact J1: covid left join matches by date, null for uncovered date") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    val jan05 = fact.filter(col("start_time").cast("date") === "2020-01-05")
    assert(jan05.count() == 1)
    assert(jan05.filter(col("covid_id").isNull).count() == 1)
    val jan02 = fact.filter(col("start_time").cast("date") === "2020-01-02")
    assert(jan02.filter(col("covid_id").isNull).count() == 0)
  }

  test("fact J2: every trip lands on its hour's :51 weather observation") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    assert(fact.filter(col("weather_id").isNull).count() == 0)
    // weather_id = HH-1:51:00 (hour epoch - 540s)
    val m = fact.filter(col("bike_id") === "30002" && col("duration") === "610")
      .select(date_format(col("weather_id"), "yyyy-MM-dd HH:mm:ss")).head().getString(0)
    assert(m == "2020-01-01 07:51:00")
  }

  test("fact F2: null-propagating user_agg_id for empty birth_year") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    assert(fact.filter(col("user_agg_id").isNull).count() == 1)
  }

  test("time dim: distinct start times, calendar decomposition") {
    val td = StarSchema.buildTimeDim(staging.events)
    assert(td.count() == 7) // 8 trips, 1 duplicate starttime
    val r = td.filter(date_format(col("start_time"), "yyyy-MM-dd HH:mm") === "2020-01-03 07:59").head()
    assert(r.getAs[Int]("hour") == 7 && r.getAs[Int]("weekday") == 6) // Friday
  }

  test("user agg dim: distinct composite rows incl. the null-keyed one") {
    val ud = StarSchema.buildUserAggDim(staging.events)
    assert(ud.count() == 7) // 8 trips, dup trip collapses
    assert(ud.filter(col("user_agg_id").isNull).count() == 1)
  }

  test("bike dim: sorted distinct bike ids, typed int per the dictionary") {
    val bikes = StarSchema.buildBikeDim(staging.events)
      .collect().map(_.getInt(0))
    assert(bikes.toSeq == Seq(30001, 30002, 30003, 40001, 40002))
  }

  test("F13: every output table conforms to the README data dictionary") {
    val built = StarSchema.buildAll(staging)
    for ((table, schema) <- Schemas.byTable) {
      // compare (name, type) — nullability is plan-derived (e.g. the
      // coalesced wind_gust is provably non-null), not contract
      val got = built(table).schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = schema.fields.map(f => (f.name, f.dataType)).toSeq
      assert(got == want,
        s"$table schema drifted:\n  got      $got\n  expected $want")
    }
  }

  test("F13: typed values survive the casts (no silent null-out)") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    // every fixture trip has a parseable duration and station ids
    assert(fact.filter(col("duration").isNull).count() == 0)
    assert(fact.filter(col("start_station_id").isNull).count() == 0)
    val cd = StarSchema.buildCovidDim(staging.covids)
    assert(cd.filter(col("bx_case_count").isNull).count() == 0)
    val wd = StarSchema.buildWeatherDim(staging.weathers)
    assert(wd.filter(col("temperature").isNull).count() == 0)
    assert(wd.filter(col("pressure").isNull).count() == 0)
    val ud = StarSchema.buildUserAggDim(staging.events)
    // gender parses everywhere; birth_year is NULL exactly where the
    // raw value was the empty string (the null-propagation fixture row)
    assert(ud.filter(col("gender").isNull).count() == 0)
    assert(ud.filter(col("birth_year").isNull).count() == 1)
  }

  test("rental_methods is a real array column with the GBFS values") {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val sd = StarSchema.buildStationDim(staging.stations)
    assert(sd.schema("rental_methods").dataType == ArrayType(StringType))
    val methods = sd.filter(col("station_id") === 72)
      .select(col("rental_methods")).head().getSeq[String](0)
    assert(methods == Seq("KEY", "CREDITCARD"))
  }

  test("station dim: distinct collapses the duplicated GBFS row") {
    val sd = StarSchema.buildStationDim(staging.stations)
    assert(sd.count() == 5)
    assert(sd.columns.contains("longtitude")) // [sic] parity
  }

  test("weather dim: null gust defaults to 0, case-insensitive dewPt") {
    val wd = StarSchema.buildWeatherDim(staging.weathers)
    assert(wd.filter(col("wind_gust").isNull).count() == 0)
    assert(wd.filter(col("wind_gust") === 0).count() > 0)
    assert(wd.columns.contains("dew_point"))
  }

  test("covid dim: MM/dd/yyyy key parse") {
    val cd = StarSchema.buildCovidDim(staging.covids)
    assert(cd.count() == 3)
    assert(cd.filter(col("covid_id") === "2020-01-01").count() == 1)
  }

  test("full ELT writes 7 tables; reference + extended quality suites pass") {
    val out = graft.TempDirs.createCleaned("graft_elt")
    StarSchemaWriter.runElt(spark, fixtures, out)
    DataQuality.validate(spark, out, DataQuality.referenceSuite)
    DataQuality.validate(spark, out, DataQuality.extendedSuite)
    DataQuality.schemaSuite(spark, out) // written tables honor the dictionary too
    val fact = spark.read.parquet(s"$out/bikeshare_fact_table.parquet")
    assert(fact.count() == 8)
    // hive partitioning materialized
    assert(fact.columns.contains("year") && fact.columns.contains("month"))
  }

  test("S5 append semantics vs idempotent dynamic-overwrite re-run") {
    val out = graft.TempDirs.createCleaned("graft_elt_inc")
    StarSchemaWriter.runElt(spark, fixtures, out)
    StarSchemaWriter.runElt(spark, fixtures, out) // blind append, ref parity
    assert(spark.read.parquet(s"$out/bikeshare_fact_table.parquet").count() == 16)
    StarSchemaWriter.runElt(spark, fixtures, out, idempotent = true)
    assert(spark.read.parquet(s"$out/bikeshare_fact_table.parquet").count() == 8)
  }

  test("quality harness raises on violation") {
    import spark.implicits._
    val bad = Seq((null.asInstanceOf[String], 1)).toDF("id", "x")
    intercept[QualityViolation] {
      DataQuality.runCheck(DataQuality.isNull("t", "id"), bad)
    }
    val empty = spark.emptyDataFrame
    intercept[QualityViolation] {
      DataQuality.runCheck(DataQuality.isEmpty("t"), empty)
    }
  }

  /** A February input: the fixtures' dims plus two new trips. */
  private lazy val febIn: String = {
    import java.nio.file.{Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val dir = graft.TempDirs.createCleaned("graft_feb")
    for (sub <- Seq("weathers", "stations", "covids")) {
      Files.createDirectories(Paths.get(s"$dir/$sub"))
      val listing = Files.list(Paths.get(s"$fixtures/$sub"))
      try listing.iterator().asScala.foreach { f =>
        Files.copy(f, Paths.get(s"$dir/$sub/${f.getFileName}"),
          StandardCopyOption.REPLACE_EXISTING)
      } finally listing.close()
    }
    Files.createDirectories(Paths.get(s"$dir/events"))
    val febCsv =
      "tripduration,starttime,stoptime,start station id,start station name," +
        "start station latitude,start station longitude,end station id," +
        "end station name,end station latitude,end station longitude," +
        "bikeid,usertype,birth year,gender\n" +
        "300,2020-02-01 09:00:00.0000,,72,st 72,40.7,-74.0,79,st 79,40.8,-73.9,30001,Subscriber,1980,1\n" +
        "400,2020-02-02 10:00:00.0000,,79,st 79,40.7,-74.0,72,st 72,40.8,-73.9,30002,Customer,1991,2\n"
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(s"$dir/events/202002-citibike-tripdata.csv.gz")))
    gz.write(febCsv.getBytes("UTF-8")); gz.close()
    dir
  }

  test("monthly incremental: append accumulates months; idempotent re-run replaces only its month") {
    val out = graft.TempDirs.createCleaned("graft_elt_months")
    StarSchemaWriter.runElt(spark, fixtures, out, idempotent = true)  // January
    StarSchemaWriter.runElt(spark, febIn, out, idempotent = true)     // February
    val fact = spark.read.parquet(s"$out/bikeshare_fact_table.parquet")
    assert(fact.filter(col("month") === 1).count() == 8)
    assert(fact.filter(col("month") === 2).count() == 2)
    // re-run February in idempotent mode: month 2 replaced, month 1 untouched
    StarSchemaWriter.runElt(spark, febIn, out, idempotent = true)
    val fact2 = spark.read.parquet(s"$out/bikeshare_fact_table.parquet")
    assert(fact2.filter(col("month") === 1).count() == 8,
      "idempotent Feb re-run must not clobber January partitions")
    assert(fact2.filter(col("month") === 2).count() == 2)
    // reference-faithful hazard: dims are rebuilt from the CURRENT
    // month only (the reference cleans staging between runs), so the
    // bike dim now holds only February's bikes while January fact rows
    // still reference the old ones — the referential check sees it
    val bikes = spark.read.parquet(s"$out/dim_bike_table.parquet")
    assert(bikes.count() == 2) // 30001, 30002 from February
    intercept[QualityViolation] {
      DataQuality.referentialCheck(fact2, "bike_id", bikes, "bike_id", "fact->bike")
    }
    // within a single month the integrity holds
    DataQuality.referentialCheck(
      fact2.filter(col("month") === 2), "bike_id", bikes, "bike_id", "feb->bike")

    // --- dim maintenance mode: the beyond-parity fix ---
    val out2 = graft.TempDirs.createCleaned("graft_elt_maint")
    StarSchemaWriter.runElt(spark, fixtures, out2, idempotent = true, maintainDims = true)
    StarSchemaWriter.runElt(spark, febIn, out2, idempotent = true, maintainDims = true)
    val mFact = spark.read.parquet(s"$out2/bikeshare_fact_table.parquet")
    val mBikes = spark.read.parquet(s"$out2/dim_bike_table.parquet")
    // January's bikes survive the February run: referential integrity
    // holds across months
    assert(mBikes.count() == 5) // Jan's 30001-30003,40001,40002 ∪ Feb's 30001,30002
    DataQuality.referentialCheck(mFact, "bike_id", mBikes, "bike_id", "maint fact->bike")
    // re-running February is still idempotent (DISTINCT collapses it)
    StarSchemaWriter.runElt(spark, febIn, out2, idempotent = true, maintainDims = true)
    assert(spark.read.parquet(s"$out2/dim_bike_table.parquet").count() == 5)
    assert(spark.read.parquet(s"$out2/bikeshare_fact_table.parquet").count() == 10)
  }

  test("writes leave the session's partitionOverwriteMode as they found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    // getAll lists only explicitly set keys (getOption would report the default)
    def setMode = spark.conf.getAll.get(key)
    spark.conf.unset(key)
    StarSchemaWriter.runElt(spark, fixtures,
      graft.TempDirs.createCleaned("graft_elt_conf"), idempotent = true)
    assert(setMode.isEmpty, "an unset conf must stay unset")

    spark.conf.set(key, "static")
    try {
      val out = graft.TempDirs.createCleaned("graft_elt_static")
      StarSchemaWriter.runElt(spark, fixtures, out, idempotent = true) // January
      StarSchemaWriter.runElt(spark, febIn, out, idempotent = true)    // February
      StarSchemaWriter.runElt(spark, febIn, out, idempotent = true)    // February again
      assert(setMode.contains("static"))
      val fact = spark.read.parquet(s"$out/bikeshare_fact_table.parquet")
      assert(fact.filter(col("month") === 1).count() == 8,
        "a static session must not turn the Feb re-run into a full overwrite")
      assert(fact.filter(col("month") === 2).count() == 2)
    } finally spark.conf.unset(key)
  }

  test("every written table equals its buildAll frame as a multiset, append and idempotent") {
    val built = StarSchema.buildAll(staging)
    def assertWritten(out: String, mode: String): Unit =
      for ((name, df) <- built) {
        // partition columns come back re-inferred and last: align by name and type
        val back = spark.read.parquet(s"$out/$name.parquet")
          .select(df.schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
        assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
          s"$mode: $name differs from its built frame")
      }
    val out = graft.TempDirs.createCleaned("graft_elt_witness")
    StarSchemaWriter.writeAll(spark, staging, out)
    assertWritten(out, "append")
    // the idempotent re-run over the same output replaces, never doubles
    StarSchemaWriter.writeAll(spark, staging, out, idempotent = true)
    assertWritten(out, "idempotent")
  }

  test("a failing table write is rethrown, not swallowed") {
    val out = graft.TempDirs.createCleaned("graft_elt_fail")
    val blocker = java.nio.file.Paths.get(s"$out/bikeshare_fact_table.parquet")
    Files.write(blocker, "not a directory".getBytes("UTF-8"))
    val thrown = intercept[Exception](StarSchemaWriter.writeAll(spark, staging, out))
    val chain = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("bikeshare_fact_table.parquet")),
      s"unexpected failure: $thrown")
    assert(Files.isRegularFile(blocker))
  }
}
