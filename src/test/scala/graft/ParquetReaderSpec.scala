package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Schemas, StarSchemaWriter}
import graft.quality.DataQuality

/** [[ParquetReader]]: a path is resolved once per session and file
  * identity and its schema inferred once per file identity, a changed
  * file set re-resolves with no clear, a failing read throws as a
  * plain one does, and a memoized read equals a plain read. */
class ParquetReaderSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private val group = "parquet-reader-spec"

  /** Spark jobs started from this thread while `body` ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The reader's frame equals a plain read: schema, column order, rows. */
  private def assertEqualsPlain(s: SparkSession, path: String, got: DataFrame): Unit = {
    val plain = s.read.parquet(path)
    assert(got.schema == plain.schema, path)
    assert(sameRows(got, plain), path)
  }

  /** The seven star-schema tables, written once from the fixtures. */
  private lazy val starOut: String = {
    val out = graft.TempDirs.createCleaned("graft_reader_star")
    StarSchemaWriter.runElt(spark, getClass.getResource("/citibike").getPath, out)
    out
  }

  private def tempTable(prefix: String): String =
    s"${TempDirs.createCleaned(prefix)}/t.parquet"

  /** Writes `parts` hive partitions (two rows each) to `path`: past
    * Spark's 32-path threshold a plain read lists them with a job. */
  private def writeWide(path: String, parts: Int, mode: String = "errorifexists"): String = {
    import spark.implicits._
    (0 until 2 * parts).map(i => (i.toLong, i % parts)).toDF("id", "p")
      .coalesce(1).write.mode(mode).partitionBy("p").parquet(path)
    path
  }

  /** How many entries each reader memo holds: (schemas, relations). */
  private def stored: (Int, Int) = (ParquetReader.schemas.size, ParquetReader.relations.size)

  /** What `body` threw: its class and message. */
  private def thrown(body: => Any): (Class[_], String) = {
    val e = intercept[Exception](body)
    (e.getClass, e.getMessage)
  }

  test("a repeated read of a lake table starts no Spark job") {
    Tables.load(spark, sfDir, "lineitem")
    Tables.events(spark, sfDir)
    val (_, plainJobs) = jobsDuring(spark.read.parquet(s"$sfDir/lineitem.parquet"))
    assert(plainJobs >= 1, "a plain read infers the schema with a job")
    val (_, jobs) = jobsDuring {
      Tables.load(spark, sfDir, "lineitem").schema
      Tables.events(spark, sfDir).schema
    }
    assert(jobs == 0)
  }

  test("an events read leaves the session conf alone, so a later lineitem read starts no job") {
    val s = spark.newSession()
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    // copies: a path no earlier case has memoized under any conf
    val dir = graft.TempDirs.createCleaned("graft_reader_events")
    Seq("lineitem", "events").foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
    }
    Tables.load(s, dir, "lineitem")
    val before = s.conf.getAll
    Tables.events(s, dir)
    assert(s.conf.getAll == before)
    val (_, jobs) = jobsDuring(Tables.load(s, dir, "lineitem").schema)
    assert(jobs == 0)
  }

  test("a metadata-stats read leaves the session conf alone, so a later documents read starts no job") {
    val s = spark.newSession()
    // a copy: a path no earlier case has memoized under any conf
    val dir = graft.TempDirs.createCleaned("graft_reader_stats")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"))
    Tables.load(s, dir, "documents")
    val before = s.conf.getAll
    graft.ops.Profiling.metadataStats(s, s"$dir/documents.parquet",
      Seq("doc_id", "n_chars"))
    assert(s.conf.getAll == before)
    val (_, jobs) = jobsDuring(Tables.load(s, dir, "documents").schema)
    assert(jobs == 0)
  }

  test("an overwrite under the same path that adds a column shows it, with no clear") {
    import spark.implicits._
    val path = tempTable("graft_reader_over")
    Seq((1L, "a")).toDF("id", "x").write.parquet(path)
    assert(ParquetReader.read(spark, path).columns.toSeq == Seq("id", "x"))
    Seq((2L, "b", 3.5)).toDF("id", "x", "y").write.mode("overwrite").parquet(path)
    val got = ParquetReader.read(spark, path)
    assert(got.columns.toSeq == Seq("id", "x", "y"))
    assertEqualsPlain(spark, path, got)
  }

  test("appending a file re-infers") {
    import spark.implicits._
    // a merged schema makes the appended column visible to a plain read
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    val path = tempTable("graft_reader_append")
    Seq((1L, "a")).toDF("id", "x").write.parquet(path)
    assert(ParquetReader.read(s, path).columns.toSeq == Seq("id", "x"))
    Seq((2L, "b", 3.5)).toDF("id", "x", "y").write.mode("append").parquet(path)
    val (got, jobs) = jobsDuring(ParquetReader.read(s, path))
    assert(jobs >= 1, "the append must start a new inference")
    assert(got.columns.toSeq == Seq("id", "x", "y"))
    assertEqualsPlain(s, path, got)
  }

  test("a missing path throws as spark.read.parquet does and memoizes nothing") {
    import spark.implicits._
    val path = tempTable("graft_reader_missing")
    val before = stored
    val err = thrown(ParquetReader.read(spark, path))
    assert(err._1 == classOf[AnalysisException])
    assert(err == thrown(spark.read.parquet(path)))
    assert(stored == before)

    // a table written at the path, then removed, then written anew with
    // another schema: the removed state throws, the new one reads fresh
    Seq((1L, "a")).toDF("id", "x").write.parquet(path)
    assert(ParquetReader.read(spark, path).columns.toSeq == Seq("id", "x"))
    new java.io.File(path).listFiles().foreach(_.delete())
    val emptied = stored
    assert(thrown(ParquetReader.read(spark, path)) == thrown(spark.read.parquet(path)),
      "an empty directory")
    assert(stored == emptied)
    Seq((2L, 7)).toDF("id", "z").write.mode("overwrite").parquet(path)
    val got = ParquetReader.read(spark, path)
    assert(got.columns.toSeq == Seq("id", "z"))
    assertEqualsPlain(spark, path, got)
  }

  test("the session's parquet confs are part of the key: a conf that retypes a column re-infers") {
    val path = s"$sfDir/events.parquet"
    val ntz = ParquetReader.read(spark, path).schema // ts is TIMESTAMP(isAdjustedToUTC=false)
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val plain = s.read.parquet(path).schema
    assert(plain != ntz)
    assert(ParquetReader.read(s, path).schema == plain)

    // partition typing: a hit would pin the partition column types it
    // memoized, so a session that turns partition typing off must miss
    val dim = s"$starOut/dim_user_agg_table.parquet"
    val typed = ParquetReader.read(spark, dim).schema
    val u = spark.newSession()
    u.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val untyped = u.read.parquet(dim).schema
    assert(typed("birth_year").dataType != StringType)
    assert(untyped("birth_year").dataType == StringType)
    assert(ParquetReader.read(u, dim).schema == untyped)
  }

  test("equality witness: star-schema and lake tables read with the memoized schema") {
    val paths = Schemas.byTable.keys.toSeq.sorted.map(t => s"$starOut/$t.parquet") ++
      Tables.all.map(t => s"$sfDir/$t.parquet")
    assert(paths.size == 17)
    paths.foreach { p =>
      ParquetReader.read(spark, p)
      val (hit, jobs) = jobsDuring(ParquetReader.read(spark, p))
      assert(jobs == 0, s"$p: the second read must be a memo hit")
      assertEqualsPlain(spark, p, hit)
    }
  }

  test("DataQuality.validate reads each table once per call") {
    val (_, err) = MemosSpec.stderrOf(
      DataQuality.validate(spark, starOut, DataQuality.extendedSuite))
    val reads = err.linesIterator.count(_.startsWith("[memo] parquet-relation "))
    assert(DataQuality.extendedSuite.size == 11)
    assert(reads == DataQuality.extendedSuite.map(_.tableName).distinct.size)
  }

  test("BoundedMemo.clearAll empties the schema memo") {
    Tables.load(spark, sfDir, "orders")
    assert(ParquetReader.schemas.size > 0 && ParquetReader.relations.size > 0)
    BoundedMemo.clearAll()
    assert(stored == ((0, 0)))
    val (_, jobs) = jobsDuring(Tables.load(spark, sfDir, "orders"))
    assert(jobs >= 1, "cleared memos must infer again")
  }

  test("a repeated read of a wide partitioned table lists nothing and equals a plain read") {
    val path = writeWide(tempTable("graft_reader_wide"), parts = 48)
    val (_, plainJobs) = jobsDuring(spark.read.parquet(path).inputFiles)
    assert(plainJobs >= 1, "a plain read lists 48 partitions with a job")
    ParquetReader.read(spark, path)
    val (hit, jobs) = jobsDuring {
      val df = ParquetReader.read(spark, path)
      df.schema
      df.inputFiles
      df
    }
    assert(jobs == 0, "the second read must resolve nothing")
    assertEqualsPlain(spark, path, hit)
    assert(hit.inputFiles.sorted.toSeq == spark.read.parquet(path).inputFiles.sorted.toSeq)
  }

  test("a read in another session resolves a relation bound to that session") {
    val path = s"$starOut/dim_user_agg_table.parquet"
    def session(df: DataFrame) = ParquetReader.relationOf(df, path).sparkSession
    assert(session(ParquetReader.read(spark, path)) eq spark)
    val s = spark.newSession()
    val got = ParquetReader.read(s, path)
    assert(session(got) eq s)
    assert(session(ParquetReader.read(s, path)) eq s)
    assertEqualsPlain(s, path, got)
  }

  test("a session that reads parquet through DataSource V2 fails loudly, naming the path") {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.useV1SourceList", "")
    val path = s"$sfDir/region.parquet"
    val relations = ParquetReader.relations.size
    val e = intercept[IllegalStateException](ParquetReader.read(s, path))
    assert(e.getMessage.contains(path))
    assert(ParquetReader.relations.size == relations)
  }

  test("two concurrent reads of a fresh path equal a plain read and store one relation") {
    val path = writeWide(tempTable("graft_reader_race"), parts = 40)
    val before = ParquetReader.relations.size
    val got = graft.ops.Concurrency.awaitAll(spark, "reader-race")(
      Seq.fill(2)(() => ParquetReader.read(spark, path)))
    assert(ParquetReader.relations.size == before + 1)
    got.foreach(assertEqualsPlain(spark, path, _))
  }

  test("overwriting a wide table with one partition fewer re-resolves with no clear") {
    val path = writeWide(tempTable("graft_reader_shrink"), parts = 48)
    ParquetReader.read(spark, path)
    assert(ParquetReader.read(spark, path).select("p").distinct().count() == 48)
    writeWide(path, parts = 47, mode = "overwrite")
    val got = ParquetReader.read(spark, path)
    assert(got.select("p").distinct().count() == 47)
    assertEqualsPlain(spark, path, got)
  }
}
