package graft.streaming

import graft.{SparkTestSession, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class EventStreamsSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  // FileStreamSource needs a *directory*; testdata ships one file
  private lazy val eventsDir: String = {
    val dir = graft.TempDirs.createCleaned("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    dir
  }

  private def rootMsg(t: Throwable): String =
    Option(t.getCause).map(rootMsg).getOrElse(Option(t.getMessage).getOrElse(""))

  /** Epoch micros of h:m on 1970-01-01. */
  private def us(h: Int, m: Int): Long = (h * 3600L + m * 60L) * 1000000L

  /** Events rows (`ts` in epoch micros) as one parquet file in `dir`,
    * `ts` stored as the shipped table stores it:
    * TIMESTAMP(MICROS, isAdjustedToUTC=false). */
  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
      .coalesce(1).write.parquet(dir)
  }

  /** An admission gate's (id, status, dup_id) rows; NULL dup_id as -1. */
  private def statuses(outDir: String): Set[(Long, String, Long)] =
    spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet

  test("hourly windowed counts match the batch equivalent") {
    val stream = EventStreams.fromParquetDir(spark, eventsDir)
    // append mode only emits closed windows; complete mode emits all
    val got = EventStreams.runToMemory(spark,
      EventStreams.hourlyTypeCounts(stream), "hourly_counts",
      OutputMode.Append)
    val batch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    // watermark closes every window except the tail ones; all emitted
    // windows must agree exactly with the batch result
    val joined = got.alias("s").join(batch.alias("b"),
      Seq("hour_start", "event_type"))
    assert(got.count() > 0)
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0)
  }

  test("streaming sessionization equals batch sessions on the closed prefix") {
    val stream = EventStreams.fromParquetDir(spark, eventsDir)
    val got = EventStreams.runToMemory(spark,
      EventStreams.sessionizedStats(stream), "stream_sessions")
    val events = Tables.events(spark, sfDir)
    val wm = events.agg(max(col("ts"))).head().getTimestamp(0).toInstant
      .minusSeconds(30 * 60)
    val batch = graft.ops.Sessionize.sessionStats(events, "user_id", "ts", "value")
    // emitted sessions = batch sessions whose end + gap cleared the
    // final watermark: every emitted row matches batch exactly, and
    // only tail sessions are withheld
    val joined = got.alias("s").join(batch.alias("b"),
      Seq("user_id", "session_start"))
    assert(got.count() > 0 && got.count() < batch.count())
    assert(joined.count() == got.count())
    assert(joined.filter(col("s.n_events") =!= col("b.n_events") ||
      col("s.session_value") =!= col("b.session_value")).count() == 0)
    // nothing emitted from beyond the watermark
    assert(got.filter(col("session_start").cast("timestamp")
      .geq(lit(java.sql.Timestamp.from(wm)))).count() == 0)
  }

  test("file sink + checkpoint: restart consumes only new files, no dupes; watermark drops late rows") {
    val srcDir = graft.TempDirs.createCleaned("graft_sink_src")
    val outDir = graft.TempDirs.createCleaned("graft_sink_out")
    val ckDir = graft.TempDirs.createCleaned("graft_sink_ck")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      writeEvents(s"$srcDir/$name", rows)
    def run(): Unit = {
      val stream = EventStreams.fromParquetDir(spark, s"$srcDir/*")
      EventStreams.runToParquet(
        EventStreams.hourlyTypeCounts(stream), outDir, ckDir,
        partitionCols = Seq("event_type"))
    }
    // batch 1: hours 0 (two rows), 1, 2, plus a 03:30 tail that moves
    // the 30-min watermark to 03:00 — closing windows 0, 1, 2
    writeBatch("b1", Seq(
      (1L, us(0, 10), 1L, "a", 1.0, "{}"),
      (2L, us(0, 40), 2L, "a", 2.0, "{}"),
      (3L, us(1, 20), 1L, "a", 10.0, "{}"),
      (4L, us(2, 15), 3L, "a", 5.0, "{}"),
      (5L, us(3, 30), 1L, "a", 7.0, "{}")))
    run()
    val afterFirst = spark.read.parquet(outDir)
    assert(afterFirst.count() == 3) // hours 0,1,2 closed; [3,4) still open
    // batch 2: one on-time row (05:40, type b) advancing the watermark
    // past 04:00, and one LATE row in hour 0 (00:50 < watermark 03:00)
    // that a blind re-aggregation would count
    writeBatch("b2", Seq(
      (6L, us(5, 40), 2L, "b", 3.0, "{}"),
      (7L, us(0, 50), 9L, "a", 99.0, "{}")))
    run() // same checkpoint: resumes, consuming only b2
    val out = spark.read.parquet(outDir)
    // no duplicated windows across the restart
    assert(out.groupBy("hour_start", "event_type").count()
      .filter(col("count") > 1).count() == 0)
    // hour 0 unchanged: the late row was dropped by the watermark
    val h0 = out.filter(hour(col("hour_start")) === 0).head()
    assert(h0.getAs[Long]("n_events") == 2 && h0.getAs[Double]("total_value") == 3.0)
    // the formerly-open hour-3 window closed and landed exactly once
    assert(out.filter(hour(col("hour_start")) === 3).count() == 1)
  }

  test("streaming dedup within watermark keeps one row per key") {
    import spark.implicits._
    val srcDir = graft.TempDirs.createCleaned("graft_dedup_src")
    // event 1 appears three times (replayed file / re-crawl shape),
    // event 2 once; all within one watermark horizon
    writeEvents(s"$srcDir/b1", Seq(
      (1L, us(0, 10), 1L, "a", 1.0, "{}"),
      (1L, us(0, 12), 1L, "a", 1.0, "{}"),
      (1L, us(0, 20), 1L, "a", 1.0, "{}"),
      (2L, us(0, 15), 2L, "a", 2.0, "{}")))
    val stream = EventStreams.fromParquetDir(spark, s"$srcDir/*")
    val got = EventStreams.runToMemory(spark,
      EventStreams.dedupWithinWatermark(stream, Seq("event_id")),
      "dedup_stream")
    assert(got.count() == 2)
    assert(got.select("event_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("streaming dedup is exactly-once across a restart with a replayed file") {
    import spark.implicits._
    val root = graft.TempDirs.createCleaned("graft_dedup_restart")
    val srcDir = s"$root/src"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      writeEvents(s"$srcDir/$name", rows)
    // run 1: two events land and commit to the file sink
    write("b1", Seq(
      (1L, us(0, 10), 1L, "a", 1.0, "{}"),
      (2L, us(0, 15), 2L, "a", 2.0, "{}")))
    def runOnce(): Unit = EventStreams.runToParquet(
      EventStreams.dedupWithinWatermark(
        EventStreams.fromParquetDir(spark, s"$srcDir/*"), Seq("event_id")),
      outDir, ckpt)
    runOnce()
    // run 2 (restart from the same checkpoint): a NEW file replays
    // run 1's events alongside one genuinely new event — the replay
    // must be swallowed by the checkpointed dedup state, the new
    // event emitted once
    write("b2", Seq(
      (1L, us(0, 10), 1L, "a", 1.0, "{}"),
      (2L, us(0, 15), 2L, "a", 2.0, "{}"),
      (3L, us(0, 16), 3L, "a", 3.0, "{}")))
    runOnce()
    val got = spark.read.parquet(outDir)
    assert(got.count() == 3, s"duplicates leaked: ${got.collect().toSeq}")
    assert(got.select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("streaming curation equals the batch pipeline bit-for-bit") {
    import graft.ops.TextAnalysis
    // stateless row-level stages (score, gate, scrub) — a completed
    // stream over a static directory must equal the batch run exactly
    val docsDir = {
      val dir = graft.TempDirs.createCleaned("graft_docstream_spec")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
        java.nio.file.Paths.get(dir, "documents.parquet"))
      dir
    }
    def curate(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.qualityScore(df)
        .filter(col("quality_score") >= 0.5)
        .select(col("doc_id"), col("quality_score"),
          TextAnalysis.scrubPii(col("text")).as("clean_text"))
    val streamed = EventStreams.runToMemory(spark,
      curate(EventStreams.docsFromParquetDir(spark, docsDir)),
      "curation_spec_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val batch = curate(spark.read.parquet(docsDir))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(streamed.nonEmpty, "gate must pass some documents")
    assert(streamed == batch, "stream and batch diverged")
  }

  test("orderedIntake: N staged batches stream as N micro-batches, in order") {
    import spark.implicits._
    // distinct batch sizes make the order visible in numInputRows
    val sizes = Seq(3, 1, 4, 2)
    val batches = sizes.zipWithIndex.map { case (n, i) =>
      (0 until n).map(j => (i * 10L + j, s"batch $i row $j"))
        .toDF("doc_id", "text")
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = EventStreams.orderedIntake(spark, "graft_oi", batches)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.add(b.select(col("doc_id")).as[Long].collect().toSeq.sorted)
        ()
      }
      .option("checkpointLocation", graft.TempDirs.createCleaned("graft_oi_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
    assert(rows == sizes.map(_.toLong),
      s"one micro-batch per staged batch, in staging order: $rows")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.filter(_.nonEmpty) ==
      sizes.zipWithIndex.map { case (n, i) => (0 until n).map(i * 10L + _) })
  }

  test("streaming admission equals the batch pipeline; cross-batch appends assign the batch-mode keepers") {
    import graft.ops.Dedup
    // the x209 admission gate as a stream (r17 verdict #3): each
    // micro-batch probes the persisted digest ledger and APPENDS its
    // admitted survivors before the next batch probes. With id-ordered
    // micro-batches the (doc_id, status, min dup_id) output is
    // independent of the batch split: an intake dup whose keeper
    // landed in an earlier batch flags `corpus` through the appended
    // entry — whose keeper_id equals the batch-mode min-id keeper.
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
    def rev(c: org.apache.spark.sql.Column) = concat_ws(" ",
      reverse(split(c, graft.ops.TextAnalysis.WhitespaceClass)))
    val dup = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    val novelA = docs.filter(col("doc_id") >= 300 && col("doc_id") < 330)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        rev(col("text")).as("text"))
    // replicas of novelA's CONTENT under later ids — these land in a
    // LATER micro-batch and must flag corpus through the appended
    // keepers (the cross-batch case the carrier exists for)
    val novelRep = docs.filter(col("doc_id") >= 300 && col("doc_id") < 330)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"),
        rev(col("text")).as("text"))
    val intake = dup.unionByName(novelA).unionByName(novelRep)
    // batch-mode reference through the same operators
    val refDir = graft.TempDirs.createCleaned("graft_adm_ref")
    val refStore = Dedup.saveDigestStore(docs, "doc_id", "text", refDir)
    val refFlagged = Dedup.incrementalExactDuplicates(refStore, intake,
      "doc_id", "text").localCheckpoint(true)
    val want = refFlagged
      .groupBy(col("batch_id")).agg(min(col("dup_id")).as("dup_id"))
      .select(col("batch_id").as("doc_id"), lit("duplicate").as("status"),
        col("dup_id"))
      .unionByName(intake.join(
          refFlagged.select(col("batch_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("admitted").as("status"),
          lit(null).cast("bigint").as("dup_id")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // stream run: three id-ordered files, one per micro-batch
    val intakeBatches = Seq(dup, novelA, novelRep)
    val storeDir = graft.TempDirs.createCleaned("graft_adm_store")
    Dedup.saveDigestStore(docs, "doc_id", "text", storeDir)
    val outDir = graft.TempDirs.createCleaned("graft_adm_out")
    val ckDir = graft.TempDirs.createCleaned("graft_adm_ck")
    EventStreams.runIncrementalAdmission(
      EventStreams.orderedIntake(spark, "graft_adm", intakeBatches),
      storeDir, outDir, ckDir, "doc_id", "text")
    val got = statuses(outDir)
    assert(got.exists(_._2 == "admitted") && got.exists(_._2 == "duplicate"),
      "fixture must exercise both outcomes")
    // the cross-batch rows specifically: every novelRep doc whose
    // digest was ADMITTED from novelA must flag against that keeper
    assert(got == want,
      s"stream and batch diverged: stream-only=${(got diff want).take(5)} " +
        s"batch-only=${(want diff got).take(5)}")
    // the ledger grew by exactly the admitted digests — a second
    // identical stream run over a FRESH checkpoint admits nothing new.
    // The replay stages the whole intake as ONE micro-batch, a split
    // unlike run 1's three: ledger flags (run-1 keepers) and
    // batch-internal flags (novelRep against novelA) mix in one batch.
    val outDir2 = graft.TempDirs.createCleaned("graft_adm_out2")
    val ckDir2 = graft.TempDirs.createCleaned("graft_adm_ck2")
    EventStreams.runIncrementalAdmission(
      EventStreams.orderedIntake(spark, "graft_adm2", Seq(intake)),
      storeDir, outDir2, ckDir2, "doc_id", "text")
    val ledgerAfterRun1 = Dedup.loadDigestStore(spark, storeDir)
      .digests.count()
    val rerun = statuses(outDir2)
    // the r19 idempotent-replay contract (self-rows filtered): a
    // replayed intake REPRODUCES the original statuses exactly —
    // run-1-admitted ids re-admit as pure no-ops (their ledger keeper
    // is themselves; the append anti-join skips them), content dups
    // re-flag with the same keepers. The pre-r19 behavior flagged the
    // admitted ids as self-duplicates (X,'duplicate',X) — the
    // corrupting ambiguity the r18 advice named.
    assert(rerun == got,
      s"a replayed intake must reproduce the original statuses: " +
        s"rerun-only=${(rerun diff got).take(5)} " +
        s"orig-only=${(got diff rerun).take(5)}")
    assert(Dedup.loadDigestStore(spark, storeDir).digests.count() ==
      ledgerAfterRun1, "the replay must append nothing")
  }

  test("near-dup admission stream: class-minimum algebra across batches; both stores grow in lockstep") {
    import graft.ops.Dedup
    import spark.implicits._
    // threshold-1.0 gram-set classes on a hand fixture:
    //   corpus: 1,2 same class A (exact copies); 3 class B
    //   batch 1: 10 = class A (flags corpus, dup 1); 11 = class C
    //            (novel -> admitted + appended); 12 = class C
    //            (same-batch dup of 11)
    //   batch 2: 20 = class C (must flag through the APPENDED store,
    //            dup 11); 21 = class B (flags corpus, dup 3);
    //            22 = class D (admitted on the grown store)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "omicron pi rho sigma tau"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "lambda mu nu xi kappa"),
      (12L, "lambda mu nu xi kappa")).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "lambda mu nu xi kappa"),
      (21L, "omicron pi rho sigma tau"),
      (22L, "phi chi psi omega iota")).toDF("doc_id", "text")
    val sigDir = graft.TempDirs.createCleaned("graft_nda_sig")
    val txtDir = graft.TempDirs.createCleaned("graft_nda_txt")
    Dedup.saveMinhashSignatures(corpus, "doc_id", "text", sigDir)
    corpus.write.mode("overwrite").parquet(txtDir)
    val outDir = graft.TempDirs.createCleaned("graft_nda_out")
    EventStreams.runIncrementalNearDupAdmission(
      EventStreams.orderedIntake(spark, "graft_nda", Seq(b1, b2)),
      sigDir, txtDir, outDir,
      graft.TempDirs.createCleaned("graft_nda_ck"), "doc_id", "text")
    val out = statuses(outDir)
    assert(out == Set(
      (10L, "duplicate", 1L),
      (11L, "admitted", -1L),
      (12L, "duplicate", 11L),
      (20L, "duplicate", 11L), // through the batch-1 APPEND
      (21L, "duplicate", 3L),
      (22L, "admitted", -1L)), s"got $out")
    // both stores grew by exactly the admitted docs {11, 22}
    val sigs = Dedup.loadMinhashSignatures(spark, sigDir).signatures
    assert(sigs.count() == 5L)
    assert(spark.read.parquet(txtDir).count() == 5L)
    assert(sigs.groupBy(col("id")).count()
      .filter(col("count") > 1).count() == 0L)
  }

  test("mid-threshold admission: true-pair flags, intake partition, stores grow by admitted") {
    import graft.ops.Dedup
    import spark.implicits._
    // the production-realistic 0.7 regime (r19 verdict #3): similarity
    // is NOT transitive here, so the output is a greedy ONLINE
    // decision sequence with no SQL oracle — the contract below is
    // what remains provable for ANY batch split:
    //   (a) every flag is a true ≥-threshold pair (⊆ the batch-mode
    //       verified candidate set over corpus ∪ intake);
    //   (b) admitted ∪ flagged = intake, disjoint;
    //   (c) both stores grow by exactly the admitted set.
    // Fixture: 10/13 sit at trigram-jaccard 5/7 ≈ 0.714 vs corpus 1
    // (mid-regime, not exact); 10 is FLAGGED so its content never
    // enters the store — 13 must flag against CORPUS 1, not 10 (the
    // greedy path's signature); 12 copies ADMITTED 11 and must flag
    // through the appended store.
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w"),
      (3L, "zz")).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "a b c d e f g x"),
      (11L, "m n o")).toDF("doc_id", "text")
    val b2 = Seq(
      (12L, "m n o"),
      (13L, "a b c d e f g x"),
      (14L, "q1 q2 q3 q4 q5 q6 q7 q8")).toDF("doc_id", "text")
    val sigDir = graft.TempDirs.createCleaned("graft_ndmid_sig")
    val txtDir = graft.TempDirs.createCleaned("graft_ndmid_txt")
    Dedup.saveMinhashSignatures(corpus, "doc_id", "text", sigDir)
    corpus.write.mode("overwrite").parquet(txtDir)
    val outDir = graft.TempDirs.createCleaned("graft_ndmid_out")
    EventStreams.runIncrementalNearDupAdmission(
      EventStreams.orderedIntake(spark, "graft_ndmid", Seq(b1, b2)),
      sigDir, txtDir, outDir,
      graft.TempDirs.createCleaned("graft_ndmid_ck"), "doc_id", "text",
      threshold = 0.7)
    val out = statuses(outDir)
    assert(out == Set(
      (10L, "duplicate", 1L),  // mid-regime 0.714 flag
      (11L, "admitted", -1L),
      (12L, "duplicate", 11L), // exact copy through the APPEND
      (13L, "duplicate", 1L),  // greedy: 10 was flagged, never stored
      (14L, "admitted", -1L)), s"got $out")
    // (a) flags ⊆ the EXACT batch-mode ≥0.7 pair set (prefix-filter
    // join, not the LSH candidate generator — candidate recall must
    // not be able to fail the contract)
    val union = corpus.unionByName(b1).unionByName(b2)
    val batchPairs = Dedup.prefixFilterJaccardPairs(
        union, "doc_id", "text", thresholdTenths = 7)
      .collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0)))).toSet
    val flags = out.collect { case (id, "duplicate", dup) => (id, dup) }
    assert(flags.forall(batchPairs.contains),
      s"every online flag must be a true batch-mode pair: " +
        s"${flags.filterNot(batchPairs.contains)}")
    // (b) partition of the intake
    val intakeIds = Set(10L, 11L, 12L, 13L, 14L)
    assert(out.map(_._1) == intakeIds)
    assert(out.groupBy(_._1).forall(_._2.size == 1),
      "one status per intake doc")
    // (c) stores grew by exactly the admitted set
    val sigIds = Dedup.loadMinhashSignatures(spark, sigDir).signatures
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 2L, 3L, 11L, 14L))
    assert(spark.read.parquet(txtDir).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 11L, 14L))
  }

  test("near-dup admission refuses an intake id that collides with a store id") {
    import graft.ops.Dedup
    import spark.implicits._
    // the x100 rehearsal finding: an intake id already present in the
    // signature store would be silently swallowed by the replay
    // anti-join — 'admitted' emitted, store never learns the content,
    // every later day re-admits it. The gate must refuse loudly
    // UNLESS the dropped id carries the store's own content (replay).
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val sigDir = graft.TempDirs.createCleaned("graft_ndg_sig")
    val txtDir = graft.TempDirs.createCleaned("graft_ndg_txt")
    Dedup.saveMinhashSignatures(corpus, "doc_id", "text", sigDir)
    corpus.write.mode("overwrite").parquet(txtDir)
    val bad = Seq((1L, "entirely novel content under a corpus id"))
      .toDF("doc_id", "text")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.runIncrementalNearDupAdmission(
        EventStreams.orderedIntake(spark, "graft_ndg", Seq(bad)),
        sigDir, txtDir, graft.TempDirs.createCleaned("graft_ndg_out"),
        graft.TempDirs.createCleaned("graft_ndg_ck"),
        "doc_id", "text", threshold = 1.0)
    }
    assert(rootMsg(e).contains("must be NEW"),
      s"collision must fail with the named contract: ${rootMsg(e).take(200)}")
    // the store is untouched by the refused batch
    assert(Dedup.loadMinhashSignatures(spark, sigDir).signatures.count() == 1L)
  }

  test("embedding admission refuses an intake id that collides with a store id; nothing is written") {
    import graft.ops.{Dedup, Layout}
    // the near-dup collision guard, pinned for the EMBEDDING gate:
    // intake id 1 carries the NEGATION of corpus vector 1 — novel
    // content (cosine -1 to its original; the corpus premise keeps
    // every other pair inside |cos| < 0.95), so it admits, and the
    // replay anti-join on store ids would drop it silently. The gate
    // must refuse the batch before any effect lands.
    val corpus = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
    val nCorpus = corpus.count()
    val sigDir = graft.TempDirs.createCleaned("graft_embg_sig")
    val vecDir = graft.TempDirs.createCleaned("graft_embg_vec")
    Dedup.saveEmbeddingSignatures(corpus, "vec_id", "embedding", sigDir,
      numBits = 48, bands = 8)
    corpus.write.mode("overwrite").parquet(vecDir)
    val bad = corpus.filter(col("vec_id") === 1)
      .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
    val outDir = graft.TempDirs.createCleaned("graft_embg_out")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.runIncrementalEmbeddingAdmission(
        EventStreams.orderedIntake(spark, "graft_embg", Seq(bad)),
        sigDir, vecDir, outDir, graft.TempDirs.createCleaned("graft_embg_ck"),
        "vec_id", "embedding", threshold = 0.95)
    }
    assert(rootMsg(e).contains("must be NEW"),
      s"collision must fail with the named contract: ${rootMsg(e).take(200)}")
    // nothing written: no output rows, both stores untouched
    assert(Layout.dataFileCount(spark, outDir) == 0)
    assert(Dedup.loadEmbeddingSignatures(spark, sigDir).signatures.count() == nCorpus)
    assert(spark.read.parquet(vecDir).count() == nCorpus)
  }

  test("embedding admission stream: replicas flag their originals across batches; both stores grow") {
    import graft.ops.Dedup
    // 6 single-file batches, each one corpus replica (flags its
    // original) and one negated corpus vector (novel -> admitted into
    // BOTH trees); a probe through the grown trees must flag batch 6's
    // admitted content.
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") < 40)
    def neg(c: org.apache.spark.sql.Column) = transform(c, x => -x)
    val batches = (0 until 6).map { i =>
      emb.filter(col("vec_id") === i)
        .select((col("vec_id") + lit(1000L)).as("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") === 20 + i)
          .select((col("vec_id") + lit(2000L)).as("vec_id"),
            neg(col("embedding")).as("embedding")))
    }
    val sig = graft.TempDirs.createCleaned("graft_embst_sig")
    val vec = graft.TempDirs.createCleaned("graft_embst_vec")
    Dedup.saveEmbeddingSignatures(corpus, "vec_id", "embedding", sig,
      numBits = 48, bands = 8)
    corpus.write.mode("overwrite").parquet(vec)
    val out = graft.TempDirs.createCleaned("graft_embst_out")
    EventStreams.runIncrementalEmbeddingAdmission(
      EventStreams.orderedIntake(spark, "graft_embst", batches),
      sig, vec, out, graft.TempDirs.createCleaned("graft_embst_ck"),
      "vec_id", "embedding", threshold = 0.95)
    val got = statuses(out)
    assert(got == (0 until 6).flatMap(i => Seq(
      (1000L + i, "duplicate", i.toLong),
      (2020L + i, "admitted", -1L))).toSet, s"got $got")
    assert(Dedup.loadEmbeddingSignatures(spark, sig).signatures.count() == 46L)
    assert(spark.read.parquet(vec).count() == 46L)
    val probe = emb.filter(col("vec_id") === 25)
      .select(lit(3000L).as("vec_id"), neg(col("embedding")).as("embedding"))
    val flags = Dedup.incrementalEmbeddingNearDuplicates(
        Dedup.loadEmbeddingSignatures(spark, sig), spark.read.parquet(vec),
        probe, "vec_id", "embedding", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags == Set((3000L, 2025L)),
      s"the grown trees must hold batch 6's append: $flags")
  }

  test("near-dup admission stop -> compact -> restart: compacted roots serve the grown history") {
    import graft.ops.Dedup
    import spark.implicits._
    // the digest compact-restart story for the SKETCH gate: run two
    // batches, STOP, compact BOTH appended trees blue/green, restart
    // against the compacted roots — only the new file processes, and
    // a replica of run-1-admitted content flags through the COMPACTED
    // signature store with the original keeper.
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val b1 = Seq((10L, "lambda mu nu xi kappa")).toDF("doc_id", "text")
    val b2 = Seq((20L, "lambda mu nu xi kappa"),
      (21L, "phi chi psi omega iota")).toDF("doc_id", "text")
    val sigDir = graft.TempDirs.createCleaned("graft_ndc_sig")
    val txtDir = graft.TempDirs.createCleaned("graft_ndc_txt")
    Dedup.saveMinhashSignatures(corpus, "doc_id", "text", sigDir)
    corpus.write.mode("overwrite").parquet(txtDir)
    val srcDir = graft.TempDirs.createCleaned("graft_ndc_src")
    val outDir = graft.TempDirs.createCleaned("graft_ndc_out")
    val ckDir = graft.TempDirs.createCleaned("graft_ndc_ck")
    def runOnce(sig: String, txt: String): Unit =
      EventStreams.runIncrementalNearDupAdmission(
        spark.readStream.schema(b1.schema).parquet(srcDir),
        sig, txt, outDir, ckDir, "doc_id", "text", threshold = 1.0)
    EventStreams.stageFile(b1, srcDir, "intake_000.parquet", 1600000000000L)
    runOnce(sigDir, txtDir)
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == 1L) // 10 admitted
    // STOP -> compact both trees blue/green
    val sigC = graft.TempDirs.createCleaned("graft_ndc_sig_c")
    val txtC = graft.TempDirs.createCleaned("graft_ndc_txt_c")
    Dedup.compactMinhashSignatures(spark, sigDir, sigC)
    graft.ops.Layout.compact(spark, txtDir, txtC)
    // RESTART against the compacted roots, same checkpoint
    EventStreams.stageFile(b2, srcDir, "intake_001.parquet", 1600000060000L)
    runOnce(sigC, txtC)
    val out = statuses(outDir)
    assert(out == Set(
      (10L, "admitted", -1L),
      (20L, "duplicate", 10L), // through the COMPACTED store's appended row
      (21L, "admitted", -1L)), s"got $out")
    // the restart's appends landed in the compacted roots
    assert(Dedup.loadMinhashSignatures(spark, sigC).signatures.count() == 3L)
    assert(spark.read.parquet(txtC).count() == 3L)
  }

  test("admission stop -> compact -> restart: new root serves the grown history; only new files process") {
    import graft.ops.Dedup
    // the operational maintenance story end-to-end: run the admission
    // stream, STOP, compact the append-fragmented ledger blue/green,
    // point the restarted stream at the COMPACTED root — the restart
    // consumes only files staged since (same checkpoint), flags
    // day-3 replicas through the compacted ledger (which must hold
    // the day-2 appends), and its own appends land in the new root.
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    def rev(c: org.apache.spark.sql.Column) = concat_ws(" ",
      reverse(split(c, graft.ops.TextAnalysis.WhitespaceClass)))
    val day2 = docs.filter(col("doc_id") >= 320 && col("doc_id") < 340)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        rev(col("text")).as("text"))
    val day3 = docs.filter(col("doc_id") >= 320 && col("doc_id") < 340)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"),
        rev(col("text")).as("text"))
    val srcDir = graft.TempDirs.createCleaned("graft_acr_src")
    val storeDir = graft.TempDirs.createCleaned("graft_acr_store")
    val compactDir = graft.TempDirs.createCleaned("graft_acr_store_c")
    Dedup.saveDigestStore(docs, "doc_id", "text", storeDir)
    val outDir = graft.TempDirs.createCleaned("graft_acr_out")
    val ckDir = graft.TempDirs.createCleaned("graft_acr_ck")
    def runOnce(store: String): Unit = EventStreams.runIncrementalAdmission(
      spark.readStream.schema(day2.schema).parquet(srcDir),
      store, outDir, ckDir, "doc_id", "text")
    EventStreams.stageFile(day2, srcDir, "intake_000.parquet", 1600000000000L)
    runOnce(storeDir)
    val n1 = spark.read.parquet(outDir).count()
    // STOP -> monthly maintenance: blue/green rewrite of the grown tree
    val compacted = Dedup.compactDigestStore(spark, storeDir, compactDir)
    val grownRows = Dedup.loadDigestStore(spark, storeDir).digests.count()
    assert(compacted.digests.count() == grownRows,
      "compaction must carry the day-2 appends into the new root")
    // RESTART against the compacted root, same checkpoint
    EventStreams.stageFile(day3, srcDir, "intake_001.parquet", 1600000060000L)
    runOnce(compactDir)
    val out2 = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out2.count(_._1 < 3000000L) == n1,
      "restart must not re-process the day-2 file")
    val day3Rows = out2.filter(_._1 >= 3000000L)
    assert(day3Rows.nonEmpty && day3Rows.forall(_._2 == "duplicate"),
      "day-3 replicas must flag through the COMPACTED ledger")
    // the restart's appends (none here — all dups) left the new root
    // keyed-unique and at least day-2-sized
    assert(Dedup.loadDigestStore(spark, compactDir).digests
      .groupBy(col("content_hash")).count()
      .filter(col("count") > 1).count() == 0L)
  }

  test("admission stream restart: only new files process; the grown ledger flags day-2 content") {
    import graft.ops.Dedup
    // the scaladoc's recovery claim, pinned: after a stop, a restart
    // on the same checkpoint consumes ONLY files that arrived since
    // (no duplicate output rows for the already-admitted batch), and
    // the restarted stream probes the ledger the first run APPENDED
    // to — so replicas of run-1 content flag `duplicate` across the
    // restart boundary.
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    def rev(c: org.apache.spark.sql.Column) = concat_ws(" ",
      reverse(split(c, graft.ops.TextAnalysis.WhitespaceClass)))
    val day2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        rev(col("text")).as("text"))
    val day3 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"),
        rev(col("text")).as("text"))
    val srcDir = graft.TempDirs.createCleaned("graft_admr_src")
    val storeDir = graft.TempDirs.createCleaned("graft_admr_store")
    Dedup.saveDigestStore(docs, "doc_id", "text", storeDir)
    val outDir = graft.TempDirs.createCleaned("graft_admr_out")
    val ckDir = graft.TempDirs.createCleaned("graft_admr_ck")
    def runOnce(): Unit = EventStreams.runIncrementalAdmission(
      spark.readStream.schema(day2.schema).parquet(srcDir),
      storeDir, outDir, ckDir, "doc_id", "text")
    EventStreams.stageFile(day2, srcDir, "intake_000.parquet", 1600000000000L)
    runOnce()
    val after1 = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after1.map(_._1).toSet == day2.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet,
      "run 1 must emit exactly one row per day-2 doc")
    EventStreams.stageFile(day3, srcDir, "intake_001.parquet", 1600000060000L)
    runOnce() // restart on the SAME checkpoint
    val after2 = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // no duplicate rows for day-2 (exactly-once across the restart)
    assert(after2.count(_._1 < 3000000L) == after1.length,
      "restart must not re-process the day-2 file")
    // every day-3 doc flags duplicate: its content is in the ledger
    // either from day-0 (token palindromes) or from the day-2 APPEND
    val day3Rows = after2.filter(_._1 >= 3000000L)
    assert(day3Rows.nonEmpty && day3Rows.forall(_._2 == "duplicate"),
      s"day-3 replicas must all flag through the grown ledger: " +
        s"${day3Rows.filter(_._2 != "duplicate").take(5)}")
  }
}
