package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table.
  *
  * The reference has no streaming (SURVEY §2.9) — its incrementality
  * is a monthly Airflow schedule over append-mode partitioned sinks.
  * This module is the additive Spark-native expression of the same
  * axis: the fact-build becomes a continuous query with watermarked
  * event-time windows, and late data is handled by the watermark
  * instead of blind re-append.
  *
  * At scale: windowed aggregation state is partitioned by group key
  * across executors (RocksDB-backed state store in production), and
  * the parquet source lists only new files per micro-batch — the same
  * monthly-file cadence the reference crawls, minus the re-run
  * duplication risk.
  */
object EventStreams {

  /** Streaming read of a documents parquet directory — the
    * ingest-side curation source (file streams need a pinned
    * schema; inference is batch-only). */
  def docsFromParquetDir(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))
      .parquet(path)

  /** Streaming read of an events parquet directory; `ts` is
    * TIMESTAMP(MICROS) on disk, pinned as `timestamp` like the batch
    * side's `Tables.events`. */
  def fromParquetDir(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))
      .parquet(path)

  /** Watermarked sliding-window counts per event type — the
    * continuous analog of the reference's hourly bucketing (J2). */
  def hourlyTypeCounts(events: DataFrame,
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Watermarked streaming sessionization — the STATEFUL-MERGING
    * window class (distinct from the fixed hourly buckets above):
    * `session_window` keeps one open session per (user, run) in the
    * state store, merges events landing within `gap` of the
    * session's current end, and emits a session exactly when the
    * watermark passes its end (last event + gap) — so state is
    * bounded by the active-session population, never stream length,
    * and the emitted table equals the batch sessionization of the
    * closed prefix (the x27 replay restricted to sessions whose
    * end + gap ≤ final watermark — that's what makes it
    * oracle-checkable). */
  def sessionizedStats(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Stream-stream join: every event enriched with the same user's
    * purchases from the trailing hour — the two-sided stateful join
    * class (distinct from stream-static enrichment): BOTH sides
    * buffer state, and the watermark + time-range condition together
    * bound it (rows older than watermark + range are evicted), so
    * state stays proportional to the active window no matter how
    * long the stream runs. */
  def eventsWithRecentPurchases(events: DataFrame,
      range: String = "1 hour", watermark: String = "30 minutes"): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    events
      .withWatermark("ts", watermark)
      .join(purchases, expr(
        s"user_id = p_user AND p_ts <= ts AND p_ts >= ts - interval $range"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("p_ts"), col("p_value"))
  }

  /** Stream-static enrichment: the streaming fact joined to a STATIC
    * dimension table — the stateless join class that completes the
    * streaming join matrix next to [[eventsWithRecentPurchases]]'s
    * two-sided stateful join. No watermark, no state store: the
    * static side behaves like a broadcast lookup evaluated per
    * micro-batch, so an updated dimension snapshot is picked up on
    * the NEXT batch (re-read per batch by the file source) without
    * restarting the query — the standard "enrich clicks with the
    * user dimension" deployment. A left join keeps facts whose
    * dimension row hasn't arrived yet (late dimension inserts are a
    * data fact, not a drop reason). */
  def enrichWithDimension(events: DataFrame, dim: DataFrame,
      eventKeyCol: String, dimKeyCol: String): DataFrame = {
    require(events.isStreaming, "events must be a streaming DataFrame")
    require(!dim.isStreaming, "dim must be a static DataFrame")
    // dataset-qualified key refs: when fact and dimension share the
    // key's NAME (user_id = user_id, the common case) a bare col() is
    // ambiguous once the join combines the inputs and analysis fails
    events.join(dim, events(eventKeyCol) === dim(dimKeyCol), "left")
  }

  /** Streaming exact dedup: drop rows whose key was already seen,
    * with state bounded by the watermark — the streaming form of
    * [[graft.ops.Dedup.exact]] for a continuously-ingesting corpus
    * (re-crawled pages, replayed files). Key by a content digest
    * (`md5(text)`) for content dedup or by the event id for replay
    * protection; state per key is evicted once the watermark passes
    * it, so the store holds one entry per distinct key per watermark
    * horizon — bounded no matter how long the stream runs. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class UserActivity(
      user_id: Long, n_events: Long, total_value: Double, last_seen_epoch: Long)

  /** Per-user running activity via mapGroupsWithState — the custom-
    * state path (KeyValueGroupedDataset) for logic windows can't
    * express. State per user: event count, value sum, last-seen. */
  def userActivity(events: DataFrame): Dataset[UserActivity] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("value"), unix_seconds(col("ts")).as("epoch"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserActivity, UserActivity](
        GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[UserActivity]) =>
          val prev = state.getOption.getOrElse(UserActivity(userId, 0L, 0.0, 0L))
          var n = prev.n_events
          var total = prev.total_value
          var last = prev.last_seen_epoch
          rows.foreach { case (_, value, epoch) =>
            n += 1; total += value; if (epoch > last) last = epoch
          }
          val next = UserActivity(userId, n, math.round(total * 100.0) / 100.0, last)
          state.update(next)
          next
      }
  }

  /** Run a streaming query into a partitioned parquet FILE sink with
    * a checkpoint — the production shape of the reference's
    * append-mode monthly loads (spark_elt_emr.py:82-83), done with
    * recovery semantics the reference lacked: the checkpoint's
    * source log remembers which input files each batch consumed and
    * the sink's manifest records committed output, so re-running
    * after a stop (or crash) processes ONLY new files and never
    * duplicates rows — where the reference's blind re-append
    * duplicated the whole month. `Trigger.AvailableNow` drains
    * everything currently available and stops, the
    * scheduled-incremental cadence (Airflow monthly in the
    * reference) expressed as a restartable stream. */
  def runToParquet(df: DataFrame, outDir: String, checkpointDir: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val writer = df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
    val q = (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
             else writer).start()
    q.awaitTermination()
  }

  /** The admission GATE LOOP, shared by the three stream-static
    * admission gates ([[runIncrementalAdmission]] = digest ledger,
    * [[runIncrementalNearDupAdmission]] = text sketch,
    * [[runIncrementalEmbeddingAdmission]] = embedding sketch). Each
    * micro-batch `body` probes its store loaded FRESH (the
    * [[enrichWithDimension]] stream-static class where the static side
    * is re-listed per batch), anti-joins the flagged ids off, commits
    * one (id, status, min dup_id) row per intake row under `outDir`
    * ([[writeStatuses]]), then APPENDS the admitted survivors to the
    * store(s), so the next batch probes the grown store. Duplicates
    * carry `dup_id = min` over their flag rows — the batching-invariant
    * reduction: a later copy of an admitted doc flags `corpus` through
    * the APPENDED entry whose keeper equals the batch-mode min-id
    * keeper, so with id-ordered micro-batches ([[orderedIntake]]) the
    * output is independent of how the intake splits into batches.
    *
    * This is `foreachBatch`, not a plan transform: the probe needs a
    * per-batch localCheckpoint and the appends are side-effecting
    * writes — neither exists in a continuous plan. Failure semantics
    * are the standard foreachBatch at-least-once, made FULLY
    * IDEMPOTENT up to duplicate output rows: (1) the OUTPUT commits
    * before the appends, so a replay in the window between them
    * re-probes the identical un-appended store and re-emits identical
    * rows; (2) SELF-rows (batch_id == dup_id) are filtered from the
    * flag set — admission intake ids are new by contract, so a
    * self-row can only be the batch's OWN append seen by a replay that
    * failed after the append committed; with the filter that replay
    * reproduces the original statuses exactly (other same-batch
    * matches reduce to the same min keeper) and the append no-ops.
    * Net: any replay appends duplicate-but-CORRECT output rows — dedup
    * the output on the id downstream if the job ever restarts
    * mid-batch. A completed batch is never re-run (checkpointed
    * offsets).
    *
    * Scale shape: per batch — one intake-sized probe, a map-only store
    * scan with the tiny batch broadcast (never a corpus rescan),
    * batch-sized appends; every per-batch checkpoint is released at
    * the end of the body ([[graft.Persistence.release]] — a continuous
    * run would otherwise accumulate checkpoint blocks until GC). The
    * steady-state cost is ∝ daily intake — except the store LISTING,
    * which grows one file per append until compaction rewrites the
    * tree (measured: the `stream`/`streamnd` families of
    * SCALE_REHEARSAL_r19_stream.json). The completed query is
    * returned — `recentProgress` carries per-batch durations for
    * exactly that measurement.
    *
    * `compactEvery` (the maintenance CADENCE): when > 0, after every N
    * committed micro-batches — after ALL of that batch's effects —
    * `compact` rewrites the appended tree(s) blue/green and swaps them
    * into place ([[compactInPlace]]; the end of a foreachBatch body is
    * exactly the no-reader-active window the swap requires). Size N
    * from [[graft.ops.Layout.compactionDue]]'s rule:
    * N ≈ maxFraction × batchWallMs / perFileMs (measured
    * ~1.2–2.2 ms/file locally). 0 = never — compact at your own
    * cadence. A replay after a completed swap re-probes the compacted
    * tree, which answers identically (compaction is row-identity). */
  private def gateLoop(docs: DataFrame, checkpointDir: String,
      compactEvery: Int)(body: DataFrame => Unit)(
      compact: SparkSession => Unit): StreamingQuery = {
    require(docs.isStreaming, "docs must be a streaming DataFrame")
    require(compactEvery >= 0, "compactEvery must be >= 0 (0 = never)")
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compact(batch.sparkSession)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** The batch rows whose id is not flagged, checkpointed: they feed
    * both the status output and the append (the N-subplans rule; a
    * micro-batch is bounded). */
  private def admittedRows(batch: DataFrame, flagged: DataFrame,
      idCol: String, valueCol: String): DataFrame =
    batch
      .select(col(idCol), col(valueCol))
      .join(flagged.select(col("batch_id").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .localCheckpoint(true)

  /** Append one (id, status, dup_id) row per batch row to `outDir`:
    * flagged ids as `duplicate` with the min over their flag rows,
    * admitted ids with a NULL dup_id. */
  private def writeStatuses(flagged: DataFrame, admitted: DataFrame,
      idCol: String, outDir: String): Unit =
    flagged
      .groupBy(col("batch_id").as(idCol))
      .agg(min(col("dup_id")).as("dup_id"))
      .select(col(idCol), lit("duplicate").as("status"), col("dup_id"))
      .unionByName(admitted.select(col(idCol),
        lit("admitted").as("status"),
        lit(null).cast("bigint").as("dup_id")))
      .write.mode("append").parquet(outDir)

  /** Blue/green compaction of `path`: `rewrite` a fresh temp root,
    * then swap it into place ([[graft.ops.Layout.swapCompacted]]). */
  private def compactInPlace(spark: SparkSession, path: String,
      tmpPrefix: String)(rewrite: String => Any): Unit = {
    val tmp = graft.TempDirs.createCleaned(tmpPrefix)
    rewrite(tmp)
    graft.ops.Layout.swapCompacted(spark, path, tmp)
  }

  /** Stream-static DIGEST admission: the x209 intake gate as a
    * structured stream over the [[gateLoop]]. Per batch the probe is
    * [[graft.ops.Dedup.incrementalExactDuplicates]] against the
    * ledger, and the append is [[graft.ops.Dedup.appendToDigestStore]]
    * (whose digest anti-join makes a replayed append a no-op);
    * `compactEvery` rewrites the ledger with
    * [[graft.ops.Dedup.compactDigestStore]]. EventStreamsSpec pins the
    * 3-micro-batch stream ≡ the batch pipeline row-for-row, and that a
    * replayed intake against the grown ledger reproduces the original
    * statuses. */
  def runIncrementalAdmission(docs: DataFrame, storePath: String,
      outDir: String, checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", compactEvery: Int = 0): StreamingQuery =
    gateLoop(docs, checkpointDir, compactEvery) { batch =>
      val store = graft.ops.Dedup.loadDigestStore(
        batch.sparkSession, storePath)
      // probe's plan leaves include the batch-digest checkpoint made
      // inside incrementalExactDuplicates — released below once
      // flagged is eagerly materialized
      val probe = graft.ops.Dedup.incrementalExactDuplicates(
        store, batch, idCol, textCol)
      val flagged = probe.filter(col("batch_id") =!= col("dup_id"))
        .localCheckpoint(true)
      graft.Persistence.release(probe)
      val admitted = admittedRows(batch, flagged, idCol, textCol)
      writeStatuses(flagged, admitted, idCol, outDir)
      graft.ops.Dedup.appendToDigestStore(store, storePath, admitted,
        idCol, textCol)
      graft.Persistence.release(flagged)
      graft.Persistence.release(admitted)
    } { spark =>
      compactInPlace(spark, storePath, "graft_adm_ledger_c")(
        graft.ops.Dedup.compactDigestStore(spark, storePath, _))
    }

  /** The store calls that tell the two SKETCH gates apart, bound to a
    * store handle loaded for one micro-batch: the stored (id, sig)
    * frame, the verified probe of a batch against the corpus values,
    * re-signing rows with the store's own parameters, and the append. */
  private final case class SketchStore(
      signatures: DataFrame,
      probe: (DataFrame, DataFrame) => DataFrame,
      sign: DataFrame => DataFrame,
      append: DataFrame => Any)

  /** The SKETCH admission body shared by
    * [[runIncrementalNearDupAdmission]] and
    * [[runIncrementalEmbeddingAdmission]], over the [[gateLoop]]. The
    * full production loop: an admitted row joins the corpus VALUE
    * store under `corpusPath` (texts or vectors — the verification
    * side the stream itself grows) AND the signature store, so later
    * batches dedup against it with no corpus re-sign. Per batch:
    *
    *   1. probe through the store loaded fresh (`load`): banding is a
    *      map-only signature scan; verification runs over the batch
    *      plus candidate-HIT corpus rows only. The raw probe is
    *      checkpointed once (it feeds both orientation branches — two
    *      filters over the lazy frame would run the verify joins
    *      twice);
    *   2. REORIENT batch-internal pairs: the probe emits them with the
    *      SMALLER id as batch_id (the estimate-probe convention), but
    *      admission flags the LARGER id against the min keeper —
    *      without the swap a same-batch dup class would admit its LAST
    *      member and flag the keeper. Then the self-row filter (replay
    *      idempotence, the [[gateLoop]] rule);
    *   3. the appends are made replay-idempotent on the SIGNATURE
    *      store's ids, resolved BEFORE any effect, and a LOUD
    *      id-collision guard refuses the batch with nothing written: a
    *      dropped id must already carry this batch's own signature in
    *      the store (a replay); a dropped id with a DIFFERENT stored
    *      signature is an intake id colliding with an existing store
    *      id (the "intake ids are new" contract violated) — swallowing
    *      it would emit 'admitted' while the store never learns the
    *      content, and every later day re-admits it. Short-circuited on
    *      the normal path: dropped is the difference of two per-batch
    *      checkpoints, so its emptiness probe never touches the store;
    *   4. output first, then the corpus values, then the signatures (a
    *      replay between the two appends can only duplicate value rows,
    *      which duplicates verify rows the min-reduction collapses —
    *      never a signature row, so the store stays keyed-unique);
    *      release every per-batch checkpoint;
    *   5. `compactEvery` > 0 compacts BOTH appended trees (the
    *      signature store with `compactSignatures`, the plain value
    *      dir with [[graft.ops.Layout.compact]]) and swaps each into
    *      place. */
  private def runSketchAdmission(docs: DataFrame, storePath: String,
      corpusPath: String, outDir: String, checkpointDir: String,
      idCol: String, valueCol: String, compactEvery: Int,
      tmpPrefix: String)(
      compactSignatures: (SparkSession, String, String) => Any)(
      load: SparkSession => SketchStore): StreamingQuery =
    gateLoop(docs, checkpointDir, compactEvery) { batch =>
      val spark = batch.sparkSession
      val store = load(spark)
      val probe = store.probe(spark.read.parquet(corpusPath), batch)
      val flaggedRaw = probe.localCheckpoint(true)
      graft.Persistence.release(probe)
      val flagged = flaggedRaw.filter(col("dup_in") === "corpus")
        .select(col("batch_id"), col("dup_id"))
        .unionByName(flaggedRaw.filter(col("dup_in") === "batch")
          .select(col("dup_id").as("batch_id"), col("batch_id").as("dup_id")))
        .filter(col("batch_id") =!= col("dup_id"))
      val admitted = admittedRows(batch, flagged, idCol, valueCol)
      val newAdmits = admitted
        .join(store.signatures.select(col("id").as(idCol)),
          Seq(idCol), "left_anti")
        .localCheckpoint(true)
      val dropped = admitted.join(newAdmits.select(col(idCol)),
        Seq(idCol), "left_anti")
      if (dropped.limit(1).collect().nonEmpty) {
        val collided = store.sign(dropped)
          .join(store.signatures.select(col("id"), col("sig").as("stored")),
            Seq("id"))
          .filter(!(col("sig") <=> col("stored")))
          .limit(1).collect()
        require(collided.isEmpty,
          s"admission intake id ${collided.headOption.map(_.get(0))} " +
            "already exists in the signature store with different " +
            "content — intake ids must be NEW (the store-append " +
            "contract); re-key the intake")
      }
      writeStatuses(flagged, admitted, idCol, outDir)
      newAdmits.write.mode("append").parquet(corpusPath)
      store.append(newAdmits)
      graft.Persistence.release(flaggedRaw)
      graft.Persistence.release(admitted)
      graft.Persistence.release(newAdmits)
    } { spark =>
      compactInPlace(spark, storePath, s"${tmpPrefix}_sig_c")(
        compactSignatures(spark, storePath, _))
      compactInPlace(spark, corpusPath, s"${tmpPrefix}_corpus_c")(
        graft.ops.Layout.compact(spark, corpusPath, _))
    }

  /** Stream-static NEAR-DUP admission: [[runSketchAdmission]] over the
    * minhash signature store, with EXACT gram-set verification
    * ([[graft.ops.Dedup.incrementalVerifiedTextDuplicates]]) against
    * the corpus TEXT store under `corpusTextsPath`; compaction by
    * [[graft.ops.Dedup.compactMinhashSignatures]].
    *
    * BATCHING-INVARIANT ONLY AT threshold = 1.0 AND WITH ID-ORDERED
    * MICRO-BATCHES (the x211 precondition): verified Jaccard 1.0 ⇔
    * identical gram SETS, an equivalence relation, so the admitted set
    * is the class-minimum rule for any id-ordered split of the intake
    * (EventStreamsSpec pins stream ≡ the class algebra; the x215
    * carrier replays it in SQL). If a LARGER-id class member arrives in
    * an earlier batch it is admitted and the later class minimum flags
    * against it — a valid online decision that diverges from the
    * class-minimum oracle; non-ordered intakes are rows-only
    * territory. At mid thresholds similarity is not transitive and
    * greedy online admission depends on the batch split — outputs are
    * valid online-dedup decisions but carry no SQL oracle; keep such
    * runs rows-only. */
  def runIncrementalNearDupAdmission(docs: DataFrame, storePath: String,
      corpusTextsPath: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 1.0, bands: Int = 32,
      compactEvery: Int = 0): StreamingQuery =
    runSketchAdmission(docs, storePath, corpusTextsPath, outDir,
        checkpointDir, idCol, textCol, compactEvery, "graft_ndadm")(
        graft.ops.Dedup.compactMinhashSignatures(_, _, _)) { spark =>
      val store = graft.ops.Dedup.loadMinhashSignatures(spark, storePath)
      SketchStore(store.signatures,
        graft.ops.Dedup.incrementalVerifiedTextDuplicates(store, _, _,
          idCol, textCol, threshold, bands),
        graft.ops.Dedup.minhashSignatures(_, idCol, textCol,
          store.numHashes, store.shingleSize),
        graft.ops.Dedup.appendToMinhashSignatures(store, storePath, _,
          idCol, textCol))
    }

  /** Stream-static EMBEDDING admission: [[runSketchAdmission]] over the
    * embedding signature store, with EXACT cosine verification
    * ([[graft.ops.Dedup.incrementalEmbeddingNearDuplicates]] through
    * the handle loaded fresh — width/bands/seed resolve from the meta
    * sidecar) against the corpus VECTOR store under `corpusVecsPath`;
    * compaction by [[graft.ops.Dedup.compactEmbeddingSignatures]].
    *
    * Oracle scope (the x212/x215 analysis applied): the output is
    * batching-invariant when flagging induces EQUIVALENCE CLASSES —
    * exact replicas at a threshold nothing distinct reaches (the
    * x216 carrier's replica/negation construction under the
    * OpsSpec-pinned |cosine| < 0.95 corpus premise). At thresholds
    * real distinct pairs cross, cosine is not transitive and greedy
    * online admission depends on the batch split — valid decisions,
    * no SQL oracle; keep such runs rows-only. */
  def runIncrementalEmbeddingAdmission(docs: DataFrame, storePath: String,
      corpusVecsPath: String, outDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, compactEvery: Int = 0): StreamingQuery =
    runSketchAdmission(docs, storePath, corpusVecsPath, outDir,
        checkpointDir, idCol, vecCol, compactEvery, "graft_embadm")(
        graft.ops.Dedup.compactEmbeddingSignatures(_, _, _)) { spark =>
      val store = graft.ops.Dedup.loadEmbeddingSignatures(spark, storePath)
      SketchStore(store.signatures,
        graft.ops.Dedup.incrementalEmbeddingNearDuplicates(store, _, _,
          idCol, vecCol, threshold),
        graft.ops.Dedup.embeddingSignatures(_, idCol, vecCol,
          store.numBits, store.bands, store.seed),
        graft.ops.Dedup.appendToEmbeddingSignatures(store, storePath, _,
          idCol, vecCol))
    }

  /** Run a streaming query to completion against a static directory
    * (memory sink) and return the result table — the batch-driven
    * harness for tests and local verification. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Stage `df` as the ONE parquet file `dir/name` with modification
    * time `mtime` — the unit of a file-stream intake: the file source
    * drains oldest-mtime first, path order as the tiebreak. */
  def stageFile(df: DataFrame, dir: String, name: String, mtime: Long): Unit = {
    val tmp = graft.TempDirs.createCleaned("graft_stage")
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.copy(part.toPath, dst)
    dst.toFile.setLastModified(mtime)
  }

  /** An ORDERED intake stream: batch i is staged as
    * `intake_%03d.parquet` under a fresh `<prefix>_src` dir with
    * strictly increasing mtimes (all within the source's maxFileAge of
    * the newest), then streamed at maxFilesPerTrigger=1 with the first
    * batch's schema pinned (file streams need one; the file source
    * forces it nullable) — so staged batch i IS micro-batch i. The
    * admission gates' id-ordered precondition is met by staging the
    * batches in id order. */
  def orderedIntake(spark: SparkSession, prefix: String,
      batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty, "orderedIntake needs at least one batch")
    val src = graft.TempDirs.createCleaned(s"${prefix}_src")
    batches.zipWithIndex.foreach { case (df, i) =>
      stageFile(df, src, f"intake_$i%03d.parquet", 1600000000000L + i * 60000L)
    }
    spark.readStream
      .schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
  }

  final case class GroupProfile(
      grp: String, n: Long, sum_v: Long, min_v: Long, max_v: Long)

  /** Streaming twin of the mergeable batch profile
    * ([[graft.ops.Profiling.batchStats]]/`mergeStats`): the same
    * sufficient statistics (count, sum, min, max of an integer
    * column) maintained incrementally by `mapGroupsWithState` — each
    * micro-batch folds into per-group state with the exact integer
    * algebra `mergeStats` uses, so after any prefix of batches the
    * emitted state EQUALS the batch profile of everything ingested
    * so far (the spec asserts the equality). State is constant-size
    * per group — the 100 TB streaming-profile shape. */
  def runningProfile(rows: DataFrame, groupCol: String,
      valueCol: String): Dataset[GroupProfile] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(col(groupCol).cast("string"), col(valueCol).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[GroupProfile, GroupProfile](
        GroupStateTimeout.NoTimeout) {
        case (grp, batch, state: GroupState[GroupProfile]) =>
          val prev = state.getOption.getOrElse(
            GroupProfile(grp, 0L, 0L, Long.MaxValue, Long.MinValue))
          var n = prev.n; var s = prev.sum_v
          var mn = prev.min_v; var mx = prev.max_v
          batch.foreach { case (_, v) =>
            n += 1; s += v
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
          val next = GroupProfile(grp, n, s, mn, mx)
          state.update(next)
          next
      }
  }
}
