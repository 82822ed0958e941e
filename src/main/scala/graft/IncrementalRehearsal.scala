package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.{Dedup, Layout}
import graft.streaming.EventStreams

/** Incremental-vs-full rehearsal (r17): the daily-delta claims of the
  * incremental store trio, MEASURED. The scaladocs of
  * [[graft.ops.Dedup.incrementalExactDuplicates]] /
  * [[graft.ops.Dedup.incrementalMinhashNearDuplicates]] /
  * [[graft.ops.Dedup.incrementalEmbeddingNearDuplicates]] all argue
  * the same shape — the dominant per-item cost (shingling /
  * hyperplane projection / md5) runs over the DELTA only while the
  * corpus contributes a precomputed store scan — but until this run
  * the claim was only fixture-asserted, never costed (the
  * ShardRehearsal lesson: the r15 shard scaladoc's O(corpus) claim
  * was WRONG and only a measurement caught it).
  *
  * Per (dir, family): a 2% replica batch under shifted ids is deduped
  * against the corpus twice —
  *
  *   - FULL: the non-incremental operator over corpus ∪ batch
  *     (what a pipeline without stores re-runs every day);
  *   - INC: the incremental operator against a PRE-BUILT ON-DISK
  *     store (store build untimed: that is day-0 cost, paid once).
  *
  * Cells are medians of 3 with memos cleared between (the
  * ShardRehearsal rule — single shots carry ±2-3× same-VM variance).
  * Equivalence is re-checked at rehearsal scale, not just on the
  * OpsSpec fixtures: the incremental result must equal the full
  * (uncapped) result restricted to batch-touching pairs — for the
  * exact family, a direct md5-join derivation replayed on the spot.
  *
  * The `append` family (r18) measures the MAINTENANCE side: FULL =
  * re-saving all three stores over corpus ∪ batch (what the
  * overwrite-only r17 stores forced after every day's admissions),
  * INC = the append trio on a fresh copy of the day-0 stores —
  * append cost must track the batch, not the corpus, and the
  * appended stores must equal the full re-save bit-for-bit.
  *
  * The `stream` / `streamnd` families (r19) measure the ADMISSION
  * GATES' steady state: N staged micro-batches (default 50/25;
  * SPARK_GRAFT_STREAM_BATCHES overrides) through the digest /
  * near-dup foreachBatch pipelines — per-batch trigger walls from
  * `recentProgress`, appended-tree file growth, and fragmented- vs
  * compacted-tree probe cost (load inside the timed body: the
  * LISTING is the cost that grows with append count).
  *
  * Usage: sbt "runMain graft.IncrementalRehearsal [dir ...]"
  *   (default: /root/testdata/sf0.1 /tmp/graft_scale/x10)
  * `SPARK_GRAFT_INC_FAMILIES=embedding[,exact,minhash]` restricts the
  * families (the ScaleProbe filter discipline — a ×30 point only
  * needs the families whose regime CHANGES there: the embedding store
  * crosses into WIDE per-band signatures past one Long, while a ×30
  * full-minhash would burn CPU re-proving a curve already measured).
  * Output: one JSON row per (dir, family); archive at
  * SPARK_GRAFT_INC_OUT (default /tmp/graft_inc_rehearsal.json).
  */
object IncrementalRehearsal {

  private val Shift = 1000000000L // batch ids: far above any corpus id

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale/x10")
    val fams = Bench.familyFilter("SPARK_GRAFT_INC_FAMILIES",
      Set("exact", "minhash", "embedding", "append", "stream", "streamnd",
        "streampolicy"))
    def want(f: String): Boolean = fams.forall(_.contains(f))
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    val sm = new Bench.StageMetrics(spark)
    val sb = new StringBuilder
    val storeRoot = TempDirs.createCleaned("graft_inc_stores")

    def medianOf(reps: Int)(body: () => Long): (Double, Double, Long) = {
      val cells = (0 until reps).map { _ =>
        BoundedMemo.clearAll()
        sm.reset()
        val t0 = System.nanoTime()
        val n = body()
        val wall = (System.nanoTime() - t0) / 1e9
        sm.drain()
        (wall, sm.cpuNs.sum / 1e9, n)
      }
      val byCpu = cells.sortBy(_._2)
      byCpu(byCpu.length / 2)
    }
    // median trigger wall (s) over a completed gate run's first and
    // last 10 non-empty micro-batches
    def batchWalls(q: StreamingQuery): (Double, Double) = {
      val trig = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(p => p.durationMs.get("triggerExecution").toLong / 1000.0)
      def med(xs: Seq[Double]): Double =
        if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.length / 2)
      (med(trig.take(10)), med(trig.takeRight(10)))
    }

    def emit(dir: String, family: String, corpus: Long, batch: Long,
        full: (Double, Double, Long), inc: (Double, Double, Long),
        equiv: Boolean): Unit = {
      val line =
        f"""{"dir":"$dir","family":"$family","corpus":$corpus,""" +
          f""""batch":$batch,"full_wall":${full._1}%.2f,""" +
          f""""full_cpu":${full._2}%.2f,"full_rows":${full._3},""" +
          f""""inc_wall":${inc._1}%.2f,"inc_cpu":${inc._2}%.2f,""" +
          f""""inc_rows":${inc._3},""" +
          f""""cpu_ratio":${if (inc._2 > 0) full._2 / inc._2 else -1.0}%.1f,""" +
          f""""equiv":$equiv}"""
      println(line); sb.append(line).append('\n')
      System.err.println(f"[inc] $dir%-26s $family%-9s full=${full._2}%7.1fs " +
        f"inc=${inc._2}%6.1fs ratio=${if (inc._2 > 0) full._2 / inc._2 else -1.0}%5.1fx equiv=$equiv")
    }

    try dirs.foreach { dir =>
      // prep is gated per MODALITY (r17 review): an embedding-only
      // run must not pay the documents scan + 2% text checkpoint for
      // families the filter will never execute (the filter exists
      // precisely to avoid burning CPU on measured curves), and
      // symmetrically for the doc-side families
      val wantDocs = want("exact") || want("minhash") || want("append") ||
        want("stream") || want("streamnd") || want("streampolicy")
      val wantEmb = want("embedding") || want("append")
      val docs =
        if (wantDocs)
          Tables.documents(spark, dir)
            .select(col("doc_id"), col("text"))
            .filter(col("text").isNotNull)
        else null
      val emb =
        if (wantEmb)
          Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding"))
        else null
      val nDocs = if (wantDocs) docs.count() else 0L
      val nVec = if (wantEmb) emb.count() else 0L
      val dBatch =
        if (wantDocs)
          docs.filter(col("doc_id") < nDocs / 50)
            .select((col("doc_id") + lit(Shift)).as("doc_id"), col("text"))
            .localCheckpoint(true)
        else null
      val vBatch =
        if (wantEmb)
          emb.filter(col("vec_id") < nVec / 50)
            .select((col("vec_id") + lit(Shift)).as("vec_id"),
              col("embedding"))
            .localCheckpoint(true)
        else null
      val nDB = if (wantDocs) dBatch.count() else 0L
      val nVB = if (wantEmb) vBatch.count() else 0L
      val tag = math.abs(dir.hashCode).toString

      // ---------- exact (digest ledger) ----------
      if (want("exact")) {
      val ledger = Dedup.saveDigestStore(docs, "doc_id", "text",
        s"$storeRoot/$tag/digests")
      val fullEx = medianOf(3) { () =>
        Dedup.exact(docs.unionByName(dBatch), "doc_id", "text").count()
      }
      val incEx = medianOf(3) { () =>
        Dedup.incrementalExactDuplicates(ledger, dBatch, "doc_id", "text")
          .count()
      }
      // direct derivation: batch docs whose digest is in the corpus,
      // keeper = corpus min id — must equal the incremental 'corpus'
      // rows exactly (batch-internal rows are derived the same way)
      val bd = dBatch.select(col("doc_id").as("batch_id"),
        md5(col("text")).as("d")).localCheckpoint(true)
      val direct = bd.join(
          docs.groupBy(md5(col("text")).as("d"))
            .agg(min(col("doc_id")).as("dup_id")), Seq("d"))
          .select(col("batch_id"), col("dup_id"), lit("corpus").as("dup_in"))
        .unionByName(bd.join(
            bd.groupBy(col("d")).agg(min(col("batch_id")).as("dup_id")),
            Seq("d"))
          .filter(col("batch_id") > col("dup_id"))
          .select(col("batch_id"), col("dup_id"), lit("batch").as("dup_in")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val incExSet = Dedup.incrementalExactDuplicates(ledger, dBatch,
        "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      emit(dir, "exact", nDocs, nDB, fullEx, incEx, incExSet == direct)
      }

      // ---------- minhash (text signature store) ----------
      if (want("minhash")) {
      val mhStore = Dedup.saveMinhashSignatures(docs, "doc_id", "text",
        s"$storeRoot/$tag/minhash")
      val fullMh = medianOf(3) { () =>
        Dedup.minhashNearDuplicates(docs.unionByName(dBatch),
          "doc_id", "text", threshold = 0.8).count()
      }
      val incMh = medianOf(3) { () =>
        Dedup.incrementalMinhashNearDuplicates(mhStore, dBatch,
          "doc_id", "text", threshold = 0.8, bands = 32).count()
      }
      // equivalence vs an UNCAPPED full run (the incremental path has
      // no bucket cap; the timed full uses the production default)
      BoundedMemo.clearAll()
      val fullMhPairs = Dedup.minhashNearDuplicates(docs.unionByName(dBatch),
        "doc_id", "text", threshold = 0.8, maxBucket = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val fullMhTouch = fullMhPairs.flatMap { case (a, b, e) =>
        if (a >= Shift && b >= Shift) Some((math.min(a, b), math.max(a, b), e, "batch"))
        else if (a >= Shift) Some((a, b, e, "corpus"))
        else if (b >= Shift) Some((b, a, e, "corpus"))
        else None
      }.toSet
      val incMhSet = Dedup.incrementalMinhashNearDuplicates(mhStore, dBatch,
        "doc_id", "text", threshold = 0.8, bands = 32)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet
      emit(dir, "minhash", nDocs, nDB, fullMh, incMh, incMhSet == fullMhTouch)
      }

      // ---------- embedding (hyperplane signature store) ----------
      if (want("embedding")) {
      val numBits = Dedup.lshBitsFor(nVec + nVB, 8)
      val embStore = Dedup.saveEmbeddingSignatures(emb, "vec_id", "embedding",
        s"$storeRoot/$tag/embsig", numBits = numBits, bands = 8)
      val fullEmb = medianOf(3) { () =>
        Dedup.embeddingNearDuplicates(emb.unionByName(vBatch),
          "vec_id", "embedding", threshold = 0.95, numBits = numBits,
          bands = 8).count()
      }
      val incEmb = medianOf(3) { () =>
        Dedup.incrementalEmbeddingNearDuplicates(embStore, emb, vBatch,
          "vec_id", "embedding", threshold = 0.95).count()
      }
      BoundedMemo.clearAll()
      val fullEmbPairs = Dedup.embeddingNearDuplicates(emb.unionByName(vBatch),
        "vec_id", "embedding", threshold = 0.95, numBits = numBits,
        bands = 8, maxBucket = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val fullEmbTouch = fullEmbPairs.flatMap { case (a, b, c) =>
        if (a >= Shift && b >= Shift) Some((math.min(a, b), math.max(a, b), c, "batch"))
        else if (a >= Shift) Some((a, b, c, "corpus"))
        else if (b >= Shift) Some((b, a, c, "corpus"))
        else None
      }.toSet
      val incEmbSet = Dedup.incrementalEmbeddingNearDuplicates(embStore, emb,
        vBatch, "vec_id", "embedding", threshold = 0.95)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet
      emit(dir, "embedding", nVec, nVB, fullEmb, incEmb,
        incEmbSet == fullEmbTouch)
      }

      // ---------- append (store maintenance ∝ batch, r17 verdict #1) ----------
      // FULL = what a pipeline without append paths re-runs after
      // every day's admissions: re-save all three stores over
      // corpus ∪ batch (re-digest + re-shingle + re-sign the CORPUS).
      // INC = the append trio on a fresh copy of the day-0 stores
      // (copy untimed — appends mutate the tree, so each rep gets its
      // own; the digest anti-join would otherwise no-op on rep 2 and
      // the signature appends would double rows). Equivalence: the
      // appended stores must equal the full re-save bit-for-bit
      // (count + order-free bit_xor fingerprint over xxhash64 rows).
      if (want("append")) {
      // novel-content batch (token-reversed — the x209/x210
      // construction): an exact-replica batch would anti-join to an
      // EMPTY digest append and measure nothing
      val aBatch = docs.filter(col("doc_id") < nDocs / 50)
        .select((col("doc_id") + lit(Shift)).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"),
            graft.ops.TextAnalysis.WhitespaceClass))).as("text"))
        .localCheckpoint(true)
      val nAB = aBatch.count()
      val base = s"$storeRoot/$tag/append_base"
      Dedup.saveDigestStore(docs, "doc_id", "text", s"$base/digest")
      Dedup.saveMinhashSignatures(docs, "doc_id", "text", s"$base/minhash")
      val embStore0 = Dedup.saveEmbeddingSignatures(emb, "vec_id",
        "embedding", s"$base/embsig",
        numBits = Dedup.lshBitsFor(nVec + nVB, 8), bands = 8)
      def copyTree(src: String, dst: String): Unit = {
        val sp = java.nio.file.Paths.get(src)
        val dp = java.nio.file.Paths.get(dst)
        val walk = java.nio.file.Files.walk(sp)
        try walk.forEach { p =>
          val t = dp.resolve(sp.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } finally walk.close()
      }
      val fullAp = medianOf(3) { () =>
        val p = s"$storeRoot/$tag/append_full"
        Dedup.saveDigestStore(docs.unionByName(aBatch), "doc_id", "text",
          s"$p/digest")
        Dedup.saveMinhashSignatures(docs.unionByName(aBatch), "doc_id",
          "text", s"$p/minhash")
        Dedup.saveEmbeddingSignatures(emb.unionByName(vBatch), "vec_id",
          "embedding", s"$p/embsig", numBits = embStore0.numBits, bands = 8)
        nAB
      }
      var rep = 0
      val incAp = medianOf(3) { () =>
        // per-rep fresh copy of the day-0 stores: the copy runs INSIDE
        // the timed body (medianOf has no setup slot) but is pure
        // file IO of the store bytes — orders below the signing work
        // it replaces, and it biases AGAINST the append path if at all
        val p = s"$storeRoot/$tag/append_inc_$rep"; rep += 1
        copyTree(base, p)
        val st = Dedup.loadDigestStore(spark, s"$p/digest")
        val mh = Dedup.loadMinhashSignatures(spark, s"$p/minhash")
        val es = Dedup.loadEmbeddingSignatures(spark, s"$p/embsig")
        Dedup.appendToDigestStore(st, s"$p/digest", aBatch, "doc_id", "text")
        Dedup.appendToMinhashSignatures(mh, s"$p/minhash", aBatch,
          "doc_id", "text")
        Dedup.appendToEmbeddingSignatures(es, s"$p/embsig", vBatch,
          "vec_id", "embedding")
        nAB
      }
      // bit-for-bit equivalence of the LAST inc rep vs a full re-save
      def fp(df: DataFrame, cols: Seq[String]): (Long, Long) = {
        val r = df.agg(count(lit(1)).as("n"),
          expr(s"bit_xor(xxhash64(${cols.mkString(",")}))").as("x"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val lastInc = s"$storeRoot/$tag/append_inc_${rep - 1}"
      val fullP = s"$storeRoot/$tag/append_full"
      val equivAp =
        fp(Dedup.loadDigestStore(spark, s"$lastInc/digest").digests,
            Seq("content_hash", "keeper_id")) ==
          fp(Dedup.loadDigestStore(spark, s"$fullP/digest").digests,
            Seq("content_hash", "keeper_id")) &&
        fp(Dedup.loadMinhashSignatures(spark, s"$lastInc/minhash").signatures,
            Seq("id", "sig")) ==
          fp(Dedup.loadMinhashSignatures(spark, s"$fullP/minhash").signatures,
            Seq("id", "sig")) &&
        fp(Dedup.loadEmbeddingSignatures(spark, s"$lastInc/embsig").signatures,
            Seq("id", "sig")) ==
          fp(Dedup.loadEmbeddingSignatures(spark, s"$fullP/embsig").signatures,
            Seq("id", "sig"))
      emit(dir, "append", nDocs + nVec, nAB + nVB, fullAp, incAp, equivAp)
      }

      // ---------- stream (admission steady state + compaction, r18 verdict #1/#4) ----------
      // The streaming admission gate appends one+ ledger file per
      // micro-batch and every batch's loadDigestStore re-lists the
      // whole tree — this family MEASURES that growth (per-batch
      // trigger durations across N batches of novel content) and the
      // compaction fix (probe cost through the fragmented tree vs
      // through the compactDigestStore rewrite, load INSIDE the timed
      // body — the listing is exactly the cost that grows).
      if (want("stream")) {
      // SPARK_GRAFT_STREAM_BATCHES scales the append count: the probe's
      // fragmented-tree CPU grows with FILE COUNT (listing + one scan
      // split per append), so a second point at 4x batches separates
      // that growth from fixed per-probe cost
      val nBatches = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
        .map(_.toInt).getOrElse(50)
      val batchRows = math.max(20L, nDocs / 100)
      val base = s"$storeRoot/$tag/stream"
      Dedup.saveDigestStore(docs, "doc_id", "text", s"$base/ledger")
      val slice = docs.filter(col("doc_id") < batchRows)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      // novel content per batch (prefixed token) under unique ids:
      // every batch admits everything -> every batch appends. Batch
      // ids ride above Shift (1e9) — the x100 corpus carries ids up
      // to ~99e6, and a colliding intake id violates the gates'
      // new-ids contract (now guarded loudly; the first x100
      // streamnd run hit exactly this with 1e6-spaced shifts)
      val batches = (0 until nBatches).map { i =>
        slice.select(
          (col("doc_id") + lit(Shift + i * 10000000L)).as("doc_id"),
          concat(lit(s"b$i "), col("text")).as("text"))
      }
      val (wallFirst, wallLast) = batchWalls(
        EventStreams.runIncrementalAdmission(
          EventStreams.orderedIntake(spark, "graft_inc_stream", batches),
          s"$base/ledger", TempDirs.createCleaned("graft_inc_stream_out"),
          TempDirs.createCleaned("graft_inc_stream_ck"), "doc_id", "text"))
      val filesFrag = Layout.dataFileCount(spark, s"$base/ledger/digests")
      // probe = one more day's intake; load INSIDE the timed body
      val probeB = slice.select(
        (col("doc_id") + lit(Shift + nBatches * 10000000L)).as("doc_id"),
        concat(lit(s"b${nBatches - 1} "), col("text")).as("text"))
        .localCheckpoint(true)
      val probeFrag = medianOf(3) { () =>
        Dedup.incrementalExactDuplicates(
          Dedup.loadDigestStore(spark, s"$base/ledger"), probeB,
          "doc_id", "text").count()
      }
      Dedup.compactDigestStore(spark, s"$base/ledger", s"$base/ledger_c")
      val filesComp = Layout.dataFileCount(spark, s"$base/ledger_c/digests")
      val probeComp = medianOf(3) { () =>
        Dedup.incrementalExactDuplicates(
          Dedup.loadDigestStore(spark, s"$base/ledger_c"), probeB,
          "doc_id", "text").count()
      }
      // equivalence: the compacted tree answers the probe identically
      val fragSet = Dedup.incrementalExactDuplicates(
        Dedup.loadDigestStore(spark, s"$base/ledger"), probeB,
        "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val compSet = Dedup.incrementalExactDuplicates(
        Dedup.loadDigestStore(spark, s"$base/ledger_c"), probeB,
        "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val line =
        f"""{"dir":"$dir","family":"stream","corpus":$nDocs,""" +
          f""""batches":$nBatches,"batch_rows":${slice.count()},""" +
          f""""batch_wall_first10":$wallFirst%.2f,""" +
          f""""batch_wall_last10":$wallLast%.2f,""" +
          f""""files_frag":$filesFrag,"files_compact":$filesComp,""" +
          f""""probe_frag_wall":${probeFrag._1}%.2f,""" +
          f""""probe_frag_cpu":${probeFrag._2}%.2f,""" +
          f""""probe_compact_wall":${probeComp._1}%.2f,""" +
          f""""probe_compact_cpu":${probeComp._2}%.2f,""" +
          f""""probe_rows":${probeFrag._3},""" +
          f""""equiv":${fragSet == compSet}}"""
      println(line); sb.append(line).append('\n')
      System.err.println(f"[inc] $dir%-26s stream    " +
        f"batch $wallFirst%.2f->$wallLast%.2fs " +
        f"files $filesFrag->$filesComp probe ${probeFrag._1}%.2f->" +
        f"${probeComp._1}%.2fs equiv=${fragSet == compSet}")
      }
      // ---------- streampolicy (cadenced compaction holds wall flat, r20) ----------
      // The stream family shows per-batch cost growing with the
      // ledger's FILE COUNT; this one runs the SAME gate with
      // compactEvery wired (r19 verdict #4) and measures the policy
      // doing its job: per-batch wall flat from first10 to last10 and
      // the tree ending ≤ one compaction interval of files, with a
      // final probe proving the swaps lost nothing.
      if (want("streampolicy")) {
      val nBatches = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
        .map(_.toInt).getOrElse(50)
      val every = sys.env.get("SPARK_GRAFT_COMPACT_EVERY")
        .map(_.toInt).getOrElse(10)
      val batchRows = math.max(20L, nDocs / 100)
      val base = s"$storeRoot/$tag/streampolicy"
      Dedup.saveDigestStore(docs, "doc_id", "text", s"$base/ledger")
      val slice = docs.filter(col("doc_id") < batchRows)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val batches = (0 until nBatches).map { i =>
        slice.select(
          (col("doc_id") + lit(Shift + i * 10000000L)).as("doc_id"),
          concat(lit(s"p$i "), col("text")).as("text"))
      }
      val (wallFirst, wallLast) = batchWalls(
        EventStreams.runIncrementalAdmission(
          EventStreams.orderedIntake(spark, "graft_inc_streampol", batches),
          s"$base/ledger", TempDirs.createCleaned("graft_inc_streampol_out"),
          TempDirs.createCleaned("graft_inc_streampol_ck"), "doc_id", "text",
          compactEvery = every))
      val filesEnd = Layout.dataFileCount(spark, s"$base/ledger/digests")
      // fresh ids carrying the LAST batch's content: every row must
      // flag through the swapped tree (a lost append would admit them)
      val probeB = slice.select(
        (col("doc_id") + lit(Shift + nBatches * 10000000L)).as("doc_id"),
        concat(lit(s"p${nBatches - 1} "), col("text")).as("text"))
        .localCheckpoint(true)
      val probeRows = Dedup.incrementalExactDuplicates(
        Dedup.loadDigestStore(spark, s"$base/ledger"), probeB,
        "doc_id", "text").count()
      val line =
        f"""{"dir":"$dir","family":"streampolicy","corpus":$nDocs,""" +
          f""""batches":$nBatches,"compact_every":$every,""" +
          f""""batch_rows":${slice.count()},""" +
          f""""batch_wall_first10":$wallFirst%.2f,""" +
          f""""batch_wall_last10":$wallLast%.2f,""" +
          f""""files_end":$filesEnd,""" +
          f""""probe_rows":$probeRows,""" +
          f""""probe_complete":${probeRows == slice.count()}}"""
      println(line); sb.append(line).append('\n')
      System.err.println(f"[inc] $dir%-26s streampol " +
        f"batch $wallFirst%.2f->$wallLast%.2fs " +
        f"files_end=$filesEnd probe=$probeRows/${slice.count()}")
      }

      // ---------- streamnd (near-dup admission steady state, r19) ----------
      // x215's gate costed like the digest one: N micro-batches of
      // novel content through runIncrementalNearDupAdmission — the
      // per-batch cost must be dominated by the batch's own shingle+
      // sign pass (∝ intake), with BOTH appended trees growing one
      // file per batch and the sketch compaction restoring the
      // 1-file probe.
      if (want("streamnd")) {
      val nBatches = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
        .map(_.toInt).getOrElse(25)
      val batchRows = math.max(20L, nDocs / 100)
      val base = s"$storeRoot/$tag/streamnd"
      Dedup.saveMinhashSignatures(docs, "doc_id", "text", s"$base/sig")
      docs.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$base/corpus")
      val slice = docs.filter(col("doc_id") < batchRows)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      // ids above Shift — the x100 id-collision lesson (see stream)
      val batches = (0 until nBatches).map { i =>
        slice.select(
          (col("doc_id") + lit(Shift + i * 10000000L)).as("doc_id"),
          concat(lit(s"nd$i "), col("text")).as("text"))
      }
      val (wallFirst, wallLast) = batchWalls(
        EventStreams.runIncrementalNearDupAdmission(
          EventStreams.orderedIntake(spark, "graft_inc_streamnd", batches),
          s"$base/sig", s"$base/corpus",
          TempDirs.createCleaned("graft_inc_streamnd_out"),
          TempDirs.createCleaned("graft_inc_streamnd_ck"),
          "doc_id", "text", threshold = 1.0))
      val sigFrag = Layout.dataFileCount(spark, s"$base/sig/signatures")
      val txtFrag = Layout.dataFileCount(spark, s"$base/corpus")
      // probe = one more day's intake, replicas of the LAST batch's
      // admitted content (must flag through the appended store);
      // load + probe inside the timed body, the stream-family rule
      val probeB = slice.select(
        (col("doc_id") + lit(Shift + nBatches * 10000000L)).as("doc_id"),
        concat(lit(s"nd${nBatches - 1} "), col("text")).as("text"))
        .localCheckpoint(true)
      def probeCount(sigPath: String, txtPath: String): Long =
        Dedup.incrementalVerifiedTextDuplicates(
          Dedup.loadMinhashSignatures(spark, sigPath),
          spark.read.parquet(txtPath), probeB, "doc_id", "text",
          threshold = 1.0).count()
      val probeFrag = medianOf(3) { () =>
        probeCount(s"$base/sig", s"$base/corpus")
      }
      Dedup.compactMinhashSignatures(spark, s"$base/sig", s"$base/sig_c")
      Layout.compact(spark, s"$base/corpus", s"$base/corpus_c")
      val probeComp = medianOf(3) { () =>
        probeCount(s"$base/sig_c", s"$base/corpus_c")
      }
      val line =
        f"""{"dir":"$dir","family":"streamnd","corpus":$nDocs,""" +
          f""""batches":$nBatches,"batch_rows":${slice.count()},""" +
          f""""batch_wall_first10":$wallFirst%.2f,""" +
          f""""batch_wall_last10":$wallLast%.2f,""" +
          f""""sig_files_frag":$sigFrag,"txt_files_frag":$txtFrag,""" +
          f""""sig_files_compact":${Layout.dataFileCount(spark, s"$base/sig_c/signatures")},""" +
          f""""txt_files_compact":${Layout.dataFileCount(spark, s"$base/corpus_c")},""" +
          f""""probe_frag_wall":${probeFrag._1}%.2f,""" +
          f""""probe_frag_cpu":${probeFrag._2}%.2f,""" +
          f""""probe_compact_wall":${probeComp._1}%.2f,""" +
          f""""probe_compact_cpu":${probeComp._2}%.2f,""" +
          f""""probe_rows":${probeFrag._3},""" +
          f""""equiv":${probeFrag._3 == probeComp._3}}"""
      println(line); sb.append(line).append('\n')
      System.err.println(f"[inc] $dir%-26s streamnd  " +
        f"batch $wallFirst%.2f->$wallLast%.2fs " +
        f"sig files $sigFrag->1 probe ${probeFrag._1}%.2f->" +
        f"${probeComp._1}%.2fs rows=${probeFrag._3}")
      }
    } finally sm.remove()
    val out = sys.env.getOrElse("SPARK_GRAFT_INC_OUT",
      "/tmp/graft_inc_rehearsal.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[inc] archived to $out")
    spark.stop()
  }
}
