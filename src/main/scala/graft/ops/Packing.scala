package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing for LLM pretraining: documents are concatenated
  * in a global deterministic order and chunked into fixed
  * token-budget context windows (docs may span chunk boundaries —
  * the standard concatenate-then-chunk shape). The assignment for a
  * doc is a pure function of the global prefix sum of token counts,
  * so the interesting part at 100 TB is the PREFIX SUM:
  *
  * the naive formulation — `sum(n) over (order by id)` with no
  * partition key — funnels the whole corpus through ONE task's sort
  * (Spark even warns `WindowExec: No Partition Defined`). This
  * operator computes the same number with the classic two-phase
  * distributed prefix sum:
  *
  *   1. range-partition + sort by id, then pin the layout with an
  *      eager localCheckpoint — the frame is (id, n_tokens), two
  *      longs per doc, so the pinned footprint is negligible next to
  *      the corpus, and pinning makes the partition indexes seen by
  *      the totals job and the assignment job IDENTICAL (under AQE a
  *      re-planned exchange may coalesce differently per job);
  *   2. per-partition token totals — numPartitions scalars — driver-
  *      scanned into cumulative partition offsets (a 10⁴-element
  *      array even on a 100 TB corpus; this is the one driver-side
  *      step a distributed prefix sum fundamentally needs);
  *   3. one map-only pass adding the partition offset to a
  *      partition-local running sum (per-partition imperative state —
  *      exactly the rare case mapPartitions/RDD exists for).
  *
  * The output is partition-layout-INVARIANT: global prefix sums do
  * not depend on where range boundaries fall (spec-asserted under
  * forced re-layout), so the assignment is reproducible and fully
  * SQL-replayable — the oracle is a plain running-sum window.
  */
object Packing {

  /** Per-doc chunk assignment under `budget` tokens per chunk:
    * (idCol, n_tokens, start_offset, start_chunk, end_chunk), where a
    * doc occupies chunks start_chunk..end_chunk of the concatenated
    * token stream. Contract: `idCol` non-null, unique, orderable. */
  def chunkAssignments(df: DataFrame, idCol: String, textCol: String,
      budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = df.sparkSession
    val ranged = df.select(col(idCol).as("id"),
      TextAnalysis.tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
      .repartitionByRange(col("id"))
      .sortWithinPartitions(col("id"))
      .localCheckpoint(true)
    // the checkpointed RDD's partitions are the pinned layout both
    // jobs below see
    val rows = ranged.rdd
    val totals = rows
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; it.foreach(r => s += r.getLong(1)); Iterator(pid -> s)
      }
      .collect().toMap
    val offsets = new Array[Long](rows.getNumPartitions)
    var acc = 0L
    for (p <- offsets.indices) { offsets(p) = acc; acc += totals.getOrElse(p, 0L) }
    val assigned = rows.mapPartitionsWithIndex { (pid, it) =>
      var local = offsets(pid)
      it.map { r =>
        val n = r.getLong(1)
        val start = local
        local += n
        Row(r.get(0), n, start)
      }
    }
    val outSchema = StructType(Seq(
      StructField("id", ranged.schema("id").dataType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("start_offset", LongType, nullable = false)))
    spark.createDataFrame(assigned, outSchema)
      .withColumn("start_chunk", expr(s"start_offset div $budget"))
      .withColumn("end_chunk",
        expr(s"(start_offset + greatest(n_tokens, 1) - 1) div $budget"))
      .select(col("id").as(idCol), col("n_tokens"), col("start_offset"),
        col("start_chunk"), col("end_chunk"))
  }

  /** Sliding-window chunking with overlap — the long-document
    * SPLITTING op (RAG passage windows, context-limit handling),
    * complementing [[packedChunks]]' concatenation: each doc yields
    * ⌈max(0, n−window)/stride⌉ + 1 windows of up to `window` tokens
    * starting every `stride` tokens, so consecutive windows share
    * window − stride tokens and every token is covered.
    *
    * Pure map: tokenize once behind an exchange barrier (Generate
    * trap), explode the WINDOW INDEX, slice the carried token array —
    * no shuffle beyond the barrier, no state; output order is
    * (id, window_idx). Fully SQL-replayable. */
  def slidingWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0, "window must be positive")
    require(stride > 0 && stride <= window,
      "stride must be in [1, window] or coverage would gap")
    // the repartition alone is both the spread and the Generate
    // barrier (an ensure() before it would be collapsed away anyway)
    val toks = df
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .repartition(col("id"))
    toks
      .select(col("id"), col("toks"),
        explode(sequence(lit(0),
          greatest(lit(0L), ceil((size(col("toks")) - lit(window)).cast("double")
            / lit(stride))).cast("int"))).as("w"))
      .select(col("id").as(idCol), col("w").as("window_idx"),
        concat_ws(" ", slice(col("toks"), col("w") * stride + 1, lit(window)))
          .as("chunk_text"),
        least(lit(window), size(col("toks")) - col("w") * stride)
          .as("chunk_tokens"))
  }

  /** Materialized packed training sequences: the actual fixed-budget
    * context windows, each chunk's text assembled from the token
    * slices of the docs that cover it — the step that turns the
    * assignment TABLE into trainable SEQUENCES. Output per chunk:
    * (chunk, n_docs, n_tokens, text) with `text` the
    * (lowercased, whitespace-normalized) concatenation in global
    * stream order; every chunk but the last carries exactly `budget`
    * tokens (x44's no-gap invariant, re-asserted on this output).
    *
    * Scale shape: the prefix sum runs over the slim (id, n_tokens)
    * frame (chunkAssignments); the TEXT only joins back afterwards —
    * one shuffle join keyed by id, one aggregate keyed by chunk.
    * Chunk groups are uniform by construction (≤ budget tokens
    * each), so the final aggregate has zero skew; in-chunk order is
    * recovered by sorting each group's few (offset, piece) structs,
    * never by a global sort. Zero-token docs contribute no slice and
    * are dropped from the content (they never held stream positions).
    */
  def packedChunks(df: DataFrame, idCol: String, textCol: String,
      budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val asg = chunkAssignments(df, idCol, textCol, budget)
    val slices = asg
      .select(col(idCol).as("id"), col("start_offset"), col("n_tokens"),
        explode(sequence(col("start_chunk"), col("end_chunk"))).as("chunk"))
      .withColumn("clip_start", greatest(col("start_offset"), col("chunk") * budget))
      .withColumn("slice_len",
        least(col("start_offset") + col("n_tokens"), (col("chunk") + 1) * budget)
          - col("clip_start"))
      .filter(col("slice_len") > 0)
      .withColumn("slice_start", (col("clip_start") - col("start_offset")).cast("int"))
    // re-spread before the whole-corpus tokenization: the projection
    // otherwise runs at the raw scan's split count (ONE task on a
    // 1-file table) upstream of the join exchange
    val toks = Parallelism.ensure(df).select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    slices.hint("shuffle_hash").join(toks.hint("shuffle_hash"), Seq("id"))
      .withColumn("piece",
        slice(col("toks"), col("slice_start") + 1, col("slice_len").cast("int")))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("slice_len")).as("n_tokens"),
        concat_ws(" ", flatten(transform(
          // clip_start values are disjoint within a chunk, so the
          // struct sort recovers exact stream order deterministically
          array_sort(collect_list(struct(col("clip_start"), col("piece")))),
          p => p.getField("piece")))).as("text"))
      .orderBy(col("chunk"))
  }

  /** EXACT per-chunk occupancy — a doc's tokens are split across the
    * chunks its span covers, so every chunk but the last accounts for
    * exactly `budget` tokens (concatenate-then-chunk leaves no gaps;
    * spec-asserted). Map-only from the assignment table: explode the
    * chunk-index span (a doc touches ⌈n/budget⌉+1 chunks at most),
    * clip its token interval to each chunk's [chunk·B, (chunk+1)·B),
    * then one two-phase aggregate keyed by chunk. */
  def chunkOccupancy(assignments: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    assignments
      .select(col("start_offset"), col("n_tokens"),
        explode(sequence(col("start_chunk"), col("end_chunk"))).as("chunk"))
      .withColumn("tokens_in_chunk",
        least(col("start_offset") + col("n_tokens"), (col("chunk") + 1) * budget)
          - greatest(col("start_offset"), col("chunk") * budget))
      // the budget is not recoverable from the assignment table, so a
      // caller passing a different one than chunkAssignments used
      // would get silently wrong (even negative) slices — fail loudly
      // instead (a negative clip is impossible under a consistent
      // budget: every exploded chunk overlaps its doc's interval)
      .withColumn("tokens_in_chunk",
        when(col("tokens_in_chunk") < 0, raise_error(lit(
          s"chunkOccupancy: negative token slice — budget $budget does not " +
            "match the one the assignment table was built with")))
          .otherwise(col("tokens_in_chunk")))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens_in_chunk")).as("tokens"))
      .orderBy(col("chunk"))
  }

  /** Padding-waste profile of length-bucketed batching — the number
    * a throughput plan is built on: per length bucket of width
    * `bucketSize`, how many tokens a batch REALLY carries versus
    * what it pads to. Each doc truncates to `maxSeqLen` and pads to
    * its bucket's actual max length (the dynamic-padding batcher);
    * `waste_naive` is the same ratio against padding everything to
    * `maxSeqLen` (the static batcher) — the gap between the two
    * columns is what bucketing buys at each length range.
    *
    * Output per bucket: (bucket_lo, bucket_hi, n_docs, sum_tokens,
    * max_tokens, waste_bucketed, waste_naive).
    *
    * Deterministic/replayable: token counts and bucket arithmetic
    * are integers; each waste ratio is one double division of two
    * BIGINTs rounded to 4 — no float accumulation anywhere.
    *
    * Scale shape: one map pass + one map-side-combinable aggregation
    * on the bucket key (≤ maxSeqLen/bucketSize groups) — profiling
    * the corpus costs one scan regardless of size. */
  def paddingStats(df: DataFrame, textCol: String,
      maxSeqLen: Int, bucketSize: Int): DataFrame = {
    require(maxSeqLen > 0 && bucketSize > 0 && bucketSize <= maxSeqLen,
      "need 0 < bucketSize <= maxSeqLen")
    df.select(
        least(TextAnalysis.tokenCount(col(textCol)).cast("long"),
          lit(maxSeqLen.toLong)).as("__len"))
      .withColumn("__b", expr(s"(__len - 1) div $bucketSize"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__len")).as("sum_tokens"),
        max(col("__len")).as("max_tokens"))
      .select(
        (col("__b") * bucketSize + 1).as("bucket_lo"),
        ((col("__b") + 1) * bucketSize).as("bucket_hi"),
        col("n_docs"), col("sum_tokens"), col("max_tokens"),
        round(lit(1.0) - col("sum_tokens").cast("double")
          / (col("n_docs") * col("max_tokens")).cast("double"), 4)
          .as("waste_bucketed"),
        round(lit(1.0) - col("sum_tokens").cast("double")
          / (col("n_docs") * lit(maxSeqLen.toLong)).cast("double"), 4)
          .as("waste_naive"))
  }

  /** Length-bucketed batch assignment — the inference/training-serving
    * counterpart of [[paddingStats]]: sequences land in width-`bucketWidth`
    * length buckets, are ranked inside their bucket by `(length, id)`,
    * and every `batchSize` consecutive ranks form one batch. Per batch:
    * size, the padded length (the batch max — what the accelerator
    * actually pays), token sum, and the padding waste fraction. Batching
    * similar lengths together is what makes the waste small; the global
    * (unbucketed) alternative pads everything to the corpus max.
    *
    * Scale shape: one shuffle on the bucket key for the in-bucket rank,
    * then a map-side-combinable aggregate on (bucket, batch) that reuses
    * the window's partitioning. Bucket count is bounded by maxLen /
    * bucketWidth, but a single bucket's rank is one task's sort — for a
    * 100 TB corpus with a degenerate length distribution, narrow
    * `bucketWidth` first (more buckets = more parallelism); the rank
    * only needs to be consistent WITHIN a bucket, so buckets never talk
    * to each other.
    */
  /** Span-corruption mask plan (T5-style, Raffel 2020 §3.1.4): a
    * deterministic, seedless masking schedule — position `k` of a
    * document STARTS a span iff an integer hash of `(id, k)` lands in
    * the 1/`startMod` residue class, and a span covers `spanLen`
    * consecutive tokens; per document the plan reports token count,
    * span starts, covered tokens, maximal-run count and mask ratio.
    * Pure 64-bit integer arithmetic (the x117 multiplicative-hash
    * shape, key bounded below 1e9 so the product never overflows a
    * signed 64-bit in ANY engine) → bit-replayable everywhere,
    * trivially resumable, and the same doc always gets the same mask
    * regardless of partitioning — the property that makes
    * deterministic data loading work at 100 TB.
    *
    * Scale shape: entirely in-row (higher-order functions over the
    * token-index range) — zero shuffle, rides the scan.
    */
  def maskPlan(df: DataFrame, idCol: String, textCol: String,
      startMod: Int = 20, spanLen: Int = 3): DataFrame = {
    require(startMod >= 2 && spanLen >= 1, "need startMod >= 2, spanLen >= 1")
    val nTok = size(split(col(textCol), " "))
    // start(k): bounded key, Knuth multiplicative, residue test
    def isStart(k: Column): Column =
      (pmod(pmod(col(idCol) * 131L + k, lit(1000000007L)) * 2654435761L,
        lit(4294967296L)) % startMod) === 0
    val idx = sequence(lit(0), nTok - 1)
    val maskedArr = transform(idx, j =>
      exists(sequence(greatest(lit(0), j - (spanLen - 1)), j), k => isStart(k)))
    df.select(col(idCol), nTok.cast("long").as("n_tokens"),
        maskedArr.as("__m"),
        size(filter(idx, k => isStart(k))).cast("long").as("n_starts"))
      .select(col(idCol), col("n_tokens"), col("n_starts"),
        size(filter(col("__m"), m => m)).cast("long").as("n_masked"),
        // run starts: masked(j) && !masked(j-1); the greatest() guard
        // keeps element_at's index >= 1 even at j = 0 (ANSI mode
        // rejects index 0), where the left disjunct already decides
        size(filter(sequence(lit(0), size(col("__m")) - 1), j =>
          element_at(col("__m"), j + 1) &&
            (j === 0 || !element_at(col("__m"), greatest(j, lit(1)))))).cast("long")
          .as("n_spans"))
      .withColumn("mask_ratio",
        round(col("n_masked").cast("double") / col("n_tokens"), 4))
  }

  def bucketedBatches(df: DataFrame, idCol: String, lenCol: String,
      bucketWidth: Int, batchSize: Int): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0, "need positive width/batch")
    import org.apache.spark.sql.expressions.Window
    val rank = row_number().over(
      Window.partitionBy(col("bucket")).orderBy(col(lenCol), col(idCol)))
    df.select(col(idCol), col(lenCol))
      .withColumn("bucket", expr(s"$lenCol div $bucketWidth").cast("long"))
      .withColumn("batch_ix", floor((rank - 1) / batchSize).cast("long"))
      .groupBy(col("bucket"), col("batch_ix"))
      .agg(count(lit(1)).cast("long").as("n_seqs"),
        max(col(lenCol)).cast("long").as("padded_len"),
        sum(col(lenCol)).cast("long").as("sum_len"))
      .select(col("bucket"), col("batch_ix"), col("n_seqs"),
        col("padded_len"), col("sum_len"),
        round(lit(1.0) - col("sum_len").cast("double")
          / (col("n_seqs") * col("padded_len")).cast("double"), 6)
          .as("waste_frac"))
  }
}
