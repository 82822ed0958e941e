package graft.ops

import graft.functions.{Sketches, VectorMath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, same API:
  *   - [[bruteForceTopK]]: exact cosine against every vector — one
  *     map-only pass + TakeOrdered(k). The correctness baseline, and
  *     at 100 TB still embarrassingly parallel (no shuffle), just
  *     paying full scan cost per query.
  *   - [[lshTopK]]: hyperplane-LSH prefilter — only vectors whose bit
  *     signature is within `maxSigHamming` of the query's are scored.
  *     The signature compare is a cheap codegen'd bit_count on a long,
  *     so the scan prunes most of the corpus before any vector math;
  *     at scale the signature can be a partition/bucket key making
  *     probes near-O(bucket).
  */
object Similarity {

  /** Contract ceilings on driver-resident training state. Every
    * ANN/quantization trainer here ([[ivfIndex]], [[kmeansCentroids]],
    * [[pqTrain]]) collects a BOUNDED sample or a ≤k-row aggregate to
    * the driver — that is the production shape (Lloyd needs a
    * representative sample, not the corpus) — but "bounded" must be
    * enforced, not assumed: a caller passing `trainSample = n_corpus`
    * would silently turn the sample collect into a full-corpus
    * driver OOM at 100 TB. Ceilings sized so the worst case stays
    * comfortably in driver memory (65 536 vectors × 1 024 float
    * dims ≈ 512 MB doubles; 4 096 centroids × 1 024 dims ≈ 32 MB). */
  val MaxTrainSample: Int = 65536
  val MaxTrainK: Int = 4096

  /** Exact cosine top-k for one query vector. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int = 10): DataFrame = {
    val q = lit(query.map(_.toDouble))
    df.select(
      col(idCol),
      round(VectorMath.cosineSimilarity(col(vecCol), q), 4).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two
    * ranked retrieval lists — the standard hybrid-retrieval merge of
    * a lexical (BM25) and a dense (embedding cosine) ranker:
    * `rrf(d) = Σ_lists 1/(k0 + rank_list(d))`, summed over the lists
    * that retrieved `d`.
    *
    * Inputs are (id, rank) frames with ranks already deterministic
    * (rank on ROUNDED scores with an id tiebreak — the x6/x76
    * contract). The fusion score is a fixed two-term IEEE sum
    * (lexical term first), so it replays bit-exact; output rounds to
    * 6 and re-ranks by the unrounded score with an id tiebreak.
    *
    * Scale: both inputs are top-k lists — O(k) rows — so the full
    * outer join broadcasts; the heavy work stays inside the upstream
    * rankers, which keep their own scale paths ([[lshBatchTopK]],
    * [[TextAnalysis.bm25TopK]]'s map-side shape). */
  def rrfFuse(lexical: DataFrame, dense: DataFrame,
      idCol: String, rankCol: String, k0: Int = 60,
      topK: Int = 10): DataFrame = {
    val l = lexical.select(col(idCol).as("id"), col(rankCol).as("lex_rank"))
    val d = dense.select(col(idCol).as("id"), col(rankCol).as("dense_rank"))
    val lexTerm = when(col("lex_rank").isNotNull,
      lit(1.0) / (lit(k0.toDouble) + col("lex_rank"))).otherwise(lit(0.0))
    val denseTerm = when(col("dense_rank").isNotNull,
      lit(1.0) / (lit(k0.toDouble) + col("dense_rank"))).otherwise(lit(0.0))
    l.join(d, Seq("id"), "full_outer")
      .select(col("id"), col("lex_rank"), col("dense_rank"),
        (lexTerm + denseTerm).as("__rrf"))
      .orderBy(col("__rrf").desc, col("id"))
      .limit(topK)
      .select(col("id"), col("lex_rank"), col("dense_rank"),
        round(col("__rrf"), 6).as("rrf"))
  }

  /** Matryoshka-style truncation evaluation (Kusupati 2022 MRL):
    * for each probe query, rank the corpus by full-dimension cosine
    * and by prefix-`dims` cosine, and report recall@k of the
    * truncated ranking against the full one — the go/no-go table for
    * shipping truncated embeddings (cheaper ANN, smaller index) at a
    * known recall cost.
    *
    * Determinism: BOTH rankings order by the ROUNDED (4 dp) cosine
    * with a neighbor-id tiebreak — no unrounded float boundary can
    * flip a rank between engines. Scale: probes broadcast (bounded
    * by contract), scoring is one map pass over the corpus computing
    * both cosines, the two windows share one (query_id) exchange. */
  def truncationRecall(emb: DataFrame, idCol: String, vecCol: String,
      nQueries: Int, dims: Int, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nQueries >= 1 && nQueries <= 1000,
      "nQueries is a broadcast probe batch — bounded by contract")
    require(dims >= 1, "dims must be >= 1")
    val q = emb.filter(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorMath.cosineSimilarity(col("__cv"), col("__qv")), 4)
          .as("cos_full"),
        round(VectorMath.cosineSimilarity(
          slice(col("__cv"), 1, dims), slice(col("__qv"), 1, dims)), 4)
          .as("cos_trunc"))
    def w(c: org.apache.spark.sql.Column) = Window.partitionBy(col("query_id"))
      .orderBy(c.desc, col("neighbor_id").asc)
    scored
      .withColumn("__rf", row_number().over(w(col("cos_full"))))
      .withColumn("__rt", row_number().over(w(col("cos_trunc"))))
      .filter(col("__rf") <= k || col("__rt") <= k)
      .groupBy(col("query_id"))
      .agg(sum(when(col("__rf") <= k && col("__rt") <= k, 1L)
          .otherwise(0L)).as("n_common"))
      .select(col("query_id"), col("n_common"),
        round(col("n_common").cast("double") / k, 4).as("recall"))
  }

  /** LSH-bucketed ANN top-k: score only signature-near vectors.
    * Recall is tunable via `numBits` (fewer bits = bigger buckets)
    * and `maxSigHamming` (multi-probe radius). */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int = 10, numBits: Int = 16,
      maxSigHamming: Int = 4, seed: Long = 42L): DataFrame = {
    val q = lit(query.map(_.toDouble))
    val querySig = signatureOf(query, numBits, seed)
    df.select(col(idCol), col(vecCol),
      Sketches.hyperplaneSignature(col(vecCol), numBits, seed).as("sig"))
      .filter(bit_count(col("sig").bitwiseXOR(lit(querySig))) <= maxSigHamming)
      .select(col(idCol),
        round(VectorMath.cosineSimilarity(col(vecCol), q), 4).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Driver-side signature of a query vector — same arithmetic as the
    * HyperplaneSignature expression (kept in lockstep). */
  def signatureOf(vec: Array[Float], numBits: Int, seed: Long): Long = {
    import graft.functions.SketchHash.mix64
    var out = 0L
    var j = 0
    while (j < numBits) {
      var dotv = 0.0
      val planeSeed = mix64(seed + j)
      var d = 0
      while (d < vec.length) {
        val sign = if ((mix64(planeSeed + d) & 1L) == 1L) 1.0 else -1.0
        dotv += vec(d) * sign
        d += 1
      }
      if (dotv >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** An inverted-file index: per-row cluster assignments plus the
    * exact centroids that PRODUCED the assignment — probe ranking and
    * assignment must use the same vectors, or a query's own cluster
    * may not be probed. */
  final case class IvfIndex(
      assignments: DataFrame,
      centroids: Array[Array[Double]],
      idCol: String,
      vecCol: String)

  /** Memo of built IVF indexes keyed by session + input + index
    * parameters — repeated probes over the same corpus reuse one
    * persisted assignments table instead of retraining per call. */
  // unpersist on release: Dataset.persist registers the plan in the
  // session CacheManager, which holds a strong reference until an
  // explicit unpersist — dropping only OUR reference would leak the
  // corpus-sized assignment table for the session lifetime.
  private val ivfMemo = new graft.BoundedMemo[((String, String), String, Int, Int, Int), IvfIndex](
    8, "ivf-index", _.assignments.unpersist(blocking = false),
    _.assignments.unpersist(blocking = true))

  /** IVF list count for a corpus — the standard nlist ≈ √corpus
    * balance (a probe touches nprobe·corpus/nlist candidate rows plus
    * nlist centroid distances; the two equalize at √n), clamped to
    * [1, [[MaxTrainK]]] — the same named-expiry shape as
    * [[graft.ops.Dedup.kForCorpus]]: centroids are driver-resident
    * plan literals, so past the clamp the corpus shards and builds
    * per-shard indexes instead of growing a flat list count — the
    * implemented composition is [[ivfIndexSharded]] ([[AutoShards]]
    * resolves the shard count from the same memoized corpus count). */
  def ivfListsFor(corpus: Long): Int = {
    require(corpus > 0, s"corpus must be positive, got $corpus")
    math.min(MaxTrainK,
      math.max(1, math.round(math.sqrt(corpus.toDouble)).toInt))
  }

  /** Sentinel for [[ivfIndex]]'s `k`: size via [[ivfListsFor]] from
    * one corpus count (fixed nlist makes probe cost ∝ corpus/nlist —
    * linear with an ever-growing constant); explicit k overrides,
    * which the x17/x33/x64 carriers use to stay replay-stable. */
  val AutoLists = 0

  /** IVF (inverted-file) index: k centroids learned with `iters`
    * Lloyd iterations over a bounded, deterministic training sample
    * (the `trainSample` lowest-id vectors; init = its first k), then
    * ONE distributed pass assigning every vector to its nearest
    * centroid.
    *
    * Scale profile: centroid training is how production IVF builds
    * work at any corpus size — Lloyd never needs the full data, only
    * a representative sample, so the k×dims×sample arithmetic runs
    * driver-side in microseconds and the cluster does exactly two
    * jobs: a TakeOrdered to pull the sample and one map-only argmax
    * pass over the corpus (the centroid literals ride in the plan —
    * no join, no shuffle). The persisted assignments table is what
    * you'd write partitioned by `cluster` so probes prune partitions
    * at read time. */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
      k: Int = AutoLists, iters: Int = 3, trainSample: Int = 4096): IvfIndex = {
    require(k == AutoLists || k > 0,
      s"k must be AutoLists ($AutoLists) or positive, got $k")
    val kk =
      if (k > 0) k
      else {
        // memoized per (session, plan): a derived frame's count is a
        // full job, and only the first auto-sized call should pay it
        val corpus = graft.CorpusCounts.of(df)
        val sized = ivfListsFor(corpus)
        System.err.println(s"[similarity] ivfListsFor auto-sizing: " +
          s"corpus=$corpus -> nlist=$sized")
        sized
      }
    require(kk >= 1 && kk <= MaxTrainK,
      s"ivfIndex: k=$kk outside [1, $MaxTrainK] — centroids are driver-resident")
    require(trainSample >= kk && trainSample <= MaxTrainSample,
      s"ivfIndex: trainSample=$trainSample outside [k, $MaxTrainSample] — " +
        "the training sample is collected to the driver")
    ivfMemo.getOrBuild((graft.PlanKeys.scoped(df), s"$idCol/$vecCol", kk, iters, trainSample))(
      ivfIndexUncached(df, idCol, vecCol, kk, iters, trainSample))
  }

  /** Persist a built [[IvfIndex]] for serving: the assignments table
    * lands as parquet PARTITIONED BY the cluster id — a probe that
    * touches `nprobe` of `k` clusters then prunes `k − nprobe`
    * partition directories at the scan (the `PartitionFilters`
    * slot), which is the on-disk analog of the in-memory inverted
    * file. Centroids (k×dims doubles) ride alongside as one small
    * parquet. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assignments.write.mode("overwrite")
      .partitionBy("cluster").parquet(s"$path/assignments")
    val spark = index.assignments.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Incremental IVF maintenance — the x49 daily-delta story applied
    * to the ANN family: assign NEW vectors to the PERSISTED index's
    * EXISTING centroids (map-only — the centroid literals ride the
    * plan; no re-training, no collect of the new batch, no touch of
    * the existing corpus) and append them into the
    * cluster-partitioned assignments layout. Day-to-day serving then
    * re-[[loadIvfIndex]]s a strictly grown index whose probes stay
    * consistent across appends (existing vectors never move).
    * Centroid drift is the caller's RETRAIN decision — when the x121
    * recall harness shows the appended distribution has wandered,
    * rebuild with [[ivfIndex]]; silently re-centering here would
    * invalidate every already-written partition.
    *
    * Uses the same assignment expression as the initial build (one
    * shared definition — the two paths cannot drift), so an append
    * of vectors the index already saw lands them in identical
    * clusters. */
  def appendToIvfIndex(spark: SparkSession, path: String,
      newVectors: DataFrame, idCol: String, vecCol: String): Unit = {
    val idx = loadIvfIndex(spark, path, idCol, vecCol)
    val base = newVectors.select(col(idCol).as("id"),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("vec"))
    assignClusters(base, idx.centroids)
      .select(col("id").as(idCol), col("vec").as(vecCol), col("cluster"))
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$path/assignments")
  }

  /** Compact an append-accumulated IVF index tree —
    * [[graft.ops.Dedup.compactDigestStore]]'s shape for the ANN
    * member, via the PARTITION-PRESERVING rewrite
    * ([[graft.ops.Layout.compactPartitioned]]): every
    * [[appendToIvfIndex]] call lands one+ file in each touched
    * cluster directory, so daily appends fragment the per-cluster
    * dirs the probe-time PartitionFilters pruning depends on; a plain
    * flat compact would destroy that layout. Centroids ride along
    * verbatim (compaction never re-centers — re-centering is a
    * REBUILD, the appendToIvfIndex drift rule). Blue/green: `outPath`
    * must be a fresh root; returns the reloaded handle over the
    * compacted tree, probe-identical to the fragmented one
    * (OpsSpec + the x208 `ivf_compact` section pin it). */
  def compactIvfIndex(spark: SparkSession, path: String, outPath: String,
      idCol: String, vecCol: String): IvfIndex = {
    Layout.requireFreshRoot(spark, path, outPath)
    Layout.compactPartitioned(spark, s"$path/assignments",
      s"$outPath/assignments", Seq("cluster"))
    spark.read.parquet(s"$path/centroids").repartition(1)
      .write.mode("overwrite").parquet(s"$outPath/centroids")
    loadIvfIndex(spark, outPath, idCol, vecCol)
  }

  /** Load a [[saveIvfIndex]]-persisted index. The assignments frame
    * reads lazily (cluster pruning pushes to the partitioned scan);
    * centroids are collected eagerly (k rows). Column names travel
    * inside the assignments schema, so the loaded index drops into
    * [[ivfTopK]]/[[ivfBatchTopK]] unchanged. */
  def loadIvfIndex(spark: SparkSession, path: String,
      idCol: String, vecCol: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cluster")).collect()
      .map(_.getSeq[Double](1).toArray)
    IvfIndex(spark.read.parquet(s"$path/assignments"), centroids, idCol, vecCol)
  }

  private def ivfIndexUncached(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, trainSample: Int): IvfIndex = {
    // accept array<float|double>: normalize to float once
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("vec"))
    val sample: Array[Array[Double]] = base.orderBy(col("id")).limit(trainSample)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    var centroids = sample.take(k)
    for (_ <- 0 until iters if centroids.nonEmpty) {
      val sums = Array.fill(centroids.length)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.NegativeInfinity; var i = 0
        while (i < centroids.length) {
          val s = cosArr(v, centroids(i))
          if (s > bestSim) { bestSim = s; best = i }
          i += 1
        }
        var d = 0
        while (d < v.length && d < sums(best).length) { sums(best)(d) += v(d); d += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i) // empty cluster keeps its centroid
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    val assignments = assignClusters(base, centroids)
      .select(col("id").as(idCol), col("vec").as(vecCol), col("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(assignments, centroids, idCol, vecCol)
  }

  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0 || nb == 0) -2.0 else dot / math.sqrt(na * nb)
  }

  /** ANN top-k over an IVF index: probe the `nprobe` clusters whose
    * (assignment) centroids are closest to the query, exact cosine
    * within them — the tail IS [[bruteForceTopK]] over the probed
    * subset, so nprobe = k degenerates to exact brute force
    * (spec-asserted) and the two paths can't drift apart. */
  def ivfTopK(index: IvfIndex, query: Array[Float],
      topK: Int = 10, nprobe: Int = 4): DataFrame = {
    val q = query.map(_.toDouble)
    val probes = index.centroids.zipWithIndex
      .sortBy { case (c, _) => -cosArr(q, c) }
      .take(nprobe).map(_._2).toSeq
    bruteForceTopK(
      index.assignments.filter(col("cluster").isin(probes: _*)),
      index.idCol, index.vecCol, query, topK)
  }

  /** Batch ANN over an IVF index: EVERY query row probes its
    * `nprobe` closest clusters and ranks the member vectors by exact
    * cosine — the index-backed similarity join (vs [[lshBatchTopK]]'s
    * signature-bucket route).
    *
    * Scale shape: probe selection is map-only (centroid literals ride
    * in the plan); the bounded query side broadcasts into a join on
    * `cluster`, so the corpus side is one scan of the probed
    * assignment partitions — with assignments written partitioned by
    * `cluster`, probe pruning happens at read time. nprobe = number
    * of clusters degenerates to the exact [[batchTopK]]
    * (spec-asserted), so the approximate and exact paths can't
    * drift. */
  def ivfBatchTopK(index: IvfIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String,
      topK: Int = 10, nprobe: Int = 4): DataFrame =
    ivfBatchScored(index, queries, queryIdCol, queryVecCol, topK, nprobe)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__cos"), 4).as("cosine"))

  /** [[ivfBatchTopK]] minus the output rounding: per-query top-k rows
    * carrying the UNROUNDED cosine. Shared by the flat entry point
    * and the sharded merge — the global re-rank must order on the
    * same unrounded score the per-shard rank used, or a cross-shard
    * tie inside the 4-decimal rounding window would flip ranks
    * between the flat and sharded paths. */
  private def ivfBatchScored(index: IvfIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String,
      topK: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = index.centroids.zipWithIndex.map { case (c, i) =>
      struct(
        round(VectorMath.cosineSimilarity(col("__qv"), lit(c)), 9).as("sim"),
        lit(i).as("cluster"))
    }
    val probes = queries
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
      .withColumn("__ranked", reverse(array_sort(array(scored.toIndexedSeq: _*))))
      .withColumn("cluster", explode(slice(col("__ranked.cluster"), 1, nprobe)))
      .select(col("query_id"), col("__qv"), col("cluster"))
    val members = index.assignments
      .withColumnRenamed(index.idCol, "neighbor_id")
      .withColumnRenamed(index.vecCol, "__cv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    members.join(broadcast(probes), Seq("cluster"))
      .withColumn("__cos", VectorMath.cosineSimilarity(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("__cos"))
  }

  /** An IVF index sharded by id hash: per-shard flat [[IvfIndex]]es,
    * each trained and probed independently — the composition past
    * [[MaxTrainK]]'s driver-resident-centroid clamp ([[ivfListsFor]]'s
    * named expiry, now code): the √n list balance expires at
    * MaxTrainK² ≈ 16.7M vectors, and beyond it a FLAT index would
    * need more centroids than the driver holds, while shards of
    * ≤ 16.7M vectors each keep every per-shard model inside the
    * proven flat machinery. */
  final case class ShardedIvfIndex(
      shards: IndexedSeq[IvfIndex],
      numShards: Int,
      idCol: String,
      vecCol: String)

  /** Sentinel for [[ivfIndexSharded]]'s shard count: size via
    * [[ivfShardsFor]] from one memoized corpus count. */
  val AutoShards = 0

  /** Shard count for a corpus: 1 (the flat index is the degenerate
    * single shard) until the √n balance expires at
    * [[MaxTrainK]]² ≈ 16.7M vectors, then the minimum shard count
    * keeping every shard under it. */
  def ivfShardsFor(corpus: Long): Int =
    ivfShardsFor(corpus, MaxTrainK.toLong * MaxTrainK)

  /** Boundary-knob form of [[ivfShardsFor]] — `perShard` overrides the
    * MaxTrainK² production boundary so OpsSpec's "AutoShards engages
    * past the boundary knob" case can drive the AUTO shard path on a
    * test-sized corpus (the true boundary needs 16.7M vectors ×
    * 4096-centroid argmax passes — not a local measurement).
    * Production callers never pass it: [[ivfIndexSharded]] reaches
    * this only through the default-boundary form above. */
  private[graft] def ivfShardsFor(corpus: Long, perShard: Long): Int = {
    require(corpus > 0, s"corpus must be positive, got $corpus")
    require(perShard > 0, s"perShard must be positive, got $perShard")
    math.max(1L, math.ceil(corpus.toDouble / perShard).toLong).toInt
  }

  /** Build per-shard IVF indexes over an id-hash split
    * (`pmod(xxhash64(id), shards)` — deterministic, no RNG). Each
    * shard goes through [[ivfIndex]] unchanged (same memo, same
    * [[AutoLists]] resolution per shard), so shard builds are exactly
    * as audited as flat builds; `numShards = 1` wraps the flat index
    * verbatim. Build cost: one bounded TakeOrdered + one map-only
    * assignment pass PER shard — the shard count is set by the clamp,
    * not the data volume, so the extra passes stay O(corpus) total. */
  def ivfIndexSharded(df: DataFrame, idCol: String, vecCol: String,
      numShards: Int = AutoShards, k: Int = AutoLists,
      iters: Int = 3, trainSample: Int = 4096): ShardedIvfIndex =
    ivfIndexShardedWithBoundary(df, idCol, vecCol, numShards, k, iters,
      trainSample, MaxTrainK.toLong * MaxTrainK)

  /** [[ivfIndexSharded]] with the boundary knob exposed — identical
    * code path (ONE definition; the public form delegates with the
    * production MaxTrainK² boundary), so what OpsSpec's AutoShards case
    * checks under a lowered `perShard` is exactly what a >16.7M-vector
    * corpus executes in production. */
  private[graft] def ivfIndexShardedWithBoundary(df: DataFrame,
      idCol: String, vecCol: String, numShards: Int, k: Int,
      iters: Int, trainSample: Int, perShard: Long): ShardedIvfIndex = {
    require(numShards == AutoShards || numShards > 0,
      s"numShards must be AutoShards ($AutoShards) or positive, got $numShards")
    val shards =
      if (numShards > 0) numShards
      else {
        val corpus = graft.CorpusCounts.of(df)
        val sized = ivfShardsFor(corpus, perShard)
        System.err.println(s"[similarity] ivfShardsFor auto-sizing: " +
          s"corpus=$corpus perShard=$perShard -> shards=$sized")
        sized
      }
    val idxs =
      if (shards == 1)
        IndexedSeq(ivfIndex(df, idCol, vecCol, k, iters, trainSample))
      else {
        // ONE corpus scan: the shard key is computed and cached once,
        // and every per-shard build (TakeOrdered sample + assignment
        // pass) reads the materialized columnar split instead of
        // re-scanning the source per shard — pmod(xxhash64(id)) never
        // reaches parquet as a pushed filter, so the old per-shard
        // filter-on-source form cost 2S full corpus reads (measured at
        // 1.6-1.7x the flat build's CPU/vector under a lowered
        // boundary, SCALE_REHEARSAL_r16_shards.json; at the real
        // 16.7M-vector boundary S grows with the corpus and the
        // re-reads would dominate the build)
        val split = df.select(col(idCol), col(vecCol),
          pmod(xxhash64(col(idCol)), lit(shards)).as("__shard"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // shard builds are independent (disjoint slices of the
        // persisted split; ivfIndex already builds outside its memo
        // lock by design), but each is DRIVER-PACED — Lloyd-round
        // sample collects and assignment-job submissions serialize on
        // the driver, so a sequential loop leaves the 32 cores idle
        // between one shard's rounds (SCALE_REHEARSAL_r16_shards.json
        // localized the residual sharded/flat gap to exactly this S×
        // per-job fixed overhead). Concurrency.awaitAll overlaps those
        // driver phases; its default cap of 4, not `shards`, matters because
        // each concurrent build holds a driver-resident (≤ MaxTrainK ×
        // dims) centroid model plus an in-flight training collect.
        // Measured (×8 = 4 shards, SCALE_REHEARSAL_r17_shards.json,
        // medians of 3): sharded wall 2.5 → 1.2 s (flat 0.7 — the residual is the
        // split build + the count barriers, fixed latency not data
        // work) and sharded CPU/vector reached flat parity
        // (0.315 vs 0.323; sequential r16 read 0.554) — probe-merge
        // ≡ flat ≡ exact stays spec-pinned at every rehearsal corpus.
        // The split is released only after awaitAll has cancelled and
        // drained every sibling build: a build still running against
        // an unpersisted split would recompute it from the SOURCE per
        // access — the 2S-scan regression the split exists to prevent.
        try Concurrency.awaitAll(split.sparkSession, "ivf-shards")(
          (0 until shards).map { s => () =>
            val idx = ivfIndex(
              split.filter(col("__shard") === s).drop("__shard"),
              idCol, vecCol, k, iters, trainSample)
            // materialize THIS shard's (persisted) assignments off the
            // split cache before the split is released — the
            // assignment plans are lazy and would otherwise re-read
            // the source at first probe
            idx.assignments.count()
            idx
          }).toIndexedSeq
        finally split.unpersist(blocking = false)
      }
    ShardedIvfIndex(idxs, shards, idCol, vecCol)
  }

  /** Probe-all-shards batch ANN: every shard answers with its local
    * top-k (the flat [[ivfBatchTopK]] kernel, unrounded scores), the
    * union re-ranks globally on (cosine DESC, neighbor_id ASC). With
    * full probing this is EXACT: each shard's true top-k contains
    * every global top-k member that lives in that shard, so the
    * merged top-k equals the flat full-probe top-k (spec-pinned
    * sharded ≡ flat ≡ exact). Scale shape: the per-shard probes are
    * independent scans of disjoint assignment partitions — the merge
    * shuffles only |queries| × shards × topK scalar rows. */
  def ivfShardedBatchTopK(index: ShardedIvfIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String,
      topK: Int = 10, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = index.shards.map(s =>
      ivfBatchScored(s, queries, queryIdCol, queryVecCol, topK, nprobe)
        .select(col("query_id"), col("neighbor_id"), col("__cos")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    per.reduce(_.unionByName(_))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__cos"), 4).as("cosine"))
  }

  /** Probe-all-shards single-query ANN: per-shard [[ivfTopK]] results
    * merged by the SAME (rounded cosine DESC, id ASC) order the flat
    * [[bruteForceTopK]] tail uses — shard-local top-k on a total
    * order preserves the global top-k, so full probing is exact. */
  def ivfShardedTopK(index: ShardedIvfIndex, query: Array[Float],
      topK: Int = 10, nprobe: Int = 4): DataFrame =
    index.shards.map(s => ivfTopK(s, query, topK, nprobe))
      .reduce(_.unionByName(_))
      .orderBy(col("cosine").desc, col(index.idCol).asc)
      .limit(topK)

  /** IVF-PQ batch ANN (Jégou et al., TPAMI 2011, §IV): probe `nprobe`
    * clusters per query, score every member by ASYMMETRIC DISTANCE
    * over its m PQ codes, keep the best `refine` candidates, then
    * re-rank those exactly — the memory-bounded scale path that lets
    * a 100 TB index score candidates from m bytes per vector instead
    * of the full float row.
    *
    * Plan shape: each (bounded) query row precomputes its m×k lookup
    * table — squared L2 from its subvector to every codebook
    * centroid — ONCE, and the table broadcasts with the probe rows.
    * Candidate scoring is then a map-only projection:
    * `zip_with(codes, lut, element_at)` folds m array lookups per
    * candidate, no join, no shuffle beyond the one the probe join
    * already pays. Codes are computed from the assignments frame in
    * the same projection here (the corpus vector is already in the
    * row); a production deployment stores `pqEncode` output WITH the
    * index and joins vectors back by id only for the `refine` set —
    * the plan's relational shape is identical. Two windows bound the
    * state: top-`refine` on ADC, then exact top-`topK`.
    *
    * Contract (spec-asserted): with nprobe = |clusters| and refine ≥
    * corpus size the result EQUALS the exact brute-force top-k —
    * approximation comes only from probe pruning and ADC
    * candidate cuts, never from the pipeline itself. */
  def ivfPqBatchTopK(index: IvfIndex, pq: PqModel, queries: DataFrame,
      queryIdCol: String, queryVecCol: String,
      topK: Int = 10, nprobe: Int = 4, refine: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(refine >= topK, "refine must be >= topK")
    val m = pq.m
    val subDim = pq.subDim
    val dec = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType)
    // per-query LUT: lut(s)(code) = ||q_sub − codebook(s)(code)||²
    val lutCol = array((0 until m).map { s =>
      val sub = slice(col("__qv"), s * subDim + 1, subDim).cast(dec)
      array(pq.codebooks(s).map { c =>
        aggregate(zip_with(sub, lit(c), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
      }.toIndexedSeq: _*)
    }: _*)
    val scored = index.centroids.zipWithIndex.map { case (c, i) =>
      struct(
        round(VectorMath.cosineSimilarity(col("__qv"), lit(c)), 9).as("sim"),
        lit(i).as("cluster"))
    }
    val probes = queries
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
      .withColumn("__lut", lutCol)
      .withColumn("__ranked", reverse(array_sort(array(scored.toIndexedSeq: _*))))
      .withColumn("cluster", explode(slice(col("__ranked.cluster"), 1, nprobe)))
      .select(col("query_id"), col("__qv"), col("__lut"), col("cluster"))
    // candidate side: codes from the same projection (vector already
    // in the row — map-only), then the ADC fold against the query LUT
    val members = index.assignments
      .withColumnRenamed(index.idCol, "neighbor_id")
      .withColumnRenamed(index.vecCol, "__cv")
      .withColumn("__codes", array((0 until m).map(s =>
        pqCodeCol(col("__cv").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), pq.codebooks(s), s, subDim)): _*))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("neighbor_id").asc)
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    members.join(broadcast(probes), Seq("cluster"))
      .withColumn("__adc",
        aggregate(zip_with(col("__codes"), col("__lut"),
          (c, row) => element_at(row, c + 1)), lit(0.0), (acc, x) => acc + x))
      .withColumn("__adc_rank", row_number().over(wAdc))
      .filter(col("__adc_rank") <= refine)
      .withColumn("__cos", VectorMath.cosineSimilarity(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__cos"), 4).as("cosine"))
  }

  /** Map-only nearest-centroid assignment: the k centroid literals
    * ride in the plan; argmax via greatest() over (sim, cluster)
    * structs — no join, no shuffle. */
  private def assignClusters(base: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    if (centroids.length <= 1) {
      // greatest() needs >= 2 args; a 0/1-centroid index is one cluster
      base.select(col("id"), col("vec"), lit(0).as("cluster"))
    } else {
      val scored = centroids.zipWithIndex.map { case (c, i) =>
        struct(
          round(VectorMath.cosineSimilarity(col("vec"), lit(c)), 9).as("sim"),
          lit(i).as("cluster"))
      }
      base
        .withColumn("__vote", greatest(scored.toIndexedSeq: _*))
        .select(col("id"), col("vec"), col("__vote.cluster").as("cluster"))
    }
  }

  /** Per-label centroids of an embedding column: posexplode to
    * (label, dim, value), two-phase avg per (label, dim), regroup into
    * ordered arrays. Shuffle volume = rows × dims scalars — fine for
    * moderate dims; a TypedImperativeAggregate buffer is the upgrade
    * path for very wide vectors. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    centroidsTyped(df, labelCol, vecCol)

  /** Centroids via the native typed [[graft.functions.VectorAvg]]
    * aggregator: the buffer is one (sums, count) per group per
    * partition, so the shuffle carries |groups| × dims doubles — the
    * scale-correct plan. */
  def centroidsTyped(df: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val vecAvg = udaf(graft.functions.VectorAvg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    df.groupBy(col(labelCol).as("label"))
      .agg(vecAvg(col(vecCol)).as("raw"))
      .select(col("label"),
        transform(col("raw"), x => round(x, 4)).as("centroid"))
  }

  /** Scalar projection of [[centroidsTyped]]: one row per
    * (label, dimension) with 1-based `pos` — the driver-comparable
    * shape (array cells can't be sorted/hashed by a generic
    * row-compare harness; scalars can). Same aggregation plan — the
    * posexplode runs over |labels| rows, after the shuffle. */
  def centroidScalars(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    centroidsTyped(df, labelCol, vecCol)
      .select(col("label"), posexplode(col("centroid")))
      .select(col("label"), (col("pos") + 1).as("pos"), col("col").as("mean"))

  /** Exact batch top-k similarity join: EVERY query row finds its k
    * nearest corpus rows by cosine — the table-vs-table
    * generalization of [[bruteForceTopK]].
    *
    * Scale profile: the query side is broadcast (bounded probe
    * batches are the exact-path contract — an unbounded query table
    * belongs on [[lshBatchTopK]]); scoring is map-only over the
    * corpus; the per-query top-k shuffles (query_id, neighbor_id,
    * cosine) scalars, |queries|×|corpus| of them — linear in the
    * corpus, never materializing vectors past the scoring stage. */
  def batchTopK(queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, corpusIdCol: String,
      queryVecCol: String, corpusVecCol: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        VectorMath.cosineSimilarity(col("__cv"), col("__qv")).as("__cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__cos"), 4).as("cosine"))
  }

  /** LSH-bucketed batch top-k: the scale path for table-vs-table ANN
    * (every document finds its neighbors). Both sides are banded on
    * their hyperplane signatures; candidates only materialize inside
    * shared (band, chunk) buckets — the pair count is bounded by
    * bucket occupancy, never |queries|×|corpus| — then exact cosine
    * ranks the candidates per query. Recall is tunable via
    * numBits/bands exactly as in [[Dedup.embeddingNearDuplicates]].
    *
    * SIZING: bucket space is fixed at 2^(numBits/bands) per band, so
    * at a growing corpus pass `numBits = Dedup.lshBitsFor(corpus,
    * bands)` (the ×10/×30-measured quadratic defense; r15: widths
    * past one Long are honored too — the banding switches to the
    * WIDE per-band-signature regime, see
    * [[graft.ops.Dedup.lshSignature]]). The fixed default stays here
    * so the x24 carrier's candidate set replays bit-identically
    * across rounds. */
  def lshBatchTopK(queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, corpusIdCol: String,
      queryVecCol: String, corpusVecCol: String, k: Int = 10,
      numBits: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numBits % bands == 0, "bands must divide numBits")
    // exchanges before/after the sketch projection — see
    // Dedup.minhashCandidates (conditional parallelism + stop
    // deferred re-eval). Signature + banding via the shared
    // regime-aware helpers: ≤ 64 bits plans the historical packed
    // bit-slice (carrier-identical); wider widths get per-band
    // signatures (see Dedup.lshSignature) so a caller sizing with
    // lshBitsFor keeps a growing bucket space past one Long.
    def keyed(df: DataFrame, idCol: String, vecCol: String,
        idAs: String, vecAs: String): DataFrame =
      Parallelism.ensure(df)
        .select(col(idCol).as(idAs), col(vecCol).as(vecAs),
          Dedup.lshSignature(col(vecCol), numBits, bands, seed).as("sig"))
        .repartition(col(idAs))
    def banded(df: DataFrame, idAs: String): DataFrame =
      Dedup.lshBandChunks(df.select(col(idAs), col("sig")), numBits, bands)
    val q = keyed(queries, queryIdCol, queryVecCol, "query_id", "__qv")
    val c = keyed(corpus, corpusIdCol, corpusVecCol, "neighbor_id", "__cv")
    // shuffle join (never broadcast — see Dedup.minhashCandidates);
    // dedup BARE id pairs, rejoin the vectors once per surviving
    // candidate — vectors through the distinct would shuffle
    // |candidates| × 2×dims floats (see embeddingNearDuplicates)
    val cands = banded(q, "query_id").hint("shuffle_hash")
      .join(banded(c, "neighbor_id").hint("shuffle_hash"), Seq("band", "chunk"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    // r21 size-gated build side (guide §3.1, the embeddingNearDuplicates
    // rule), gated per side — a bounded query batch can broadcast while
    // a corpus-sized neighbor side keeps the r10 shuffle_hash posture.
    // Broadcast sides build off the SOURCE projections (no signature
    // re-execution).
    val bq = Joins.vectorSideBroadcastable(queries, queryVecCol)
    val bc = Joins.vectorSideBroadcastable(corpus, corpusVecCol)
    val qSide =
      if (bq) broadcast(queries.select(
        col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv")))
      else q.select(col("query_id"), col("__qv")).hint("shuffle_hash")
    val cSide =
      if (bc) broadcast(corpus.select(
        col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv")))
      else c.select(col("neighbor_id"), col("__cv")).hint("shuffle_hash")
    (if (bq && bc) cands else cands.hint("shuffle_hash"))
      .join(qSide, "query_id")
      .join(cSide, "neighbor_id")
      .withColumn("__cos", VectorMath.cosineSimilarity(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__cos"), 4).as("cosine"))
  }

  /** Memo of fully-trained k-means centroid sets keyed by session +
    * input plan + params: x54/x55 (and any probe reusing the same
    * clustering) train once per session. Values are plain driver
    * arrays — nothing persisted, so the evict hook is a no-op. */
  private val kmeansMemo =
    new graft.BoundedMemo[((String, String), String, Int, Int), Array[Array[Double]]](
      16, "kmeans")

  /** Fully DISTRIBUTED Lloyd's k-means over an embedding column — the
    * full-corpus complement to [[ivfIndex]]'s driver-side sample
    * training (use this when the corpus distribution matters: domain
    * clustering for data-mixing, cluster-balanced sampling).
    *
    * Per iteration the cluster does exactly ONE job: a map-only
    * nearest-centroid argmax (the k×dims centroid literals ride in the
    * plan — no join) feeding the typed [[graft.functions.VectorAvg]]
    * aggregate, whose partial buffers mean the shuffle carries
    * |k| × dims doubles per partition — at 100 TB each Lloyd round is
    * one pass over the data and a k-row collect, which is the
    * theoretical minimum for exact Lloyd.
    *
    * Deterministic and replay-exact by construction: init = the k
    * lowest-id vectors; cosine similarity rounded to 9 decimals before
    * the argmax (ties break toward the higher cluster index — struct
    * `greatest` semantics); updated centroids rounded half-away-from-
    * zero to 6 decimals each round, so an ANSI replay (`round(avg(x),
    * 6)`) tracks the float-addition-order noise of the distributed
    * aggregation instead of diverging on it. Empty clusters keep their
    * previous centroid. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2): Array[Array[Double]] = {
    require(k >= 1 && k <= MaxTrainK,
      s"kmeansCentroids: k=$k outside [1, $MaxTrainK] — the per-round " +
        "cluster-mean aggregate collects k rows to the driver")
    kmeansMemo.getOrBuild((graft.PlanKeys.scoped(df), s"$idCol/$vecCol", k, iters))(
      kmeansUncached(df, idCol, vecCol, k, iters))
  }

  private def kmeansUncached(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Array[Array[Double]] = {
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("vec"))
    var centroids: Array[Array[Double]] = base.orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val vecAvg = udaf(graft.functions.VectorAvg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    for (_ <- 0 until iters if centroids.nonEmpty) {
      val updated: Map[Int, Array[Double]] =
        assignClusters(base, centroids)
          .groupBy(col("cluster")).agg(vecAvg(col("vec")).as("c"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices.map { j =>
        updated.get(j).filter(_.nonEmpty)
          .map(_.map(roundHalfAwayFromZero6)).getOrElse(centroids(j))
      }.toArray
    }
    centroids
  }

  // DuckDB round() semantics (half away from zero) — NOT Math.round
  // (half toward +inf), which disagrees on negative halves
  private def roundHalfAwayFromZero6(v: Double): Double =
    (if (v >= 0) math.floor(v * 1e6 + 0.5) else math.ceil(v * 1e6 - 0.5)) / 1e6

  /** Final assignment under [[kmeansCentroids]]' trained model: one
    * map-only argmax pass emitting (id, cluster, cosine-to-centroid).
    * `cosine` is the 9-decimal argmax score re-rounded to 4 (the
    * replay must double-round the same way). */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2): DataFrame = {
    val centroids = kmeansCentroids(df, idCol, vecCol, k, iters)
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("vec"))
    if (centroids.length <= 1) {
      val c = centroids.headOption.getOrElse(Array.empty[Double])
      base.select(col("id").as(idCol), lit(0).as("cluster"),
        round(round(VectorMath.cosineSimilarity(col("vec"), lit(c)), 9), 4)
          .as("cosine"))
    } else {
      val scored = centroids.zipWithIndex.map { case (c, i) =>
        struct(
          round(VectorMath.cosineSimilarity(col("vec"), lit(c)), 9).as("sim"),
          lit(i).as("cluster"))
      }
      base.withColumn("__vote", greatest(scored.toIndexedSeq: _*))
        .select(col("id").as(idCol), col("__vote.cluster").as("cluster"),
          round(col("__vote.sim"), 4).as("cosine"))
    }
  }

  /** Two-level Lloyd model: `k1` top-level centroids (plan literals,
    * exactly the flat [[kmeansCentroids]] machinery) plus one
    * sub-centroid set PER top cluster. The sub-centroids travel as
    * broadcast DATA, not plan literals — which is the whole point:
    * the flat clamp ([[graft.ops.Dedup.MaxAutoK]]) exists because
    * [[kmeansAssign]] inlines one `greatest` arm per centroid into
    * the plan, so k₁·k₂ effective clusters at k₁, k₂ ≤ the clamp
    * need only k₁ plan literals while the k₂-sized leaf argmax runs
    * as an ordered fold over a joined array column. */
  final case class HierKmeansModel(
      topCentroids: Array[Array[Double]],
      subCentroids: Map[Int, Array[Array[Double]]],
      k2: Int)

  /** Memo of trained two-level models — driver arrays only, like
    * [[kmeansCentroids]]' memo. */
  private val hierKmeansMemo =
    new graft.BoundedMemo[((String, String), String, Int, Int, Int), HierKmeansModel](
      8, "hier-kmeans")

  /** Train a two-level Lloyd model: flat top-level k-means, then ALL
    * per-top-cluster sub-clusterings trained together — each Lloyd
    * round is ONE distributed job (the [[pqTrain]] shape): broadcast
    * sub-centroid arrays join on the top id, an ordered fold argmax
    * assigns, [[graft.functions.VectorAvg]] partials aggregate per
    * (top, sub), and the driver collects ≤ k₁·k₂ rows. Init = the k₂
    * lowest-id vectors of each top cluster (rank-filter window —
    * WindowGroupLimit keeps the shuffle near k₁·k₂ rows per map
    * partition, not the corpus).
    *
    * Deterministic and exactly the flat trainer at k₁ = 1: same init
    * rule, same cosine expression rounded to 9 decimals before the
    * argmax, same tie direction (equal sims keep the HIGHER index —
    * the fold replaces on ≥, matching struct `greatest`), same
    * 6-decimal half-away-from-zero centroid rounding, empty clusters
    * keep their previous centroid (spec-pinned equivalence). */
  def hierarchicalKmeansModel(df: DataFrame, idCol: String, vecCol: String,
      k1: Int, k2: Int, iters: Int = 2): HierKmeansModel = {
    require(k1 >= 1 && k1 <= MaxTrainK,
      s"hierarchicalKmeansModel: k1=$k1 outside [1, $MaxTrainK]")
    require(k2 >= 1 && k2 <= MaxTrainK,
      s"hierarchicalKmeansModel: k2=$k2 outside [1, $MaxTrainK]")
    hierKmeansMemo.getOrBuild((graft.PlanKeys.scoped(df), s"$idCol/$vecCol", k1, k2, iters))(
      hierKmeansUncached(df, idCol, vecCol, k1, k2, iters))
  }

  private def hierKmeansUncached(df: DataFrame, idCol: String, vecCol: String,
      k1: Int, k2: Int, iters: Int): HierKmeansModel = {
    import org.apache.spark.sql.expressions.Window
    val top = kmeansCentroids(df, idCol, vecCol, k1, iters)
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("vec"))
    val assigned = assignClusters(base, top).withColumnRenamed("cluster", "__top")
    val w = Window.partitionBy(col("__top")).orderBy(col("id"))
    val initRows = assigned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k2)
      .select(col("__top"), col("__rn"), col("vec"))
      .collect()
    var subs: Map[Int, Array[Array[Double]]] = initRows
      .groupBy(_.getInt(0))
      .map { case (t, rows) =>
        t -> rows.sortBy(_.getInt(1))
          .map(_.getSeq[Float](2).map(_.toDouble).toArray)
      }
    val vecAvg = udaf(graft.functions.VectorAvg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    for (_ <- 0 until iters if subs.nonEmpty) {
      val updated: Map[(Int, Int), Array[Double]] =
        subAssign(assigned, subs)
          .groupBy(col("__top"), col("__sub")).agg(vecAvg(col("vec")).as("c"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
          .toMap
      subs = subs.map { case (t, cents) =>
        t -> cents.indices.map { j =>
          updated.get((t, j)).filter(_.nonEmpty)
            .map(_.map(roundHalfAwayFromZero6)).getOrElse(cents(j))
        }.toArray
      }
    }
    HierKmeansModel(top, subs, k2)
  }

  /** Sub-cluster argmax with centroids as broadcast DATA: one row per
    * top cluster carrying its sub-centroid array joins in (broadcast —
    * ≤ k₁·k₂·dims doubles by construction), then an ordered fold over
    * the array computes (best sim, best index) per row. The fold
    * replaces on `sim >= best` so equal sims keep the LAST (highest)
    * index — bit-for-bit the struct-`greatest` tie direction of
    * [[assignClusters]], and the sim is the same
    * [[VectorMath.cosineSimilarity]] expression rounded to 9, so the
    * two argmax machineries cannot disagree (spec-pinned at k₁=1). */
  private def subAssign(assigned: DataFrame,
      subs: Map[Int, Array[Array[Double]]]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val centFrame = subs.toSeq.sortBy(_._1)
      .map { case (t, cents) => (t, cents.map(_.toSeq).toSeq) }
      .toDF("__top", "__cents")
    // codegen'd argmax — one `greatest` arm per sub index over an
    // element_at extract, NOT a higher-order `aggregate` fold: HOF
    // lambdas evaluate interpreted (~66 µs/element measured r16),
    // and this is the hot inner loop of the two-level path at its own
    // target regime (k₂ ≈ 255 × every corpus row, per training round
    // AND at assignment). Bit-matching the fold it replaced: struct
    // max is (sim, sub)-lexicographic, so equal round-9 sims keep the
    // HIGHEST index — the fold's replace-on-≥ and struct-`greatest`'s
    // tie direction; a NULL sim (an arm beyond a short init array, a
    // zero-norm pair, a missing cents row) becomes a (−inf, 0) arm
    // that never beats a real one and reproduces the fold's
    // acc0 = (−inf, sub 0) when no arm is real.
    //
    // Arms are GATED on the row's own array length: element_at is
    // ANSI-strict in Spark 4 (out-of-bounds THROWS, it does not
    // NULL), and k2m is the MAX sub-centroid count across top
    // clusters — a skewed corpus where some top cluster captured
    // fewer than k₂ members (its init array is min(k₂, |cluster|)
    // long) would crash every row of that cluster on the arms beyond
    // its length (r16 review finding; the interpreted fold walked
    // each row's own array and could never go out of bounds). The
    // CaseWhen evaluates the extract only when the guard holds, so
    // the sim is NULL exactly where the fold's acc0 semantics expect.
    val k2m = subs.values.foldLeft(0)((m, c) => math.max(m, c.length))
    val arms = (0 until math.max(1, k2m)).map { j =>
      val sim = when(lit(j) < coalesce(size(col("__cents")), lit(0)),
        round(VectorMath.cosineSimilarity(col("vec"),
          element_at(col("__cents"), j + 1)), 9))
      struct(
        coalesce(sim, lit(Double.NegativeInfinity)).as("sim"),
        when(sim.isNotNull, lit(j)).otherwise(lit(0)).as("sub"))
    }
    val vote = if (arms.length == 1) arms.head else greatest(arms: _*)
    assigned.join(broadcast(centFrame), Seq("__top"), "left")
      .withColumn("__vote", vote)
      .withColumn("__sub", coalesce(col("__vote.sub"), lit(0)))
      .withColumn("__sim", col("__vote.sim"))
      .drop("__cents", "__vote")
  }

  /** Leaf assignment under the two-level model: (id, cluster, cosine)
    * with `cluster` = top·k₂ + sub (unique by construction — sub <
    * k₂). The composition path past [[graft.ops.Dedup.MaxAutoK]]'s
    * flat clamp: k₁·k₂ effective clusters from k₁ plan literals plus
    * one broadcast join, each Lloyd round and the final assignment
    * one pass over the corpus. Degenerates EXACTLY to
    * [[kmeansAssign]] at k₁ = 1 (spec-pinned): one top cluster makes
    * the sub-training init, rounding, and tie direction identical to
    * the flat trainer's. Named expiry of THIS level: two levels
    * compose up to clamp² leaves (~65k clusters ≈ 65M docs at the
    * SemDeDup default target); beyond that, add a level — the
    * machinery (broadcast data + fold argmax) is depth-agnostic. */
  def hierarchicalKmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      k1: Int, k2: Int, iters: Int = 2): DataFrame = {
    val m = hierarchicalKmeansModel(df, idCol, vecCol, k1, k2, iters)
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("vec"))
    val assigned = assignClusters(base, m.topCentroids)
      .withColumnRenamed("cluster", "__top")
    subAssign(assigned, m.subCentroids)
      .select(col("id").as(idCol),
        (col("__top") * m.k2 + col("__sub")).as("cluster"),
        round(col("__sim"), 4).as("cosine"))
  }

  /** Product-quantization model: per-subspace codebooks —
    * `codebooks(s)(code)(dim)`, trained by [[pqTrain]]. */
  final case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.headOption.map(_.length).getOrElse(0)
    def subDim: Int =
      codebooks.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
  }

  private val pqMemo =
    new graft.BoundedMemo[((String, String), String, Int, Int, Int), PqModel](16, "pq")

  /** Distributed product-quantization training (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split
    * each vector into `m` subvectors and learn an independent k-code
    * L2 codebook per subspace with Lloyd rounds — the memory-density
    * complement to [[quantizeInt8]] (m bytes per vector instead of
    * dims, at recall governed by m×k).
    *
    * Scale shape: ALL m subspaces train in ONE distributed job per
    * iteration — the per-subspace argmin codes are computed in a
    * single projection (codebook literals ride in the plan), the
    * subvectors inline-exploded to (subspace, code, sub) and averaged
    * by the typed [[graft.functions.VectorAvg]] partial aggregate, so
    * the shuffle carries m×k×subDim doubles per partition and the
    * driver collects m×k rows per round.
    *
    * Replay-exact like [[kmeansCentroids]]: init = subvectors of the
    * k lowest-id vectors; squared L2 rounded to 9 decimals before the
    * argmin (ties to the SMALLER code — struct `least` semantics);
    * updated codes rounded half-away-from-zero to 6 decimals; empty
    * codes keep their previous centroid. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, k: Int = 16, iters: Int = 2): PqModel = {
    require(k >= 1 && k <= MaxTrainK,
      s"pqTrain: k=$k outside [1, $MaxTrainK] — codebooks (m×k×subDim) " +
        "and the per-round code-mean aggregate are driver-resident")
    require(m >= 1 && m.toLong * k <= MaxTrainK.toLong * 16,
      s"pqTrain: m=$m × k=$k codebook entries exceed the driver contract")
    pqMemo.getOrBuild((graft.PlanKeys.scoped(df), s"$idCol/$vecCol", m, k, iters))(
      pqTrainUncached(df, idCol, vecCol, m, k, iters))
  }

  private def pqTrainUncached(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): PqModel = {
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("vec"))
    val first = base.orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(first.nonEmpty, "pqTrain: empty input")
    val dims = first(0).length
    require(dims % m == 0, s"pqTrain: m=$m must divide dims=$dims")
    val subDim = dims / m
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => first.map(_.slice(s * subDim, (s + 1) * subDim)))
    val vecAvg = udaf(graft.functions.VectorAvg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    for (_ <- 0 until iters) {
      val entries = (0 until m).map { s =>
        struct(lit(s).as("s"),
          pqCodeCol(col("vec"), codebooks(s), s, subDim).as("code"),
          slice(col("vec"), s * subDim + 1, subDim).as("sub"))
      }
      val updated = base.select(inline(array(entries: _*)))
        .groupBy(col("s"), col("code")).agg(vecAvg(col("sub")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      codebooks = Array.tabulate(m) { s =>
        Array.tabulate(codebooks(s).length) { c =>
          updated.get((s, c)).filter(_.nonEmpty)
            .map(_.map(roundHalfAwayFromZero6)).getOrElse(codebooks(s)(c))
        }
      }
    }
    PqModel(codebooks)
  }

  /** Persist a trained [[PqModel]] — the last piece of the IVF-PQ
    * serving stack without disk persistence (the IVF index side has
    * [[saveIvfIndex]]/[[loadIvfIndex]]/[[appendToIvfIndex]]; the
    * codebooks lived only in the per-session memo, so a daily-probe
    * process had to retrain them). One small parquet of
    * (subspace, code, centroid) rows — m×k entries of subDim doubles,
    * kilobytes; the geometry (m, k, subDim) is inherent in the rows
    * and [[loadPqModel]] re-validates it, so a truncated or mixed
    * write fails loudly instead of mis-decoding every distance. */
  def savePqModel(spark: SparkSession, model: PqModel,
      path: String): PqModel = {
    import spark.implicits._
    (for {
      s <- model.codebooks.indices
      c <- model.codebooks(s).indices
    } yield (s, c, model.codebooks(s)(c).toSeq))
      .toDF("subspace", "code", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
    loadPqModel(spark, path)
  }

  /** Load a [[savePqModel]]-persisted model, re-validating the
    * rectangular (m × k × subDim) geometry. */
  def loadPqModel(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select(col("subspace"), col("code"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"empty PQ codebook store at $path/codebooks")
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val subDim = rows(0)._3.length
    require(rows.length == m * k,
      s"PQ codebook store at $path is not rectangular: ${rows.length} " +
        s"entries for m=$m k=$k — truncated or mixed write")
    require(rows.forall(_._3.length == subDim),
      s"PQ codebook store at $path mixes sub-dimensions")
    val byKey = rows.map(r => (r._1, r._2) -> r._3).toMap
    // duplicate (subspace, code) rows can satisfy the row-count check
    // while leaving another key missing — without this the tabulate
    // below dies in a bare key-not-found instead of the descriptive
    // failure the store contract promises (r16 review)
    require(byKey.size == m * k,
      s"PQ codebook store at $path has duplicate (subspace, code) " +
        s"entries: ${rows.length} rows but ${byKey.size} distinct keys " +
        s"for m=$m k=$k — mixed or double write")
    PqModel(Array.tabulate(m)(s => Array.tabulate(k)(c => byKey((s, c)))))
  }

  // argmin code for one subspace: least() over (round(L2², 9), code)
  // structs — squared distance (monotone, no sqrt), ties to the
  // smaller code index
  private def pqCodeCol(vec: Column, codebook: Array[Array[Double]],
      s: Int, subDim: Int): Column = {
    val sub = slice(vec, s * subDim + 1, subDim)
      .cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    val scored = codebook.zipWithIndex.map { case (c, i) =>
      struct(
        round(aggregate(zip_with(sub, lit(c), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x), 9).as("dist"),
        lit(i).as("code"))
    }
    if (scored.length <= 1) lit(0)
    else least(scored.toIndexedSeq: _*).getField("code")
  }

  /** Map-only PQ encoding: each vector → m code bytes (here ints).
    * The codebook literals ride in the plan — encoding 100 TB of
    * embeddings is a single shuffle-free pass, same as
    * [[quantizeInt8]]. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("vec"))
    base.select(col("id").as(idCol),
      array((0 until model.m).map(s =>
        pqCodeCol(col("vec"), model.codebooks(s), s, model.subDim)): _*)
        .as("codes"))
  }

  /** Lossy PQ reconstruction: codes → concatenated codebook
    * centroids — for scoring/debugging quantized vectors. */
  def pqDecode(codes: Array[Int], model: PqModel): Array[Double] =
    codes.zipWithIndex.flatMap { case (c, s) => model.codebooks(s)(c) }

  /** Reference formulation via posexplode + regroup — shuffles
    * |rows| × dims scalars; kept for cross-checking the typed path. */
  def centroidsExploded(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("mean"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pairs"))
      .select(col("label"),
        transform(col("pairs"), p => round(p.getField("mean"), 4)).as("centroid"))

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|v| / 127, elements rounded to [-127, 127] — the
    * standard memory-density move for ANN serving (4× smaller
    * vectors, cosine preserved to ~1e-4 at typical dims;
    * spec-asserted). Map-only: one codegen'd projection, no shuffle,
    * no state — quantizing 100 TB of embeddings is a single pass.
    *
    * Output: (id, scale, qvec: array<int>). Rounding is
    * floor(x/scale + 0.5) — round-half-toward-+inf, written
    * explicitly with floor so an ANSI replay computes bit-identical
    * values (engine round() conventions differ on negative halves;
    * repo rule: floor on both sides). All math in explicit double
    * lambdas (float32 column semantics differ between engines
    * otherwise). Zero vectors quantize to zeros with scale 0. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      (aggregate(col(vecCol), lit(0.0d),
        (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0d).as("scale"),
      col(vecCol).as("v"))
      .select(col("id"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") > 0d,
            floor(x.cast("double") / col("scale") + 0.5d).cast("int"))
            .otherwise(lit(0))).as("qvec"))

  /** Inverse of [[quantizeInt8]] (lossy): qvec × scale as doubles —
    * for scoring quantized vectors with the same cosine machinery. */
  def dequantize(qvecCol: Column, scaleCol: Column): Column =
    transform(qvecCol, q => q.cast("double") * scaleCol)

  /** Embedding-space outlier screening: distance of every vector to
    * its group's centroid, robust-z-scored within the group
    * (median/MAD — [[graft.quality.CorpusQuality.robustOutliers]]) —
    * the embedding-side data-quality gate: mis-embedded rows, wrong-
    * modality blobs and encoder failures sit far from every centroid
    * while the robust statistics ignore them when setting the cutoff.
    *
    * Deterministic: centroids are the ROUNDED [[centroidsTyped]]
    * cells (4 decimals — downstream math is a pure function of
    * them), the squared-component sum folds in dimension order, and
    * the z is order statistics over rounded distances — hash-green
    * replay end-to-end.
    *
    * Scale shape: one centroid aggregate (map-side partial,
    * |labels|×dims scalars broadcast back), one map-only
    * component-join pass keyed by (label, pos) against the broadcast
    * centroids, a per-vector fold (shuffle keyed by id), and the
    * |labels|-row robust stats broadcast for the final map-only
    * scoring. */
  def embeddingOutliers(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, cutoff: Double = 3.5): DataFrame = {
    val cents = centroidScalars(df, labelCol, vecCol)
      .select(col("label"), col("pos"), col("mean").as("__c"))
    val comps = Parallelism.ensure(df)
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        posexplode(col(vecCol)))
      .select(col("id"), col("label"), (col("pos") + 1).as("pos"),
        col("col").cast("double").as("__v"))
    val dists = comps.join(broadcast(cents), Seq("label", "pos"))
      .withColumn("__d2", (col("__v") - col("__c")) * (col("__v") - col("__c")))
      .groupBy(col("id"), col("label"))
      .agg(round(sqrt(Classifier.sortedFold(col("pos"), col("__d2"))), 6)
        .as("dist"))
    graft.quality.CorpusQuality.robustOutliers(dists, "label", "dist", cutoff)
      .select(col("id").as(idCol), col("label"), col("dist"),
        round(col("robust_z"), 6).as("robust_z"), col("is_outlier"))
  }

  /** Greedy k-center coreset (farthest-first traversal, Gonzalez
    * 1985): start from `seedId`, then `k−1` times select the point
    * whose distance to its nearest already-chosen center is LARGEST
    * — a 2-approximation of the optimal k-center cover, and the
    * classic diversity-first selection for training-data coresets
    * (each pick is the corpus region current picks explain worst).
    *
    * Returns one row per center: (sel_round, center_id, radius),
    * where radius is the selected point's min squared distance to
    * the earlier centers at selection time — non-increasing by
    * construction, and radius of round k+1 would lower-bound the
    * cover radius of the returned set.
    *
    * Determinism contract: every per-center squared distance folds
    * in ascending dimension order and rounds to 6 decimals before
    * the min / argmax, and the farthest-point tie-break is (distance
    * DESC, id ASC) — a pure function of the data, replayable across
    * engines (the x109 oracle unrolls the same rounds in SQL).
    *
    * Scale shape: each round is one map-only pass (min over ≤k
    * broadcast-literal centers — no shuffle, no state) feeding a
    * TakeOrdered(1); the driver collects exactly one row per round,
    * bounded by the `k ≤ 256` contract below. Distances to all
    * chosen centers are recomputed per round rather than cached —
    * O(k²·d) arithmetic per point total, the price of keeping every
    * round checkpoint-free and the scan the only data motion. */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
      k: Int, seedId: Long): DataFrame = {
    require(k >= 1 && k <= 256,
      "k in [1, 256] — one 1-row driver collect per round")
    val spark = df.sparkSession
    val base = Parallelism.ensure(df)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    def d2(center: Seq[Double]): Column = round(
      aggregate(sequence(lit(0), size(col("v")) - 1), lit(0.0d),
        (acc, i) => {
          val diff = element_at(col("v"), i + 1).cast("double") -
            element_at(typedLit(center), i + 1)
          acc + diff * diff
        }), 6)
    def vecOf(row: org.apache.spark.sql.Row): Seq[Double] =
      row.getSeq[Any](row.fieldIndex("v")).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }
    val seedRows = base.filter(col("id") === seedId).take(1)
    require(seedRows.nonEmpty,
      s"kCenterCoreset: seedId $seedId not present in $idCol")
    val seedRow = seedRows(0)
    val centers = scala.collection.mutable.ArrayBuffer(
      (1, seedId, 0.0, vecOf(seedRow)))
    for (r <- 2 to k) {
      val dists = centers.toSeq.map(c => d2(c._4))
      val minDist = if (dists.size == 1) dists.head else least(dists: _*)
      val top = base.withColumn("md", minDist)
        .orderBy(col("md").desc, col("id").asc).head()
      centers += ((r, top.getLong(top.fieldIndex("id")),
        top.getDouble(top.fieldIndex("md")), vecOf(top)))
    }
    import spark.implicits._
    centers.toSeq.map { case (r, id, rad, _) => (r, id, rad) }
      .toDF("sel_round", "center_id", "radius")
  }

  /** Late-interaction MaxSim scoring (the ColBERT retrieval rule,
    * Khattab & Zaharia 2020): a query is a SET of vectors, a
    * document is a SET of vectors, and score(doc) = Σ_q max_{v∈doc}
    * cos(q, v) — each query vector finds its best-matching document
    * vector independently, which is what lets one query term match
    * one passage sentence. The missing member of the retrieval
    * family next to single-vector ANN (x6/x23) and sparse BM25
    * (x76). Output: (doc, maxsim) — one row per document.
    *
    * Determinism contract: per-pair cosine rounds to 4 BEFORE the
    * max (exact comparisons on rounded values), and the final
    * per-document sum over ≤|Q| maxima is a carrier-keyed sorted
    * fold re-rounded to 4 — hash-green replayable.
    *
    * Scale shape: the bounded query set broadcasts (the batchTopK
    * exact-path contract — |Q| vectors ride the plan); scoring is
    * map-only over the corpus vectors; then two map-side-combinable
    * aggregations (max by (doc, q), fold by doc) whose shuffles
    * carry scalars, never vectors. */
  def maxSimScores(queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, docIdCol: String,
      queryVecCol: String, corpusVecCol: String): DataFrame = {
    val q = queries.select(col(queryIdCol).as("__qid"),
      col(queryVecCol).as("__qv"))
    val c = Parallelism.ensure(corpus).select(col(docIdCol).as("doc"),
      col(corpusVecCol).as("__cv"))
    c.crossJoin(broadcast(q))
      .select(col("doc"), col("__qid"),
        round(VectorMath.cosineSimilarity(col("__cv"), col("__qv")), 4)
          .as("__cos"))
      .groupBy(col("doc"), col("__qid"))
      .agg(max(col("__cos")).as("__m"))
      .groupBy(col("doc"))
      .agg(round(Classifier.sortedFold(col("__qid"), col("__m")), 4)
        .as("maxsim"))
  }

  /** Recall@k of an ANN result against its exact baseline — the
    * "measure, don't guess" harness for the LSH/IVF/IVF-PQ family:
    * feed any two (query_id, neighbor_id) top-k tables and get
    * per-query hit counts and recall, the number that decides
    * whether a numBits/bands/nprobe setting is usable. Queries the
    * ANN side missed entirely score 0 (left join from the exact
    * side — silence never inflates recall).
    *
    * Scale shape: one shuffle-hash join on (query_id, neighbor_id)
    * pairs — |queries|·k rows per side regardless of corpus size —
    * and a per-query count aggregate. */
  def annRecall(exactTopK: DataFrame, annTopK: DataFrame,
      queryIdCol: String = "query_id",
      neighborIdCol: String = "neighbor_id", k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    val e = exactTopK.select(col(queryIdCol).as("query_id"),
      col(neighborIdCol).as("neighbor_id"))
    val a = annTopK.select(col(queryIdCol).as("query_id"),
      col(neighborIdCol).as("neighbor_id"), lit(1).as("__hit"))
    e.hint("shuffle_hash")
      .join(a.hint("shuffle_hash"), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 4).as("recall"))
  }

  /** Pairwise cosine between group centroids — the embedding-space
    * domain-overlap matrix (which sources/clusters say the same
    * thing): the number a mixture designer reads before merging,
    * capping, or cross-deduplicating domains, and the embedding-side
    * analog of x60's vocabulary-overlap matrix. Output one row per
    * unordered label pair (label_a < label_b).
    *
    * Deterministic: the centroid cells fold per (label, dimension)
    * in ascending `idCol` order (the x94/x97 keyed-fold rule) before
    * the 4-decimal round — NOT the partition-order
    * [[graft.functions.VectorAvg]] sum, whose value at a rounding
    * boundary can flip when anything upstream re-keys (the x45-class
    * latent mismatch the r7 advisor flagged); dot/norms then fold in
    * carrier-keyed dimension order, re-rounded to 4 — hash-green
    * replayable with zero float-boundary exposure.
    *
    * Scale shape: the exact fold collects one (id, value) list per
    * (label, dimension) group — bounded by rows-per-label, the right
    * trade for a |labels|²-output DIAGNOSTIC; the production
    * centroid path stays [[centroidsTyped]] (constant-size
    * buffers). Everything after the cells runs on |labels|·dims
    * scalars — the pair join is driver-trivial no matter the corpus
    * size. */
  def centroidSimilarityMatrix(df: DataFrame, idCol: String,
      labelCol: String, vecCol: String): DataFrame = {
    val cents = df
      .select(col(labelCol).as("label"), col(idCol).as("__cid"),
        posexplode(col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))).as(Seq("pos0", "v")))
      .select(col("label"), col("__cid"), (col("pos0") + 1).as("pos"),
        col("v"))
      .groupBy(col("label"), col("pos"))
      .agg(round(Classifier.sortedFold(col("__cid"), col("v"))
        / count(lit(1)), 4).as("m"))
    val a = cents.select(col("label").as("label_a"), col("pos"),
      col("m").as("ma"))
    val b = cents.select(col("label").as("label_b"), col("pos"),
      col("m").as("mb"))
    a.join(b, Seq("pos")).filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(
        Classifier.sortedFold(col("pos"), col("ma") * col("mb")).as("__dot"),
        Classifier.sortedFold(col("pos"), col("ma") * col("ma")).as("__na"),
        Classifier.sortedFold(col("pos"), col("mb") * col("mb")).as("__nb"))
      .select(col("label_a"), col("label_b"),
        round(col("__dot") / (sqrt(col("__na")) * sqrt(col("__nb"))), 4)
          .as("cosine"))
  }

  /** Hard-negative mining for contrastive training data: for every
    * anchor, the top-k most-cosine-similar vectors carrying a
    * DIFFERENT label — the "looks like a positive, is labeled
    * otherwise" pairs that contrastive objectives learn the most
    * from. Output: (anchor_id, rank, neg_id, cosine).
    *
    * Exact all-pairs variant: quadratic in the anchor side — bound
    * the `anchors` frame (this is the oracle/verification path; the
    * corpus-scale path is [[hardNegativesLsh]], the x112↔x113 twin).
    * The cross join broadcasts the bounded anchor side explicitly so
    * the nested-loop streams the corpus with its full scan
    * parallelism (the x43 lesson), and cosine rounds to 4 BEFORE the
    * (cosine DESC, neg_id ASC) rank so the selection is exactly
    * replayable. Self-pairs are excluded by the label test itself
    * (an anchor shares its own label). */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
      idCol: String, labelCol: String, vecCol: String,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(labelCol).as("__al"), col(vecCol).as("__av"))
    val c = Parallelism.ensure(corpus).select(col(idCol).as("neg_id"),
      col(labelCol).as("__nl"), col(vecCol).as("__nv"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__cos").desc, col("neg_id").asc)
    c.join(broadcast(a), col("__al") =!= col("__nl"))
      .withColumn("__cos",
        round(VectorMath.cosineSimilarity(col("__av"), col("__nv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("neg_id"),
        col("__cos").as("cosine"))
  }

  /** The 100 TB path of [[hardNegatives]]: hyperplane-LSH banded
    * candidates (same machinery as [[lshBatchTopK]] — bucket joins
    * on band chunks, never all-pairs), filtered to cross-label pairs
    * BEFORE the rank so the top-k is over genuine negatives, then
    * one vector rejoin per surviving candidate. Bare id pairs flow
    * through the distinct (vectors rejoin after — the
    * embeddingNearDuplicates shuffle-volume rule); all joins
    * shuffle-hash (corpus-sized sides never broadcast). Candidate
    * recall is tunable via numBits/bands; `bands = numBits` (1-bit
    * chunks) degenerates to any-bit-agreement — effectively full
    * recall, the configuration the contract spec pins against
    * [[hardNegatives]].
    *
    * `maxBucket` bounds the quadratic escape hatch (a crowded
    * embedding region putting n vectors in one (band, chunk) bucket
    * emits n² candidate pairs): buckets beyond it keep only the
    * `maxBucket` members of smallest (xxhash64(id), id) rank — a
    * deterministic, spread sub-sample. Unlike the dedup generators
    * (star pairing — [[Dedup.cappedBucketPairs]]) a reachability-
    * preserving topology is useless here: the consumer is a
    * per-anchor top-k, so the cap is a straight recall/cost knob on
    * an already-approximate path; a member dropped from one
    * oversized bucket still probes via its other bands. Note
    * `bands = numBits` (the full-recall contract configuration)
    * makes every bucket hold ~n/2 members by construction — pass
    * `maxBucket >= n` when exactness against [[hardNegatives]] is
    * the goal. At a growing corpus size `numBits` with
    * [[graft.ops.Dedup.lshBitsFor]] (bucket space is fixed at
    * 2^(numBits/bands) per band — the ×10/×30-measured quadratic;
    * r15: wide widths past one Long are honored via
    * [[graft.ops.Dedup.lshSignature]]); the fixed default stays for
    * x113 carrier replay stability. */
  def hardNegativesLsh(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, k: Int = 5, numBits: Int = 16, bands: Int = 4,
      seed: Long = 42L,
      maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numBits % bands == 0, "bands must divide numBits")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // shared regime-aware signature/banding (see Dedup.lshSignature):
    // packed bit-slices ≤ 64 bits, per-band signatures beyond
    val keyed = Parallelism.ensure(df)
      .select(col(idCol).as("id"), col(labelCol).as("lbl"),
        col(vecCol).as("v"),
        Dedup.lshSignature(col(vecCol), numBits, bands, seed).as("sig"))
      .repartition(col("id"))
    val wCap = Window.partitionBy(col("band"), col("chunk"))
      .orderBy(xxhash64(col("id")), col("id"))
    val capped = Dedup.lshBandChunks(
        keyed.select(col("id"), col("lbl"), col("sig")), numBits, bands)
      .withColumn("__r", row_number().over(wCap))
      .filter(col("__r") <= maxBucket)
      .drop("__r")
    def banded(idAs: String, lblAs: String): DataFrame =
      capped.select(col("id").as(idAs), col("lbl").as(lblAs),
        col("band"), col("chunk"))
    val cands = banded("anchor_id", "__al").hint("shuffle_hash")
      .join(banded("neg_id", "__nl").hint("shuffle_hash"),
        Seq("band", "chunk"))
      .filter(col("__al") =!= col("__nl"))
      .select(col("anchor_id"), col("neg_id")).distinct()
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__cos").desc, col("neg_id").asc)
    // r21 size-gated build side (guide §3.1, the embeddingNearDuplicates
    // rule): a provably-small vector side broadcasts (built off the
    // SOURCE projection — no signature re-execution), erasing both
    // pair-side exchanges; otherwise shuffle_hash stands (r10: never
    // let the planner build the full pair stream).
    val bcast = Joins.vectorSideBroadcastable(df, vecCol)
    def vecSide(idAs: String, vecAs: String): DataFrame =
      if (bcast)
        broadcast(df.select(col(idCol).as(idAs), col(vecCol).as(vecAs)))
      else keyed.select(col("id").as(idAs), col("v").as(vecAs))
        .hint("shuffle_hash")
    (if (bcast) cands else cands.hint("shuffle_hash"))
      .join(vecSide("anchor_id", "__av"), "anchor_id")
      .join(vecSide("neg_id", "__nv"), "neg_id")
      .withColumn("__cos",
        round(VectorMath.cosineSimilarity(col("__av"), col("__nv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("neg_id"),
        col("__cos").as("cosine"))
  }

  /** kNN label transfer — weak supervision by retrieval: predict a
    * label for every corpus row as the majority vote of its k most-
    * cosine-similar rows in a small LABELED seed set (the
    * FineWeb-Edu / DCLM classifier-bootstrap shape: a few thousand
    * curated seeds label a web-scale corpus, and the transferred
    * labels train the production quality classifier
    * [[graft.ops.Classifier.logRegScores]] consumes). Output:
    * (idCol, pred_label, n_votes).
    *
    * Determinism contract: cosine rounds to 4 BEFORE the (cosine
    * DESC, seed-id ASC) neighbor rank, and the vote winner is a pure
    * (votes DESC, label ASC) row_number — both total orders, so the
    * x128 oracle replays the whole pipeline hash-green.
    *
    * Scale shape: the seed set broadcasts (bounded by contract, the
    * [[hardNegatives]] anchor discipline — thousands of rows, never
    * the corpus); scoring is map-side over the corpus scan, and BOTH
    * rank-≤-k stages plan as WindowGroupLimit (map tasks pre-prune
    * to k per corpus id before the exchange), so the shuffle carries
    * n·k slim rows, never n·|seeds|. The corpus side never joins
    * wide. */
  def knnLabelTransfer(corpus: DataFrame, labeled: DataFrame,
      idCol: String, labelCol: String, vecCol: String,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val l = labeled.select(col(idCol).as("nn_id"),
      col(labelCol).as("nn_label"), col(vecCol).as("__lv"))
    val c = Parallelism.ensure(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("__cv"))
    val wTop = Window.partitionBy(col("id"))
      .orderBy(col("__cos").desc, col("nn_id").asc)
    val votes = c.crossJoin(broadcast(l))
      .withColumn("__cos",
        round(VectorMath.cosineSimilarity(col("__cv"), col("__lv")), 4))
      .withColumn("__rank", row_number().over(wTop))
      .filter(col("__rank") <= k)
      .groupBy(col("id"), col("nn_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("id"))
      .orderBy(col("n_votes").desc, col("nn_label").asc)
    votes.withColumn("__r", row_number().over(wVote))
      .filter(col("__r") === 1)
      .select(col("id").as(idCol), col("nn_label").as("pred_label"),
        col("n_votes"))
  }

  /** Top-principal-component scores via distributed power iteration
    * — PCA's workhorse direction for embedding-space curation
    * (variance-dominant axis removal, whitening prep, spectral
    * outlier screens), computed WITHOUT materializing the d×d
    * covariance: each round is two narrow passes over the centered
    * components — y_i = ⟨x_i−μ, w⟩ per row, then z = Σ_i y_i·(x_i−μ)
    * per dimension (the matrix-free C·w), normalized driver-side
    * (≤d scalars, bounded by the [[MaxTrainK]]-style contract
    * below). Output: (id, pc1_score) — each row's projection on the
    * converged direction.
    *
    * Determinism contract (`exact = true`): every cross-row float
    * sum folds in carrier-key sorted order (the CLAUDE.md keyed-fold
    * rule) and the weight vector is pinned to 9 decimals at EVERY
    * round boundary (mean, y, z, normalized w) — each round's inputs
    * are bit-identical across engines, so the x110 oracle replays
    * the full iteration hash-green. Sign of the component follows
    * deterministically from the all-ones init (w₀ = 1/√d).
    *
    * `exact = false` is the 100 TB path: plain `sum` with map-side
    * partial aggregation (constant-size buffers — no per-dimension
    * collect_list that would buffer n structs on one task), result
    * differing from the exact fold only by addition-order ulps
    * (spec-asserted ≤1e-6; x111 registers it rows-only — the
    * x97↔x106 twin pattern). */
  def pcaPowerIteration(df: DataFrame, idCol: String, vecCol: String,
      iters: Int = 2, exact: Boolean = true): DataFrame = {
    require(iters >= 1 && iters <= 16, "iters in [1, 16]")
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    require(n > 0, "pcaPowerIteration: empty input")
    def fold(k: Column, v: Column): Column =
      if (exact) Classifier.sortedFold(k, v) else sum(v)
    def round9(v: Double): Double =
      (if (v >= 0) math.floor(v * 1e9 + 0.5) else math.ceil(v * 1e9 - 0.5)) / 1e9
    val comps = Parallelism.ensure(df)
      .select(col(idCol).cast("long").as("id"), posexplode(col(vecCol)))
      .select(col("id"), (col("pos") + 1).as("dim"),
        col("col").cast("double").as("v"))
    val mu = comps.groupBy("dim")
      .agg(round(fold(col("id"), col("v")) / lit(n.toDouble), 9).as("mu"))
    // consumed 2×iters+1 times — materialize once (the N-subplans rule)
    val centered = comps.join(broadcast(mu), "dim")
      .select(col("id"), col("dim"), (col("v") - col("mu")).as("cv"))
      .localCheckpoint(true)
    val dims = centered.select(col("dim")).distinct()
      .orderBy(col("dim")).collect().map(_.getInt(0))
    require(dims.length <= MaxTrainK,
      s"pcaPowerIteration: ${dims.length} dims exceed $MaxTrainK — " +
        "the weight vector is driver-resident")
    var w: Seq[(Int, Double)] =
      dims.toSeq.map(_ -> round9(1.0 / math.sqrt(dims.length.toDouble)))
    for (_ <- 1 to iters) {
      val wDf = w.toDF("dim", "w")
      val y = centered.join(broadcast(wDf), "dim")
        .groupBy(col("id"))
        .agg(round(fold(col("dim"), col("cv") * col("w")), 9).as("y"))
      val z = centered.join(y, "id")
        .groupBy(col("dim"))
        .agg(round(fold(col("id"), col("cv") * col("y")), 9).as("z"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
      val norm = math.sqrt(z.foldLeft(0.0)((acc, p) => acc + p._2 * p._2))
      require(norm > 0, "pcaPowerIteration: zero-variance input")
      w = z.toSeq.map { case (d0, zv) => d0 -> round9(zv / norm) }
    }
    centered.join(broadcast(w.toDF("dim", "w")), "dim")
      .groupBy(col("id").as(idCol))
      .agg(round(fold(col("dim"), col("cv") * col("w")), 6).as("pc1_score"))
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003's
    * database-friendly ±1 variant): out[j] = Σ_i vec[i]·sign(i,j) /
    * √outDim, with the Rademacher sign matrix derived per-cell from
    * a Lehmer LCG (Park–Miller constants 48271 / 2³¹−1) over the
    * (input-dim, output-dim) index pair. No stored matrix and no RNG
    * stream: sign(i, j) recomputes identically wherever the
    * projection runs, so the output is a pure function of the vector
    * — bit-replayable across engines, layouts and retries, and the
    * integer hash replays in ANSI SQL (the x108 oracle).
    *
    * The fold over input dimensions runs in ascending-index order on
    * a fixed IEEE double tree (codegen'd `aggregate`, no UDF), and
    * each output coordinate rounds to 4 decimals — the same
    * replay-determinism contract as [[embeddingOutliers]].
    *
    * Scale shape: map-only — one projection of width outDim·d per
    * row, no shuffle, no state. This is the cheap front half of
    * dimensionality-reduced near-dup / clustering at 100 TB: project
    * once (map), then hand the narrow vectors to LSH / k-means so
    * their shuffles carry outDim ≪ d floats per row. */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, seed: Long = 97L): DataFrame = {
    require(outDim > 0 && outDim <= 4096, "outDim in (0, 4096]")
    require(seed >= 0, "seed must be non-negative (sign-hash arithmetic)")
    val m = lit(2147483647L)
    def sign(i: Column, j: Column): Column =
      (lit(1) - lit(2) * pmod(
        pmod(i * lit(2654435761L) + j * lit(40503L) + lit(seed), m)
          * lit(48271L) % m, lit(2))).cast("double")
    df.select(col(idCol).as("id"),
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        round(
          aggregate(sequence(lit(0), size(col(vecCol)) - 1), lit(0.0d),
            (acc, i) => acc +
              element_at(col(vecCol), i + 1).cast("double") * sign(i, j))
          / lit(math.sqrt(outDim.toDouble)), 4)).as("projection"))
  }

  /** Per-dimension corpus statistics of an embedding column — the
    * feature-scaling profile (mean/std/min/max per coordinate) a
    * standardization or whitening step reads before transforming
    * anything, and the drift monitor for an embedding model swap
    * (a shifted dimension flags a re-embed). float32 components cast
    * to double exactly; `exact = true` pins the two cross-row sums
    * with id-keyed sorted folds (oracle-replayable), `exact = false`
    * is the constant-buffer production twin (x110/x111 discipline).
    * σ clamps the IEEE `ssq/n − μ²` at 0 so a constant dimension
    * can't produce sqrt(−1e−17).
    *
    * Scale shape: one posexplode + one (dim)-keyed aggregate —
    * |dims| output rows regardless of corpus size.
    */
  def dimensionStats(df: DataFrame, idCol: String, vecCol: String,
      exact: Boolean = true): DataFrame = {
    def fold(k: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      if (exact) Classifier.sortedFold(k, v) else sum(v)
    val comps = Parallelism.ensure(df)
      .select(col(idCol).cast("long").as("id"), posexplode(col(vecCol)))
      .select(col("id"), (col("pos") + 1).as("dim"),
        col("col").cast("double").as("v"))
    val agg = comps.groupBy(col("dim"))
      .agg(count(lit(1)).cast("long").as("n"),
        fold(col("id"), col("v")).as("sv"),
        fold(col("id"), col("v") * col("v")).as("ssq"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val mean = col("sv") / col("n")
    val sd = sqrt(greatest(col("ssq") / col("n") - mean * mean, lit(0.0)))
    agg.select(col("dim").cast("long").as("dim"), col("n"),
      round(mean, 6).as("mean"), round(sd, 6).as("std"),
      round(col("mn"), 6).as("min_v"), round(col("mx"), 6).as("max_v"))
  }

  /** Embedding covariance + correlation matrix over the first `dims`
    * coordinates — the second-moment profile [[dimensionStats]]'s
    * per-dim variances can't see: off-diagonal structure is what
    * whitening, Mahalanobis outlier scoring and the "are these dims
    * redundant" question read. cov(i,j) = S_ij/n − (S_i/n)(S_j/n),
    * corr from the diagonal; upper triangle only (i ≤ j).
    *
    * Determinism contract (`exact = true`): both moment families
    * fold keyed by the row id (the x94/x164 sorted-fold discipline)
    * so the result replays bit-for-bit in ANSI SQL; the fold
    * collects n values per cell — verification-corpus territory,
    * bounded by keeping `dims` small (the `require`). `exact =
    * false` is the scale path: plain float sums with map-side
    * partial aggregation — the shuffle carries dims(dims+1)/2
    * partials per partition, not the corpus (the [[
    * graft.functions.VectorAvg]] argument applied to second
    * moments), at the usual addition-order-ulp cost.
    *
    * Scale shape: ONE in-row upper-triangle pair explode feeds ONE
    * combinable (i, j) aggregate; the per-dim first moments ride a
    * posexplode into a second combinable aggregate; the d-row diag
    * rejoins broadcast for the correlation. Rows with NULL or
    * shorter-than-`dims` vectors are excluded (a partial vector has
    * no position in the joint distribution). */
  def covarianceMatrix(df: DataFrame, idCol: String, vecCol: String,
      dims: Int = 8, exact: Boolean = true): DataFrame = {
    require(dims >= 2 && dims <= 64,
      "dims in [2, 64] — the cell count is dims(dims+1)/2")
    def fold(k: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      if (exact) Classifier.sortedFold(k, v) else sum(v)
    val base = Parallelism.ensure(df)
      .filter(col(vecCol).isNotNull && size(col(vecCol)) >= dims)
      .select(col(idCol).cast("long").as("id"),
        transform(slice(col(vecCol), 1, dims),
          x => x.cast("double")).as("v"))
      .localCheckpoint(true) // feeds pair + single moment passes
    val nRow = broadcast(base.agg(count(lit(1)).as("n")))
    val pairs = base
      .select(col("id"), explode(flatten(transform(
        sequence(lit(1), lit(dims)), i => transform(
          sequence(i, lit(dims)), j => struct(i.as("i"), j.as("j"),
            (element_at(col("v"), i) * element_at(col("v"), j))
              .as("p")))))).as("c"))
      .select(col("id"), col("c.i").as("i"), col("c.j").as("j"),
        col("c.p").as("p"))
      .groupBy(col("i"), col("j")).agg(fold(col("id"), col("p")).as("sij"))
    val singles = base
      .select(col("id"), posexplode(col("v")))
      .select(col("id"), (col("pos") + 1).as("d"),
        col("col").as("x"))
      .groupBy(col("d")).agg(fold(col("id"), col("x")).as("s"))
      .localCheckpoint(true) // joined twice (i side and j side)
    val cov = pairs
      .join(broadcast(singles.select(col("d").as("di"), col("s").as("si"))),
        col("i") === col("di"))
      .join(broadcast(singles.select(col("d").as("dj"), col("s").as("sj"))),
        col("j") === col("dj"))
      .crossJoin(nRow)
      .select(col("i"), col("j"), col("n"),
        (col("sij") / col("n") - (col("si") / col("n"))
          * (col("sj") / col("n"))).as("cov"))
      .localCheckpoint(true) // diag feeds the correlation join
    val diag = cov.filter(col("i") === col("j"))
      .select(col("i").as("dd"), col("cov").as("var"))
    cov
      .join(broadcast(diag.select(col("dd").as("d1"), col("var").as("v1"))),
        col("i") === col("d1"))
      .join(broadcast(diag.select(col("dd").as("d2"), col("var").as("v2"))),
        col("j") === col("d2"))
      .select(col("i"), col("j"), col("n"), round(col("cov"), 6).as("cov"),
        round(when(col("v1") > 0 && col("v2") > 0,
          col("cov") / sqrt(col("v1") * col("v2"))), 6).as("corr"))
  }

  /** Position-discount weights for [[retrievalEval]]: w(i) =
    * 1/log₂(i+1) for ranks 1..k, each pinned to 9 decimals, plus
    * their prefix sums (the ideal-DCG table) folded over the PINNED
    * values. Driver-computed once and shipped as literals into both
    * the plan and the oracle SQL — the ranking math never touches
    * engine libm (two engines' log2 can differ in the last ulp;
    * x45's rounding-boundary lesson says never stack a round() on
    * top of that). */
  def ndcgWeights(k: Int): (Seq[Double], Seq[Double]) = {
    require(k >= 1 && k <= 1000, "k in [1, 1000]")
    def r9(v: Double): Double = math.floor(v * 1e9 + 0.5) / 1e9
    val w = (1 to k).map(i => r9(1.0 / (math.log(i + 1.0) / math.log(2.0))))
    (w, w.scanLeft(0.0)(_ + _).tail.map(r9))
  }

  /** Ranked-retrieval quality per query — MRR's reciprocal rank and
    * binary-gain nDCG@k — over an already-ranked candidate table
    * (query, rank 1.., rel 0/1): the IR-metric readout that closes
    * the retrieval family's loop (x121 measures ANN recall against
    * the exact ranks; this measures whether ANY ranking — exact or
    * approximate — puts the relevant items first).
    *
    * Per query: `rr = 1/first-relevant-rank` (0.0 when nothing
    * relevant lands in the list — the MRR convention), `dcg =
    * Σ rel_i · w(i)` folded in rank order (keyed sorted fold — the
    * x94 discipline), `idcg` = the prefix-sum literal at
    * min(n_rel, k), `ndcg = round(dcg/idcg, 9)` (NULL when the query
    * has no relevant candidates — 0/0 is "unmeasurable", not 0).
    * All discount constants come from [[ndcgWeights]] literals, so
    * the only float work over data is the bounded per-query fold.
    *
    * Scale shape: ONE map-side-combinable aggregate over the
    * |queries|×k result table, collect_list bounded by k per group —
    * no windows, no joins; |queries| rows out. */
  def retrievalEval(results: DataFrame, queryCol: String,
      rankCol: String, relCol: String, k: Int): DataFrame = {
    val (w, psum) = ndcgWeights(k)
    val rel = col(relCol).cast("int")
    val term = rel.cast("double") * element_at(typedlit(w), col(rankCol).cast("int"))
    results.filter(col(rankCol) <= k)
      .groupBy(col(queryCol).as("query_id"))
      .agg(count(lit(1)).cast("long").as("n_results"),
        sum(rel).cast("long").as("n_rel"),
        min(when(rel === 1, col(rankCol).cast("long"))).as("first_rel"),
        Classifier.sortedFold(col(rankCol), term).as("dcg"))
      .select(col("query_id"), col("n_results"), col("n_rel"),
        coalesce(round(lit(1.0) / col("first_rel"), 9), lit(0.0)).as("rr"),
        when(col("n_rel") > 0,
          round(col("dcg") / element_at(typedlit(psum),
            least(col("n_rel"), lit(k.toLong)).cast("int")), 9))
          .as("ndcg"))
  }
}
