package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** AutoShards engagement rehearsal (r15 verdict #2): [[graft.ops.
  * Similarity.ivfShardsFor]] resolves 1 below MaxTrainK² ≈ 16.7M
  * vectors, so the sharded build's AUTO path had never engaged outside
  * OpsSpec's explicit-2-shard form — and the true boundary is not a
  * local measurement (16.7M vectors × 4096-centroid argmax passes).
  * This run lowers the boundary with the rehearsal knob
  * ([[graft.ops.Similarity.ivfIndexShardedWithBoundary]] — the
  * ClampRehearsal boundary-knob pattern; ONE code path, the production
  * form delegates with MaxTrainK²) and measures ACROSS it:
  *
  *   - auto resolution: shards = 1 below the knob (flat wrap), grows
  *     past it — printed per corpus;
  *   - build cost: CPU/vector for the auto-sharded build vs the flat
  *     build at the same corpus. MEASURED OUTCOME (r16): sharded sits
  *     ~1.3-1.9× flat at rehearsal sizes — NOT ≤ flat as the r15
  *     verdict hypothesized. The rehearsal localized the cost: the
  *     original per-shard filter-on-source form re-read the corpus 2S
  *     times (pmod(xxhash64) never pushes to parquet) — fixed by the
  *     one-scan cached split (−34% sharded CPU at 4 shards) — and the
  *     residual is S× per-job fixed overhead plus S passes over the
  *     cached split, which shrinks relative to the per-row argmax as
  *     nlist grows toward the real boundary (per-shard nlist there ≈
  *     the flat clamp 4096, so per-row work matches flat). Sharding
  *     buys FEASIBILITY past the driver-resident-centroid clamp and
  *     bounded probe-recall decay, not CPU;
  *   - probe-merge equivalence: full-probe sharded batch top-k ==
  *     exact brute-force (the x202/OpsSpec contract, re-checked at
  *     every rehearsal corpus on the ScaleData mix, where ~30% of
  *     replicas are near-dups crowding the cells).
  *
  * Corpora are embeddings-only [[ScaleData.scaleEmbeddings]]
  * derivations of the sf0.1 embeddings (2000 vectors): with the
  * default knob perShard=4096, ×1 = 2000 → 1 shard (flat wrap),
  * ×4 = 8000 → 2 shards (the boundary), ×8 = 16000 → 4 shards.
  *
  * Usage: sbt "runMain graft.ShardRehearsal [factor ...]"
  *   (default: 1 4 8; source /root/testdata/sf0.1; knob via
  *   SPARK_GRAFT_SHARD_BOUNDARY, default 4096)
  * Output: one JSON row per corpus; archive at
  * SPARK_GRAFT_SHARD_OUT (default /tmp/graft_shard_rehearsal.json).
  */
object ShardRehearsal {

  def main(args: Array[String]): Unit = {
    val factors: Seq[Int] =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 4, 8)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SHARD_SRC", "/root/testdata/sf0.1")
    val perShard = sys.env.getOrElse("SPARK_GRAFT_SHARD_BOUNDARY", "4096").toLong
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val sm = new Bench.StageMetrics(spark)
    val sb = new StringBuilder
    try {
      // untimed JIT/codegen warmup on the tiny sf0.01 corpus
      try {
        val warm = Similarity.ivfIndex(
          Tables.embeddings(spark, "/root/testdata/sf0.01"),
          "vec_id", "embedding", k = 4, iters = 2)
        warm.assignments.count()
      } catch { case t: Throwable =>
        System.err.println(s"[shard] warmup: ${t.getMessage}") }
      factors.foreach { factor =>
        val emb =
          if (factor == 1) Tables.embeddings(spark, srcDir)
          else {
            val out = s"/tmp/graft_scale/emb_x$factor"
            val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
            ScaleData.scaleEmbeddings(src, factor)
              .repartition(32).write.mode("overwrite")
              .parquet(s"$out/embeddings.parquet")
            spark.read.parquet(s"$out/embeddings.parquet")
          }
        val n = emb.count()
        val autoShards = Similarity.ivfShardsFor(n, perShard)
        // each build cell is the MEDIAN of 3 cold reps (memos cleared
        // between) — the Bench.calibMedian lesson: single-shot cells
        // carry ±2-3x same-VM variance and cannot adjudicate a
        // CPU/vector comparison (the first run of this rehearsal read
        // flat CPU at x4 2.3x its x8 value on a contended VM)
        def medianOf(reps: Int)(build: () => Int): (Double, Double, Int) = {
          val cells = (0 until reps).map { _ =>
            BoundedMemo.clearAll()
            sm.reset()
            val t0 = System.nanoTime()
            val lists = build()
            val wall = (System.nanoTime() - t0) / 1e9
            sm.drain()
            (wall, sm.cpuNs.sum / 1e9, lists)
          }
          val byCpu = cells.sortBy(_._2)
          byCpu(byCpu.length / 2)
        }
        val (flatWall, flatCpu, flatLists) = medianOf(3) { () =>
          val flat = Similarity.ivfIndex(emb, "vec_id", "embedding")
          flat.assignments.count()
          flat.centroids.length
        }
        // auto-sharded build through the SAME path production takes,
        // with only the boundary lowered
        var lastSharded: Similarity.ShardedIvfIndex = null
        val (shWall, shCpu, maxLists) = medianOf(3) { () =>
          val sh = Similarity.ivfIndexShardedWithBoundary(
            emb, "vec_id", "embedding", Similarity.AutoShards,
            Similarity.AutoLists, iters = 3, trainSample = 4096, perShard)
          sh.shards.foreach(_.assignments.count())
          lastSharded = sh
          sh.shards.map(_.centroids.length).max
        }
        // the equivalence probe reuses the LAST timed rep's handle —
        // a fourth full build (train + assignment passes over the
        // whole corpus, memos cleared) bought nothing: its result is
        // bitwise what the rep already produced (r16 review). The
        // unused-looking autoShards resolution above earns its keep
        // as a cross-check against what the boundary path resolved.
        val sharded = lastSharded
        require(sharded.numShards == autoShards,
          s"ivfShardsFor resolved $autoShards but the boundary build " +
            s"trained ${sharded.numShards} shards — resolution drift")
        // probe-merge equivalence at FULL probe: merged top-k must
        // equal exact brute-force (the replica mix plants real
        // near-dup crowding, so ties and cell boundaries are exercised)
        val queries = emb.filter(col("vec_id") < 20)
        val merged = Similarity.ivfShardedBatchTopK(sharded, queries,
          "vec_id", "embedding", topK = 5, nprobe = maxLists)
          .as[(Long, Long, Int, Double)].collect().toSet
        val exact = Similarity.batchTopK(queries, emb,
          "vec_id", "vec_id", "embedding", "embedding", k = 5)
          .as[(Long, Long, Int, Double)].collect().toSet
        val equiv = merged == exact
        require(equiv, s"probe-merge equivalence FAILED at x$factor: " +
          s"${(merged diff exact).take(3)} vs ${(exact diff merged).take(3)}")
        val line =
          f"""{"factor":$factor,"n":$n,"per_shard_boundary":$perShard,""" +
            f""""auto_shards":${sharded.numShards},"flat_lists":$flatLists,""" +
            f""""max_shard_lists":$maxLists,""" +
            f""""flat_wall":$flatWall%.1f,"flat_cpu":$flatCpu%.1f,""" +
            f""""sharded_wall":$shWall%.1f,"sharded_cpu":$shCpu%.1f,""" +
            f""""flat_cpu_per_kvec":${flatCpu * 1000 / n}%.3f,""" +
            f""""sharded_cpu_per_kvec":${shCpu * 1000 / n}%.3f,""" +
            f""""probe_merge_exact":$equiv}"""
        println(line); sb.append(line).append('\n')
        System.err.println(f"[shard] x$factor%-3d n=$n%7d shards=" +
          f"${sharded.numShards}%2d flat=$flatCpu%6.1fs sharded=$shCpu%6.1fs " +
          f"cpu/kvec ${flatCpu * 1000 / n}%6.3f -> ${shCpu * 1000 / n}%6.3f " +
          f"exact=$equiv")
      }
    } finally sm.remove()
    val out = sys.env.getOrElse("SPARK_GRAFT_SHARD_OUT",
      "/tmp/graft_shard_rehearsal.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[shard] archived to $out")
    spark.stop()
  }
}
