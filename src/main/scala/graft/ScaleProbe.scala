package graft

import org.apache.spark.sql.functions._

/** Phase-level decomposition probe for the scale rehearsal's
  * superlinear families (r13: ScaleBench measured x42 CPU 58×,
  * x34 shuffle 137×, x161 CPU 26× at a ×10 corpus). The rehearsal
  * total says WHAT grew; this main answers WHY, per corpus dir:
  *
  *  - x42: signature build vs candidate generation vs Jaccard
  *    verification vs components, with the CANDIDATE- and
  *    VERIFIED-pair counts — if CPU/pair is flat across corpora, the
  *    growth is true-duplicate-pair growth (the corpus grows
  *    duplicate families ∝ factor, so |pairs| ∝ factor²: workload,
  *    not waste); if CPU/pair grows, the algorithm is superlinear
  *    and needs a fix.
  *  - x34: LSH bucket-size distribution (Σ C(b,2) = the pre-cap pair
  *    bound) plus candidate/verified counts — attributes the shuffle
  *    growth to bucket occupancy vs verification fan-out.
  *  - x161: exact-join OUTPUT pair count — the completeness
  *    guarantee makes output ⊇ all true pairs, so output growth IS
  *    the quadratic and everything else should track it.
  *
  * Usage: sbt "runMain graft.ScaleProbe [dir ...]"
  * (defaults to the three rehearsal dirs). One JSON line per
  * (dir, phase) on stdout; human table on stderr.
  * `SPARK_GRAFT_PROBE_FAMILIES=x34[,x42,x161]` restricts the phase
  * groups — the ×30 rehearsal point (r13 verdict #4) probes only the
  * quadratic-adjacent x34 path, where a full-family ×30 pass would
  * burn an hour of CPU on families already measured linear at ×10.
  * `SPARK_GRAFT_PROBE_OUT` overrides the JSON archive path (default
  * /tmp/graft_scale_probe.json).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale/x3",
        "/tmp/graft_scale/x10")
    val fams: Option[Set[String]] = sys.env.get("SPARK_GRAFT_PROBE_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
    // fail loudly on a typo'd family: a silent zero-family run writes
    // a calib-only artifact that reads like a valid probe (r14 advice)
    val KnownFamilies = Set("x42", "x34", "x161", "x22")
    fams.foreach { fs =>
      val unknown = fs.diff(KnownFamilies)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_PROBE_FAMILIES entries unknown to ScaleProbe: " +
          s"${unknown.mkString(",")} (known: ${KnownFamilies.toSeq.sorted.mkString(",")})")
    }
    def want(f: String): Boolean = fams.forall(_.contains(f))
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    // stage metrics: the shared Bench harness; draining per phase is
    // what makes the marginal numbers attribute to THIS phase
    val sm = new Bench.StageMetrics(spark)
    val sb = new StringBuilder
    def phase(dir: String, name: String)(body: => Long): Unit = {
      sm.reset()
      val t0 = System.nanoTime()
      val n = body
      val wall = (System.nanoTime() - t0) / 1e9
      sm.drain()
      val line = f"""{"dir":"$dir","phase":"$name","rows":$n,""" +
        f""""wall":$wall%.2f,"cpu":${sm.cpuNs.sum / 1e9}%.2f,""" +
        f""""shuffle_mb":${sm.shufBytes.sum / 1e6}%.1f}"""
      println(line); sb.append(line).append('\n')
      System.err.println(f"[probe] $dir%-26s $name%-22s rows=$n%10d " +
        f"wall=$wall%7.2f cpu=${sm.cpuNs.sum / 1e9}%8.2f " +
        f"shuffle=${sm.shufBytes.sum / 1e6}%8.1f MB")
    }

    dirs.foreach { dir =>
      BoundedMemo.clearAll()
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)

      // -------- x42 decomposition (marginal: each phase reuses the
      // previous phase's memo/persist, so its numbers are its OWN work)
      if (want("x42")) {
      phase(dir, "x42.1_signatures") {
        graft.ops.Dedup.minhashSignatures(docs, "doc_id", "text").count()
      }
      phase(dir, "x42.2_candidates") {
        graft.ops.Dedup.minhashCandidates(docs, "doc_id", "text").count()
      }
      val verified = graft.ops.Dedup.ngramJaccardNearDuplicates(
        docs, "doc_id", "text", threshold = 0.7)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      phase(dir, "x42.3_verify") { verified.count() }
      phase(dir, "x42.4_components") {
        graft.ops.Dedup.survivorsFromPairs(docs, "doc_id",
          verified.select("id_a", "id_b")).count()
      }
      verified.unpersist()
      }

      // -------- x34 decomposition
      // Σ C(b,2) over (band, chunk) buckets — the pre-cap pair bound
      // for a banding config. DETERMINISTIC (pure counts), unlike the
      // phase CPU cells: r14 measured ±2-3× run-to-run CPU variance
      // on the heavy-shuffle phases at identical outputs (x34.1 163
      // vs 360 s CPU across two same-VM runs), so the pair bound is
      // what cross-variant comparisons should ride.
      def pairBound(numBits: Int, bands: Int): Long = {
        // regime-aware shared banding (r15): widths past one Long get
        // per-band signatures instead of a broken bit-slice mask
        val sig = graft.ops.Parallelism.ensure(emb)
          .select(col("vec_id").as("id"),
            graft.ops.Dedup.lshSignature(col("embedding"), numBits, bands)
              .as("sig"))
        graft.ops.Dedup.lshBandChunks(sig, numBits, bands)
          .groupBy("band", "chunk").agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) DIV 2"))).collect()(0).getLong(0)
      }
      if (want("x34")) {
      phase(dir, "x34.0_bucket_pairbound") { pairBound(48, 8) }
      phase(dir, "x34.0b_sized64_pairbound") { pairBound(64, 8) }
      phase(dir, "x34.0c_auto_pairbound") {
        // what the AutoBits production default resolves to here
        val n = emb.count()
        pairBound(graft.ops.Dedup.lshBitsFor(n, 4), 4)
      }
      phase(dir, "x34.0d_auto8_pairbound") {
        // the 8-band auto resolution (semanticDedupSurvivors' default
        // banding) — crosses into the WIDE per-band regime at ×30
        // (80 bits), giving the deterministic bound behind x34.6
        val n = emb.count()
        pairBound(graft.ops.Dedup.lshBitsFor(n, 8), 8)
      }
      phase(dir, "x34.1_candidate_pairs") {
        graft.ops.Dedup.embeddingNearDuplicates(
          emb, "vec_id", "embedding", threshold = 0.3, numBits = 48,
          bands = 8).count()
      }
      phase(dir, "x34.2_survivors") {
        graft.ops.Dedup.semanticDedupSurvivors(
          emb, "vec_id", "embedding", threshold = 0.3, numBits = 48,
          bands = 8).count()
      }

      // -------- x34 scale defenses, demonstrated (r13): the probe's
      // pairbound shows Σ C(b,2) growing ~quadratically at FIXED
      // 6-bit chunks (64 buckets/band can't absorb a growing corpus).
      // Defense 1 — the bucket cap: maxBucket=100 forces the 717-max
      // buckets of the ×10 corpus onto the O(n) star path.
      // Defense 2 — sizing: 8-bit chunks (numBits=64, same 8 bands)
      // quadruple the bucket space; production sizes bitsPerBand ≈
      // log2(n / target_bucket) as the corpus grows.
      phase(dir, "x34.3_cap100_pairs") {
        graft.ops.Dedup.embeddingNearDuplicates(
          emb, "vec_id", "embedding", threshold = 0.3, numBits = 48,
          bands = 8, maxBucket = 100).count()
      }
      phase(dir, "x34.4_sized64_pairs") {
        graft.ops.Dedup.embeddingNearDuplicates(
          emb, "vec_id", "embedding", threshold = 0.3, numBits = 64,
          bands = 8).count()
      }
      // Defense 3 (r14) — the PRODUCTION DEFAULT, end-to-end: AutoBits
      // resolves numBits via lshBitsFor from one corpus count. r15:
      // the one-Long saturation is gone — past 64 total bits the
      // banding switches to WIDE per-band signatures (bucket space
      // keeps growing to 2^MaxChunkBits per band ≈ 2.8e16 vectors at
      // the default target), so the maxBucket cap is back to being a
      // skew backstop rather than the only post-saturation bound
      // (SaturationProbe measures both regimes side by side).
      phase(dir, "x34.5_auto_pairs") {
        graft.ops.Dedup.embeddingNearDuplicates(
          emb, "vec_id", "embedding", threshold = 0.3).count()
      }
      // Defense 3b (r15) — the all-default SEMANTIC composition
      // end-to-end (AutoBits + default bands=8 + CC + survivors):
      // 8 bands cross the old Long saturation earliest, so this
      // phase REALIZES the wide per-band regime at ×30 (60k vectors
      // auto-size to 80 bits > one Long) while sf0.1 (40 bits) and
      // ×10 (64 bits, the exact boundary) stay packed — the regime
      // flip with corpus growth, exercised through the real operator
      // (banding, capped pairs, cosine verify, components), not just
      // the bounds aggregation.
      phase(dir, "x34.6_auto8_survivors") {
        graft.ops.Dedup.semanticDedupSurvivors(
          emb, "vec_id", "embedding", threshold = 0.3).count()
      }
      }

      // -------- x161 output size
      if (want("x161")) {
      phase(dir, "x161_output_pairs") {
        graft.ops.Dedup.prefixFilterJaccardPairs(
          docs, "doc_id", "text", thresholdTenths = 7).count()
      }
      }

      // -------- x22-shape mid-threshold recall (r16 verdict #4): the
      // six r16 conversions moved every hash-green embedding carrier
      // to threshold-0.95/1.0 replica known answers, so the MID
      // (0.4-0.7) regime is pinned only by OpsSpec fixtures and the
      // kept rows-only primitives — this measures it THROUGH the full
      // operator (AutoBits banding, bucket cap, cosine verify) against
      // a brute-force exact pair set on a deterministic 1-in-5 id
      // slice (both-ends-in-slice: 1/25 of all pairs, ~8M cosine
      // evals at ×10 — bounded at any corpus). Two recall rows:
      // recall over ALL exact pairs ≥ 0.4 (dominated by barely-0.4
      // pairs, where 8-band/8-bit-chunk collision probability is
      // structurally low — LSH at threshold t is a near-DUP sieve,
      // not a mid-similarity enumerator) and recall over the ≥ 0.9
      // near-dup band (the regime the operator exists for; the x22
      // scaladoc claims ≈ 0.98 — this is its measured form).
      if (want("x22")) {
        val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // Parallelism.ensure: the exact pair join below is non-equi →
        // BroadcastNestedLoop, whose STREAMED side inherits the scan's
        // split count — a few-file source dir would serialize the
        // ~8M cosine evaluations onto a few tasks (CLAUDE.md rule)
        val slice = graft.ops.Parallelism.ensure(emb
          .filter(pmod(xxhash64(col("vec_id")), lit(5)) === 0)
          .select(col("vec_id"), col("embedding"))).persist(mem)
        val a = slice.select(col("vec_id").as("id_a"),
          col("embedding").as("va"))
        val bb = slice.select(col("vec_id").as("id_b"),
          col("embedding").as("vb"))
        val exact = a.join(bb, col("id_a") < col("id_b"))
          .withColumn("cos", round(graft.functions.VectorMath
            .cosineSimilarity(col("va"), col("vb")), 4))
          .filter(col("cos") >= 0.4)
          .select(col("id_a"), col("id_b"), col("cos")).persist(mem)
        phase(dir, "x22.0_exact_slice_pairs") { exact.count() }
        val sliceIds = slice.select(col("vec_id"))
        var lshSlice: org.apache.spark.sql.DataFrame = null
        phase(dir, "x22.1_lsh_mid_auto") {
          val lsh = graft.ops.Dedup.embeddingNearDuplicates(
            emb, "vec_id", "embedding", threshold = 0.4,
            numBits = graft.ops.Dedup.AutoBits, bands = 8)
          lshSlice = lsh
            .join(sliceIds.select(col("vec_id").as("id_a")),
              Seq("id_a"), "leftsemi")
            .join(sliceIds.select(col("vec_id").as("id_b")),
              Seq("id_b"), "leftsemi")
            .select(col("id_a"), col("id_b")).persist(mem)
          lshSlice.count()
        }
        val nExact = exact.count()
        val hitsAll = exact.join(lshSlice, Seq("id_a", "id_b"), "leftsemi")
          .count()
        val hi = exact.filter(col("cos") >= 0.9).persist(mem)
        val nHi = hi.count()
        val hitsHi = hi.join(lshSlice, Seq("id_a", "id_b"), "leftsemi")
          .count()
        def rec(h: Long, n: Long): Double = if (n == 0) 1.0 else h.toDouble / n
        val line =
          f"""{"dir":"$dir","phase":"x22.2_recall","exact_pairs":$nExact,""" +
            f""""hits_all":$hitsAll,"recall_all":${rec(hitsAll, nExact)}%.4f,""" +
            f""""exact_hi09":$nHi,"hits_hi09":$hitsHi,""" +
            f""""recall_hi09":${rec(hitsHi, nHi)}%.4f}"""
        println(line); sb.append(line).append('\n')
        System.err.println(f"[probe] $dir%-26s x22.2_recall           " +
          f"all=${rec(hitsAll, nExact)}%.4f ($hitsAll/$nExact) " +
          f"hi09=${rec(hitsHi, nHi)}%.4f ($hitsHi/$nHi)")
        Seq(slice, exact, lshSlice, hi).foreach(_.unpersist(blocking = false))
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
        "/tmp/graft_scale_probe.json")),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
