package graft

import org.apache.spark.sql.functions._

/** SemDeDup clamp-boundary rehearsal (r14 verdict #1's measured leg):
  * CPU-per-vector for the [[graft.ops.Dedup.AutoK]] production default
  * ACROSS [[graft.ops.Dedup.MaxAutoK]], where the resolution switches
  * from flat Lloyd (plan-literal centroids) to the two-level path
  * ([[graft.ops.Dedup.semanticClusterDedupTwoLevel]]). Before r15 the
  * path past the clamp didn't exist — `kForCorpus` silently clamped
  * and the Σ|cluster|² quadratic resumed at n²/256; the OpsSpec pins
  * the algebra (flat ≡ two-level at k₁=1, AutoK ≡ explicit levels),
  * and THIS run pins the asymptotics: CPU-per-vector at a corpus just
  * past the boundary should sit ≈ the just-below point (both ≈
  * corpus × targetCluster pair work), not jump.
  *
  * Corpora are embeddings-only ScaleData derivations (deterministic
  * hash replication — [[ScaleData.scaleEmbeddings]]'s 30/30/40
  * copy/near/novel mix) of the sf0.1 embeddings (2 000 vectors):
  * ×1 = FlatK(2), ×100 = 200k = FlatK(200) (just below the 256k
  * boundary at the default target), ×150 = 300k = TwoLevelK(18, 17)
  * (just above). Docs/events are never generated — the documents-side
  * tables are irrelevant to this operator and dominate ScaleData's
  * write cost.
  *
  * Usage: sbt "runMain graft.ClampRehearsal [factor ...]"
  *   (default: 1 100 150; source /root/testdata/sf0.1)
  * Output: one JSON row per corpus; archive at
  * SPARK_GRAFT_CLAMP_OUT (default /tmp/graft_clamp_rehearsal.json).
  */
object ClampRehearsal {

  def main(args: Array[String]): Unit = {
    val factors: Seq[Int] =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 100, 150)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_CLAMP_SRC", "/root/testdata/sf0.1")
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    val sm = new Bench.StageMetrics(spark)
    val sb = new StringBuilder
    try {
      // untimed JIT/codegen warmup on the tiny sf0.01 corpus
      try graft.ops.Dedup.semanticClusterDedup(
        Tables.embeddings(spark, "/root/testdata/sf0.01"),
        "vec_id", "embedding").count()
      catch { case t: Throwable =>
        System.err.println(s"[clamp] warmup: ${t.getMessage}") }
      BoundedMemo.clearAll()
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
        val plan = graft.ops.Dedup.clusterPlanFor(n)
        BoundedMemo.clearAll()
        sm.reset()
        val t0 = System.nanoTime()
        val survivors = graft.ops.Dedup.semanticClusterDedup(
          emb, "vec_id", "embedding").count()
        val wall = (System.nanoTime() - t0) / 1e9
        sm.drain()
        val cpu = sm.cpuNs.sum / 1e9
        val line =
          f"""{"factor":$factor,"n":$n,"plan":"$plan",""" +
            f""""survivors":$survivors,"wall":$wall%.1f,"cpu":$cpu%.1f,""" +
            f""""shuffle_mb":${sm.shufBytes / 1e6}%.1f,""" +
            f""""cpu_per_kvec":${cpu * 1000 / n}%.3f}"""
        println(line); sb.append(line).append('\n')
        System.err.println(f"[clamp] x$factor%-4d n=$n%8d $plan%-18s " +
          f"survivors=$survivors%8d wall=$wall%7.1f cpu=$cpu%8.1f " +
          f"cpu/kvec=${cpu * 1000 / n}%7.3f")
      }
    } finally sm.remove()
    val out = sys.env.getOrElse("SPARK_GRAFT_CLAMP_OUT",
      "/tmp/graft_clamp_rehearsal.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[clamp] archived to $out")
    spark.stop()
  }
}
