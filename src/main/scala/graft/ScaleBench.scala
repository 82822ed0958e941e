package graft

import org.apache.spark.sql.SparkSession

/** Scale rehearsal runner (r12 verdict #1): times the scale-path
  * query families once per corpus directory — the stock sf0.1 plus
  * the [[ScaleData]]-derived ×3/×10 corpora — and reports wall / CPU
  * / shuffle scaling ratios per family, plus the cap-engagement
  * counters [[graft.ops.Dedup.cappedBucketPairs]] publishes as
  * CollectMetrics observations. This converts the "would this hold
  * at 1000× the data" claims from plan-shape argument to
  * measurement: a linear-shaped family should scale ≈ the corpus
  * factor; anything superlinear is a named fix, not a footnote.
  *
  * Methodology notes (the r5–r12 bench lessons applied):
  *  - one untimed JIT/codegen warmup pass runs the SAME families at
  *    sf0.01 — a dir deliberately NOT among the timed ones, so no
  *    timed dir starts memo-warm while another starts cold;
  *  - family order is FIXED across dirs and every memo resets
  *    between dirs ([[BoundedMemo.clearAll]]): every dir's pass does the same
  *    cold/warm work, so cross-dir ratios compare corpus size, not
  *    cache luck;
  *  - the machine-speed calibration workload brackets the whole run
  *    (divide-by-calib before reading ratios across sessions).
  *
  * Usage: sbt "runMain graft.ScaleBench [dir ...]"
  *   (default: /root/testdata/sf0.1 /tmp/graft_scale/x3 /tmp/graft_scale/x10)
  * Output: one JSON line per (dir, family) + a ratio table on stderr;
  * the full JSON archive lands in /tmp/graft_scale_rehearsal.json.
  */
object ScaleBench {

  /** The scale-path families the r12 verdict names, in fixed order
    * (x22 added r14: the r13 verdict pairs it with x34 — same banded
    * kernel, its own memo key, so its row is marginal like the rest). */
  val Families: Seq[String] = Seq(
    "x42_text_dedup_fuzzy",      // banded minhash + Jaccard verify + CC
    "x34_semantic_dedup_lsh",    // embedding LSH bands + CC + anti-join
    "x22_embedding_near_dup",    // the pair stage alone at threshold 0.4
    "x99_cluster_split_lsh",     // LSH cluster split
    "x33_batch_topk_ivf",        // IVF ANN probe
    "x64_ivfpq_topk",            // IVF-PQ ADC probe
    "x161_prefix_filter_join",   // exact set-similarity prefix filter
    "x198_anchor_window_removal",// shift-robust anchored span removal
    "x199_anchor_doc_dedup",     // anchored doc-level keep-first
    "x77_token_budget",          // per-group budget window
    "x93_source_cap")            // per-source WindowGroupLimit cap

  case class Obs(buckets: Long, capped: Long, maxBucket: Long)

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale/x3",
        "/tmp/graft_scale/x10")
    // family filter (mirrors ScaleProbe): a ×30 rehearsal point only
    // needs the quadratic-adjacent families — the rest are measured
    // linear at ×10 and would burn an hour of CPU re-proving it
    val famFilter: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_FAMILIES")
        .map(_.split(",").map(_.trim).toSet)
    // a typo'd family name would otherwise silently yield a run with
    // ONLY the calib line — an artifact easily mistaken for a valid
    // rehearsal (r14 advice)
    famFilter.foreach { fs =>
      val unknown = fs.diff(Families.toSet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_FAMILIES entries not in ScaleBench.Families: " +
          s"${unknown.mkString(",")} (known: ${Families.mkString(",")})")
    }
    val active = Families.filter(f => famFilter.forall(_.contains(f)))
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")

    // stage metrics: the shared Bench harness (one listener + drain
    // implementation across Bench/ScaleBench/ScaleProbe)
    val sm = new Bench.StageMetrics(spark)
    // cap-engagement harvest: cappedBucketPairs publishes
    // (buckets, capped_buckets, max_bucket) per executed stats
    // aggregate; sum/max them per query
    val obsBuckets = new java.util.concurrent.atomic.LongAdder
    val obsCapped = new java.util.concurrent.atomic.LongAdder
    val obsMax = new java.util.concurrent.atomic.AtomicLong(0L)
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.capped_buckets.")) {
            obsBuckets.add(row.getAs[Long]("buckets"))
            obsCapped.add(row.getAs[Long]("capped_buckets"))
            obsMax.updateAndGet(m => math.max(m, row.getAs[Long]("max_bucket")))
          }
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)

    case class Run(dir: String, family: String, wall: Double, cpu: Double,
        shuffleMb: Double, nStages: Long, obs: Obs, failed: Boolean)
    // SPARK_GRAFT_SCALE_REPS > 1 (r17 verdict #2 / the r16 rehearsal
    // rule): each (dir, family) cell is the CPU-median of `reps`
    // executions with memos cleared before every re-run — a
    // single-shot cell on a contended VM read 2.3× its re-measured
    // value. Rep 0 of a family may still hit a predecessor family's
    // memo (the in-dir sharing the obs_note describes); cleared reps
    // are marginal-cold, and the median lands on a cold cell.
    val reps = sys.env.get("SPARK_GRAFT_SCALE_REPS").map(_.toInt).getOrElse(1)
    require(reps >= 1, s"SPARK_GRAFT_SCALE_REPS must be >= 1, got $reps")
    def runOnce(dir: String, family: String): Run = {
      sm.reset()
      obsBuckets.reset(); obsCapped.reset(); obsMax.set(0L)
      val t0 = System.nanoTime()
      var failed = false
      try Bench.materialize(family, SparkEntry.queries(family)(spark, dir))
      catch {
        case t: Throwable =>
          failed = true
          System.err.println(s"[scalebench] $family @ $dir FAILED: " +
            s"${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      sm.drain()
      Run(dir, family, wall, sm.cpuNs.sum / 1e9, sm.shufBytes.sum / 1e6,
        sm.stages.sum, Obs(obsBuckets.sum, obsCapped.sum, obsMax.get), failed)
    }
    def runOne(dir: String, family: String): Run = {
      val cells = (0 until reps).map { i =>
        if (i > 0) BoundedMemo.clearAll()
        runOnce(dir, family)
      }
      cells.sortBy(_.cpu).apply(cells.length / 2)
    }

    // JIT/codegen warmup on a NON-timed dir (see scaladoc)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_WARM_DIR",
      "/root/testdata/sf0.01")
    System.err.println(s"[scalebench] warmup pass at $warmDir (untimed)")
    active.foreach { f =>
      try Bench.materialize(f, SparkEntry.queries(f)(spark, warmDir))
      catch { case t: Throwable =>
        System.err.println(s"[scalebench] warmup $f: ${t.getMessage}") }
    }
    BoundedMemo.clearAll()

    Bench.calibWorkload(spark); sm.drain() // untimed calib JIT
    def calib(): Double = {
      val t0 = System.nanoTime(); Bench.calibWorkload(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val calibPre = calib()
    val runs = dirs.flatMap { dir =>
      System.err.println(s"[scalebench] timed pass at $dir")
      BoundedMemo.clearAll()
      active.map { f =>
        val r = runOne(dir, f)
        System.err.println(f"[scalebench] ${r.family}%-28s @ $dir%-28s " +
          f"wall=${r.wall}%7.2f cpu=${r.cpu}%8.2f shuffle=${r.shuffleMb}%8.1f MB " +
          f"stages=${r.nStages}%4d capped=${r.obs.capped}/${r.obs.buckets} " +
          f"maxBucket=${r.obs.maxBucket}")
        r
      }
    }
    val calibPost = calib()

    def j(r: Run): String =
      s"""{"dir":"${r.dir}","family":"${r.family}","wall":${f3(r.wall)},""" +
        s""""cpu":${f3(r.cpu)},"shuffle_mb":${f3(r.shuffleMb)},""" +
        s""""stages":${r.nStages},"buckets":${r.obs.buckets},""" +
        s""""capped_buckets":${r.obs.capped},"max_bucket":${r.obs.maxBucket},""" +
        s""""failed":${r.failed}}"""
    val lines = runs.map(j) :+
      // obs_note (r13 advice): CollectMetrics fire on the query whose
      // action FIRST executes the observed aggregate; once a pair
      // table is memoized/persisted, later families reading the
      // InMemoryTableScan re-fire nothing, so within a dir the
      // per-family capped/buckets counters under-report for
      // memo-sharing families under-report within a dir (r17: x99 now
      // pairs over the 2-replica union at 0.95 — its own memo key
      // here, since this list doesn't run x201's shape)
      s"""{"calib_wall":[${f3(calibPre)},${f3(calibPost)}],"dirs":${dirs.map("\"" + _ + "\"").mkString("[", ",", "]")},"obs_note":"capped/buckets attribute to the first family that executes the observed aggregate; memo-sharing families under-report within a dir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "/tmp/graft_scale_rehearsal.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[scalebench] archived to $out")

    // ratio table vs the first (base) dir
    val base = runs.filter(_.dir == dirs.head).map(r => r.family -> r).toMap
    System.err.println(
      f"\n${"family"}%-28s${"dir"}%-24s${"wall_x"}%8s${"cpu_x"}%8s${"shuf_x"}%8s")
    dirs.drop(1).foreach { dir =>
      runs.filter(_.dir == dir).foreach { r =>
        val b = base(r.family)
        def ratio(x: Double, y: Double) = if (y > 0) x / y else Double.NaN
        System.err.println(f"${r.family}%-28s$dir%-24s" +
          f"${ratio(r.wall, b.wall)}%8.2f${ratio(r.cpu, b.cpu)}%8.2f" +
          f"${ratio(r.shuffleMb, b.shuffleMb)}%8.2f")
      }
    }
    System.err.println(f"calib_wall pre=$calibPre%.3f post=$calibPost%.3f " +
      "(a pre-vs-post gap means in-run contention; divide walls by calib " +
      "before cross-session comparison)")
    spark.stop()
  }

  private def f3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
