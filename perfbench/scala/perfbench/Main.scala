package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of one benchmark run. Sets up a `local[4]` session, repeats
  * the workload's set-up step, then runs passes for `--seconds` on the
  * fresh engine, as a scheduled batch job meets it. The first pass is the
  * reference for every output fingerprint. With `--trace 1` every pass
  * is traced. Writes the raw timings and per-pass layer values as JSON to
  * `--out`; `run.py` turns them into metrics.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1
  *   --lake DIR --month DIR --trips N --work DIR --out FILE
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis - jvmStart) / 1000.0
    val bootS = sinceStart

    var tracer: Option[Tracer] = None
    val workload: Workload = opt("workload") match {
      case "elt_month" => new EltMonth(spark, opt("month"), work, opt("trips").toLong)
      case "lake_queries" => new LakeQueries(spark, opt("lake"), s => tracer.foreach(_.watch(s)))
      case other => sys.error(s"unknown workload $other")
    }
    val prepareS = Seq.fill(SetupRepeats)(Clock.time(workload.prepare())._2)
    // (wall seconds, pass). A pass starts only while the last one's wall
    // says it will end within --seconds; the first always runs.
    val passes = mutable.ArrayBuffer.empty[(Double, Pass)]
    val readyS = sinceStart
    val t0 = System.nanoTime
    while (passes.isEmpty || (System.nanoTime - t0) / 1e9 + passes.last._1 <= seconds) {
      passes += (if (!traced) {
        val (p, s) = Clock.time(workload.pass(passes.size, Hook.none))
        (s, p)
      } else {
        val t = new Tracer(spark)
        tracer = Some(t)
        t.watch(spark)
        try tracedPass(spark, t, workload, passes.size) finally { t.close(); tracer = None }
      })
    }

    val json = Json.obj(
      "boot_s" -> bootS, "prepare_s" -> prepareS, "ready_s" -> readyS,
      "passes" -> passes.map { case (wall, p) => Json.obj(
        "wall_s" -> wall,
        "ops" -> p.ops.map(o => Json.obj("name" -> o.name, "wall_s" -> o.wallS,
          "ok" -> o.ok, "query" -> o.query)),
        "layers" -> p.layers) },
      "rows" -> workload.rowCounts,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (k, _) =>
        workload.rowCounts.contains(k) })
    JFiles.write(new File(opt("out")).toPath, json.text.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** One pass with the tracer's counters read at the pass and operation
    * boundaries; the per-pass layer values join the workload's own. */
  private def tracedPass(spark: SparkSession, t: Tracer, w: Workload, i: Int)
      : (Double, Pass) = {
    val perOp = mutable.Map.empty[String, Counters].withDefaultValue(Counters.zero)
    val hook = new Hook {
      def around[T](name: String)(body: => T): T = {
        val a = t.snapshot()
        try body finally { val d = t.snapshot() - a; perOp(name) = perOp(name) + d }
      }
    }
    val before = t.snapshot()
    val startMs = System.currentTimeMillis
    val (p, wall) = Clock.time(w.pass(i, hook))
    val endMs = System.currentTimeMillis
    val after = t.snapshot()
    val d = after - before
    val opWall = p.ops.map(_.wallS).sum
    val covered = t.jobCoveredMs(before, after, startMs, endMs) / 1000.0
    val durations = t.taskDurations(before, after).sorted
    val medTask = if (durations.isEmpty) 0L else durations(durations.size / 2)
    val lookups = d.memoHits + d.memoMisses
    val retainedBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val layers = mutable.Map[String, Double](
      "sched.jobs" -> d.jobs, "sched.stages" -> d.stages, "sched.tasks" -> d.tasks,
      "sched.driver_gap_s" -> math.max(0.0, opWall - covered),
      "exec.cpu_s" -> d.cpuNs / 1e9, "exec.task_s" -> d.runMs / 1e3,
      "exec.gc_s" -> d.gcMs / 1e3, "exec.shuffle_mb" -> d.shuffleBytes / 1e6,
      "exec.shuffle_records" -> d.shuffleRecords,
      "exec.spill_mb" -> d.spillBytes / 1e6,
      "exec.max_task_over_median" ->
        (if (medTask > 0) durations.last.toDouble / medTask else 0.0),
      "plan.analysis_s" -> d.analysisMs / 1e3, "plan.optimization_s" -> d.optimizationMs / 1e3,
      "plan.planning_s" -> d.planningMs / 1e3,
      "codegen.compiles" -> d.compiles, "codegen.compile_s" -> d.compileNs / 1e9,
      "memo.hits" -> d.memoHits, "memo.misses" -> d.memoMisses,
      "memo.hit_ratio" -> (if (lookups > 0) d.memoHits.toDouble / lookups else 0.0),
      "mem.retained_mb" -> retainedBytes / 1e6,
      "queries.eager_jobs" ->
        perOp.collect { case (k, c) if k.endsWith(".construct") => c.jobs }.sum,
      "quality.jobs" -> perOp("quality").jobs)
    p.ops.filter(o => Curation.names.contains(o.name)).foreach { o =>
      val c = perOp(o.name)
      layers(s"q.${o.name}.construct_s") = o.constructS
      layers(s"q.${o.name}.materialize_s") = o.materializeS
      layers(s"q.${o.name}.cpu_s") = c.cpuNs / 1e9
      layers(s"q.${o.name}.stages") = c.stages
    }
    (wall, p.copy(layers = p.layers ++ layers))
  }
}

/** Just enough JSON output for numbers, booleans, strings, sequences and
  * string-keyed maps. */
object Json {
  final case class Raw(text: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(text) => text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
