package perfbench

import java.io.{OutputStream, PrintStream}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters read at a layer boundary; the difference of two
  * snapshots is the work done between them. `taskCount` and `jobCount`
  * are positions in the tracer's task and job logs, not amounts. */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long,
    cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long,
    compiles: Long, compileNs: Long,
    memoHits: Long, memoMisses: Long,
    taskCount: Int, jobCount: Int) {
  def -(o: Counters): Counters = combine(o, _ - _)
  def +(o: Counters): Counters = combine(o, _ + _)
  private def combine(o: Counters, f: (Long, Long) => Long) = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
    f(cpuNs, o.cpuNs), f(runMs, o.runMs), f(gcMs, o.gcMs),
    f(shuffleBytes, o.shuffleBytes), f(shuffleRecords, o.shuffleRecords),
    f(spillBytes, o.spillBytes),
    f(analysisMs, o.analysisMs), f(optimizationMs, o.optimizationMs),
    f(planningMs, o.planningMs), f(compiles, o.compiles), f(compileNs, o.compileNs),
    f(memoHits, o.memoHits), f(memoMisses, o.memoMisses),
    taskCount, jobCount)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The traced run's hooks, all public Spark surfaces registered from
  * outside the engine: one `SparkListener` (jobs, stages, task metrics),
  * one `QueryExecutionListener` (Catalyst phase times), the codegen
  * compile counters, and a counter of the engine's `[memo] … hit/miss`
  * stderr lines. [[close]] removes every hook. */
final class Tracer(spark: SparkSession) {
  private val jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleBytes, shuffleRecords, spillBytes,
      analysisMs, optimizationMs, planningMs, memoHits, memoMisses = new AtomicLong
  private val taskMs = ArrayBuffer.empty[Long]
  // (start, end) wall-clock ms of every finished job
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs.incrementAndGet(); jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime); runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(
          m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      if (e.taskInfo != null) synchronized { taskMs += e.taskInfo.duration }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizationMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
    }
  }

  private val stderr = System.err
  private val memoCounter = new PrintStream(new LineTap(stderr, line =>
    if (line.startsWith("[memo] ")) {
      if (line.contains(" hit key=")) memoHits.incrementAndGet()
      else if (line.contains(" miss key=")) memoMisses.incrementAndGet()
    }), true)
  private val listened = scala.collection.mutable.Set.empty[SparkSession]

  spark.sparkContext.addSparkListener(listener)
  System.setErr(memoCounter)

  /** Catalyst phase times arrive per session: register on each session a
    * pass uses (curation opens a fresh one per pass). */
  def watch(s: SparkSession): Unit = synchronized {
    if (listened.add(s)) s.listenerManager.register(qeListener)
  }

  /** Wait until the listener bus has delivered every posted event — the
    * same public-bytecode drain `graft.Bench.StageMetrics` uses. */
  def drain(): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }

  def snapshot(): Counters = {
    drain()
    System.err.flush()
    synchronized {
      Counters(jobs.get, stages.get, tasks.get, cpuNs.get, runMs.get, gcMs.get,
        shuffleBytes.get, shuffleRecords.get, spillBytes.get, analysisMs.get, optimizationMs.get,
        planningMs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime, memoHits.get, memoMisses.get,
        taskMs.size, jobSpans.size)
    }
  }

  /** Task durations (ms) of the tasks that ended between two snapshots. */
  def taskDurations(from: Counters, to: Counters): Seq[Long] =
    synchronized { taskMs.slice(from.taskCount, to.taskCount).toSeq }

  /** Wall ms inside [startMs, endMs] covered by at least one job. */
  def jobCoveredMs(from: Counters, to: Counters, startMs: Long, endMs: Long): Long = {
    val spans = synchronized { jobSpans.slice(from.jobCount, to.jobCount).toSeq }
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    spans.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) covered += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) covered += curE - curS
    covered
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    synchronized { listened.foreach(_.listenerManager.unregister(qeListener)) }
    System.err.flush()
    System.setErr(stderr)
  }
}

/** Forwards bytes to `out` and hands every complete line to `onLine`. */
final class LineTap(out: OutputStream, onLine: String => Unit) extends OutputStream {
  private val buf = new java.io.ByteArrayOutputStream
  override def write(b: Int): Unit = synchronized {
    out.write(b)
    if (b == '\n') { onLine(buf.toString("UTF-8")); buf.reset() } else buf.write(b)
  }
  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    synchronized { var i = off; while (i < off + len) { write(b(i).toInt); i += 1 } }
  override def flush(): Unit = out.flush()
}
