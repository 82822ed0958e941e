package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Ingest, StarSchemaWriter}
import graft.quality.DataQuality

/** One timed operation of a pass. `wallS` is what the end-to-end latency
  * metrics see when `query` is set; `ok` is false when it threw or its
  * output check failed. */
final case class Op(name: String, constructS: Double, materializeS: Double, ok: Boolean,
    query: Boolean = true) {
  def wallS: Double = constructS + materializeS
}

/** One pass: its operations and the layer times the workload measured
  * around its own calls (seconds unless the name says otherwise). */
final case class Pass(ops: Seq[Op], layers: Map[String, Double])

/** Per-op trace hook: `around(name)(body)` lets the traced run snapshot
  * counters at an operation boundary; the untraced run passes [[Hook.none]]. */
trait Hook { def around[T](name: String)(body: => T): T }
object Hook { val none: Hook = new Hook { def around[T](name: String)(body: => T): T = body } }

trait Workload {
  /** The set-up step before the first pass: repeated to time set-up. */
  def prepare(): Unit
  def pass(i: Int, hook: Hook): Pass
  /** Output rows per query, for the oracle compare made after the run. */
  def rowCounts: Map[String, Long] = Map.empty
}

object Clock {
  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime
    val r = body
    (r, (System.nanoTime - t) / 1e9)
  }
}

/** Row count and `bit_xor(xxhash64(all columns))` of a result: the same
  * hash-fold plan `graft.Bench.materialize` runs to force every output
  * column, kept here because that function discards the fold the output
  * check compares. */
object Fingerprint {
  def of(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => col(s"`$c`")).toIndexedSeq
    val r = df.select(xxhash64(cols: _*).as("__h"))
      .agg(count(lit(1)), expr("bit_xor(__h)")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** Shared by the two query workloads: each operation is one registry build
  * (construct, which may run eager jobs) plus one hash-fold
  * materialization; every fingerprint must equal the query's first one in
  * the run. */
abstract class QueryWorkload(spark: SparkSession, lakeDir: String) extends Workload {
  private val builds = SparkEntry.queries
  private val reference = mutable.Map.empty[String, (Long, Long)]

  /** Resolve every lake table's schema (reads the parquet footers). */
  def prepare(): Unit = graft.Tables.all.foreach { t =>
    if (t == "events") graft.Tables.events(spark, lakeDir).schema
    else graft.Tables.load(spark, lakeDir, t).schema
  }

  protected def runQuery(s: SparkSession, name: String, hook: Hook): Op =
    hook.around(name) {
      var constructS, materializeS = 0.0
      val ok = try {
        val (df, c) = hook.around(s"$name.construct")(Clock.time(builds(name)(s, lakeDir)))
        constructS = c
        val (fp, m) = Clock.time(Fingerprint.of(df))
        materializeS = m
        reference.getOrElseUpdate(name, fp) == fp
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          false
      }
      Op(name, constructS, materializeS, ok)
    }

  protected def layers(ops: Seq[Op]): Map[String, Double] = Map(
    "queries.construct_s" -> ops.map(_.constructS).sum,
    "queries.materialize_s" -> ops.map(_.materializeS).sum)

  override def rowCounts: Map[String, Long] = reference.map { case (k, v) => k -> v._1 }.toMap
}

/** One pass: the 30 `q*` star-schema queries in the engine's session,
  * then a cold curation pass of LLM-pipeline queries in dependency order,
  * in a fresh session so every session-keyed memo starts empty; in-pass
  * reuse (x8 -> x10, x28 -> x29) stays intact. One closed-loop client.
  * The order is fixed: on a fresh engine a query's position decides how
  * much class loading and JIT it pays. */
final class LakeQueries(spark: SparkSession, lakeDir: String, onSession: SparkSession => Unit)
    extends QueryWorkload(spark, lakeDir) {
  private val star = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted

  def pass(i: Int, hook: Hook): Pass = {
    val starOps = star.map(runQuery(spark, _, hook))
    val s = spark.newSession()
    onSession(s)
    val curationOps = try Curation.names.map(runQuery(s, _, hook))
      finally spark.catalog.clearCache()
    val ops = starOps ++ curationOps
    Pass(ops, layers(ops) ++ Map(
      "queries.star_s" -> starOps.map(_.wallS).sum,
      "queries.curation_s" -> curationOps.map(_.wallS).sum))
  }
}

object Curation {
  val prefixes: Seq[String] =
    Seq("x8", "x10", "x28", "x29", "x211")
  lazy val names: Seq[String] = prefixes.map { p =>
    SparkEntry.queries.keys.find(_.startsWith(p + "_"))
      .getOrElse(sys.error(s"no registered query named $p"))
  }
}

/** The paper's monthly pipeline: stage the month and write the star
  * schema (the two public calls `StarSchemaWriter.runElt` makes), then
  * the extended quality gate one check at a time plus the schema suite.
  * The checks are the pass's timed queries. */
final class EltMonth(spark: SparkSession, monthDir: String, workDir: String, trips: Long)
    extends Workload {
  private val inputBytes = Files.bytes(new File(monthDir))

  def prepare(): Unit = Ingest.stageAll(spark, monthDir)

  def pass(i: Int, hook: Hook): Pass = {
    val out = s"$workDir/elt-$i"
    try {
      val (staging, stageS) = hook.around("etl.stage")(Clock.time(Ingest.stageAll(spark, monthDir)))
      val (_, writeS) = hook.around("etl.write")(Clock.time(
        StarSchemaWriter.writeAll(spark, staging, out, idempotent = true)))
      val checks = DataQuality.extendedSuite.map { c =>
        val name = s"${c.checkType}.${c.tableName}"
        val (ok, s) = hook.around("quality")(Clock.time(guard(name)(
          DataQuality.validate(spark, out, Seq(c)))))
        Op(name, 0.0, s, ok)
      }
      val (schemaOk, schemaS) = hook.around("quality")(Clock.time(guard("schema")(
        DataQuality.schemaSuite(spark, out))))
      val files = Files.list(new File(out)).filter(_.getName.endsWith(".parquet"))
      val written = files.map(_.length).sum
      // output check, outside the timed calls: one fact row per trip
      val factRows = spark.read.parquet(s"$out/bikeshare_fact_table.parquet").count()
      val factOk = factRows == trips
      if (!factOk) System.err.println(s"[perfbench] fact rows $factRows != trips $trips")
      val ops = Op("etl.stage", 0.0, stageS, true, query = false) +:
        Op("etl.write", 0.0, writeS, factOk, query = false) +:
        (checks :+ Op("quality.schema", 0.0, schemaS, schemaOk))
      Pass(ops, Map(
        "etl.stage_s" -> stageS, "etl.write_s" -> writeS,
        "etl.files_written" -> files.size.toDouble, "etl.bytes_written" -> written.toDouble,
        "etl.stored_bytes_per_input_byte" -> written.toDouble / inputBytes,
        "quality.validate_s" -> checks.map(_.wallS).sum, "quality.schema_s" -> schemaS))
    } finally Files.delete(new File(out))
  }

  private def guard(name: String)(body: => Unit): Boolean =
    try { body; true } catch {
      case e: Throwable => System.err.println(s"[perfbench] $name failed: $e"); false
    }
}

object Files {
  def list(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(list) else Seq(f)
  def bytes(f: File): Long = list(f).map(_.length).sum
  def delete(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
