package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Stable session identity for memo keys.
  *
  * `System.identityHashCode` is NOT unique across a JVM's lifetime —
  * a collision would hand a caller a memoized DataFrame bound to
  * another (possibly stopped) session — so memo keys use the classic
  * session's UUID, and any other session implementation is refused
  * loudly instead of keyed by a collision-prone fallback.
  */
object SessionKeys {
  // sessionUUID is private[sql] in the Scala signature but public in
  // bytecode — same one-line bridge pattern as ColumnBridge
  private val uuidMethod =
    classOf[org.apache.spark.sql.classic.SparkSession].getMethod("sessionUUID")

  def of(s: SparkSession): String = s match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      uuidMethod.invoke(c).asInstanceOf[String]
    case other => throw new IllegalArgumentException(
      s"memo keys need a classic SparkSession, got ${other.getClass.getName}")
  }
}

/** Stable INPUT identity for memo keys: canonical plan + file identity.
  *
  * `semanticHash()` is 32 bits: a session that memoizes many distinct
  * input plans walks into birthday-collision territory, and a
  * collision here doesn't crash — it silently serves another plan's
  * cached cluster labels / pair table / trained model. A 128-bit
  * digest of the canonicalized plan string makes that probability
  * negligible while staying cheap (one SHA-256 over a plan string per
  * memo lookup; canonicalization normalizes expression ids, so
  * semantically-equal plans still share a key).
  *
  * The plan STRING alone is not enough:
  *  - a `LocalRelation` prints only its output attributes, so two
  *    literal frames with the same schema but different rows
  *    stringify identically — each local relation's rows and the
  *    plan's `semanticHash` (a case-class hash, which DOES see the
  *    rows) are folded in;
  *  - a file scan prints its root path, not its contents, so an
  *    overwrite or append under the same path would serve the old
  *    artifact — the path, length and modification time of every
  *    file in the scan's index listing are folded in. The listing is
  *    the one the index already holds from analysis: no new listing.
  */
object PlanKeys {
  def of(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val plan = df.queryExecution.analyzed.canonicalized
    md.update(plan.toString.getBytes(UTF_8))
    md.update(java.nio.ByteBuffer.allocate(4).putInt(plan.hashCode()).array())
    plan.foreach {
      case lr: LocalRelation =>
        lr.data.foreach(row => md.update(row.toString.getBytes(UTF_8)))
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location match {
        case idx: PartitioningAwareFileIndex =>
          idx.allFiles().foreach(f => md.update(fileLine(f).getBytes(UTF_8)))
        case _ => ()
      }
      case _ => ()
    }
    hex(md)
  }

  /** One file's identity: path, length and modification time, one
    * line. Every key that depends on file contents folds these lines
    * in, so an overwrite or append under the same path changes it. */
  private[graft] def fileLine(f: FileStatus): String =
    s"${f.getPath}|${f.getLen}|${f.getModificationTime}\n"

  /** The first 128 bits of a digest, as hex. */
  private[graft] def hex(md: MessageDigest): String =
    md.digest().take(16).map(b => f"$b%02x").mkString

  /** The (session, input) prefix every frame-keyed memo key starts with. */
  def scoped(df: DataFrame): (String, String) = (SessionKeys.of(df.sparkSession), of(df))
}

/** The one parquet reader for stable tables ([[Tables.load]] and the
  * quality gate): a path's schema is inferred once per file identity.
  *
  * A bare `spark.read.parquet(path)` runs a one-task schema-inference
  * job on every call, even over a single file (Spark's
  * `mergeSchemasInParallel` parallelizes the footer reads), and the
  * star queries and the quality checks re-read the same tables many
  * times a pass. A hit hands the memoized schema to
  * `spark.read.schema(...)`, which lists the files but infers nothing.
  *
  * Key: the qualified path, plus a digest of every file under it
  * ([[PlanKeys.fileLine]]) and of the session's explicitly set confs
  * that change what inference returns. A schema depends on nothing
  * else, so the key names no session: every session that reads the
  * same files under the same confs shares one entry, and an overwrite
  * or append changes the key, so the next read re-infers with no clear.
  *
  * The listing is a recursive `listStatus` walk. Hadoop's located
  * listings build a `LocatedFileStatus` per file, which on the local
  * file system loads each file's owner and permissions: on the
  * 130-partition user dim that measured 770-880 ms a call against
  * 11-19 ms for the walk.
  *
  * A miss returns the very frame that did the inference: resolving the
  * path a second time would list a partitioned table twice. A path
  * with no files to identify (missing, empty directory, glob) goes
  * straight to `spark.read.parquet`, and a failed inference propagates
  * from the build, so every failing read throws exactly as a plain one
  * does and stores nothing.
  */
object ParquetReader {
  private[graft] val memo =
    new BoundedMemo[(String, String), StructType](256, "parquet-schema")

  def read(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = walk(fs, root)
    if (files.isEmpty) spark.read.parquet(path)
    else {
      var inferred: Option[DataFrame] = None
      val schema = memo.getOrBuild(key(spark, fs.makeQualified(root), files)) {
        val df = spark.read.parquet(path)
        inferred = Some(df)
        df.schema
      }
      inferred.getOrElse(spark.read.schema(schema).parquet(path))
    }
  }

  private def walk(fs: FileSystem, p: Path): Seq[FileStatus] =
    (try fs.listStatus(p).toSeq catch { case _: FileNotFoundException => Nil })
      .flatMap(f => if (f.isDirectory) walk(fs, f.getPath) else Seq(f))

  // the confs that decide what parquet schema inference returns: the
  // reader's own, nanos/INT96 handling, name case, and partition
  // column typing (a hit pins the partition types it memoized)
  private def schemaConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive" ||
      k == "spark.sql.sources.partitionColumnTypeInference.enabled"

  private def key(spark: SparkSession, root: Path, files: Seq[FileStatus]): (String, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    files.map(PlanKeys.fileLine).sorted.foreach(l => md.update(l.getBytes(UTF_8)))
    spark.conf.getAll.filter { case (k, _) => schemaConf(k) }.toSeq.sorted.foreach {
      case (k, v) => md.update(s"$k=$v\n".getBytes(UTF_8))
    }
    (root.toString, PlanKeys.hex(md))
  }
}

/** Tiny synchronized LRU memo — the one cache layer every per-session
  * built artifact in this engine goes through (candidate pair tables,
  * IVF indexes, trained models, settled streams, corpus counts).
  * Bounded so a long-lived session can't pin artifacts forever.
  *
  * Release hooks are declared once, here: `onEvict` releases a value
  * that aged out or lost a build race (for a persisted frame, a
  * non-blocking unpersist is safe — Spark recomputes from lineage for
  * any caller still holding the evicted value); `onClear` releases
  * each value on [[BoundedMemo.clearAll]]. A failing hook is reported
  * as a `[memo] <name> release-failed key=…` line, never swallowed.
  *
  * Every memo registers itself on construction, so
  * [[BoundedMemo.clearAll]] resets all of them with no roster to keep.
  */
final class BoundedMemo[K, V](capacity: Int, name: String,
    onEvict: V => Unit = (_: V) => (), onClear: V => Unit = (_: V) => ()) {
  private val map = new java.util.LinkedHashMap[K, V](capacity, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = size() > capacity
      if (evict) {
        System.err.println(s"[memo] $name evict key=${e.getKey}")
        release(onEvict, e.getKey, e.getValue)
      }
      evict
    }
  }
  BoundedMemo.register(this)

  // one stderr line per lookup: the cheapest possible answer to "did
  // the bench's x8→x10 / x17→x33 reuse actually hit?" (a silent miss
  // rebuilds a persisted corpus-scale artifact per query)
  private def trace(outcome: String, key: K): Unit =
    System.err.println(s"[memo] $name $outcome key=$key")

  private def release(hook: V => Unit, key: K, v: V): Unit =
    try hook(v) catch {
      case NonFatal(e) => System.err.println(s"[memo] $name release-failed key=$key: $e")
    }

  /** The value memoized for `key`, building it on a miss.
    *
    * `build` runs OUTSIDE the memo lock: builds run Spark jobs
    * (counts, collects, streams, iterative propagation), and holding
    * the monitor through one would serialize every unrelated build.
    * Two threads missing the same key may therefore both build; the
    * first to store wins, both callers get the winner, and the losing
    * build is released with `onEvict` — a persisted loser otherwise
    * stays pinned in the session CacheManager, a loser stream's
    * memory sink on the driver. */
  def getOrBuild(key: K)(build: => V): V = {
    val hit = synchronized {
      val v = Option(map.get(key))
      trace(if (v.isDefined) "hit" else "miss", key)
      v
    }
    hit.getOrElse {
      val built = build
      val (winner, stored) = synchronized {
        Option(map.get(key)) match {
          case Some(w) => (w, false)
          case None => map.put(key, built); (built, true)
        }
      }
      if (!stored) release(onEvict, key, built)
      winner
    }
  }

  private[graft] def size: Int = synchronized(map.size())

  private def clear(): Unit = {
    val entries = synchronized {
      val es = map.entrySet().asScala.map(e => (e.getKey, e.getValue)).toList
      map.clear()
      es
    }
    entries.foreach { case (k, v) => release(onClear, k, v) }
  }
}

object BoundedMemo {
  // weak: a memo that is no longer reachable has nothing left to reset
  private val registry = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[BoundedMemo[_, _], java.lang.Boolean]())

  private def register(m: BoundedMemo[_, _]): Unit = registry.synchronized(registry.add(m))

  /** Empty every memo in the JVM, releasing each value with its memo's
    * `onClear` — the one reset between timed cells and after a
    * suite, so the next cell starts cold. */
  def clearAll(): Unit =
    registry.synchronized(registry.asScala.toList).foreach(_.clear())
}

/** Session-scoped memo of corpus row counts keyed by
  * (session, input) — the shared resolution step for every
  * auto-sizing sentinel ([[graft.ops.Dedup.AutoBits]]/[[graft.ops.Dedup.AutoK]]/
  * [[graft.ops.Similarity.AutoLists]]). The r14 advice: each sentinel
  * resolution ran a `df.count()` BEFORE its family's memo lookup, so
  * the pair-table/index memos absorbed repeats of the build but never
  * the count — and the count is metadata-fast only on a plain parquet
  * scan; a derived frame (filters, projections, joins upstream) pays
  * a full job per call. Counts are 8 bytes, so memoizing them is free
  * and makes repeated auto-sized calls over the same frame one job
  * total. */
object CorpusCounts {
  private val memo = new BoundedMemo[(String, String), Long](64, "corpus-count")

  /** The frame's row count (min 1 — sizing formulas log/divide by it). */
  def of(df: DataFrame): Long =
    memo.getOrBuild(PlanKeys.scoped(df))(math.max(1L, df.count()))
}
