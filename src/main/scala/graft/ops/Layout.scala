package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators: how rows are ARRANGED across files decides
  * how much of a 100 TB table a filtered scan has to read. Parquet
  * keeps min/max statistics per file and row group; a scan with a
  * predicate skips any unit whose range excludes the value — but only
  * if the layout made those ranges narrow. Sorting clusters one
  * column perfectly and leaves every other column's per-file range at
  * ~the global range; Z-ORDERING (Morton curve) interleaves the bits
  * of several columns into one sort key so every participating
  * column's per-file range shrinks like N^(1/d) — the standard
  * multi-dimensional clustering trade (one column's perfect locality
  * traded for useful locality on all of them).
  *
  * Cost model: one range-partitioning shuffle + in-partition sort,
  * paid once at write time, amortized over every future pruned scan —
  * the same economics as Spark's `bucketBy` layout, but aimed at
  * RANGE predicates instead of join co-location.
  */
object Layout {

  /** Blue/green guard shared by every compaction/rewrite entry point:
    * refuse `outDir` naming the same directory as `inDir` (an
    * in-place rewrite overwrites the files the rewrite is still
    * reading). Both paths are qualified through the SAME Hadoop
    * FileSystem (`fs.makeQualified`) so scheme-equivalent forms of
    * one directory (`file:/x` vs `/x`, default-FS-relative vs
    * absolute URIs) are recognized as equal — java.io.File string
    * canonicalization alone reported those different and let a
    * read-under-overwrite through (r19 advisor). The local File
    * comparison is KEPT as a second check (OR, refusal-is-safe
    * direction): it resolves `..` segments and symlinks, which
    * Hadoop Path normalization does not. */
  private[graft] def requireFreshRoot(
      spark: SparkSession,
      inDir: String, outDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def q(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p)
    }
    val sameQualified = q(outDir) == q(inDir)
    val sameLocal =
      try new java.io.File(outDir).getCanonicalPath ==
        new java.io.File(inDir).getCanonicalPath
      catch { case _: java.io.IOException => false }
    require(!sameQualified && !sameLocal,
      s"rewrite must target a fresh directory (blue/green): '$outDir' " +
        s"resolves to the same location as '$inDir' and an in-place " +
        "rewrite would overwrite the files it is reading")
  }

  /** Write a persisted store's one-row `meta` sidecar under `path`:
    * the sizing parameters (`names`, in `row`'s order) a store was
    * WRITTEN with, so every later load, append and probe resolves
    * them from the store instead of from its caller. */
  private[graft] def writeMeta[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, path: String, row: T, names: String*): Unit =
    spark.createDataFrame(Seq(row)).toDF(names: _*)
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")

  /** Read a store's [[writeMeta]] sidecar — eagerly, and loudly: a
    * sidecar with zero or several rows (a partial or mixed write)
    * would size every later probe from an arbitrary or missing row. */
  private[graft] def readMeta(spark: SparkSession, path: String): Row = {
    val m = spark.read.parquet(s"$path/meta").collect()
    require(m.length == 1,
      s"store meta at $path/meta must be one row, got ${m.length}")
    m(0)
  }

  /** The blue/green rewrite every persisted store's compaction and
    * erasure share: refuse an in-place target ([[requireFreshRoot]]),
    * `rewrite` the store's `data` tree from `path/data` into
    * `outPath/data`, then copy the `sidecar` tree (the one-row meta,
    * the IVF centroids) verbatim — a rewrite never re-sizes or
    * re-centres; that is a rebuild. The caller reloads its handle from
    * `outPath`. */
  private[graft] def rewriteStore(spark: SparkSession, path: String,
      outPath: String, data: String, sidecar: Option[String] = Some("meta"))(
      rewrite: (String, String) => Unit): Unit = {
    requireFreshRoot(spark, path, outPath)
    rewrite(s"$path/$data", s"$outPath/$data")
    sidecar.foreach(s => spark.read.parquet(s"$path/$s").repartition(1)
      .write.mode("overwrite").parquet(s"$outPath/$s"))
  }

  /** Morton (Z-curve) value: interleaves the low `bits` bits of each
    * column, LSB-aligned — bit j of column i lands at position
    * j*d + i, so dimensions alternate bit-for-bit and the resulting
    * long sorts in Z-order. Columns must be non-negative integers
    * (cast to long internally); values ≥ 2^bits are clamped to
    * 2^bits − 1 before interleaving, so out-of-range rows gather in
    * the curve's top corner instead of wrapping in among the small
    * values (graceful locality degradation, never scrambled
    * pruning stats).
    *
    * Pure built-in expression tree (shifts/masks/ors — whole-stage
    * codegen folds it into one projection), so it is both engine- and
    * oracle-expressible: [[zValueSql]] emits the identical formula in
    * ANSI SQL.
    */
  def zValue(cols: Seq[Column], bits: Int = 21): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(bits * cols.length <= 63,
      s"bits($bits) * dims(${cols.length}) must fit in a signed long")
    val d = cols.length
    val top = (1L << bits) - 1
    val terms = for {
      (c, i) <- cols.zipWithIndex
      // clamp BEFORE bit extraction: without it a value of 2^bits+k
      // contributes the same interleave as k — rows from the far end
      // of the domain would wrap in among the small values and every
      // file's min/max would span the whole range (pruning gone)
      v = least(c.cast("long"), lit(top))
      j <- 0 until bits
    } yield shiftleft(shiftright(v, j).bitwiseAND(lit(1L)), j * d + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** The same Morton formula as ANSI SQL over the given column
    * expressions — for oracle replay (DuckDB shares `>> & << |`
    * semantics on BIGINT). */
  def zValueSql(cols: Seq[String], bits: Int = 21): String = {
    val d = cols.length
    val top = (1L << bits) - 1
    val terms = for {
      (c, i) <- cols.zipWithIndex
      v = s"LEAST(CAST($c AS BIGINT), $top)" // same clamp as zValue
      j <- 0 until bits
    } yield s"((($v >> $j) & 1) << ${j * d + i})"
    terms.mkString("(", " | ", ")")
  }

  /** Small-file compaction — the lake-maintenance pass every
    * streaming/incremental sink eventually needs (thousands of
    * KB-sized files turn scans into file-listing storms and starve
    * the scheduler with single-row splits). Output file count =
    * ceil(actual on-disk bytes / targetFileBytes), measured from the
    * filesystem listing — a metadata walk, no Spark job; the rewrite
    * is one round-robin repartition + write. Returns the output file
    * count. Idempotent: re-compacting compacted output is a no-op
    * rewrite to the same count. */
  def compact(spark: SparkSession, inDir: String,
      outDir: String, targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // blue/green only (r19, the store-compaction rule)
    requireFreshRoot(spark, inDir, outDir)
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_")) bytes += f.getLen
    }
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inDir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** Partition-preserving small-file compaction — [[compact]] for
    * trees written with `partitionBy` (the IVF assignments layout):
    * a plain compact would FLATTEN the directory layout and lose the
    * PartitionFilters pruning the layout exists for. One hash
    * repartition on the partition columns merges each partition
    * value's accumulated append files into one file inside its
    * directory (the writer re-splits by value); rows and the
    * partition scheme are preserved exactly. Blue/green like
    * [[compact]]. NAMED EXPIRY: all rows of one partition value land
    * in one task, so a skewed partition compacts to ONE file of any
    * size — no target-size knob can split within a value; a store
    * whose single partition outgrows a task is a re-layout decision
    * (finer partition key), not a compaction one. */
  def compactPartitioned(spark: SparkSession,
      inDir: String, outDir: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    requireFreshRoot(spark, inDir, outDir)
    spark.read.parquet(inDir)
      .repartition(partitionCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(outDir)
  }

  /** Data-file count of a store tree, by a metadata walk (no Spark
    * job) — what a compaction shrinks. Hidden
    * files (`_` and `.` prefixes — commit markers, local-FS CRC
    * sidecars) are excluded, matching what a Spark scan lists. */
  def dataFileCount(spark: SparkSession,
      dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0
    else {
      val it = fs.listFiles(path, true)
      var n = 0
      while (it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }
  }
}
