package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** Reference Morton interleave, independent scalar implementation
    * (clamping out-of-range values to the top corner like the op). */
  private def morton(xs: Seq[Long], bits: Int): Long = {
    var z = 0L
    val d = xs.length
    val top = (1L << bits) - 1
    for (i <- xs.indices; j <- 0 until bits)
      z |= ((math.min(xs(i), top) >> j) & 1L) << (j * d + i)
    z
  }

  test("zValue matches the scalar reference and its own SQL twin") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L), (63L, 63L),
      (1000L, 1L), (123456L, 654321L),
      // above 2^21: must CLAMP to the top corner, never wrap in among
      // the small values (wrapped, (2^21+5, 7) would equal (5, 7))
      ((1L << 21) + 5L, 7L), (3000000L, 3000000L))
    val df = pts.toDF("x", "y")
    val got = df.select(col("x"), col("y"),
      Layout.zValue(Seq(col("x"), col("y")), 21).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == morton(Seq(x, y), 21), s"zValue($x,$y)")
    }
    // interleave sanity pinned by hand: x=1 -> bit 0, y=1 -> bit 1
    assert(morton(Seq(1L, 0L), 21) == 1L)
    assert(morton(Seq(0L, 1L), 21) == 2L)
    assert(morton(Seq(1L, 1L), 21) == 3L)
    // clamp, not wrap: the overflowing point lands at the top corner
    val overflow = got.find(_._1 == (1L << 21) + 5L).get._3
    assert(overflow == morton(Seq((1L << 21) - 1, 7L), 21),
      "out-of-range x must clamp to the top stripe")
    assert(overflow != morton(Seq(5L, 7L), 21),
      "out-of-range x must NOT wrap onto small values")
    // the generated ANSI formula computes the identical key
    df.createOrReplaceTempView("layout_pts")
    val viaSql = spark.sql(
      s"SELECT ${Layout.zValueSql(Seq("x", "y"), 21)} AS z FROM layout_pts")
      .as[Long].collect().toSeq
    assert(viaSql == got.map(_._3).toSeq)
  }

  test("Z-order key clusters BOTH dimensions; single-column sort only one") {
    // 64x64 grid, shuffled input order
    val grid = spark.range(64L * 64L)
      .select((col("id") % 64).as("x"), (col("id") / 64).as("y"))
      .repartition(8) // destroy any incidental ordering
    def avgRanges(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val r = df.select(spark_partition_id().as("pid"), col("x"), col("y"))
        .groupBy("pid")
        .agg((max("x") - min("x")).as("rx"), (max("y") - min("y")).as("ry"))
        .agg(avg("rx"), avg("ry")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    // the x48 layout: range-partition + sort on the Morton key
    val z = Layout.zValue(Seq(col("x"), col("y")), bits = 6)
    val (zx, zy) = avgRanges(grid.repartitionByRange(16, z).sortWithinPartitions(z))
    // ideal 16-partition Z layout = 16x16 blocks (range 15 each); range
    // partition boundaries straddle blocks, so allow 2x ideal
    assert(zx <= 31 && zy <= 31,
      s"z-order per-partition avg ranges ($zx, $zy) must be tight on BOTH dims")
    // baseline: range-partition + sort on x alone — x clusters, y doesn't
    val xSorted = grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
    val (bx, by) = avgRanges(xSorted)
    assert(bx <= 8, s"x-sorted baseline must cluster x, got $bx")
    assert(by >= 48, s"x-sorted baseline leaves y unclustered, got $by")
  }

  test("compactPartitioned: rows and partition scheme preserved; guards loud") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, (i % 4).toInt)).toDF("id", "part")
    val in = graft.TempDirs.createCleaned("layout_cp_in")
    df.write.mode("overwrite").partitionBy("part").parquet(in)
    // two appends fragment each partition dir
    df.filter($"id" <= 8).write.mode("append").partitionBy("part").parquet(in)
    df.filter($"id" <= 4).write.mode("append").partitionBy("part").parquet(in)
    val out = graft.TempDirs.createCleaned("layout_cp_out")
    Layout.compactPartitioned(spark, in, out, Seq("part"))
    def dirs(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("part=")).map(d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(dirs(out).keySet == dirs(in).keySet, "partition dirs must survive")
    assert(dirs(out).values.forall(_ == 1), s"one file per value: ${dirs(out)}")
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(rows(out) == rows(in), "compaction must be row-identity")
    intercept[IllegalArgumentException] {
      Layout.compactPartitioned(spark, in, in + "/", Seq("part"))
    }
    intercept[IllegalArgumentException] {
      Layout.compactPartitioned(spark, in, out + "2", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Layout.compact(spark, in, in) // flat compact shares the guard
    }
  }

  test("zValue guards: dims must fit a signed long") {
    intercept[IllegalArgumentException] {
      Layout.zValue(Seq(col("a"), col("b"), col("c")), 22)
    }
    intercept[IllegalArgumentException] { Layout.zValue(Seq.empty, 8) }
  }
}
