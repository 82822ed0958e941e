package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r21 size-gated build-side choice for the pair–vector verify
  * joins ([[Joins.vectorSideBroadcastable]]): a PROVABLY-small vector
  * side broadcasts (the pair table streams, no verify-join exchange),
  * an unproven side keeps the r10 shuffle_hash posture — and both
  * paths produce bit-identical rows, which is what lets the oracle
  * stay untouched. */
class BroadcastGateSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // deterministic spread-out base vectors + exact replicas at id+100:
  // the only pairs at 0.95 are the planted (v, v+100) replicas
  private def vecRows: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 12L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
    base ++ base.map { case (i, v) => (i + 100L) -> v }
  }

  private def vecFrame: DataFrame = vecRows.toDF("vec_id", "embedding")

  private def pairRows(df: DataFrame): Seq[(Long, Long, Double)] =
    Dedup.embeddingNearDuplicates(df, "vec_id", "embedding",
      threshold = 0.95, numBits = 16, bands = 4)
      .select("id_a", "id_b", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq

  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, old)
  }

  test("under the threshold the verify joins broadcast; over it shuffle_hash stands; rows bit-identical") {
    // gate ON (default 10 MB threshold, tiny frame)
    val on = Dedup.embeddingNearDuplicates(vecFrame, "vec_id", "embedding",
      threshold = 0.95, numBits = 16, bands = 4)
    on.collect()
    val onPlan = on.queryExecution.executedPlan.toString
    assert(onPlan.contains("BroadcastHashJoin"), onPlan.take(3000))

    // gate OFF (broadcast disabled session-wide): a DIFFERENT logical
    // plan over the same rows, so neither the pair memo nor the gate
    // memo can serve the broadcast decision
    val offRows = withThreshold("-1") {
      val dfOff = vecFrame.filter(lit(true))
      val off = Dedup.embeddingNearDuplicates(dfOff, "vec_id", "embedding",
        threshold = 0.95, numBits = 16, bands = 4)
      off.collect()
      val offPlan = off.queryExecution.executedPlan.toString
      assert(!offPlan.contains("BroadcastHashJoin"), offPlan.take(3000))
      assert(offPlan.contains("ShuffledHashJoin"), offPlan.take(3000))
      off.select("id_a", "id_b", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    }
    val onRows = pairRows(vecFrame)
    assert(onRows.nonEmpty, "fixture produced no near-dup pairs")
    assert(onRows == offRows)
  }

  test("a small threshold fails the count gate without scanning vectors") {
    withThreshold("1024") {
      // 24 rows × 64 B/row × 2 safety = 3072 B > 1024 — refused on the
      // count alone
      assert(!Joins.vectorSideBroadcastable(
        vecFrame.filter(lit(true)).filter(lit(true)), "embedding"))
    }
  }

  test("an append under the same path re-proves the gate with no clear") {
    val dir = graft.TempDirs.createCleaned("graft_gate_spec") + "/v.parquet"
    withThreshold("8192") {
      vecFrame.write.parquet(dir)
      // 24 rows × (64 B + 8 floats × 4 B) × 2 safety = 4608 B ≤ 8192
      assert(Joins.vectorSideBroadcastable(spark.read.parquet(dir), "embedding"))
      vecRows.map { case (i, v) => (i + 1000L, v) }.toDF("vec_id", "embedding")
        .write.mode("append").parquet(dir)
      // 48 rows: 9216 B > 8192 — the grown store must not broadcast
      assert(!Joins.vectorSideBroadcastable(spark.read.parquet(dir), "embedding"))
    }
  }

  test("unknown vector element layout never broadcasts") {
    val strs = Seq((1L, Seq("a", "b"))).toDF("id", "toks")
    assert(!Joins.vectorSideBroadcastable(strs, "toks"))
  }

  test("hardNegativesLsh: gated broadcast and shuffle paths agree bit-exact") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).map(i =>
      (i, (i % 3).toInt, Seq.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("id", "label", "vec")
    def run(src: DataFrame): Seq[(Long, Int, Long, Double)] =
      Similarity.hardNegativesLsh(src, "id", "label", "vec",
        k = 3, numBits = 16, bands = 4)
        .select("anchor_id", "rank", "neg_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val bcast = Similarity.hardNegativesLsh(df, "id", "label", "vec",
      k = 3, numBits = 16, bands = 4)
    bcast.collect()
    val bPlan = bcast.queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan.take(3000))
    val onRows = run(df)
    val offRows = withThreshold("-1") {
      val off = Similarity.hardNegativesLsh(df.filter(lit(true)),
        "id", "label", "vec", k = 3, numBits = 16, bands = 4)
      off.collect()
      val oPlan = off.queryExecution.executedPlan.toString
      assert(!oPlan.contains("BroadcastHashJoin"), oPlan.take(3000))
      run(df.filter(lit(true)))
    }
    assert(onRows.nonEmpty)
    assert(onRows == offRows)
  }
}
