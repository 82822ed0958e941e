package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Join-side data-motion reducers. The shuffle the big side of a
  * selective join pays is usually the single largest cost in the
  * plan at 100 TB: a fact table shuffles ALL its rows on the join
  * key even when the dimension side's predicate will discard 99% of
  * them after the exchange. A semi-join reduction — probe a compact
  * membership summary of the small side's keys BEFORE the exchange —
  * cuts that motion to (selectivity + false-positive rate) of the
  * input, which is why every warehouse engine ships it (Spark's own
  * `InjectRuntimeFilter` plans the same shape when its thresholds
  * and join-pattern checks happen to hold).
  *
  * This operator is the EXPLICIT form: the caller knows the join is
  * selective (the reference's incremental-month pattern — a month's
  * orders against the full lineitem history — is exactly this), so
  * the reduction is guaranteed rather than left to optimizer
  * heuristics, and the filter build is shared with the engine's
  * existing Bloom machinery ([[Dedup.bloomDecontaminate]]'s
  * build/probe posture: distributed `stat.bloomFilter` aggregate,
  * bytes ride the plan as a binary literal, one codegen'd probe per
  * row — zero UDFs).
  *
  * Reference scope: the reference joins are broadcast-small
  * (spark_elt_emr.py:76-79); this is the big-big analog its monthly
  * re-runs would need at 100× the data.
  */
object Joins {

  /** Inner or left-semi equi-join of `big` to `small`, with `big`
    * pre-filtered by a Bloom filter of `small`'s join keys before
    * the join's exchange. EXACT results: Bloom false positives pass
    * the pre-filter but are eliminated by the equi-join itself —
    * the sketch only ever reduces data motion, never changes the
    * answer (which is why the result is oracle-verifiable while the
    * sketch itself is not).
    *
    * Mechanics: one distributed aggregate over `small` builds the
    * filter (`~1.2 MB per 1M keys at fpp 0.01`), the bytes ship as
    * a task-broadcast literal, and the probe is one codegen'd
    * `might_contain` per `big` row AT THE SCAN — upstream of the
    * shuffle, which is the whole point.
    *
    * Contract: integral join keys (the Bloom add/probe path hashes
    * longs; widen strings with `xxhash64` on BOTH sides first);
    * `joinType` ∈ {inner, left_semi} — the reduction is unsound for
    * outer joins (a pre-filtered big row must still appear
    * null-extended); `expectedKeys` is the filter's sizing hint, an
    * over-estimate of `count_distinct(small.key)` (capped so the
    * plan literal stays executor-friendly).
    */
  def bloomReducedJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, expectedKeys: Long,
      fpp: Double = 0.01, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_semi",
      s"bloomReducedJoin: joinType must be inner or left_semi, got $joinType" +
        " (outer joins cannot drop unmatched big-side rows pre-join)")
    val reduced = bloomPrefilter(big, small, bigKey, smallKey,
      expectedKeys, fpp)
    reduced.join(small, reduced(bigKey) === small(smallKey), joinType)
  }

  /** The reduction alone: `big` minus the rows whose key is
    * definitely absent from `small` (no false negatives — every
    * joinable row survives; false positives survive at ~`fpp` and
    * are the downstream join's problem). Exposed separately so the
    * pruning ratio is measurable ("measure, don't guess") and so a
    * caller can place the probe under its own join shape. */
  def bloomPrefilter(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, expectedKeys: Long,
      fpp: Double = 0.01): DataFrame = {
    require(expectedKeys > 0 && expectedKeys <= 200000000L,
      s"bloomPrefilter: expectedKeys must be in (0, 2e8], got $expectedKeys" +
        " (a larger filter would ship a multi-hundred-MB literal to every task)")
    require(fpp > 0 && fpp < 1, s"bloomPrefilter: fpp out of (0,1): $fpp")
    val integral = Seq[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    Seq(small.schema(smallKey).dataType -> smallKey,
        big.schema(bigKey).dataType -> bigKey).foreach { case (t, k) =>
      require(integral.contains(t),
        s"bloomPrefilter: integral keys required, got ${t.catalogString} for $k" +
          " (widen strings with xxhash64 on both sides first)")
    }
    val bloom = small.stat.bloomFilter(smallKey, expectedKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bytes = bos.toByteArray
    val mightContain: Column => Column = c =>
      ColumnBridge.column(BloomFilterMightContain(
        Literal(bytes, BinaryType), ColumnBridge.expression(c)))
    big.filter(mightContain(col(bigKey).cast("long")))
  }

  /** Decision memo for [[vectorSideBroadcastable]] keyed by
    * (session, input, column, threshold): the gate runs at most one
    * count job and one length-sum job per distinct vector frame. */
  private val gateMemo =
    new graft.BoundedMemo[((String, String), String, Long), Boolean](64, "bcast-gate")

  /** Bytes/row floor for the gate's bound: an UnsafeRow of
    * (long id, array<numeric>) is 8B null bits + 8B id + 8B array
    * offset/size + 16B array header, and the broadcast hash relation
    * adds its own per-entry overhead — 64B/row over-counts all of it
    * on purpose. */
  private val RowOverheadBytes = 64L

  /** The bound must hold with slack: it feeds an executor-memory
    * decision (guide §3.1 — a wrong broadcast OOMs every executor). */
  private val SafetyFactor = 2L

  /** Size-gated build-side choice for the pair–vector verify joins
    * (embeddingNearDuplicates / lshBatchTopK / hardNegativesLsh): the
    * candidate-pair side carries two longs per row, the vector side
    * carries the corpus — when the vector side PROVABLY fits under
    * the session's `autoBroadcastJoinThreshold`, broadcasting it
    * erases every verify-join exchange (the pair table streams, and
    * the widest exchange in those plans — (id_a, id_b, vec_a) re-keyed
    * on id_b — disappears outright). An UNPROVEN side keeps the r10
    * rule: `hint("shuffle_hash")` on the vector side so the planner
    * can never decide to build the full pair stream and OOM at scale.
    *
    * The bound is driver-safe at any true cardinality: the memoized
    * corpus COUNT gates first ([[RowOverheadBytes]] per row floor — a
    * frame whose count alone blows the bound never touches vector
    * data), and only a provably small frame pays the one exact
    * `sum(size(vec))` job. Size estimates are NOT trusted (guide §3.1:
    * "estimates are often badly wrong"); the gate only acts on a bound
    * it computed itself, with a [[SafetyFactor]]× margin. */
  def vectorSideBroadcastable(df: DataFrame, vecCol: String): Boolean = {
    val threshold =
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) false
    else gateMemo.getOrBuild((graft.PlanKeys.scoped(df), vecCol, threshold))(
      provablyUnder(df, vecCol, threshold))
  }

  private def provablyUnder(df: DataFrame, vecCol: String,
      threshold: Long): Boolean = {
    import org.apache.spark.sql.types._
    val elemBytes = df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) | ArrayType(IntegerType, _) => Some(4L)
      case ArrayType(DoubleType, _) | ArrayType(LongType, _) => Some(8L)
      case _ => None // unknown element layout: never gamble executor memory
    }
    elemBytes.exists { eb =>
      val n = graft.CorpusCounts.of(df)
      n * RowOverheadBytes * SafetyFactor <= threshold && {
        val elems = df.select(coalesce(
          sum(greatest(size(col(vecCol)).cast("long"), lit(0L))),
          lit(0L))).head().getLong(0)
        val bound = (n * RowOverheadBytes + elems * eb) * SafetyFactor
        val ok = bound <= threshold
        System.err.println(s"[joins] vector verify side: rows=$n " +
          s"elems=$elems bound=${bound}B threshold=${threshold}B -> " +
          (if (ok) "BROADCAST" else "shuffle_hash"))
        ok
      }
    }
  }
}
