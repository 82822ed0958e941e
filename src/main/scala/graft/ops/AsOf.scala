package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic nearest-prior ("as-of") join — the generalization of the
  * reference's hour-bucket weather join (SURVEY §2 J2, §4): each left
  * row picks up the latest right row with `rightTime <= leftTime`
  * within the same partition keys.
  *
  * Implementation is a *composition of built-ins* (the preferred path
  * before custom plans, SURVEY §4): tag and union both sides, sort
  * within each key partition by (time, side) — right rows first at
  * equal timestamps so `<=` semantics hold — and carry the right
  * payload forward with `last(..., ignoreNulls = true)` over a
  * running window; finally keep only left rows.
  *
  * Scale profile: ONE shuffle of |left| + |right| rows keyed by the
  * partition keys, then a linear in-partition sort+scan — the same
  * cost class as a sort-merge join, with no range-explosion. Skewed
  * keys behave like any window: AQE handles moderate skew; extreme
  * skew calls for pre-salting the key (see [[Skew.keySkewStats]]).
  * `partitionKeys` must be non-empty for distributed execution — an
  * empty key set degenerates to a single-partition window (correct,
  * but serialized; callers get a loud require instead).
  */
object AsOf {

  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      partitionKeys: Seq[String],
      payload: Seq[String],
      joinType: String = "left",
      tolerance: Option[Column] = None): DataFrame = {
    require(partitionKeys.nonEmpty,
      "asofJoin needs >=1 partition key; a keyless as-of would serialize into one window partition")
    require(joinType == "left" || joinType == "inner",
      s"unsupported asof join type: $joinType")

    val keyCols = partitionKeys.map(col)
    val lTagged = left
      .withColumn("__asof_t", col(leftTime))
      .withColumn("__asof_side", lit(1))
      .withColumn("__asof_rt", lit(null).cast(left.schema(leftTime).dataType))
    val rTagged = right.select(
      (keyCols :+ col(rightTime).as("__asof_t")) ++
        (lit(0).as("__asof_side") +: col(rightTime).as("__asof_rt") +:
          payload.map(p => col(p).as(s"__asof_p_$p"))): _*)

    val l = payload.foldLeft(lTagged) { case (df, p) =>
      df.withColumn(s"__asof_p_$p", lit(null).cast(right.schema(p).dataType))
    }
    val unioned = l.unionByName(rTagged, allowMissingColumns = true)

    // right rows (side=0) sort before left rows at equal time → a left
    // row at t sees right rows with rightTime <= t
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__asof_t").asc, col("__asof_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = payload.foldLeft(
      unioned.withColumn("__asof_mt", last(col("__asof_rt"), ignoreNulls = true).over(w))) {
      case (df, p) =>
        df.withColumn(s"__asof_v_$p", last(col(s"__asof_p_$p"), ignoreNulls = true).over(w))
    }

    val leftOnly = carried.filter(col("__asof_side") === 1)
    val withinTolerance = tolerance match {
      case Some(tol) => leftOnly.withColumn("__asof_keep",
        col("__asof_mt").isNotNull &&
          col("__asof_t").cast("long") - col("__asof_mt").cast("long") <= tol.cast("long"))
      case None => leftOnly.withColumn("__asof_keep", col("__asof_mt").isNotNull)
    }

    val result = withinTolerance
      .withColumn("matched_time",
        when(col("__asof_keep"), col("__asof_mt")))
    val withPayload = payload.foldLeft(result) { case (df, p) =>
      df.withColumn(p + "_asof", when(col("__asof_keep"), col(s"__asof_v_$p")))
    }
    val cleaned = withPayload.drop(
      ("__asof_t" +: "__asof_side" +: "__asof_rt" +: "__asof_mt" +: "__asof_keep" +:
        payload.flatMap(p => Seq(s"__asof_p_$p", s"__asof_v_$p"))): _*)

    if (joinType == "inner") cleaned.filter(col("matched_time").isNotNull) else cleaned
  }

  /** Resample an irregular per-key time series onto a fixed
    * `stepSeconds` grid with forward fill — the time-series
    * regularization every downstream feature window assumes (the
    * batch analog of a stream's "emit latest known value every
    * tick"). Each key's grid spans its own [first, last] slot; a
    * slot's value is the LAST observation inside it (by `(tsCol,
    * tieCol)`), and empty slots carry the previous slot's value
    * forward. Slots before a key's first observation cannot exist by
    * construction, so the filled value is never NULL.
    *
    * Scale shape: slot reduction is a map-side-combinable
    * `max(struct(ts, tie, value))` aggregate (no per-slot window
    * sort); the grid explodes from ONE |keys|-row span frame; fill is
    * one window over the key partition. Grid size is
    * span/stepSeconds rows per key — pick the step so key-span ×
    * density stays bounded (the caller's knob, same contract as
    * sliding windows).
    */
  def resampleFfill(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    val stepUs = stepSeconds * 1000000L
    val slot = floor(unix_micros(col(tsCol)) / stepUs).cast("long")
    // last observation per (key, slot): lexicographic struct max —
    // partial-aggregates map-side, unlike a rank window
    val slotVals = df
      .select(col(keyCol).as("k"), slot.as("slot"),
        struct(col(tsCol).as("t"), col(tieCol).as("tie"),
          col(valueCol).as("v")).as("obs"))
      .groupBy(col("k"), col("slot"))
      .agg(max(col("obs")).as("obs"))
      .select(col("k"), col("slot"), col("obs.v").as("slot_value"))
    // one row per key spanning its slot range, exploded to the grid
    val grid = df
      .select(col(keyCol).as("k"), slot.as("slot"))
      .groupBy(col("k"))
      .agg(min(col("slot")).as("lo"), max(col("slot")).as("hi"))
      .select(col("k"), explode(sequence(col("lo"), col("hi"))).as("slot"))
    val w = Window.partitionBy(col("k")).orderBy(col("slot"))
    grid.join(slotVals, Seq("k", "slot"), "left")
      .select(col("k").as(keyCol),
        timestamp_micros(col("slot") * stepUs).as("slot_ts"),
        col("slot_value").isNotNull.cast("int").as("observed"),
        last(col("slot_value"), ignoreNulls = true).over(w).as("value_ffill"))
  }
}
