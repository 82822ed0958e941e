package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANALYZE-style data profiling: the per-column statistics a pipeline
  * operator (or a human) reads before choosing join strategies,
  * partition counts, and quality gates — row/null counts, exact
  * distinct cardinality, min/max.
  *
  * Scale shape: one single-column aggregation PER PROFILED COLUMN,
  * unioned — deliberately not one wide multi-distinct aggregate:
  * Spark plans k exact `count(DISTINCT)`s in one agg through an
  * Expand (k× the input rows through one shuffle), while k separate
  * aggs each scan ONE parquet column (pruned at the reader) with a
  * two-phase partial agg — independent, column-pruned jobs, the same
  * shape ANALYZE TABLE runs. The column-independent row count is
  * computed once and broadcast in, not recomputed per column. At
  * 100 TB swap `countDistinct` for
  * `approx_count_distinct` (HLL, one pass, mergeable) — exact here
  * because the driver oracle checks exact values.
  */
object Profiling {

  /** Profile `cols` of `df`: one output row per column with
    * (col_name, n_rows, n_non_null, ndv, min_value, max_value) —
    * min/max cast to string so every column type shares one output
    * schema (the ANALYZE convention). */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    // the row count is column-independent: compute it ONCE (parquet
    // answers count(*) from footer metadata — a zero-column scan)
    // and broadcast the 1-row frame into every per-column agg,
    // instead of re-counting all rows k times inside them
    val nRows = df.agg(count(lit(1)).as("n_rows"))
    cols.map { c =>
      df.agg(
        count(col(c)).as("n_non_null"),
        countDistinct(col(c)).as("ndv"),
        min(col(c)).cast("string").as("min_value"),
        max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("col_name"), col("n_non_null"),
          col("ndv"), col("min_value"), col("max_value"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(nRows)) // 1-row frame: broadcast, never a shuffle
      .select(col("col_name"), col("n_rows"), col("n_non_null"),
        col("ndv"), col("min_value"), col("max_value"))
  }

  /** Per-group approximate quantiles via Spark's `percentile_approx`
    * (Greenwald–Khanna sketch): the MERGEABLE quantile summary —
    * each partition builds a bounded-size sketch, partials merge
    * associatively, so the shuffle carries kilobyte summaries
    * instead of every value (x26's exact `percentile` must see the
    * whole group on one reducer). The quantile analog of the
    * x89-HLL / x63-CMS family: estimates aren't ANSI-expressible →
    * rows-only, with x26 the exact twin and the GK rank-error
    * contract spec-asserted (returned values are genuine data points
    * within ±n/accuracy ranks of the true order statistic).
    *
    * `accuracy` is the GK 1/ε knob: memory ∝ accuracy·log(n),
    * rank error ≤ n/accuracy. */
  def approxQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      probs: Seq[Double], accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      "probs must be fractions in [0, 1]")
    df.groupBy(col(groupCol))
      .agg(percentile_approx(col(valueCol),
        array(probs.map(lit): _*), lit(accuracy)).as("quantiles"))
      .select(col(groupCol), posexplode(col("quantiles")).as(Seq("idx", "value")))
      .withColumn("p", element_at(array(probs.map(lit): _*), col("idx") + 1))
      .select(col(groupCol), col("p"), col("value"))
  }

  /** Mergeable per-group profile: sufficient statistics (count, sum,
    * min, max) of an INTEGER-valued column per group. Each batch's
    * profile is a |groups|-row frame, and [[mergeStats]]
    * re-aggregates profiles EXACTLY — integer algebra is associative
    * and commutative — so daily batches fold into a running corpus
    * profile without rescanning history (the incremental-stats
    * analog of the x49/x51 signature store). Float columns need the
    * sorted-fold discipline instead (CLAUDE.md); this operator pins
    * the contract by casting to long.
    *
    * Scale: the scan side is one map-side-combinable aggregation;
    * merging is |groups|-sized re-aggregation — never touches raw
    * data again. */
  def batchStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol).as("grp"))
      .agg(count(col(valueCol)).as("n"),
        sum(col(valueCol).cast("long")).as("sum_v"),
        min(col(valueCol).cast("long")).as("min_v"),
        max(col(valueCol).cast("long")).as("max_v"))

  /** Fold batch profiles from [[batchStats]] into one: count/sum add,
    * min/max fold — exact, order-independent. */
  def mergeStats(profiles: Seq[DataFrame]): DataFrame = {
    require(profiles.nonEmpty, "merge at least one profile")
    profiles.reduce(_.unionByName(_))
      .groupBy(col("grp"))
      .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
  }

  /** Footer-metadata statistics: COUNT/MIN/MAX per column answered by
    * parquet row-group footers via DSv2 AGGREGATE PUSHDOWN — the scan
    * reads statistics pages, not data pages, so profiling a 100 TB
    * table costs one footer read per file instead of a full scan
    * (the plan shows `PushedAggregation: [COUNT(*), MIN(..), ..]`,
    * spec-asserted). Same answers as [[columnProfile]]'s count/min/max
    * without touching a single value.
    *
    * The v2 reader + pushdown flags are session confs, so they are
    * set on a child session ([[org.apache.spark.sql.SparkSession
    * .newSession]]: same SparkContext and cache, its own conf) — the
    * single result row (bounded by construction: one row, 1 + 2·|cols|
    * scalars) is collected there and handed back as a local frame in
    * the caller's session, whose conf never changes (so no reader key
    * that folds in `spark.sql.parquet.*` moves). MIN/MAX pushdown
    * covers orderable primitive columns; strings are fine,
    * nested/variant types are not (Spark falls back to a real scan —
    * still correct, just not metadata-only).
    */
  def metadataStats(spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.sources.useV1SourceList", "")
    scoped.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val aggs = count(lit(1)).cast("long").as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))
    val row = scoped.read.parquet(path).agg(aggs.head, aggs.tail: _*)
    spark.createDataFrame(
      java.util.Arrays.asList(row.collect(): _*), row.schema)
  }

  /** Population Stability Index between a reference slice and a
    * current slice of a numeric column — THE production drift gate
    * (credit-scoring heritage; the "retrain or don't" number):
    * `PSI = Σ_bins (p_ref − p_cur) · ln(p_ref / p_cur)` over the
    * reference slice's `buckets` equal-frequency bins. Rule of
    * thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted. The
    * numeric-feature counterpart of x56's token-distribution KL —
    * KL asks "is this text from the same language model", PSI asks
    * "did the FEATURE distribution my gates were tuned on move".
    *
    * Semantics: bin boundaries are the reference's exact
    * interpolated quantiles (the x26/x124 percentile ↔ quantile_cont
    * pairing, round-6-pinned, strictly-greater compares); counts are
    * Laplace-smoothed (+1 per bin) so an empty bin contributes a
    * finite term instead of ±∞ — with the +`buckets` total
    * correction, a bin empty on BOTH sides still contributes ~0.
    * NULLs are excluded from both slices (a NULL is a missingness
    * signal, not a position in the value distribution — track it
    * with [[columnProfile]]'s null counts).
    *
    * Deterministic: integer bin counts, single divisions, one ln per
    * bin over rationals of exact BIGINTs (the x31 replay class).
    *
    * Scale shape: ONE quantile aggregate on the reference (bounded
    * driver collect), then each slice is one map-only
    * boundary-compare + map-side-combinable bin count; the
    * `buckets`-row frames join broadcast. Returns one row per bin
    * with the PSI contribution; Σ psi_term is the index. */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      "buckets in [2, 1000] — boundaries are driver-resident")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    def r6(v: Double): Double =
      (if (v >= 0) math.floor(v * 1e6 + 0.5) else math.ceil(v * 1e6 - 0.5)) / 1e6
    val boundsRow = ref.filter(col(valueCol).isNotNull)
      .agg(percentile(col(valueCol), typedlit(probs)).as("b"))
      .head()
    require(!boundsRow.isNullAt(0),
      s"psiDrift: reference slice has no non-null $valueCol — no " +
        "distribution to drift from")
    val bounds = boundsRow.getSeq[Double](0).map(r6)
    def binCounts(df: DataFrame) = df.filter(col(valueCol).isNotNull)
      .select(bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(valueCol).cast("double") > lit(b), 1).otherwise(0)
      }.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val spark = ref.sparkSession
    val bins = spark.range(0, buckets)
      .select(col("id").cast("int").as("bucket"))
    val cr = binCounts(ref).select(col("bucket").as("bk_r"), col("n").as("n_r"))
    val cc = binCounts(cur).select(col("bucket").as("bk_c"), col("n").as("n_c"))
    val tr = broadcast(ref.filter(col(valueCol).isNotNull)
      .agg(count(lit(1)).as("nr")))
    val tc = broadcast(cur.filter(col(valueCol).isNotNull)
      .agg(count(lit(1)).as("nc")))
    val pRef = (coalesce(col("n_r"), lit(0L)) + 1).cast("double") /
      (col("nr") + buckets).cast("double")
    val pCur = (coalesce(col("n_c"), lit(0L)) + 1).cast("double") /
      (col("nc") + buckets).cast("double")
    bins
      .join(broadcast(cr), col("bucket") === col("bk_r"), "left")
      .join(broadcast(cc), col("bucket") === col("bk_c"), "left")
      .crossJoin(tr).crossJoin(tc)
      .select(col("bucket"),
        coalesce(col("n_r"), lit(0L)).as("n_ref"),
        coalesce(col("n_c"), lit(0L)).as("n_cur"),
        round(pRef, 6).as("p_ref"), round(pCur, 6).as("p_cur"),
        round((pRef - pCur) * log(pRef / pCur), 6).as("psi_term"))
  }
}
