package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's data-quality posture (spark_check_emr.py's named
  * scalar checks — see [[DataQuality]]) applied to the LLM corpus
  * tables: a training-data pipeline gates ingestion on exactly these
  * invariants before any dedup/curation stage trusts the ids.
  *
  * Shape: ONE aggregate per table (map-side partial + single final
  * row), then the scalar results inline into named check rows — the
  * whole gate is two scans at any corpus size, not one scan per
  * check. Output is a driver-comparable relation (check_name,
  * observed, passed) rather than a throw, so the same suite serves
  * both as a registered query (SQL-replayable, hash-checked) and as
  * a gate (no row with `passed = 0`).
  */
object CorpusQuality {

  /** Document + embedding invariants as one ordered relation:
    * (check_name, observed, passed 0/1). `observed` is the violation
    * count (0 when passing), except `embedding_width_uniform` (number
    * of distinct widths, 1 when passing) and the `*_nonempty` rows
    * (row count, > 0 when passing — an empty table must FAIL the
    * gate, like the reference's is_empty checks, and the sums are
    * coalesced so an empty relation can never NULL a `passed` cell
    * past the gate's filter). Duplicate counts are over NON-NULL ids
    * (`count(id) − count(distinct id)`): a NULL id fires
    * `doc_id_not_null` only, not a bogus duplicate.
    *
    * `text_ascii_only` (r11 verdict) makes the anchor/CDC families'
    * oracle-parity precondition RUNTIME-detectable: the x135/x197/
    * x198/x199/x200 oracles replay Spark's code-point rolling hash
    * via DuckDB `ascii()`, which agree only on ASCII text — a
    * non-ASCII corpus would previously surface as a mystery hash
    * mismatch; now it fails this named gate first. Observed = DOCS
    * containing any char outside \x00-\x7F (doc granularity, not
    * chars: Java counts UTF-16 units where DuckDB counts code
    * points, so a char count would itself diverge on astral text —
    * the doc predicate agrees on both engines for every plane). */
  def suite(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    def checkRow(name: String, observed: org.apache.spark.sql.Column,
        passWhen: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      struct(lit(name).as("check_name"),
        observed.cast("long").as("observed"),
        passWhen(observed).cast("int").as("passed"))
    def violations(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1).otherwise(0)), lit(0))
    val docRows = docs.agg(
      count(lit(1)).as("n_rows"),
      (count(col("doc_id")) - countDistinct(col("doc_id"))).as("dup"),
      violations(col("doc_id").isNull).as("nulls"),
      violations(col("n_chars") =!= length(col("text"))).as("mism"),
      violations(!col("lang").isin("en", "de", "es", "fr", "zh")).as("unk"),
      violations(col("text").rlike("[^\\x00-\\x7F]")).as("nonascii"))
      .select(inline(array(
        checkRow("documents_nonempty", col("n_rows"), _ > 0),
        checkRow("doc_id_unique", col("dup"), _ === 0),
        checkRow("doc_id_not_null", col("nulls"), _ === 0),
        checkRow("n_chars_consistent", col("mism"), _ === 0),
        checkRow("lang_known", col("unk"), _ === 0),
        checkRow("text_ascii_only", col("nonascii"), _ === 0))))
    val embRows = embeddings.agg(
      count(lit(1)).as("n_rows"),
      (count(col("vec_id")) - countDistinct(col("vec_id"))).as("dup"),
      countDistinct(size(col("embedding"))).as("widths"))
      .select(inline(array(
        checkRow("embeddings_nonempty", col("n_rows"), _ > 0),
        checkRow("vec_id_unique", col("dup"), _ === 0),
        checkRow("embedding_width_uniform", col("widths"), _ === 1))))
    docRows.union(embRows).orderBy(col("check_name"))
  }

  /** Winsorized per-group statistics: mean/stddev of `valueCol` after
    * clamping to the group's [lo, hi] quantiles — the outlier-robust
    * length/score profile a curation report uses (a handful of
    * megadocs otherwise dominate a plain mean at corpus scale).
    *
    * Two passes, both scale-shaped: (1) per-group exact interpolated
    * quantiles (two-phase aggregate, |groups| rows out); (2) the
    * tiny quantile table broadcast back onto the scan, clamp as a
    * map-only projection, one final two-phase aggregate. The big
    * side never shuffles. Matches DuckDB `quantile_cont` /
    * `stddev` (sample) for the oracle; float aggregates round(4). */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val v = col(valueCol).cast("double")
    val q = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(percentile(v, lit(lo)).as("__p_lo"),
        percentile(v, lit(hi)).as("__p_hi"))
    df.join(broadcast(q), Seq(groupCol))
      .withColumn("__w", least(greatest(v, col("__p_lo")), col("__p_hi")))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("__p_lo")), 4).as("p_lo"),
        round(min(col("__p_hi")), 4).as("p_hi"),
        round(avg(v), 4).as("mean_raw"),
        round(avg(col("__w")), 4).as("mean_winsorized"),
        round(stddev(col("__w")), 4).as("stddev_winsorized"))
  }

  /** Per-group percentile-rank normalization: replace a raw score
    * with its rank position inside its own group, in [0, 1] — the
    * calibration step before comparing or mixing quality scores
    * ACROSS sources (a 0.8 from a lenient scorer and a 0.8 from a
    * harsh one mean different things; their percentiles don't).
    * `percent_rank` = (rank − 1)/(n − 1): ties share a rank on both
    * engines, single-row groups get 0.
    *
    * Deterministic: percent_rank is a pure function of the value
    * MULTISET — ties share a rank, so no tiebreak is needed and the
    * replay is layout-independent by construction. NULL values get
    * NULL pct_rank and are EXCLUDED from the rank denominator —
    * engine-default null ordering differs across engines (Spark ASC
    * puts NULLs first, DuckDB last), so ranking them would both
    * misrank and break replay; a NULL score has no rank position.
    *
    * Scale shape: one hash shuffle on the (group, value IS NULL)
    * key; only (id, group, value) flow through the window. */
  def percentileNormalize(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL values ride a separate window partition so they can't
    // perturb the non-null ranks, and emit NULL pct_rank
    val w = Window.partitionBy(col(groupCol), col(valueCol).isNull)
      .orderBy(col(valueCol))
    df.withColumn("pct_rank",
      when(col(valueCol).isNotNull, round(percent_rank().over(w), 9)))
  }

  /** Robust per-group outlier scoring by median/MAD z (Iglewicz &
    * Hoaglin's modified z-score, 1.4826 ≈ 1/Φ⁻¹(3/4) making MAD
    * consistent with σ under normality): unlike mean/stddev, the
    * cutoff itself can't be dragged by the outliers it's hunting —
    * the right length/score gate for corpus curation where a few
    * monster documents wreck moment-based thresholds.
    *
    * Deterministic: both statistics are order statistics
    * (interpolated percentiles — no float accumulation over data
    * order), the z is a fixed IEEE tree — hash-green replay.
    * Degenerate groups (MAD = 0: at least half the values AT the
    * median) get NULL z; their outlier flag falls back to
    * value ≠ median. Rows with a NULL group key are PRESERVED with
    * NULL z and NULL flag (no statistics exist for them) — a
    * curation caller never silently loses documents.
    *
    * Scale shape: two grouped percentile aggregations (each one
    * exchange over (group, value) pairs), the |groups|-row stats
    * broadcast back, and the scoring pass is map-only over the
    * scan. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      cutoff: Double = 3.5): DataFrame = {
    require(cutoff > 0, "cutoff must be positive")
    val v = col(valueCol).cast("double")
    val med = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(percentile(v, lit(0.5)).as("__med"))
    val mad = df.join(broadcast(med), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(min(col("__med")).as("__med"),
        percentile(abs(v - col("__med")), lit(0.5)).as("__mad"))
    val z = (v - col("__med")) / (lit(1.4826) * col("__mad"))
    df.join(broadcast(mad), Seq(groupCol), "left")
      .withColumn("robust_z", when(col("__mad") > 0, z))
      .withColumn("is_outlier",
        when(col("__mad") > 0, abs(z) > cutoff)
          .when(col("__mad") === 0, v =!= col("__med")))
      .drop("__med", "__mad")
  }

  /** Source-concentration profile per group: Herfindahl–Hirschman
    * index `HHI = Σ share²` and the Gini coefficient of the
    * within-group source volumes — the "is this language fed by one
    * crawl" diversity readout (The Pile/Dolma report exactly these
    * shares; a lang with HHI → 1 means every conclusion about it is
    * a conclusion about ONE source — the concentration view of what
    * [[chiSquareAudit]] flags cell-wise). Gini over the ascending
    * volume vector x: `(2·Σ i·x_i)/(n·Σx) − (n+1)/n`.
    *
    * Deterministic: volumes are exact BIGINT counts; Σ i·x_i is an
    * exact integer computed by an index-fold over the SORTED
    * (volume, source) array (the x94 keyed-fold discipline with the
    * rank as the weight — integer arithmetic, so even the fold is
    * exact); HHI divides exact squares. Single divisions at the end
    * (x166 class).
    *
    * Scale shape: ONE (group, source) count is the only corpus-sized
    * stage; the concentration fold runs on ≤\|sources\| values per
    * group (driver-free, bounded by the source vocabulary). */
  def sourceConcentration(df: DataFrame, groupCol: String,
      sourceCol: String): DataFrame = {
    val counts = df
      .filter(col(groupCol).isNotNull && col(sourceCol).isNotNull)
      .select(col(groupCol).as("g"), col(sourceCol).as("s"))
      .groupBy(col("g"), col("s")).agg(count(lit(1)).as("n"))
    counts.groupBy(col("g"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("n")).as("total"),
        sum(col("n") * col("n")).as("sum_sq"),
        aggregate(
          sort_array(collect_list(struct(col("n"), col("s")))),
          struct(lit(0L).as("i"), lit(0L).as("acc")),
          (st, x) => struct((st.getField("i") + 1).as("i"),
            (st.getField("acc") + (st.getField("i") + 1)
              * x.getField("n")).as("acc")),
          st => st.getField("acc")).as("rank_sum"))
      .select(col("g").as(groupCol), col("n_sources"), col("total"),
        round(col("sum_sq").cast("double")
          / (col("total") * col("total")).cast("double"), 6).as("hhi"),
        round((lit(2.0) * col("rank_sum").cast("double"))
          / (col("n_sources") * col("total")).cast("double")
          - (col("n_sources") + 1).cast("double")
            / col("n_sources").cast("double"), 6).as("gini"))
  }

  /** Mutual information between two categorical columns, in nats,
    * with the normalized variant `NMI = I/min(H(A), H(B))` — the
    * information-theoretic companion to [[chiSquareAudit]] (χ² asks
    * "is the deviation from independence statistically surprising";
    * MI asks "how many bits does knowing the source tell you about
    * the language" — an effect SIZE, stable under corpus growth
    * where χ² inflates with N). One summary row, not cells.
    *
    * `I = Σ_cells (n/N)·ln(n·N / (r·c))` — every ln argument is a
    * ratio of exact BIGINT products (the x31 replay class; n·N ≤
    * N² overflows BIGINT beyond ~3·10⁹ rows, so the ratio is formed
    * in DOUBLE from the exact integers), and the cell terms fold
    * keyed by (a, b) (the x94 discipline). Entropies fold the same
    * way over the marginals. Zero cells contribute nothing (0·ln0
    * = 0 by convention — absent cells simply don't exist here).
    * NULL categories form their own level, as in the χ² audit.
    *
    * Scale shape: identical to [[chiSquareAudit]] — ONE (a, b)
    * count, marginals re-aggregated from the cell table, single-row
    * output. */
  def mutualInformation(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = df.select(col(aCol).as("a"), col(bCol).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val ra = cells.groupBy(col("a")).agg(sum(col("n")).as("rt"))
      .select(col("a").as("__ka"), col("rt"))
    val cb = cells.groupBy(col("b")).agg(sum(col("n")).as("ct"))
      .select(col("b").as("__kb"), col("ct"))
    val tot = broadcast(cells.agg(sum(col("n")).as("grand")))
    val nD = col("n").cast("double"); val gD = col("grand").cast("double")
    val term = (nD / gD) * log((nD * gD)
      / (col("rt").cast("double") * col("ct").cast("double")))
    val mi = cells
      .join(broadcast(ra), col("a") <=> col("__ka"))
      .join(broadcast(cb), col("b") <=> col("__kb"))
      .crossJoin(tot)
      .agg(graft.ops.Classifier.sortedFold(struct(col("a"), col("b")), term).as("mi"),
        count(lit(1)).as("n_cells"))
    def entropy(marg: DataFrame, key: String, totCol: String) =
      broadcast(marg.crossJoin(tot)
        .agg(graft.ops.Classifier.sortedFold(col(key),
          -(col(totCol).cast("double") / gD)
            * log(col(totCol).cast("double") / gD)).as(s"h_$key")))
    mi.crossJoin(entropy(ra, "__ka", "rt"))
      .crossJoin(entropy(cb, "__kb", "ct"))
      .select(col("n_cells"), round(col("mi"), 6).as("mi"),
        round(col("h___ka"), 6).as("h_a"),
        round(col("h___kb"), 6).as("h_b"),
        round(when(least(col("h___ka"), col("h___kb")) > 0,
          col("mi") / least(col("h___ka"), col("h___kb"))), 6).as("nmi"))
  }

  /** Pearson χ² independence audit of two categorical columns (e.g.
    * lang × source): the per-cell contingency table with expected
    * counts `e = row_total·col_total/N`, standardized residuals
    * `(n−e)/√e`, and each cell's χ² contribution `(n−e)²/e` — the
    * "is the corpus mix confounded" check (a residual ≫ 2 on a
    * (lang, source) cell means that source over-feeds that language,
    * so any per-source quality conclusion is entangled with
    * language). Σ contribution against a χ² table at
    * (R−1)(C−1) d.o.f. is the global test; the per-cell residuals
    * are the actionable part, so this returns cells, not a scalar.
    *
    * NULL categories form their own level (they ARE a mix property;
    * dropping them would hide a partially-tagged source): groupBy
    * keeps the NULL group and the marginal joins are null-safe
    * (`<=>`), so the output carries the NULL level through. Rows
    * where BOTH are NULL still count: independence is about the
    * joint distribution of whatever the corpus contains.
    *
    * Determinism: every count is an exact BIGINT (map-side
    * combinable); expected/residual/contribution are a fixed
    * division tree over those integers (the x166 class — no float
    * sums over data, no sorted folds). Zero-expected cells cannot
    * occur (a level only exists because some row carries it).
    *
    * Scale shape: ONE (a, b) count aggregate is the only
    * corpus-sized stage; marginals re-aggregate from the
    * levels_a × levels_b cell table; the single-row N and the two
    * marginal tables broadcast onto it. |cells| rows out. */
  def chiSquareAudit(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = df.select(col(aCol).as("a"), col(bCol).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // feeds both marginals and the join
    val ra = cells.groupBy(col("a")).agg(sum(col("n")).as("row_total"))
      .select(col("a").as("__ka"), col("row_total"))
    val cb = cells.groupBy(col("b")).agg(sum(col("n")).as("col_total"))
      .select(col("b").as("__kb"), col("col_total"))
    val tot = broadcast(cells.agg(sum(col("n")).as("grand")))
    val e = (col("row_total").cast("double") * col("col_total").cast("double")
      ) / col("grand").cast("double")
    val d = col("n").cast("double") - e
    cells
      .join(broadcast(ra), col("a") <=> col("__ka"))
      .join(broadcast(cb), col("b") <=> col("__kb"))
      .crossJoin(tot)
      .select(col("a").as(aCol), col("b").as(bCol), col("n"),
        col("row_total"), col("col_total"),
        round(e, 6).as("expected"),
        round(d / sqrt(e), 6).as("residual"),
        round((d * d) / e, 6).as("chi2_term"))
  }
}
