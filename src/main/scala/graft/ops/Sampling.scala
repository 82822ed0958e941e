package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus sampling for training-data curation: down-weighting
  * over-represented sources and carving held-out splits are the last
  * step of every data pipeline before tokenization.
  *
  * Both operators are map-only (a per-row coin flip / hash compare —
  * no shuffle, no collect), so they scale with the scan.
  */
object Sampling {

  /** Ceiling on driver-resident per-stratum state (count maps,
    * threshold literals): strata are domains / languages / sources —
    * thousands in real mixes, never row-scoped. The operators that
    * hold a per-stratum map or count enforce this so a high-cardinality
    * stratum column (url, doc_id) fails loudly instead of OOMing the
    * driver — the Similarity train-collect contract (r7). */
  val MaxStrata: Int = 65536

  /** Stratified sample: per-stratum keep-fractions via `sampleBy`
    * (seeded per-row Bernoulli). Strata absent from the map are
    * dropped — the "down-sample the over-crawled domain" shape.
    *
    * Deterministic only GIVEN A FIXED PARTITIONING: `sampleBy`'s
    * seeded rand() is evaluated in partition order, so re-partitioned
    * or re-ingested input can flip individual rows — the same
    * instability [[hashSplit]]'s scaladoc calls out for randomSplit.
    * When membership must survive a relayout (resumable pipelines,
    * split hygiene), use [[stratifiedByHash]]. */
  def stratified(df: DataFrame, stratumCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Stratified sample keyed on a CONTENT id hash — per-stratum
    * keep-fractions like [[stratified]], but membership is a pure
    * function of (id, seed): stable across runs, re-partitioning and
    * re-ingestion, so a resumed pipeline samples the same rows.
    * Map-only (hash + compare per row, no shuffle). */
  def stratifiedByHash(df: DataFrame, stratumCol: String, idCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val buckets = 1000000L
    val bucket = pmod(xxhash64(col(idCol), lit(seed)), lit(buckets))
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      acc || (col(stratumCol) === lit(stratum) &&
        bucket < lit(math.round(f * buckets)))
    }
    df.filter(keep)
  }

  /** Temperature-flattened source mixture (the multilingual /
    * multi-domain re-weighting every pretraining mix uses) with EXACT
    * rational thresholds and an ANSI-replayable scramble: membership is
    * decidable in pure integer arithmetic on both engines, so a
    * DuckDB oracle replays it bit-for-bit (no `pow`, whose last-ulp
    * libm differences could flip a boundary row silently).
    *
    * Keep rule per row, for stratum size n and rarest-stratum size
    * n_min, at mixture temperature α = 1/2 (partial flattening):
    *   bucket²·n < n_min·2⁶⁴
    * where `bucket = ((id mod 2³¹)·2654435761) mod 2³²` — Knuth's
    * multiplicative scramble, a uniform stand-in for bucket/2³² ~
    * U[0,1) that both engines compute identically. The comparison
    * runs in decimal(38,0) (HUGEINT in the oracle), so it stays exact
    * at any corpus size. That is keep-probability √(n_min/n), the
    * standard partially-flattened pretraining mix.
    *
    * Scale shape: one two-phase count aggregate (|strata| rows,
    * broadcast back with the global min) — the corpus side is a
    * map-only filter, never shuffled, and nothing is collected to the
    * driver. Membership is a pure function of (id, stratum sizes):
    * stable across relayout.
    * Requires a non-negative numeric id. */
  def replayableMixture(df: DataFrame, stratumCol: String,
      idCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("n_stratum"))
    val minN = counts.agg(min(col("n_stratum")).as("__n_min"))
    val bucket = pmod(
      pmod(col(idCol), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L)).cast(dec)
    val keep = bucket * bucket * col("n_stratum").cast(dec) <
      col("__n_min").cast(dec) *
        lit(new java.math.BigDecimal("18446744073709551616")).cast(dec)
    df.join(broadcast(counts), Seq(stratumCol))
      .crossJoin(broadcast(minN))
      .filter(keep)
      .drop("__n_min")
  }

  /** A-ES rank key `ln(u)/w` (monotone in u^(1/w)) from the Knuth
    * multiplicative id-hash — shared by [[weightedSample]] and
    * [[weightedSamplePerGroup]]. NULL or w ≤ 0 fails loudly IN the
    * data pass: ln(u)/w flips sign for negative weights, which would
    * rank exactly the rows that should be least likely FIRST — and a
    * NULL weight would otherwise slip through the `<= 0` test as
    * NULL priority and silently sort last instead of erroring. */
  private def aesPriority(idCol: String, weightCol: String): org.apache.spark.sql.Column = {
    val h = pmod(
      pmod(col(idCol), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val w = when(col(weightCol).isNull || col(weightCol) <= 0,
        raise_error(lit(
          "weightedSample: weights must be strictly positive")))
      .otherwise(col(weightCol).cast("double"))
    log(u) / w
  }

  /** Weighted sampling WITHOUT replacement, top-k (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir" —
    * the A-ES scheme): each row gets priority u^(1/w) for a uniform
    * u, and the k highest priorities form an exact without-
    * replacement weighted sample. Here u derives from the same
    * Knuth multiplicative id-hash [[replayableMixture]] uses, so
    * membership is a pure function of (id, weight): replayable in
    * SQL, stable under relayout, and re-runnable (rank on
    * `ln(u)/w` — monotone in u^(1/w), cheaper, no pow).
    *
    * Scale shape: priorities are a map-only projection over the
    * scan; the top-k plans as TakeOrderedAndProject (per-partition
    * heads, never a global sort). A near-ulp priority tie could in
    * principle order differently across engines — adjacent order
    * statistics of n draws sit ~1/n apart, ~10 orders of magnitude
    * above ln()'s ulp error, so the replay is deterministic in
    * practice (and the id tiebreak pins exact equality). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.withColumn("__pr", aesPriority(idCol, weightCol))
      .orderBy(col("__pr").desc, col(idCol))
      .limit(k)
      .drop("__pr")
  }

  /** Per-group weighted sampling without replacement: [[weightedSample]]
    * run independently inside every group — "k docs from every
    * source, weight-biased" in one pass, the stratified form of the
    * A-ES scheme (same priorities, so a row's rank within its group
    * is identical to its rank in the global sample).
    *
    * Scale shape: one hash shuffle on the group key; the per-group
    * window truncates at kPerGroup, and WindowGroupLimit pushes the
    * rank bound below the sort, so no group ever materializes past
    * its top-k candidates per partition. Membership is a pure
    * function of (id, weight) — relayout-stable like the flat
    * variant. */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String,
      idCol: String, weightCol: String, kPerGroup: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kPerGroup > 0, "kPerGroup must be positive")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__pr").desc, col(idCol))
    df.withColumn("__pr", aesPriority(idCol, weightCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= kPerGroup)
      .drop("__pr", "__rn")
  }

  /** Deterministic mixture SCHEDULE — not which rows to keep (that's
    * [[replayableMixture]]) but the ORDER a training loader should
    * consume them in: per-source positions spread evenly by the
    * smooth-interleave rule `key = rank_in_source / weight_s` with
    * α=1/2 temperature weights (`weight_s = sqrt(n_s)`), so a source
    * holding 4× the data appears 2× as often at every point of the
    * stream and no source ever bursts. Consuming rows in `schedule_key`
    * order IS the epoch schedule.
    *
    * Scale shape: one window shuffle keyed by source (rank within
    * source), counts broadcast back; the global order never
    * materializes — the key is the deliverable, and a range-
    * partitioned write by `schedule_key` hands loaders sorted
    * shards. Fully replayable: rank and sqrt are deterministic, so
    * the key is a pure function of (id, source, corpus counts). */
  def mixtureSchedule(df: DataFrame, sourceCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("n_source"))
    val rn = row_number().over(
      Window.partitionBy(col(sourceCol)).orderBy(col(idCol)))
    df.join(broadcast(counts), Seq(sourceCol))
      .withColumn("rank_in_source", rn)
      .withColumn("schedule_key",
        round(col("rank_in_source").cast("double") /
          sqrt(col("n_source").cast("double")), 9))
      .select(col(idCol), col(sourceCol), col("rank_in_source"),
        col("schedule_key"))
  }

  /** Cluster-balanced sample: cap each cluster's contribution at
    * `maxPerCluster` rows, keeping the lowest ids (deterministic —
    * no coin flips, so membership is stable by construction). The
    * "diversify the mix" counterpart to [[replayableMixture]]: feed
    * it [[Similarity.kmeansAssign]]'s output and over-dense embedding
    * clusters (boilerplate, templates) stop dominating the corpus.
    *
    * Scale shape: one shuffle on the cluster key for the per-cluster
    * window; with |clusters| ≪ |rows| the window state is one counter
    * per cluster per partition. Skewed giant clusters are exactly the
    * rows being truncated, so the window short-circuits at
    * maxPerCluster + sort cost of the cluster's rows. */
  def clusterBalanced(assignments: DataFrame, idCol: String,
      clusterCol: String, maxPerCluster: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerCluster > 0, "maxPerCluster must be positive")
    val w = Window.partitionBy(col(clusterCol)).orderBy(col(idCol))
    assignments
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerCluster)
      .drop("__rn")
  }

  /** Per-group token-budget curation: inside each group (source /
    * domain / language), keep documents in priority order until the
    * group's cumulative token count exceeds `budget` — the "give each
    * domain a token allowance, spend it on the best documents" step
    * that turns a quality score into an actual training mix. A
    * document is kept iff the running total THROUGH it fits; the
    * first over-budget doc and everything after it are dropped (no
    * partial documents).
    *
    * Deterministic: priority-desc with an id tiebreak is a total
    * order, integer token arithmetic — membership is a pure function
    * of content, stable under relayout (same contract as
    * [[hashSplit]]).
    *
    * Scale shape: one hash shuffle on the group key; only the three
    * narrow columns (id, priority, tokens) need flow through the
    * window — project first, join survivors back to the wide row by
    * id if the text is needed downstream. A pathological single-group
    * corpus serializes that group's (narrow) rows onto one task; at
    * that shape, pre-estimate the priority cutoff with
    * `approx_percentile` and window only the boundary stratum. */
  def tokenBudget(df: DataFrame, groupCol: String, idCol: String,
      tokenCol: String, priorityCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(priorityCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL or non-positive token counts must fail loudly IN the data
    // pass (same posture as aesPriority): a negative count shrinks
    // the running sum and lets a doc BELOW the budget cut re-enter —
    // the keep-set would silently stop being a prefix — and a NULL
    // rides in free (window sum skips NULLs)
    val toks = when(col(tokenCol).isNull || col(tokenCol) <= 0,
        raise_error(lit("tokenBudget: token counts must be strictly positive")))
      .otherwise(col(tokenCol))
    df.withColumn("cum_tokens", sum(toks).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Rebalance the corpus toward TARGET mixture proportions: each
    * stratum keeps `min(1, N·target_s / n_s)` of its rows — the
    * static-reweighting move every pre-training mix applies
    * (up-weight the curated source, down-sample the over-crawled
    * one; DoReMi-style learned weights plug straight into
    * `targetShares`). A stratum whose target exceeds its supply
    * keeps everything (the cap-at-1 semantic: sampling can only
    * remove rows — up-weighting beyond supply is the training
    * loader's repetition knob, [[mixtureSchedule]]); strata absent
    * from the map are dropped.
    *
    * Membership is a pure function of (id, counts, targets): the
    * keep-threshold is `floor(fraction·10⁶)` compared against the
    * arithmetic Knuth id-hash mod 10⁶ — integer compare, no float
    * boundary, stable under relayout and fully SQL-replayable
    * (unlike [[stratifiedByHash]]'s xxhash64 buckets).
    *
    * Scale shape: one bounded count aggregate collected to the
    * driver (|strata| rows — the ivfIndex sample-train pattern),
    * whose thresholds inline as LITERALS: the data pass is then
    * pure map-only (hash + integer compare per row, no join at
    * all). The driver-side `floor(min(1, N·s/n)·10⁶)` is an IEEE
    * double tree; an ANSI replay matches it only if every literal
    * in the SQL is CAST to DOUBLE — engines that type bare numeric
    * literals as DECIMAL (DuckDB) otherwise compute N·s exactly and
    * can floor one lower at a representation boundary (3 rows,
    * share 0.1: decimal 99999 vs double 100000 — flips any row
    * whose Knuth bucket equals the boundary). */
  def rebalanceToTarget(df: DataFrame, stratumCol: String, idCol: String,
      targetShares: Map[String, Double]): DataFrame = {
    require(targetShares.nonEmpty, "give at least one target share")
    require(targetShares.size <= MaxStrata,
      s"${targetShares.size} target strata exceed MaxStrata=$MaxStrata — " +
        "the count map and threshold literals are driver-resident")
    require(targetShares.values.forall(s => s > 0.0 && s <= 1.0),
      "target shares in (0, 1]")
    val counts = df.filter(col(stratumCol).isin(targetShares.keys.toSeq: _*))
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val nTotal = counts.values.sum
    val thr = targetShares.foldLeft(lit(null).cast("long")) {
      case (acc, (stratum, s)) =>
        counts.get(stratum) match {
          case Some(cnt) if cnt > 0 =>
            val t = math.floor(
              math.min(1.0, (nTotal * s) / cnt) * 1000000).toLong
            when(col(stratumCol) === stratum, lit(t)).otherwise(acc)
          case _ => acc // empty stratum: nothing to keep
        }
    }
    val bucket = pmod(
      pmod(pmod(col(idCol), lit(2147483648L)) * lit(2654435761L),
        lit(4294967296L)),
      lit(1000000L))
    df.filter(bucket < thr) // NULL thr (untargeted stratum) filters out
  }

  /** Repeat-factor corpus reweighting — the UPSAMPLING counterpart
    * of [[rebalanceToTarget]] (which can only drop rows, capping the
    * factor at 1): emit `f = n_targeted·share / n_stratum` COPIES of
    * each targeted stratum — floor(f) copies of every row plus one
    * extra for the Knuth-bucket fraction of ids, so the output
    * multiset realizes any fractional factor without RNG. Factors
    * below 1 degenerate to bucket-thresholded downsampling (base 0),
    * so one operator covers both directions of a DoReMi-style
    * mixture change. Untargeted strata drop (pass-through rows
    * belong in a separate union, as with rebalanceToTarget).
    *
    * Output: input columns + `copy` (0-based copy index — training
    * loaders use it to spread repeats across shards/epochs).
    *
    * Determinism/replay: counts are exact integers, the factor tree
    * is a fixed IEEE double expression, and the fractional extras
    * are an integer threshold compare on the shared Knuth id-hash
    * bucket (the x105 membership scheme) — bit-replayable, relayout-
    * stable, no float boundary in the per-row decision.
    *
    * Scale shape: one bounded |strata| count collect (the
    * rebalanceToTarget contract), then a pure map + bounded explode
    * — no shuffle; `maxRepeat` caps the explode fan-out so a
    * mis-sized share can't quadratically blow up the corpus. */
  def upsampleToTarget(df: DataFrame, stratumCol: String, idCol: String,
      targetShares: Map[String, Double], maxRepeat: Int = 16): DataFrame = {
    require(targetShares.nonEmpty, "give at least one target share")
    require(targetShares.size <= MaxStrata,
      s"${targetShares.size} target strata exceed MaxStrata=$MaxStrata — " +
        "the count map and threshold literals are driver-resident")
    require(targetShares.values.forall(s => s > 0.0 && s <= 1.0),
      "target shares in (0, 1]")
    require(maxRepeat >= 1, "maxRepeat must be at least 1")
    val counts = df.filter(col(stratumCol).isin(targetShares.keys.toSeq: _*))
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val nTotal = counts.values.sum
    val plans = targetShares.flatMap { case (stratum, s) =>
      counts.get(stratum).filter(_ > 0).map { cnt =>
        val f = (nTotal * s) / cnt
        val base = math.floor(f).toLong
        require(base <= maxRepeat,
          s"repeat factor $f for stratum '$stratum' exceeds maxRepeat=$maxRepeat")
        stratum -> ((base, math.floor((f - base) * 1000000).toLong))
      }
    }
    val baseCol = plans.foldLeft(lit(null).cast("long")) {
      case (acc, (st, (base, _))) =>
        when(col(stratumCol) === st, lit(base)).otherwise(acc) }
    val thrCol = plans.foldLeft(lit(null).cast("long")) {
      case (acc, (st, (_, thr))) =>
        when(col(stratumCol) === st, lit(thr)).otherwise(acc) }
    val bucket = pmod(
      pmod(pmod(col(idCol), lit(2147483648L)) * lit(2654435761L),
        lit(4294967296L)),
      lit(1000000L))
    df.withColumn("__copies",
        baseCol + when(bucket < thrCol, lit(1L)).otherwise(lit(0L)))
      .filter(col("__copies") > 0) // NULL (untargeted stratum) drops too
      .withColumn("copy", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** Deterministic per-epoch global shuffle order: assigns every row
    * a dense 1..n `shuffle_rank` under a pseudorandom permutation
    * keyed by (id, epoch) — the training-loader shuffle that must be
    * REPRODUCIBLE (resume mid-epoch, re-shard, audit which sample a
    * step saw) where `orderBy(rand(seed))` is not (rand is
    * position-seeded: relayout reshuffles it). The key is the shared
    * Knuth multiplicative hash over the epoch-offset id — pure
    * arithmetic, so the full permutation replays in ANSI SQL and is
    * a pure function of (ids, epoch): epochs decorrelate, runs
    * agree.
    *
    * Scale shape: the global rank is computed WITHOUT a global sort
    * or a single-partition window — the two-phase decomposition
    * (the Packing prefix-sum discipline): rows bucket into `parts`
    * contiguous key ranges (monotone in key, so per-bucket dense
    * ranks + bucket offsets compose to the exact global rank), the
    * ≤`parts` bucket counts collect to the driver (bounded
    * contract), and one hash shuffle on the bucket id ranks each
    * bucket independently. A range-partitioned write of the result
    * hands loaders globally-ordered shards (the x75 argument). */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
      parts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(parts >= 1 && parts <= 4096,
      "parts in [1, 4096] — bucket counts are driver-resident")
    require(epoch >= 0, "epoch must be non-negative")
    val span = 4294967296L / parts
    // a NULL id would null the key, miss the offsets join and drop
    // the row SILENTLY — a shuffle must be a permutation, so fail
    // loudly at evaluation instead (the chunkOccupancy raise pattern)
    val checkedId = when(col(idCol).isNull,
      raise_error(lit(s"epochShuffle: NULL $idCol — the shuffle is a " +
        "permutation of non-null ids"))).otherwise(col(idCol))
    val keyed = df.withColumn("__k", pmod(
        (pmod(checkedId, lit(2147483648L)) + lit(epoch.toLong * 1000003L))
          * lit(2654435761L),
        lit(4294967296L)))
      .withColumn("__p", expr(s"__k div $span"))
    val counts = keyed.groupBy(col("__p")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("__p", "__off"))
    val w = Window.partitionBy(col("__p"))
      .orderBy(col("__k").asc, col(idCol).asc)
    keyed.join(offDf, "__p")
      .withColumn("shuffle_rank", col("__off") + row_number().over(w))
      .withColumn("epoch", lit(epoch))
      .drop("__k", "__p", "__off")
  }

  /** Stratified k-fold cross-validation assignment: every row gets a
    * `fold` in [0, k) such that WITHIN each stratum the fold sizes
    * differ by at most 1 (the sklearn StratifiedKFold balance
    * guarantee) and the assignment is a pure function of
    * (id, stratum) — relayout-stable, re-ingestion-stable, and
    * replayable in ANSI SQL, none of which a `rand()`-based fold
    * draw is. Ordering within a stratum follows the shared Knuth
    * multiplicative id-hash (see [[capPerGroup]]), so folds are an
    * unbiased interleave, not id-order (ids correlate with crawl
    * time — id-order folds would put each stratum's oldest rows in
    * fold 0 and leak a temporal gradient into the CV estimate).
    *
    * A plain `pmod(hash, k)` map-only draw is cheaper but only
    * balances in expectation (±√n noise per fold, which at small
    * strata — exactly where stratification matters — skews per-fold
    * class rates); the exact rank costs one hash shuffle and buys
    * the ±1 guarantee.
    *
    * Scale shape: [[epochShuffle]]'s two-phase rank decomposition
    * with the stratum prepended to the key — rows bucket into
    * `parts` contiguous hash ranges per stratum, the
    * ≤ strata × parts (stratum, bucket) counts collect to the driver
    * (BOUNDED: probed via limit and `require`d ≤ `maxStrata` strata
    * before the collect), and the per-bucket windows
    * sort at most |stratum|/parts rows each — NO stratum ever
    * funnels through a single task's sort, which a naive
    * `row_number() OVER (PARTITION BY stratum)` would force.
    * NULL ids / strata fail loudly ([[epochShuffle]]'s raise_error
    * rule): a fold assignment must be a total function of the
    * corpus, and a silent NULL-key drop or a NULL-joined miss would
    * instead lose rows from every fold. */
  def stratifiedKfold(df: DataFrame, strataCol: String, idCol: String,
      k: Int, parts: Int = 32, maxStrata: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && k <= 1000, "k in [2, 1000]")
    require(parts >= 1 && parts <= 4096,
      "parts in [1, 4096] — bucket counts are driver-resident")
    require(maxStrata >= 1 && maxStrata <= 1000000,
      "maxStrata in [1, 1e6] — the (stratum, bucket) counts are " +
        "driver-resident")
    val span = 4294967296L / parts
    val checkedId = when(col(idCol).isNull,
      raise_error(lit(s"stratifiedKfold: NULL $idCol — folds must " +
        "cover every row"))).otherwise(col(idCol))
    val checkedStratum = when(col(strataCol).isNull,
      raise_error(lit(s"stratifiedKfold: NULL $strataCol — a NULL " +
        "stratum would silently miss the offsets join; filter or " +
        "coalesce it first"))).otherwise(col(strataCol))
    val keyed = df
      .withColumn("__s", checkedStratum.cast("string"))
      .withColumn("__k", pmod(
        pmod(checkedId, lit(2147483648L)) * lit(2654435761L),
        lit(4294967296L)))
      .withColumn("__p", expr(s"__k div $span"))
    val cap = maxStrata.toLong * parts
    // both params pass their individual bounds at the maxima yet the
    // product can exceed Int.MaxValue — the (cap+1).toInt probe limit
    // would wrap negative and fail with Spark's error, not ours
    require(cap < Int.MaxValue,
      s"stratifiedKfold: maxStrata × parts = $cap exceeds the " +
        "driver-resident probe limit (Int.MaxValue) — lower one of them")
    val rows = keyed.groupBy(col("__s"), col("__p"))
      .agg(count(lit(1)).as("__n"))
      .limit((cap + 1).toInt).collect()
    require(rows.length <= cap &&
        rows.iterator.map(_.getString(0)).toSet.size <= maxStrata,
      s"stratifiedKfold: > $maxStrata strata (cap $cap bucket counts) " +
        "— a high-cardinality stratum column would OOM the driver; " +
        "raise maxStrata only with the memory to hold the counts")
    val offsets = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (s, bs) =>
        val sorted = bs.sortBy(_._2)
        sorted.map(_._2).zip(
          sorted.map(_._3).scanLeft(0L)(_ + _).dropRight(1))
          .map { case (p, off) => (s, p, off) }
      }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__s", "__p", "__off"))
    val w = Window.partitionBy(col("__s"), col("__p"))
      .orderBy(col("__k").asc, col(idCol).asc)
    keyed.join(offDf, Seq("__s", "__p"))
      .withColumn("fold",
        ((col("__off") + row_number().over(w) - 1) % k).cast("int"))
      .drop("__s", "__k", "__p", "__off")
  }

  /** Forward-chaining temporal fold assignment — the time-series CV
    * split that completes the family ([[stratifiedKfold]] random,
    * [[matchedSplit]] distribution-matched,
    * [[graft.ops.Dedup.splitByCluster]] leakage-safe): the day span
    * divides into `k` equal-width contiguous ranges and every row
    * gets its range index as `fold`; evaluation k then trains on
    * folds < k and tests on fold k — the only split that never lets
    * the model see the future, which a random fold over temporal
    * data always does (autocorrelation leaks tomorrow into today's
    * train set and inflates every metric).
    *
    * Deterministic and map-only: fold = min(k−1, (day − min_day)·k /
    * span) in exact integer arithmetic (both boundaries from one
    * broadcast min/max aggregate) — no quantiles, no RNG, identical
    * in ANSI SQL. Rows with NULL timestamps fail loudly (a temporal
    * split cannot place them).
    *
    * Scale shape: one single-row min/max broadcast + a map-only
    * projection; nothing shuffles. */
  def temporalFolds(df: DataFrame, tsCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, "k in [2, 1000]")
    val checkedTs = when(col(tsCol).isNull,
      raise_error(lit(s"temporalFolds: NULL $tsCol — a temporal split " +
        "cannot place an undated row"))).otherwise(col(tsCol))
    val day = floor(unix_micros(checkedTs) / 86400000000L).cast("long")
    val bounds = broadcast(df
      .agg(min(floor(unix_micros(col(tsCol)) / 86400000000L).cast("long"))
          .as("__d0"),
        max(floor(unix_micros(col(tsCol)) / 86400000000L).cast("long"))
          .as("__d1")))
    df.crossJoin(bounds)
      .withColumn("fold", least(lit(k - 1),
        ((day - col("__d0")) * k / (col("__d1") - col("__d0") + 1))
          .cast("long")).cast("int"))
      .drop("__d0", "__d1")
  }

  /** C4-style per-group document cap: keep at most `k` rows per
    * group, selected by a deterministic id-hash priority — the
    * "no single host dominates the corpus" rule (C4 caps pages per
    * domain; The Pile caps per-source shares the same way). A
    * hash priority, not "first k by id": ids correlate with crawl
    * order, so an id-ordered cap would keep each domain's OLDEST
    * pages — the hash makes the kept subset an unbiased size-k
    * sample of the group, and a pure function of (id) — stable
    * across runs and relayout, SQL-replayable.
    *
    * Rows with a NULL group key form their own group (capped
    * together), matching SQL window PARTITION BY semantics on both
    * engines — a cap must never silently drop or duplicate them.
    *
    * Scale shape: one hash shuffle on the group key; the rank ≤ k
    * filter plans as WindowGroupLimit (Spark 3.5+), so each map
    * task pre-prunes to its local top-k per group before the
    * exchange — the shuffle carries O(groups × k) per task, not the
    * full corpus, exactly the property a 100 TB per-domain cap
    * needs. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be positive")
    // the shared Knuth multiplicative id-hash (see aesPriority):
    // pure arithmetic, so the selection replays exactly in ANSI SQL
    val h = pmod(
      pmod(col(idCol), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(h.asc, col(idCol).asc)
    df.withColumn("__cap_rk", row_number().over(w))
      .filter(col("__cap_rk") <= k)
      .drop("__cap_rk")
  }

  /** Deterministic train/holdout split keyed on a CONTENT id hash —
    * stable across runs, re-partitioning, and re-ingestion, which
    * `randomSplit` is not (it samples by partition-local position, so
    * the same document can switch sides when file layout changes —
    * train/test contamination at corpus scale). Returns
    * (train, holdout); `holdoutPct` of the id space lands in the
    * holdout. */
  def hashSplit(df: DataFrame, idCol: String, holdoutPct: Int,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    require(holdoutPct >= 0 && holdoutPct <= 100, "holdoutPct in [0, 100]")
    val bucket = pmod(xxhash64(col(idCol), lit(seed)), lit(100))
    (df.filter(bucket >= holdoutPct), df.filter(bucket < holdoutPct))
  }

  /** Distribution-matched (stratified) train/holdout split: rows
    * bucket into `buckets` quantile strata of `valueCol` (length,
    * quality score, …), then split WITHIN each stratum by the
    * arithmetic Knuth id-hash — so the holdout mirrors the training
    * distribution by construction (a plain random split leaves the
    * eval set's difficulty profile to chance; an eval set skewed
    * easy overstates every model it measures). Returns the input +
    * `value_bucket` (0-based stratum) + `split`.
    *
    * Deterministic/replayable: boundaries are exact interpolated
    * quantiles (the x26 percentile ↔ quantile_cont pairing) rounded
    * to 6 before the strictly-greater comparisons, and membership is
    * the [[graft.ops.Dedup.splitByCluster]] integer hash — no RNG,
    * relayout-stable, bit-replayable in ANSI SQL.
    *
    * Scale shape: ONE quantile aggregate (a ≤buckets−1-scalar
    * driver collect, bounded by contract), then a pure map — bucket
    * assignment compares against boundary literals riding the plan,
    * the split is arithmetic. No window, no shuffle: a global
    * ntile() would funnel the corpus through one partition's sort;
    * boundary-compare assignment costs nothing at any size. */
  def matchedSplit(df: DataFrame, idCol: String, valueCol: String,
      buckets: Int = 10, holdoutPct: Int = 20): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      "buckets in [2, 1000] — boundaries are driver-resident")
    require(holdoutPct >= 0 && holdoutPct <= 100, "holdoutPct in [0, 100]")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    def r6(v: Double): Double =
      (if (v >= 0) math.floor(v * 1e6 + 0.5) else math.ceil(v * 1e6 - 0.5)) / 1e6
    val bounds = df
      .agg(percentile(col(valueCol), typedlit(probs)).as("b"))
      .head().getSeq[Double](0).map(r6)
    // a NULL value would otherwise count zero boundaries and silently
    // masquerade as stratum 0 — keep it visibly NULL instead (the x92
    // NULL-isolation posture); the split hash still assigns a side
    val rawBucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(valueCol).cast("double") > lit(b), 1).otherwise(0) }
    val bucketCol =
      when(col(valueCol).isNull, lit(null).cast("int")).otherwise(rawBucket)
    val h = pmod(
      pmod(pmod(col(idCol), lit(2147483648L)) * lit(2654435761L),
        lit(4294967296L)),
      lit(100L))
    df.withColumn("value_bucket", bucketCol)
      .withColumn("split",
        when(h < holdoutPct, lit("holdout")).otherwise(lit("train")))
  }
}
