package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine quality-classifier training: batch-gradient logistic
  * regression over hashed char-bigram frequency features — the
  * fastText/CCNet-style "train a reference-vs-crawl classifier, score
  * the whole corpus" curation step (Wenzek et al. 2020, CCNet,
  * arXiv:1911.00359; the LLaMA corpus used the same shape), run as
  * plain Spark aggregates instead of a separate ML system.
  *
  * Every float reduction that crosses rows folds in SORTED order
  * (margins over bucket id, gradients over doc id), and the model is
  * pinned to 9 decimals at each iteration boundary (weights, margins,
  * probabilities) — so training is deterministic, layout-independent,
  * and replayable in ANSI SQL: the entire training loop is
  * oracle-checkable, which no black-box ML pipeline gives you.
  *
  * Scale shape: the feature table (doc, bucket, frequency) builds in
  * one index-explode pass materialized at an exchange; each iteration
  * is one broadcast join (the ≤B-row weight vector) + a per-doc fold
  * (one shuffle keyed by doc) + a per-bucket fold (one shuffle keyed
  * by bucket, ≤B output rows). The corpus text never shuffles; model
  * state is kilobytes. The sorted per-bucket gradient fold collects
  * each bucket's doc terms into one task — the price of bit-exact
  * replay; for a pure production run at 100 TB, flip `exact = false`
  * and the gradient becomes a map-side-combinable plain sum (same
  * model to ~1e-12, spec-asserted, no longer oracle-replayable).
  */
object Classifier {

  /** Left fold of `valCol` in ascending `keyCol` order — the
    * order-pinned float sum both engines can replay exactly (also
    * used by [[TextAnalysis.importanceWeights]]). The fold itself is
    * the native [[graft.functions.FoldSum]] since r20-opt (the
    * interpreted HOF form paid a lambda dispatch per element across
    * ~17 hot call sites — x164/x110/x104/x122/x94/x97…);
    * sort_array/collect_list unchanged, addition chain identical,
    * FoldSumSpec pins native == HOF bit-exact. */
  private[graft] def sortedFold(keyCol: Column, valCol: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.FoldSum(expression(
      sort_array(collect_list(struct(keyCol.as("k"), valCol.as("v"))))),
      Some("v")))
  }

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  /** Train `iters` rounds of batch-gradient logistic regression
    * (w₀ = 0, rate `eta`) on hashed bigram frequencies with boolean
    * `labelCol` as the target, then score every document. Output:
    * (id, label, score) — score is the trained P(target | text),
    * rounded to 6. Documents shorter than one bigram carry no
    * features and are dropped (they have no representation; gate
    * them by length rules instead). */
  def logRegScores(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, numBuckets: Int = 64, eta: Double = 0.5,
      iters: Int = 2, exact: Boolean = true): DataFrame = {
    val feats = logRegFeatures(df, idCol, textCol,
      when(col(labelCol).cast("boolean"), 1.0).otherwise(0.0), numBuckets)
    val w = logRegTrainOn(feats, eta, iters, exact)
    logRegMargins(feats, w)
      .select(col("id").as(idCol), col("y").cast("int").as("label"),
        round(sigmoid(col("m")), 6).as("score"))
  }

  /** (id, y, b, x) hashed-bigram frequency features — the shared
    * front of training and apply. `yExpr` is the label column for
    * training (and for [[logRegScores]]' output) or a constant for
    * unlabeled apply — everything downstream of it is
    * expression-identical, so the split entry points cannot drift
    * from the fused one. */
  private def logRegFeatures(df: DataFrame, idCol: String,
      textCol: String, yExpr: Column, numBuckets: Int,
      checkpoint: Boolean = true): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    // normalize once, explode the index, bucket from the carried
    // column — the bigramLogProb Generate-trap shape
    // bucket array computed in ONE pass (r21: the exploded substr
    // form seeked O(len²) per doc), MATERIALIZED at the spread
    // exchange so the Generate reads a carried column (the
    // minhashSignatures rule); explicit width because the explode
    // fans out ~|s|×
    val grams = Parallelism.spread(Parallelism.ensure(df)
      .select(col(idCol).as("id"), yExpr.as("y"),
        regexp_replace(lower(col(textCol)), graft.ops.TextAnalysis.WhitespaceClass, " ").as("s"))
      .filter(col("s").isNotNull && length(col("s")) >= 2)
      .select(col("id"), col("y"),
        TextAnalysis.bigramBuckets(col("s"), numBuckets).as("bs")),
      col("id"))
      .select(col("id"), col("y"), explode(col("bs")).as("b"))
    // frequency features x = count(doc, b) / count(doc): exact
    // integer division to double — identical on every engine
    val counts = grams.groupBy(col("id"), col("y"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("id")).agg(sum(col("cnt")).as("n"))
    val feats = counts.join(totals, Seq("id"))
      .select(col("id"), col("y"), col("b"),
        (col("cnt").cast("double") / col("n")).as("x"))
    // training consumes feats every iteration plus final scoring —
    // checkpoint; the apply path reads it ONCE (one margins join), so
    // an eager materialization of the whole intake feature table would
    // be pure overhead on the daily-scoring hot path (r16 review)
    if (checkpoint) feats.localCheckpoint(true) else feats
  }

  /** Margins m = w·x per doc, folded in bucket order and pinned to 9.
    * Training uses the INNER weight join (every bucket present in the
    * training feats has a weight after round 1, so inner ≡ left
    * there); APPLY must join LEFT with a zero fill — a bucket the
    * model never saw carries the implicit zero weight the training
    * loop started from, and under an inner join a document whose
    * EVERY bucket was untrained lost all its rows and silently
    * vanished from the scored output (r16 review; the fused path
    * could never reach that state). */
  private def logRegMargins(feats: DataFrame, w: DataFrame,
      joinType: String = "inner"): DataFrame =
    feats.join(broadcast(w), Seq("b"), joinType)
      .withColumn("__v", coalesce(col("w") * col("x"), lit(0.0)))
      .groupBy(col("id"), col("y"))
      .agg(round(sortedFold(col("b"), col("__v")), 9).as("m"))

  /** The batch-GD loop over a prepared feature table → the final
    * (b, w) weight vector (≤numBuckets rows, each round
    * checkpointed and round(9)-pinned). */
  private def logRegTrainOn(feats: DataFrame, eta: Double, iters: Int,
      exact: Boolean): DataFrame = {
    require(iters >= 1, "at least one iteration")
    def gradTerm = col("x") * (col("y") - col("p"))
    // per-bucket gradient: exact = sorted fold (oracle-replayable);
    // production = plain sum (map-side combine, bounded memory)
    def gradAgg: Column =
      if (exact) sortedFold(col("id"), gradTerm) else sum(gradTerm)

    var w: Option[DataFrame] = None // None = the zero vector
    for (_ <- 1 to iters) {
      val probs = w match {
        case None => // σ(0) = 0.5 exactly — no join needed
          feats.select(col("id"), col("y")).distinct()
            .withColumn("p", lit(0.5))
        case Some(wPrev) =>
          logRegMargins(feats, wPrev)
            .withColumn("p", round(sigmoid(col("m")), 9))
      }
      val grad = feats
        .join(probs.select(col("id"), col("p")), Seq("id"))
        .groupBy(col("b")).agg(gradAgg.as("__grad"))
      val wNext = w match {
        case None => grad.select(col("b"),
          round(lit(eta) * col("__grad"), 9).as("w"))
        case Some(wPrev) => wPrev.join(grad, Seq("b"))
          .select(col("b"),
            round(col("w") + lit(eta) * col("__grad"), 9).as("w"))
      }
      // ≤B rows; eager checkpoint truncates the growing lineage
      // (the duplicateClusters rule) and keeps each round's plan flat
      w = Some(wNext.localCheckpoint(true))
    }
    w.get
  }

  /** A trained quality-classifier handle — the signature-store
    * discipline applied to the MODEL: the (b, w) weight table plus
    * the (numBuckets, eta, iters) it was trained with, so scoring
    * cannot silently bucket text differently from training (a
    * numBuckets mismatch is the shingle-mismatch class: features
    * land in different buckets, scores sag, no error). */
  final case class LogRegModel(weights: DataFrame, numBuckets: Int,
      eta: Double, iters: Int)

  // CAPACITY eviction deliberately does NOT release the weights (r18
  // advice): the weights are localCheckpoint(true)-materialized, so
  // BoundedMemo's safety premise ("Spark recomputes from lineage for
  // any caller still holding the evicted value") does not hold — the
  // lineage is truncated, and a deterministic release would turn a
  // stale-but-held LogRegModel into missing-checkpoint-block failures
  // on its next use. Evicted weights are reclaimed by the
  // ContextCleaner once the last holder drops them (the memo's map
  // reference was the pin). The previous `_.weights.unpersist` hook
  // was a silent no-op anyway — Dataset.unpersist only drops
  // CacheManager entries, never checkpoint blocks
  // (graft.Persistence scaladoc; PersistenceSpec proves it).
  // UNLIKE eviction, clearAll releases each model's checkpointed
  // weight blocks deterministically ([[graft.Persistence.release]]):
  // a clear is an explicit between-reps reset and any handle held
  // across it is dead by contract.
  private val trainMemo = new graft.BoundedMemo[
    ((String, String), String, Int, Double, Int, Boolean), LogRegModel](
    8, "logreg-model", onClear = m => graft.Persistence.release(m.weights))

  /** Train ONCE on the labeled corpus and return the persistable
    * model — the production half of [[logRegScores]] (train on the
    * curated reference-vs-crawl set, then score every day's intake
    * with [[logRegApply]] at one broadcast join per batch, no
    * retraining). Expression-identical to the fused path by
    * construction (shared [[logRegFeatures]]/[[logRegTrainOn]]).
    *
    * Memoized per (session, input, columns, params) — x207 and x209
    * train the IDENTICAL model on the identical slice; the final
    * weights are localCheckpoint(true)-materialized inside
    * logRegTrainOn, so a memo hit is a free frame reference. */
  def logRegTrain(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, numBuckets: Int = 64, eta: Double = 0.5,
      iters: Int = 2, exact: Boolean = true): LogRegModel =
    trainMemo.getOrBuild((graft.PlanKeys.scoped(df), s"$idCol/$textCol/$labelCol",
        numBuckets, eta, iters, exact)) {
      LogRegModel(
        logRegTrainOn(
          logRegFeatures(df, idCol, textCol,
            when(col(labelCol).cast("boolean"), 1.0).otherwise(0.0),
            numBuckets),
          eta, iters, exact),
        numBuckets, eta, iters)
    }

  /** Score an (unlabeled) corpus with a trained model: (id, score),
    * score = round(P(target | text), 6) exactly as [[logRegScores]]
    * emits it. One broadcast join of the ≤numBuckets weight vector +
    * one per-doc fold — the daily-intake scoring pass; documents
    * shorter than one bigram are dropped (no representation), and a
    * bucket the model never saw contributes the implicit zero
    * weight. */
  def logRegApply(model: LogRegModel, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val feats = logRegFeatures(df, idCol, textCol, lit(0.0),
      model.numBuckets, checkpoint = false)
    logRegMargins(feats, model.weights, joinType = "left")
      .select(col("id").as(idCol),
        round(sigmoid(col("m")), 6).as("score"))
  }

  /** Persist a trained model: weights parquet + a one-row
    * (num_buckets, eta, iters) meta sidecar — the
    * saveEmbeddingSignatures shape. */
  def saveLogRegModel(model: LogRegModel, path: String): LogRegModel = {
    model.weights.write.mode("overwrite").parquet(s"$path/weights")
    val spark = model.weights.sparkSession
    Layout.writeMeta(spark, path, (model.numBuckets, model.eta, model.iters),
      "num_buckets", "eta", "iters")
    loadLogRegModel(spark, path)
  }

  /** Load a [[saveLogRegModel]]-persisted model: meta eagerly (one
    * row), weights lazily (scoring broadcasts them per batch). */
  def loadLogRegModel(spark: org.apache.spark.sql.SparkSession,
      path: String): LogRegModel = {
    val m = Layout.readMeta(spark, path)
    val numBuckets = m.getAs[Int]("num_buckets")
    val weights = spark.read.parquet(s"$path/weights")
    // re-validate weights against meta (the loadPqModel/loadBpeRules
    // geometry discipline, r16 review): a weights dir from a
    // different-width model with stale meta would otherwise bucket
    // text mod numBuckets while joining weights at other b values —
    // silent sagging scores, the exact class the sidecar exists for.
    // Validation is ONE aggregate row, not a collect of the weight
    // frame (r16 advice: the method takes arbitrary stores, and a
    // large-numBuckets model would pay a full driver collect per
    // load purely for validation)
    val v = weights.agg(
      count(lit(1)).as("n"), countDistinct(col("b")).as("nd"),
      min(col("b")).as("lo"), max(col("b")).as("hi")).collect()(0)
    val (n, nd) = (v.getAs[Long]("n"), v.getAs[Long]("nd"))
    require(n <= numBuckets && nd == n &&
        (n == 0L || (v.getAs[Int]("lo") >= 0 && v.getAs[Int]("hi") < numBuckets)),
      s"model weights at $path/weights carry $n buckets ($nd distinct, " +
        s"range [${v.get(2)}, ${v.get(3)}]) inconsistent with " +
        s"num_buckets=$numBuckets — stale meta or mixed write")
    LogRegModel(weights,
      numBuckets, m.getAs[Double]("eta"), m.getAs[Int]("iters"))
  }

  /** Reliability curve + per-bucket Brier decomposition for a scored
    * corpus: scores land in `bins` equal-width buckets (top edge
    * closed), each bucket reports volume, empirical positive rate,
    * mean predicted score, and mean squared error — the standard
    * calibration diagnostic for a quality classifier's output before
    * its threshold is trusted at corpus scale.
    *
    * `exact = true` pins every cross-row float sum with the
    * id-keyed sorted fold (oracle-replayable, but each bucket's rows
    * collect onto one task); `exact = false` uses plain partial-agg
    * sums — constant-size buffers, the 100 TB path (the
    * logRegScores twin discipline). Scores and labels are consumed
    * as given; `scoreCol` is expected pre-rounded (x97's scores are
    * round(…, 6)) so the squared terms are bit-identical across
    * engines before the order-pinned summation.
    */
  /** Exact ROC-AUC per group — the Mann-Whitney rank statistic with
    * tie-averaged ranks: `AUC = (Σ_pos avgrank − n₊(n₊+1)/2) /
    * (n₊·n₋)`. EXACT and order-independent by construction: ranks
    * derive from integer counts per distinct score, every term is a
    * multiple of 0.5 far below 2⁵³, so the float sum is the same in
    * any order — no sorted fold needed, plain partial aggregation is
    * already bit-deterministic (unlike mean/variance folds).
    * NULL AUC when a group lacks both classes (undefined, loudly).
    *
    * Scale shape: one (group, score) count aggregate —
    * map-side-combinable, the only corpus-sized stage — then a window
    * over DISTINCT scores within each group (bounded by score
    * granularity: a round(…,4) score has ≤ 10⁴+1 distinct values) and
    * a per-group reduce. The corpus never sorts; only score GROUPS
    * do.
    */
  def aucByGroup(scored: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perScore = scored
      .groupBy(col(groupCol), col(scoreCol).as("s"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col(labelCol).cast("long")).cast("long").as("pos"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("s"))
    val ranked = perScore
      .withColumn("cum", sum(col("cnt")).over(w))
      // average rank of this score's tie block: cum − (cnt−1)/2
      .withColumn("avg_rank",
        col("cum").cast("double") - (col("cnt") - 1).cast("double") / 2)
    ranked
      .groupBy(col(groupCol))
      .agg(sum(col("cnt")).cast("long").as("n"),
        sum(col("pos")).cast("long").as("n_pos"),
        sum(col("pos").cast("double") * col("avg_rank")).as("rank_sum_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
      .select(col(groupCol), col("n"), col("n_pos"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("rank_sum_pos")
            - col("n_pos").cast("double") * (col("n_pos") + 1).cast("double") / 2)
            / (col("n_pos").cast("double") * col("n_neg").cast("double"))), 6)
          .as("auc"))
  }

  def calibrationCurve(scored: DataFrame, idCol: String, scoreCol: String,
      labelCol: String, bins: Int = 10, exact: Boolean = true): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    val sq = (col(scoreCol) - col(labelCol)) * (col(scoreCol) - col(labelCol))
    def foldOf(v: Column): Column =
      if (exact) sortedFold(col(idCol), v) else sum(v)
    scored
      .withColumn("bucket",
        least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col(labelCol).cast("long")).cast("long").as("n_pos"),
        round(foldOf(col(scoreCol)), 6).as("sum_score"),
        round(foldOf(sq), 6).as("sum_sq_err"))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos") / col("n"), 6).as("frac_pos"),
        round(col("sum_score") / col("n"), 6).as("mean_score"),
        round(col("sum_sq_err") / col("n"), 6).as("brier"))
  }

  /** Isotonic (PAV) calibration over score bins — the nonparametric
    * score→probability map next to [[calibrationCurve]]'s diagnostic:
    * the curve SHOWS the miscalibration, the isotonic fit is the
    * monotone step function you'd actually apply (Zadrozny & Elkan
    * 2002; sklearn's IsotonicRegression on binned data).
    *
    * Not the sequential pool-adjacent-violators loop: the fit is
    * computed by the minimax identity — fitted(i) =
    * max_{j≤i} min_{k≥i} mean(pos, [j..k]) (Robertson, Wright &
    * Dykstra 1988, Thm 1.4.4) — which is pure joins/aggregates over
    * the bin table, so it distributes and REPLAYS: every segment
    * mean is one division of exact BIGINT sums, min/max over doubles
    * are order-free, rounding only at the output (the x166
    * determinism class; an iterative PAV would instead need
    * per-merge pins). Bins absent from the data are skipped exactly
    * as PAV on the present-bin sequence would.
    *
    * Scale shape: ONE map-side-combinable bucket count over the
    * corpus; everything after runs on the ≤`bins`-row table — the
    * segment/minimax build is bins³-bounded rows (the `require`
    * keeps it honest), trivially small. Returns (bucket, n, n_pos,
    * rate, fitted) with `fitted` monotone non-decreasing. */
  def isotonicCalibration(scored: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100,
      "bins in [2, 100] — the minimax segment table is bins^3-bounded")
    val b = scored
      .withColumn("bucket",
        least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col(labelCol).cast("long")).cast("long").as("n_pos"))
      .localCheckpoint(true) // tiny; feeds segments, anchors, output
    val segs = b.select(col("bucket").as("j"))
      .crossJoin(b.select(col("bucket").as("k")))
      .filter(col("j") <= col("k"))
      .join(b.select(col("bucket").as("m"), col("n"), col("n_pos")),
        col("m").between(col("j"), col("k")))
      .groupBy(col("j"), col("k"))
      .agg(sum(col("n")).as("ns"), sum(col("n_pos")).as("ps"))
      .select(col("j"), col("k"),
        (col("ps").cast("double") / col("ns").cast("double")).as("avg"))
    val fitted = b.select(col("bucket").as("i"))
      .join(segs, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("avg")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("fit"))
    b.join(fitted, col("bucket") === col("i"))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        round(col("fit"), 6).as("fitted"))
  }
}
