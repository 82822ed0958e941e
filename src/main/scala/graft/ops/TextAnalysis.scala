package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline: token
  * counting, quality scoring, language identification and document
  * fingerprinting — all pure column expressions (codegen'd built-ins),
  * so each is a map-only pass that scales linearly at 100 TB with no
  * shuffle and full predicate/column pushdown beneath it.
  */
object TextAnalysis {

  /** Whitespace character class, PINNED to an explicit set instead of
    * each engine's `\s` default: Java regex `\s` includes vertical tab
    * \x0B, DuckDB's RE2 `\s` does not — a document containing \x0B
    * would tokenize differently on the two sides and hash-mismatch
    * (latent data-dependent divergence; current testdata carries no
    * \x0B so pinning changes no hashes). Oracles keep writing `\s+`:
    * this class IS RE2's `\s`. */
  val WhitespaceClass: String = "[ \\t\\n\\f\\r]+"

  /** Whitespace tokenization (lowercased) — native byte-scan split
    * ([[graft.functions.WhitespaceTokens]]; r21: replaces the
    * java.util.regex `split` that compiled the pattern per row on the
    * widest shared text hot path). Bit-identical on every
    * empty-segment edge; [[tokensRegex]] is the equality witness. */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.WhitespaceTokens(expression(lower(text))))
  }

  /** The regex formulation of [[tokens]] — kept ONLY as the equality
    * witness for TokenizerSpec (native == regex on every edge fixture
    * and the real corpus). */
  private[graft] def tokensRegex(text: Column): Column =
    split(lower(text), WhitespaceClass)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Corpus vocabulary: the k most frequent tokens with counts — the
    * frequency table a tokenizer build (BPE seed vocab, stopword
    * discovery) starts from.
    *
    * Scale shape: explode → two-phase hash aggregate (map-side
    * partial collapses each partition to its distinct tokens before
    * the shuffle, so the exchange carries |vocab| rows per partition,
    * not |tokens|) → TakeOrdered for the top-k (never a global
    * sort). Token frequency is Zipfian — extremely skewed — but
    * skewed COUNTS are exactly what partial aggregation neutralizes:
    * the hot token arrives at the reducer as ≤1 row per map
    * partition. */
  def topTokens(df: DataFrame, textCol: String, k: Int = 100): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Statistical language-model quality score: per-document mean
    * log-probability under the corpus's own character-bigram model
    * (add-one smoothed) — the data-driven complement to the
    * heuristic [[qualityScore]]: gibberish and wrong-charset docs
    * score far below the corpus norm without any hand-tuned rule.
    *
    * Two passes, both scale-shaped: (1) bigram counts = explode +
    * two-phase hash aggregate (vocabulary is ≤ charset², tiny, and
    * Zipf-hot bigrams collapse map-side); the model's two scalars
    * (total count, vocab size) broadcast with the counts table;
    * (2) scoring = explode, broadcast-join against the counts, avg
    * per doc — the corpus never shuffles its text. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // The gram build is the classic Generate trap, twice over:
    // exploding a lambda-built shingle array re-evaluates the array
    // per output row, AND the lambda embeds the regexp_replace — which
    // then re-runs over the whole document per element (measured 60 s
    // for what is a 2 s job). So: normalize once, materialize at an
    // exchange, explode the INDEX, and take each bigram with a
    // per-row substr of the carried column — no array, no lambda.
    // localCheckpoint because the gram table feeds three subplans
    // (counts, model scalars, scoring join).
    // NULL text is dropped BEFORE the explode: a null doc would emit
    // one g=NULL gram, which groupBy keeps as a group — inflating the
    // model's total/vocab scalars and shifting every doc's mean
    // (an ANSI-SQL replay drops null docs entirely).
    // gram array computed in ONE pass (r21: the exploded substr form
    // seeked O(len²) per doc), MATERIALIZED at the spread exchange
    // (the minhashSignatures Generate rule); explicit width because
    // the explode fans out ~|s|×
    val grams = Parallelism.spread(Parallelism.ensure(df)
      .select(col(idCol).as("id"),
        regexp_replace(lower(col(textCol)), WhitespaceClass, " ").as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), charBigrams(col("s")).as("gs")),
      col("id"))
      .select(col("id"), explode(col("gs")).as("g"))
      .localCheckpoint(true)
    val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
    val model = counts.agg(sum(col("c")).as("total"),
      count(lit(1)).as("vocab"))
    grams
      .join(broadcast(counts), Seq("g"))
      .crossJoin(broadcast(model))
      .groupBy(col("id"))
      .agg(round(avg(
        log((col("c") + 1).cast("double") / (col("total") + col("vocab")))), 4)
        .as("mean_logprob"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): score every document with the in-corpus
    * LM ([[bigramLogProb]] here — CCNet uses a KenLM; the bucketing
    * contract is the same) and label it head / middle / tail by the
    * PER-GROUP tercile of the score (CCNet buckets per language;
    * `groupCol` generalizes to source/domain). Downstream keeps
    * head+middle and drops tail — the classic LM-quality gate; this
    * operator returns the labeled frame so the keep-set stays a
    * caller policy. Higher mean_logprob = more probable = lower
    * perplexity = "head".
    *
    * Determinism contract: scores are [[bigramLogProb]]'s rounded-4
    * means; tercile boundaries round to 6 BEFORE the
    * strictly-greater compares (the x26/x124 percentile ↔
    * quantile_cont pairing), so bucket membership is exactly
    * SQL-replayable.
    *
    * Scale shape: scoring is the bigramLogProb plan; boundaries are
    * one exact-percentile aggregate per group — |groups|·2 scalars,
    * broadcast back, the corpus never reshuffles for the labeling
    * (one map pass). Exact `percentile` ships each group's scores to
    * one reducer — fine for bounded groups (languages/sources); at
    * extreme per-group cardinality swap in the GK sketch
    * ([[graft.ops.Profiling.approxQuantiles]]) and accept sketch
    * boundaries. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val scored = bigramLogProb(df, idCol, textCol)
    val grouped = df.select(col(idCol).as("id"), col(groupCol).as("grp"))
      .join(scored, Seq("id"))
    val bounds = grouped.groupBy(col("grp"))
      .agg(
        round(percentile(col("mean_logprob"), lit(1.0 / 3)), 6).as("__b13"),
        round(percentile(col("mean_logprob"), lit(2.0 / 3)), 6).as("__b23"))
    grouped.join(broadcast(bounds), Seq("grp"))
      .withColumn("ppl_bucket",
        when(col("mean_logprob") > col("__b23"), lit("head"))
          .when(col("mean_logprob") > col("__b13"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("id").as(idCol), col("grp").as(groupCol),
        col("mean_logprob"), col("ppl_bucket"))
  }

  /** Whole-doc bucket array in ONE code-point pass: the hashed
    * char-bigram bucket ((c1·31 + c2) mod B over the two code points,
    * pure arithmetic so every consumer — [[importanceWeights]],
    * [[graft.ops.Classifier]] — replays bit-identically in ANSI SQL)
    * at every position (r21: the per-position
    * `substr(s, i)` SEEKS on a UTF8String, making the exploded form
    * O(len²) per doc — 40–55 s CPU at sf0.1 in the x97/x94 feature
    * builds). BigramExprSpec pins array == the substr/ascii form.
    * Callers materialize the array at an exchange before exploding
    * (the minhashSignatures Generate rule). */
  private[ops] def bigramBuckets(s: Column, numBuckets: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.BigramBuckets(expression(s), numBuckets))
  }

  /** Whole-doc char-bigram array in one byte-boundary pass — the
    * native form of the exploded `substr(i, 2)` gram build (same
    * O(len²) seek pathology as [[bigramBuckets]]; same edge
    * semantics: "" → [""], 1-char → [s]). */
  private[ops] def charBigrams(s: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.CharBigrams(expression(s)))
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169): score every document by how target-like its
    * hashed char-bigram distribution is — the mean log-ratio
    * ln(p̂_target(b)/p̂_raw(b)) over the doc's bigram buckets, with
    * add-α smoothing on both models. Feed the scores (exponentiated,
    * or rank-thresholded) into [[graft.ops.Sampling.weightedSample]]
    * and the pair IS importance resampling: raw docs drawn toward
    * the target domain's distribution.
    *
    * The bucket hash is pure arithmetic over the two code points
    * ((c1·31 + c2) mod B) — not a library hash — so the entire
    * pipeline replays in ANSI SQL: selection bugs surface as oracle
    * mismatches, not silent distribution drift.
    *
    * Deterministic: the per-doc mean folds cnt·log-ratio terms in
    * SORTED bucket order (float addition is order-sensitive; a
    * physical relayout must not flip a rounding-boundary value),
    * divided once by the exact gram count at the end — identical to
    * the per-instance mean, at per-distinct-bucket cost.
    *
    * Scale shape: mirror of [[bigramLogProb]] — one normalize +
    * index-explode pass materialized at an exchange feeding both
    * models and the scoring join; the bucket table is ≤ B rows
    * (broadcast), the two totals are scalars (broadcast); scoring
    * is a broadcast join + one per-doc aggregate. The corpus text
    * never shuffles. */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      isTargetCol: String, numBuckets: Int = 512,
      alpha: Double = 0.5): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(alpha > 0, "alpha must be positive (unsmoothed ratios divide by zero)")
    val smoothDenom = alpha * numBuckets
    // normalize once, explode the index, substr the carried column —
    // the same Generate-trap avoidance as bigramLogProb
    // one-pass bucket array materialized at the spread exchange —
    // see logRegFeatures (the r21 O(len²) substr-seek fix)
    val grams = Parallelism.spread(Parallelism.ensure(df)
      .select(col(idCol).as("id"), col(isTargetCol).cast("boolean").as("tgt"),
        regexp_replace(lower(col(textCol)), WhitespaceClass, " ").as("s"))
      .filter(col("s").isNotNull && length(col("s")) >= 2)
      .select(col("id"), col("tgt"),
        bigramBuckets(col("s"), numBuckets).as("bs")),
      col("id"))
      .select(col("id"), col("tgt"), explode(col("bs")).as("b"))
    // reduce gram INSTANCES to per-doc bucket counts first: the
    // models, the scoring join and the per-doc fold all run over
    // (doc × distinct-buckets) rows — several× fewer than gram
    // instances, same mean (Σ cnt·lr / Σ cnt ≡ instance mean)
    val docBuckets = grams
      .groupBy(col("id"), col("tgt"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // feeds both models AND the scoring join
    val counts = docBuckets.groupBy(col("b"))
      .agg(sum(when(col("tgt"), col("cnt")).otherwise(0L)).as("c_t"),
        sum(when(col("tgt"), 0L).otherwise(col("cnt"))).as("c_r"))
    val totals = counts.agg(sum(col("c_t")).as("n_t"),
      sum(col("c_r")).as("n_r"))
    val logRatio = log(
      ((col("c_t") + alpha) / (col("n_t") + smoothDenom)) /
        ((col("c_r") + alpha) / (col("n_r") + smoothDenom)))
    docBuckets
      .join(broadcast(counts), Seq("b"))
      .crossJoin(broadcast(totals))
      .withColumn("__v", col("cnt") * logRatio)
      .groupBy(col("id"))
      .agg(round(
        Classifier.sortedFold(col("b"), col("__v")) / sum(col("cnt")),
        6).as("dsir_logweight"))
      .select(col("id").as(idCol), col("dsir_logweight"))
  }

  /** TF-IDF top terms per document: each doc's k most
    * characteristic terms under tf × ln(N/df) — the IR-classic
    * keyword extractor (and the "what is this doc about" feature a
    * curation pipeline clusters on).
    *
    * Scale shape: one tokenization pass (materialized at an exchange
    * — never explode a split expression directly, the Generate
    * re-evaluates it per output row) feeding term frequencies, doc
    * frequencies and the doc count; a shuffle join on `term`
    * (document frequency is corpus-sized — NOT broadcast); rank ≤ k
    * per doc via window (rank-limit pushdown keeps the shuffle
    * bounded). Ranking on the unrounded double with a term
    * tie-break; output rounds to 4. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Parallelism.ensure(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .repartition(col("id"))
      .select(col("id"), explode(col("toks")).as("term"))
      .filter(length(col("term")) > 0)
      .localCheckpoint(true) // feeds tf, df and the scoring join
    val tf = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col("id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("__tfidf").desc, col("term").asc)
    tf.hint("shuffle_hash").join(dfreq.hint("shuffle_hash"), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("__tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("term"), col("rank"),
        round(col("__tfidf"), 4).as("tfidf"))
  }

  /** Word n-grams (default trigrams) as space-joined strings — the
    * shingle set for Jaccard/MinHash dedup. */
  def wordNgrams(text: Column, n: Int = 3): Column = {
    val t = tokens(text)
    when(size(t) < n, array(concat_ws(" ", t)))
      .otherwise(transform(
        sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
  }

  /** Quality heuristics: every metric is a plain expression so the
    * whole block stays in one codegen stage. */
  def withQualityMetrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nTokens = tokenCount(t)
    val alphaChars = length(regexp_replace(lower(t), "[^a-z]", ""))
    val punctChars = length(regexp_replace(t, "[^.,;:!?'\"()\\[\\]{}-]", ""))
    val digitChars = length(regexp_replace(t, "[^0-9]", ""))
    val upperChars = length(regexp_replace(t, "[^A-Z]", ""))
    val stopHits = size(array_intersect(tokens(t), lit(Stopwords.en.toArray)))
    df
      .withColumn("n_chars_m", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("mean_token_len",
        round(when(nTokens > 0, nChars.cast("double") / nTokens).otherwise(0.0), 4))
      .withColumn("alpha_ratio",
        round(when(nChars > 0, alphaChars.cast("double") / nChars).otherwise(0.0), 4))
      .withColumn("punct_ratio",
        round(when(nChars > 0, punctChars.cast("double") / nChars).otherwise(0.0), 4))
      .withColumn("digit_ratio",
        round(when(nChars > 0, digitChars.cast("double") / nChars).otherwise(0.0), 4))
      .withColumn("upper_ratio",
        round(when(nChars > 0, upperChars.cast("double") / nChars).otherwise(0.0), 4))
      .withColumn("stopword_ratio",
        round(when(nTokens > 0, stopHits.cast("double") / nTokens).otherwise(0.0), 4))
  }

  /** Sentence-structure profile — the readability-style quality
    * features (Gopher/C4-adjacent rules filter on them: documents
    * that are one run-on "sentence", token-soup with no sentence
    * breaks, or comma-spam lists): per document, the non-empty
    * sentence count under a `[.!?]+` split, mean words per sentence,
    * and comma density. Sentence segments count only when non-blank
    * after trim — split-boundary trailing-empty semantics differ
    * between engines, the filter makes both count the same thing.
    *
    * Every metric is a plain codegen'd expression (one map stage, no
    * shuffle — the [[withQualityMetrics]] contract); ratios round to
    * 4 from integer counts, so rows replay exactly. */
  def structureStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val sentences = filter(split(t, "[.!?]+"), s => trim(s) =!= "")
    val nSent = size(sentences)
    val nTokens = tokenCount(t)
    val nCommas = length(t) - length(regexp_replace(t, ",", ""))
    df
      .withColumn("n_sentences", nSent)
      .withColumn("mean_words_per_sentence",
        round(when(nSent > 0, nTokens.cast("double") / nSent)
          .otherwise(0.0), 4))
      .withColumn("comma_density",
        round(when(nTokens > 0, nCommas.cast("double") / nTokens)
          .otherwise(0.0), 4))
  }

  /** Composite quality score in [0,1] — deterministic blend of the
    * heuristics (the shape used by C4/Gopher-style filters: enough
    * alpha text, sane token length, some stopwords, not digit spam). */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame =
    withQualityMetrics(df, textCol).withColumn("quality_score",
      round(
        greatest(lit(0.0), least(lit(1.0),
          col("alpha_ratio") * 0.4
            + least(col("stopword_ratio") * lit(4.0), lit(1.0)) * 0.3
            + when(col("mean_token_len").between(3.0, 12.0), 0.2).otherwise(0.0)
            + when(col("digit_ratio") < 0.2, 0.1).otherwise(0.0))),
        4))

  /** Language ID via stopword-profile voting: count hits against each
    * language's stopword set, pick the argmax (ties → more hits wins,
    * then lexicographic for determinism). `array_intersect` on a small
    * literal array is a per-row hash probe — map-only at scale. */
  def withLanguage(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val scored = Stopwords.all.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(array_intersect(t, lit(words.toArray))).as("hits"),
        lit(lang).as("lang"))
    }
    // greatest() over (hits, lang) structs: max hits, tie-break on
    // lang. Materialize the vote once (a nested select, so the 5
    // array_intersect passes run once per row, not once per use).
    df.withColumn("__lang_vote", greatest(scored: _*))
      .select(col("*"),
        when(col("__lang_vote.hits") > 0, col("__lang_vote.lang"))
          .otherwise(lit("und")).as("detected_lang"))
      .drop("__lang_vote")
  }

  /** Per-document repetition statistics — the Gopher/C4-style
    * repetitiveness filters (a doc that is one phrase looped is spam
    * no matter how clean its characters look):
    *
    *   - `distinct_ratio`: distinct tokens / tokens (low = loopy);
    *   - `top_token_ratio`: most frequent token's share of the doc;
    *   - `dup_bigram_ratio`: 1 − distinct bigrams / bigrams (the
    *     classic duplicate-n-gram fraction).
    *
    * Scale shape: the corpus is tokenized ONCE PER CONSUMER branch
    * (twice) — deliberate, measured (r20 opt): the bare
    * repartition(id) is not a materialization point (the two
    * consumer subtrees' divergent Generate pushdowns break exchange
    * reuse, the r13 class), but NO materialized alternative beat it
    * on the same-VM 3-rep profile — an eager localCheckpoint of the
    * token arrays (tokenize once, materialize, read twice) and
    * checkpoint-then-repartition both landed inside the ±2–3×
    * same-VM CPU noise band with identical walls (~1.1–1.2 s at
    * sf0.1), while the checkpoint carries a principled scale cost:
    * the token arrays are the corpus re-encoded, BIGGER than the
    * text they replace, so the materialization's block-store
    * footprint grows with the corpus for no demonstrated win (the
    * r13 materialize-once rule is for frames smaller than their
    * source). A checkpoint also FORGETS partitioning (LogicalRDD
    * reports UnknownPartitioning — read off the executed plan), so
    * the naive checkpoint form re-exchanges every aggregate. The
    * aggregates embed the near-unique doc id — skew-free however
    * hot a token is. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // empty tokens are filtered IN THE ARRAY, once, so unigram and
    // bigram views tokenize identically (and identically to the
    // oracle's list_filter) — filtering only the unigram explode
    // would silently skew dup_bigram_ratio on irregular whitespace
    val base = Parallelism.ensure(df)
      .select(col(idCol).as("id"),
        filter(tokens(col(textCol)), t => length(t) > 0).as("toks"))
      .repartition(col("id"))
    val uni = base
      .select(col("id"), explode(col("toks")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    // explode the bigram INDEX and slice the carried array per output
    // row — never explode a transform(...) expression (GenerateExec
    // re-evaluates its input per OUTPUT row: the O(T) array build
    // would rerun T times, the repo's measured Generate trap). The
    // index form also unifies the short-doc case: size<2 ⇒ the single
    // i=0 slice is the whole-doc "gram" the SQL CASE mirrors.
    val bi = base
      .select(col("id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 2, lit(0)))).as("i"))
      .select(col("id"),
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(2))).as("g"))
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(
        sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
    uni.join(bi, "id")
      .select(col("id").as(idCol),
        col("n_tokens"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("distinct_ratio"),
        round(col("top_c").cast("double") / col("n_tokens"), 4)
          .as("top_token_ratio"),
        round(lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"), 4)
          .as("dup_bigram_ratio"))
  }

  /** PII scrubbing: emails, IPv4 addresses and phone-number runs
    * replaced with typed placeholder tags — the redaction pass a
    * training corpus takes before anything else sees it. Patterns are
    * deliberately RE2-compatible (character classes, bounded repeats,
    * non-capturing groups only), so the exact same scrub replays in
    * RE2-based engines (the oracle does). Plain nested
    * `regexp_replace` → codegen'd, map-only at any scale. Order
    * matters: emails first (they contain digits and dots), then IPs
    * (dotted digits), then the greedy phone-run pattern. */
  // pattern constants shared with the SQL surface (GraftFunctions
  // registers `scrub_pii` from the same strings — keep in lockstep)
  val PiiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpPattern = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PiiPhonePattern = "\\+?\\d[\\d ()-]{6,}\\d"

  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text, PiiEmailPattern, "<EMAIL>")
    val ip = regexp_replace(email, PiiIpPattern, "<IP>")
    regexp_replace(ip, PiiPhonePattern, "<PHONE>")
  }

  /** N-gram novelty: per document, the fraction of its distinct
    * word n-grams that occur in NO other document (df == 1) plus the
    * mean inverse document frequency — the "is this boilerplate or
    * original text" signal (low novelty ⇒ template/boilerplate, a
    * corpus-level complement to the row-local [[repetitionStats]]).
    *
    * Scale shape: one shingling pass materialized at an exchange and
    * checkpointed (it feeds the df aggregate AND the scoring join —
    * unchecked, the subtree would execute twice); the df table is
    * corpus-sized, so the join is shuffled on `g`, never broadcast
    * (the x32 rule); final aggregate keyed by the near-unique doc
    * id. The gram key is `xxhash64` of the shingle (the x57 rule):
    * the checkpoint, shuffle and join carry 8 bytes per gram instead
    * of ~n×word chars — outputs are counts only, so the swap is
    * invisible downstream (a false df-merge needs a 64-bit
    * collision; measured 17→9 s of stage CPU at sf0.1). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val t = tokens(col(textCol))
    // hash the token-array SLICE, not a built string: xxhash64 folds
    // the slice's bytes directly, so no per-gram string ever
    // materializes (tokens are whitespace-free, so slice ↔ joined
    // string is injective and the df partition matches the string
    // formulation exactly)
    val hashedGrams = when(size(t) < n, array(xxhash64(t)))
      .otherwise(transform(sequence(lit(0), size(t) - n),
        i => xxhash64(slice(t, i + 1, lit(n)))))
    val grams = Parallelism.ensure(df)
      .select(col(idCol).as("id"), array_distinct(hashedGrams).as("gs"))
      .repartition(col("id"))
      .select(col("id"), explode(col("gs")).as("g"))
      .localCheckpoint(true)
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.hint("shuffle_hash").join(dfreq.hint("shuffle_hash"), "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1).otherwise(0)).as("n_unique"),
        // mean inverse df summed in SORTED order via a sequential
        // fold: a plain avg()'s float addition order follows the
        // physical row order, so its 4-decimal rounding can flip at
        // a boundary between engine and oracle (bit-identical only
        // when both sides add in the same order — doc ids near the
        // round(x,4) edge DID flip when the join key changed)
        sort_array(collect_list(col("df"))).as("dfs"))
      .select(col("id").as(idCol), col("n_grams"),
        round(col("n_unique").cast("double") / col("n_grams"), 4)
          .as("novelty_ratio"),
        round(aggregate(col("dfs"), lit(0.0),
          (a, d) => a + lit(1.0) / d.cast("double")) / col("n_grams"), 4)
          .as("mean_inv_df"))
  }

  /** Corpus drift: KL divergence of each group's unigram token
    * distribution from the WHOLE-corpus distribution — the "did this
    * source/snapshot shift?" monitor every recurring ingestion needs
    * (a spiking KL flags a crawler gone wrong or a domain takeover
    * before it poisons the mix). No smoothing is needed: every token
    * of a group is by definition in the corpus, so q(t) > 0 wherever
    * p(t) > 0 and the divergence is finite and exact.
    *
    * Scale shape: one shuffle to (group, token) counts with map-side
    * partial aggregation; corpus counts and group totals RE-AGGREGATE
    * those counts (never a second scan of the text). The per-token
    * join is corpus-vocabulary-sized, so it shuffles on `token` (the
    * x32 rule: never broadcast a corpus-sized side); group totals and
    * the corpus-total scalar are |groups|-sized and broadcast. */
  def corpusDrift(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(groupCol).as("__grp"),
      explode(tokens(col(textCol))).as("__tok"))
      .filter(length(col("__tok")) > 0)
    val tf = toks.groupBy(col("__grp"), col("__tok"))
      .agg(count(lit(1)).as("cnt_g"))
    val cf = tf.groupBy(col("__tok")).agg(sum(col("cnt_g")).as("cnt_c"))
    val gt = tf.groupBy(col("__grp")).agg(sum(col("cnt_g")).as("tot_g"))
    val ct = tf.agg(sum(col("cnt_g")).as("tot_c"))
    val p = col("cnt_g").cast("double") / col("tot_g")
    val q = col("cnt_c").cast("double") / col("tot_c")
    tf.hint("shuffle_hash").join(cf.hint("shuffle_hash"), "__tok")
      .join(broadcast(gt), "__grp")
      .crossJoin(broadcast(ct))
      .groupBy(col("__grp"), col("tot_g"))
      .agg(count(lit(1)).as("distinct_tokens"),
        round(sum(p * log(p / q)), 6).as("kl_divergence"))
      .select(col("__grp").as(groupCol), col("tot_g").as("n_tokens"),
        col("distinct_tokens"), col("kl_divergence"))
  }

  /** Encoding-anomaly scan: per-document counts of the classic
    * "crawler ate the bytes" signals — U+FFFD replacement characters
    * (lossy decode), stray C0 control characters (binary leakage;
    * tab/newline/CR excluded), non-ASCII share, and the `â€`
    * UTF-8-read-as-Latin-1 mojibake marker (the first two bytes of
    * every curly quote/dash mis-decode). Map-only, one codegen'd
    * projection — the counts come from length deltas after literal or
    * class replacement, no per-char explode.
    *
    * The marker patterns are metachar-free, so the ANSI twin can use
    * plain literal `replace` where this side uses `regexp_replace`
    * (every match replaced on both engines) — only the C0/ASCII
    * classes rely on regex, with byte-range classes both RE2 and Java
    * interpret identically. */
  def encodingAnomalies(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val repl = length(t) - length(regexp_replace(t, "�", ""))
    val ctrl = length(t) -
      length(regexp_replace(t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))
    val nonAscii = length(t) - length(regexp_replace(t, "[^\\x00-\\x7F]", ""))
    val mojibake =
      (length(t) - length(regexp_replace(t, "â€", ""))) / lit(2)
    df.select(col(idCol),
      length(t).as("n_chars"),
      repl.cast("int").as("repl_chars"),
      ctrl.cast("int").as("ctrl_chars"),
      round(nonAscii.cast("double") / greatest(length(t), lit(1)), 4)
        .as("non_ascii_ratio"),
      mojibake.cast("int").as("mojibake_hits"),
      (repl === 0 && ctrl === 0 && mojibake === 0).as("clean"))
  }

  /** Token-frequency estimation under a FIXED memory bound: a
    * count-min sketch over the token stream (Spark's `count_min_sketch`
    * aggregate — merge-able, so the build is one two-phase aggregate
    * whose shuffle carries ONE d×w counter table per map partition,
    * independent of corpus size), probed for the exact top-k tokens
    * so the estimate error is visible next to ground truth.
    *
    * This is the sketch-family answer to "what are the hot tokens of
    * a 100 TB stream" when the exact groupBy ([[topTokens]], x25) is
    * unaffordable or the input is unbounded (streaming): memory is
    * d=⌈ln(1/(1−confidence))⌉ rows × w=⌈e/eps⌉ counters, full stop.
    * CMS guarantees est ≥ true always, and est ≤ true + eps·N with
    * probability ≥ confidence — both bounds spec-asserted. The probe
    * is a codegen'd [[graft.functions.CmsEstimate]] over the
    * k-bounded result, with the sketch riding the plan as a literal
    * (the Bloom posture of x47).
    *
    * Exact-twin discipline: the paired hash-green query is x25
    * (`topTokens`) — identical tokenization, exact counts. */
  def tokenFrequencySketch(df: DataFrame, textCol: String, k: Int = 20,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val toks = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    // the stream feeds two consumers (sketch build + exact counts),
    // but checkpointing IT would materialize one row per corpus
    // token — the very thing a fixed-memory sketch exists to avoid.
    // Tokenize twice instead (two scans, each map-only) and
    // checkpoint only the VOCABULARY-sized count table the probe
    // side reads
    val bytes = toks
      .select(count_min_sketch(col("token"), lit(eps), lit(confidence),
        lit(seed)).as("cms"))
      .head().getAs[Array[Byte]](0)
    toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token").asc)
      .limit(k)
      // materialize the k rows BEFORE the probe: keeps Limit adjacent
      // to Sort so the top-k plans as TakeOrdered (without the
      // boundary, the optimizer slides the probe projection between
      // them and the vocabulary gets a full distributed sort instead)
      .localCheckpoint(true)
      .select(col("token"), col("exact_n"),
        graft.functions.Sketches.cmsEstimate(col("token"), bytes).as("est_n"))
      .withColumn("overcount", col("est_n") - col("exact_n"))
  }

  /** Heavy-hitter tokens via the [[graft.functions.MisraGries]]
    * mergeable summary — the fixed-memory TOP-TOKEN query (the
    * count-min sketch in [[tokenFrequencySketch]] answers point
    * lookups; Misra–Gries returns the candidates themselves).
    *
    * Scale shape: the typed Aggregator reduces map-side, so the
    * single-partition exchange carries one ≤`capacity`-entry map per
    * partition — the summary, never the token stream. Estimates are
    * merge-order-dependent (undercounts bounded by N/capacity,
    * spec-asserted); rank on them, don't replay them. x25's exact
    * vocabulary top-k is the hash-green twin. */
  def heavyHitters(df: DataFrame, textCol: String, capacity: Int = 64,
      topK: Int = 20): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(capacity),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .agg(mg(col("token")).as("summary"))
      .select(explode(col("summary")).as(Seq("token", "est")))
      .orderBy(col("est").desc, col("token").asc)
      .limit(topK)
  }

  /** One greedy left-to-right BPE merge pass over a symbol array,
    * as a codegen-friendly `aggregate` fold (no UDF): state =
    * (emitted symbols, one-symbol carry). The carry either fuses
    * with the next symbol into `l+r` or is emitted unchanged —
    * equivalent to the classic scan-and-skip because a just-merged
    * token can never equal `l` again (`r` is non-empty), so it never
    * re-merges within the pass ("aaa" + (a,a) → ["aa","a"]). */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    val zero = struct(
      array().cast("array<string>").as("acc"),
      lit(null).cast("string").as("carry"))
    aggregate(syms, zero,
      (st, s) =>
        when(st.getField("carry").isNull,
          struct(st.getField("acc").as("acc"), s.as("carry")))
        .when(st.getField("carry") === lit(l) && s === lit(r),
          struct(concat(st.getField("acc"), array(lit(l + r))).as("acc"),
            lit(null).cast("string").as("carry")))
        .otherwise(
          struct(concat(st.getField("acc"), array(st.getField("carry"))).as("acc"),
            s.as("carry"))),
      st =>
        when(st.getField("carry").isNull, st.getField("acc"))
          .otherwise(concat(st.getField("acc"), array(st.getField("carry")))))
  }

  /** Distributed BPE tokenizer training (Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units"):
    * learn `numMerges` merge rules by repeatedly fusing the corpus's
    * most frequent adjacent symbol pair. Returns the ordered merge
    * table (merge_rank, lhs, rhs, cnt) — deterministic: ties break
    * (cnt desc, lhs, rhs), counts are exact integer sums, so the
    * whole training replays in ANSI SQL (hash-green).
    *
    * Scale shape — the part that matters at 100 TB: the corpus is
    * touched ONCE (token explode → word-count aggregate); every
    * merge round then runs on the BOUNDED word vocabulary (weighted
    * by count), so round cost is O(|vocab| × word length), not
    * O(corpus). Pair counting is a two-phase aggregate; the argmax
    * collects a single row; merge application is a map-only
    * [[applyMerge]] fold. Rounds are `localCheckpoint`ed — lineage
    * stays constant-size across iterations (the x28/x31 rule).
    * Word-internal BPE (no cross-word pairs, no end-of-word marker);
    * overlapping pair occurrences count, as in the reference
    * implementations. */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrainRules(df, textCol, numMerges)
      .toDF("merge_rank", "lhs", "rhs", "cnt")
  }

  /** A trained BPE model: the ordered merge rules plus the final
    * per-word segmentation table (word, n, syms) the training loop
    * ends on — every downstream encode reads segmentations from
    * here instead of re-folding. */
  final case class BpeModel(
      rules: Seq[(Int, String, String, Long)], segmentedVocab: DataFrame)

  private val bpeMemo =
    new graft.BoundedMemo[((String, String), String, Int), BpeModel](8, "bpe-rules")

  /** [[bpeTrain]]'s training loop. Memoized per (session, input,
    * column, numMerges) — the train query and the encode query share
    * one training run. The evicted model's localCheckpoint blocks
    * are reclaimed by the ContextCleaner once unreferenced (no
    * CacheManager entry). */
  def bpeModel(df: DataFrame, textCol: String, numMerges: Int): BpeModel =
    bpeMemo.getOrBuild((graft.PlanKeys.scoped(df), textCol, numMerges))(
      bpeTrainUncached(df, textCol, numMerges))

  /** The learned rules alone (rank, lhs, rhs, cnt) — ≤numMerges rows;
    * collecting them is the point, not a hot-path collect. */
  def bpeTrainRules(df: DataFrame, textCol: String,
      numMerges: Int): Seq[(Int, String, String, Long)] =
    bpeModel(df, textCol, numMerges).rules

  private def bpeTrainUncached(df: DataFrame, textCol: String,
      numMerges: Int): BpeModel = {
    val words = df.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
    var vocab = words
      .select(col("word"), col("n"), split(col("word"), "").as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("n"),
          explode(sequence(lit(0), size(col("syms")) - 2)).as("i"),
          col("syms"))
        .select(element_at(col("syms"), col("i") + 1).as("lhs"),
          element_at(col("syms"), col("i") + 2).as("rhs"), col("n"))
        .groupBy("lhs", "rhs").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
        .collect().headOption
      top match {
        case Some(row) =>
          val (l, rr, c) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((r + 1, l, rr, c))
          // one fold per round, each materialized: folding all rounds
          // into ONE nested projection multiplies codegen size and
          // re-allocates the accumulator arrays per level (measured
          // 14.6 s vs 1.6 s for the whole training at sf0.1)
          vocab = vocab
            .select(col("word"), col("n"), applyMerge(col("syms"), l, rr).as("syms"))
            .localCheckpoint(true)
        case None => exhausted = true // vocabulary fully fused
      }
      r += 1
    }
    BpeModel(merges.toList, vocab)
  }

  /** Persist trained BPE merge rules — the tokenizer is THE canonical
    * persisted artifact of an LLM data pipeline (train once on the
    * reference corpus, encode every batch forever after); one tiny
    * (merge_rank, lhs, rhs, cnt) parquet. */
  def saveBpeRules(spark: org.apache.spark.sql.SparkSession,
      rules: Seq[(Int, String, String, Long)], path: String)
      : Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    rules.toDF("merge_rank", "lhs", "rhs", "cnt")
      .repartition(1).write.mode("overwrite").parquet(s"$path/rules")
    loadBpeRules(spark, path)
  }

  /** Load [[saveBpeRules]]-persisted merge rules, re-validating that
    * ranks are contiguous from 1 — BPE rules compose ORDERED, so a
    * truncated store (a missing middle rank) would silently change
    * every later segmentation; fail loudly instead. */
  def loadBpeRules(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, String, String, Long)] = {
    val rules = spark.read.parquet(s"$path/rules")
      .select(col("merge_rank"), col("lhs"), col("rhs"), col("cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // an EMPTY rule set is a valid model (a fully-fused vocabulary
    // exhausts training at round 1 — bpeTrainUncached's exhausted
    // branch), so saving one must round-trip instead of crashing on
    // its own readback (r16 review); the contiguity check below is
    // vacuously true for it
    require(rules.map(_._1) == (1 to rules.length),
      s"BPE rule store at $path has non-contiguous ranks " +
        s"${rules.map(_._1).mkString(",")} — truncated or mixed write")
    rules
  }

  /** BPE corpus segmentation: subword frequency table (subword, n),
    * ordered (n desc, subword), top `topK`.
    *
    * Scale shape: merges are a function of the WORD alone, and the
    * training loop's final state already holds every distinct word's
    * segmentation — so encode is a pure read of the model's
    * (bounded) vocabulary table: one explode + one two-phase
    * aggregate. The corpus is not re-scanned, let alone re-folded
    * row by row. To encode a DIFFERENT corpus than the one trained
    * on, join its word counts against `model.segmentedVocab` on
    * `word` and weight by the new counts. */
  def bpeSegment(df: DataFrame, textCol: String, numMerges: Int = 8,
      topK: Int = 20): DataFrame =
    bpeModel(df, textCol, numMerges).segmentedVocab
      .select(col("n"), explode(col("syms")).as("subword"))
      .groupBy("subword").agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("subword"))
      .limit(topK)

  /** Tokenizer fertility per corpus slice: chars-per-token and
    * tokens-per-word under the trained BPE ([[bpeModel]]) — the
    * tokenizer-efficiency numbers a multilingual mix is balanced
    * with (a language at 2× the fertility pays 2× the compute per
    * character; cf. the fertility analyses around SentencePiece/BPE
    * multilingual vocabularies). Output per group: (n_words,
    * n_subwords, chars_per_token, tokens_per_word).
    *
    * Deterministic: integer sums (words, subwords, chars) with two
    * exact divisions rounded to 4 — no float accumulation; the x131
    * oracle replays the whole thing on top of the x69/x70 BPE CTE
    * replay.
    *
    * Scale shape: merges are a function of the word alone, so the
    * per-group stats join GROUP-LEVEL word counts (two-phase
    * aggregate) against the model's bounded segmented vocabulary —
    * shuffle-hash on the word key; the corpus token stream never
    * re-folds. */
  def tokenizerFertility(df: DataFrame, groupCol: String, textCol: String,
      numMerges: Int = 8): DataFrame = {
    val segLen = bpeModel(df, textCol, numMerges).segmentedVocab
      .select(col("word"), size(col("syms")).cast("long").as("__nsub"))
    val gw = Parallelism.ensure(df)
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("grp"), col("word")).agg(count(lit(1)).as("__n"))
    gw.hint("shuffle_hash").join(segLen.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("grp"))
      .agg(sum(col("__n")).as("n_words"),
        sum(col("__n") * col("__nsub")).as("n_subwords"),
        sum(col("__n") * length(col("word"))).as("__chars"))
      .select(col("grp").as(groupCol), col("n_words"), col("n_subwords"),
        round(col("__chars").cast("double") / col("n_subwords"), 4)
          .as("chars_per_token"),
        round(col("n_subwords").cast("double") / col("n_words"), 4)
          .as("tokens_per_word"))
  }

  /** Pairwise vocabulary overlap between corpus slices: Jaccard
    * similarity of the distinct-token sets of every pair of groups
    * (sources, languages, snapshots) — the "how much does crawl A
    * repeat crawl B" matrix a mixture design starts from, and a cheap
    * cross-source contamination screen.
    *
    * Scale shape: one explode → distinct (two-phase aggregate on
    * (group, token), so the exchange carries each group's vocabulary
    * once, not its token stream), materialized once for its three
    * consumers (both self-join sides + the per-group counts); a
    * shuffle-hash self-join on `token` (vocabulary is corpus-sized —
    * NOT broadcast). Per-token fanout is bounded by |groups|² — a
    * token shared by every group emits |groups|²/2 pairs, so the join
    * output is |vocab|·|groups|²/2 worst-case, aggregated down to
    * |groups|²/2 rows by a two-phase count. The per-group totals ARE
    * broadcast (|groups| rows). */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    // tokens travel as xxhash64 LONGS from the explode on (r20 opt,
    // the x161/x57 ordering argument): only token EQUALITY feeds the
    // distinct, the vocabulary counts and the self-join, so every
    // output number is identical unless two distinct tokens of one
    // source collide at 64 bits (≈|vocab|²/2⁶⁴) — the distinct's
    // map-side partial agg, the checkpoint blocks and both self-join
    // shuffle sides carry 8 bytes per token instead of the token
    // text (guide §2.3 narrower types). OpsSpec pins hashed ==
    // string-keyed on the sf0.001 corpus; the string-keyed ANSI
    // oracle replays the same counts.
    val toks = Parallelism.ensure(df)
      .select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0 && col("grp").isNotNull)
      .select(col("grp"), xxhash64(col("tok")).as("token"))
      .distinct()
      .localCheckpoint(true) // feeds both self-join sides + the counts
    val counts = toks.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val a = toks.select(col("grp").as("source_a"), col("token"))
    val b = toks.select(col("grp").as("source_b"), col("token"))
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(counts.select(col("grp").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(counts.select(col("grp").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
  }

  /** Document fingerprint: md5 over the sorted distinct token set —
    * an order-insensitive bag-of-words signature (same fingerprint ⇔
    * same vocabulary), SQL-expressible for the oracle. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Shannon entropy of the character distribution, in nats — the
    * repetition/quality signal compression-ratio filters approximate
    * (template and boilerplate pages sit far below natural text;
    * random bytes far above). Entirely map-only: counts fold INSIDE
    * the row via higher-order functions (O(|alphabet|·len) per doc,
    * no explode, no shuffle — entropy rides the scan), so it
    * composes into any curation pipeline for free at 100 TB.
    *
    * Determinism contract: integer-count ratios, a fixed IEEE term
    * tree, and a SORTED fold over the per-character terms (the
    * CLAUDE.md float-sum rule) — hash-green against the DuckDB list
    * replay. */
  def charEntropy(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.CharEntropy(expression(text)))
  }

  /** The reference higher-order-function formulation of
    * [[charEntropy]] — kept ONLY as the equality witness for
    * CharEntropySpec (native == fold on every fixture): per distinct
    * char it re-evaluates `split(text, "")` twice and runs an
    * interpreted `filter` over the whole char array —
    * O(chars × distinct-chars) interpreted work, ~9–10 s warm CPU at
    * sf0.1 vs the native expression's single O(chars) pass (r20 opt;
    * an explode → hash-aggregate rewrite was also measured and
    * REJECTED: 26 s CPU — per-row aggregation overhead over |chars|
    * rows costs more than the in-row interpreted fold it replaced). */
  private[graft] def charEntropyFold(text: Column): Column = {
    val cs = split(text, "")
    val term = (c: Column) => {
      val p = size(filter(cs, x => x === c)) / size(cs)
      p * log(p)
    }
    negate(aggregate(
      sort_array(transform(array_distinct(cs), term)),
      lit(0.0), (acc, x) => acc + x))
  }

  /** Collocation mining by pointwise mutual information over adjacent
    * word pairs: PMI(w1,w2) = ln P(w1,w2) − ln P(w1) − ln P(w2) —
    * the classic multi-word-expression detector ("new york",
    * "machine learning") a tokenizer-vocabulary or phrase-merge pass
    * feeds on. `minCount` suppresses the low-frequency PMI explosion
    * (a pair seen once with rare words scores arbitrarily high).
    *
    * Determinism contract: the score is computed in LOG-DECOMPOSED
    * form — a fixed left-associated chain of `ln` over integer
    * counts — which is both order-independent (no float sums over
    * data) and overflow-free at any corpus size, where the naive
    * integer product cb·Nu² overflows BIGINT around 10¹⁹ (≈ tens of
    * billions of tokens — real at 100 TB).
    *
    * Scale shape: ONE tokenize/explode pass — each token position
    * emits (w1 = token, w2 = successor-or-NULL), so the unigram
    * vocabulary is the w1-marginal of the (w1, w2) count table and
    * the bigram table its non-NULL-w2 slice; every count the PMI
    * needs re-aggregates from that count table (vocab-sized,
    * materialized once at an eager localCheckpoint — the r7 plan
    * rebuilt the unigram aggregate twice from independent full
    * corpus scans). Counting is two-phase hash aggregate (map-side
    * partials absorb the Zipf head); the count-vocabulary joins are
    * shuffle-hash on the word key (vocab is corpus-sized, never
    * broadcast); only the two single-row totals broadcast. Top-k
    * plans as TakeOrdered. */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5,
      k: Int = 20): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val base = Parallelism.ensure(df).select(tokens(col(textCol)).as("ts"))
    // (token, successor) pairs with a NULL sentinel after the last
    // token: the w1-marginal counts every token position exactly once
    val pc = base
      .select(explode(transform(sequence(lit(0), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i + 1).as("w1"),
          when(i + 2 <= size(col("ts")), element_at(col("ts"), i + 2))
            .as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(length(col("w1")) > 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds cu, cb and (via them) both totals
    val cu = pc.groupBy(col("w1")).agg(sum(col("c")).as("cu"))
      .select(col("w1").as("w"), col("cu"))
    val nu = cu.agg(sum(col("cu")).as("nu"))
    val cb = pc.filter(col("w2").isNotNull && length(col("w2")) > 0)
      .select(col("w1"), col("w2"), col("c").as("cb"))
    val nb = cb.agg(sum(col("cb")).as("nb"))
    cb.filter(col("cb") >= minCount)
      .hint("shuffle_hash")
      .join(cu.select(col("w").as("w1"), col("cu").as("cu1")).hint("shuffle_hash"), "w1")
      .hint("shuffle_hash")
      .join(cu.select(col("w").as("w2"), col("cu").as("cu2")).hint("shuffle_hash"), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .withColumn("__pmi",
        log(col("cb")) + log(col("nu")) + log(col("nu"))
          - log(col("nb")) - log(col("cu1")) - log(col("cu2")))
      .orderBy(col("__pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("cb"), round(col("__pmi"), 6).as("pmi"))
  }

  /** Per-group distinctive terms by Dirichlet-smoothed log-odds
    * z-score (Monroe, Colaresi & Quinn 2008, "Fightin' Words") —
    * "what vocabulary distinguishes THIS source from the rest", the
    * corpus-card diagnostic that raw TF-IDF gets wrong at both
    * frequency extremes. For term w in group s vs the rest:
    * δ = ln((c_sw+a)/(N_s+A−c_sw−a)) − ln((c_rw+a)/(N_r+A−c_rw−a)),
    * z = δ / sqrt(1/(c_sw+a) + 1/(c_rw+a)), with A = a·|V|.
    *
    * Deterministic: a fixed IEEE tree over integer counts and the
    * constant prior — no float aggregation anywhere — so the replay
    * is hash-green.
    *
    * Scale shape: ONE tokenize/explode pass → (group, term) counts
    * (two-phase aggregate); term totals, group totals and |V| all
    * re-aggregate from that counts table, never the corpus. The
    * term-total join is shuffle-hash on the term key (vocab-sized);
    * the |groups|-row and single-row tables broadcast. Per-group
    * top-k bounds the window via WindowGroupLimit. */
  def distinctiveTerms(df: DataFrame, groupCol: String, textCol: String,
      prior: Double = 0.5, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(prior > 0, "prior must be positive")
    val csw = Parallelism.ensure(df)
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("c_sw"))
    val cw = csw.groupBy(col("term")).agg(sum(col("c_sw")).as("c_w"))
    val ns = csw.groupBy(col("grp")).agg(sum(col("c_sw")).as("n_s"))
    val tot = cw.agg(sum(col("c_w")).as("n_tot"),
      (count(lit(1)).cast("double") * prior).as("a_tot"))
    val cRest = col("c_w") - col("c_sw")
    val nRest = col("n_tot") - col("n_s")
    val delta =
      log((col("c_sw") + lit(prior))
        / (col("n_s") + col("a_tot") - col("c_sw") - lit(prior))) -
      log((cRest + lit(prior))
        / (nRest + col("a_tot") - cRest - lit(prior)))
    val z = delta / sqrt(lit(1.0) / (col("c_sw") + lit(prior))
      + lit(1.0) / (cRest + lit(prior)))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("__z").desc, col("term"))
    csw.hint("shuffle_hash").join(cw.hint("shuffle_hash"), "term")
      .join(broadcast(ns), "grp")
      .crossJoin(broadcast(tot))
      .withColumn("__z", z)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("grp"), col("term"), col("c_sw"),
        round(col("__z"), 6).as("z_score"))
  }

  /** BM25 retrieval ranking (Robertson/Okapi; the Lucene `+1` IDF so
    * scores stay positive): top-k documents for a bag-of-terms query —
    * the lexical-retrieval primitive next to the engine's dense ANN
    * family ([[graft.ops.Similarity]]), and the standard hard-negative
    * miner for embedding training.
    *
    * Scale shape: the query term set is tiny, so everything heavy is
    * map-side — tokenize twice (two scans, each map-only; cheaper than
    * checkpointing a corpus-token stream, see [[tokenFrequencySketch]]),
    * reduce to per-doc length and per-(doc, query-term) tf; df, N and
    * total token count are broadcast single-row/|Q|-row tables. The
    * score join touches only docs containing ≥1 query term, and top-k
    * plans as TakeOrdered, never a global sort.
    *
    * Determinism contract (hash-green oracle): avgdl is an exact
    * BIGINT/BIGINT double quotient (a float `avg` would be
    * order-dependent), each term score is a fixed IEEE expression tree
    * over integer inputs, and the per-doc sum folds in SORTED order
    * (`aggregate(sort_array(...))` — the CLAUDE.md float-sum rule).
    * Rank on the unrounded score with an id tiebreak; round only the
    * output. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = Parallelism.ensure(df)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val dl = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfr"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val avgdl = col("tot").cast("double") / col("n_docs")
    val idf = log((col("n_docs").cast("double") - col("dfr") + lit(0.5))
      / (col("dfr") + lit(0.5)) + lit(1.0))
    val termScore = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / avgdl)))
    // tf is corpus-scale (every doc holding ≥1 query term) — join it
    // to dl on the id key, shuffle-hash, never broadcast; only the
    // |Q|-row df table and the single-row stats ride broadcasts
    tf.hint("shuffle_hash").join(dl.hint("shuffle_hash"), "id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("id"), termScore.as("ts"))
      .groupBy(col("id"))
      .agg({
          import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
          // native fold (r20 opt — same addition chain as the HOF
          // form, FoldSumSpec-pinned)
          column(graft.functions.FoldSum(
            expression(sort_array(collect_list(col("ts"))))))
        }.as("score"),
        count(lit(1)).as("terms_matched"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select(col("id"), col("terms_matched"), round(col("score"), 4).as("bm25"))
  }

  /** Zipf rank-frequency slope per group: the OLS slope of
    * (ln rank, ln count) over the group's top-`topK` tokens — the
    * corpus-statistics health number (natural text sits near −1;
    * token-soup or boilerplate-heavy sources drift shallow/steep,
    * so a slope shift across snapshots flags a distribution change
    * the same way x56's KL drift does, from the other end).
    *
    * Determinism contract: integer counts; ranks total-ordered by
    * (count DESC, token ASC); ln values round-9 pinned (libm); the
    * four OLS sums fold in rank order (the keyed sorted fold) and
    * the slope is one rounded quotient. Groups must carry ≥ 2 ranked
    * terms (the OLS denominator is zero otherwise — ANSI division
    * fails loudly rather than emitting a fake slope).
    *
    * Scale: one (group, token) two-phase count, a WindowGroupLimit
    * rank prune to topK rows per group, then |groups|-sized algebra. */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
      topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 2, "topK must be >= 2")
    val toks = Parallelism.ensure(df)
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
    val counts = toks.groupBy(col("grp"), col("t")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("cnt").desc, col("t").asc)
    val ranked = counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
    def fold(v: Column, name: String) = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      // native fold (r20 opt, FoldSumSpec-pinned bit-equal to the HOF)
      column(graft.functions.FoldSum(expression(
        sort_array(collect_list(struct(col("rk").as("k"), v.as("v"))))),
        Some("v"))).as(name)
    }
    val n = col("n_terms").cast("double")
    ranked
      .select(col("grp"), col("rk"),
        round(log(col("rk").cast("double")), 9).as("x"),
        round(log(col("cnt").cast("double")), 9).as("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_terms"),
        fold(col("x"), "sx"), fold(col("y"), "sy"),
        fold(col("x") * col("y"), "sxy"), fold(col("x") * col("x"), "sxx"))
      .select(col("grp"), col("n_terms"),
        round((n * col("sxy") - col("sx") * col("sy"))
          / (n * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
  }

  /** Gopher/C4-style rule-chain filter with FIRST-FAIL attribution:
    * every document is tested against an ordered rule chain
    * (too-short, too-long, low type-token diversity, low stopword
    * density) and attributed to the first rule it fails — the
    * per-rule kill table curation reports publish (which filter
    * removes how much of each source) next to the retained share.
    *
    * Determinism contract: every ratio rule is an INTEGER
    * cross-multiplication (`100*unique < minUniqPct*n_tok`,
    * `stopPctDen*stop_hits < n_tok`), so there is no float boundary
    * anywhere — the verdict replays bit-exact on any engine.
    *
    * Scale shape: verdicts are one codegen'd map pass (tokenize,
    * distinct-count, stopword count are per-row array ops); the only
    * shuffle is the final (group, verdict) count — |groups|×5 rows.
    */
  /** Per-row verdict of the [[filterAttribution]] rule chain —
    * exposed so pipelines can GATE on it (`verdict === "pass"`)
    * with the same integer-exact rules the attribution table
    * reports. */
  def filterVerdict(textCol: Column,
      minTokens: Int = 25, maxTokens: Int = 90,
      minUniquePct: Int = 35, minStopPermille: Int = 20): Column = {
    val toks = filter(tokens(textCol), t => length(t) > 0)
    val nTok = size(toks)
    val nUniq = size(array_distinct(toks))
    val stopHits = size(filter(toks,
      t => array_contains(lit(Stopwords.en.toArray), t)))
    when(nTok < minTokens, "too_short")
      .when(nTok > maxTokens, "too_long")
      .when(nUniq * 100 < nTok * minUniquePct, "low_diversity")
      .when(stopHits * 1000 < nTok * minStopPermille, "low_stopword")
      .otherwise("pass")
  }

  def filterAttribution(df: DataFrame, groupCol: String,
      textCol: String,
      minTokens: Int = 25, maxTokens: Int = 90,
      minUniquePct: Int = 35, minStopPermille: Int = 20): DataFrame = {
    val toks = filter(tokens(col(textCol)), t => length(t) > 0)
    val nTok = size(toks)
    val verdict = filterVerdict(col(textCol),
      minTokens, maxTokens, minUniquePct, minStopPermille)
    df.select(col(groupCol).as("grp"), nTok.as("__n_tok"),
        verdict.as("verdict"))
      .groupBy(col("grp"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n_tok")).as("n_tokens"))
  }

  /** Multi-pattern keyword screening (badword / topic lists): each
    * document is scored against every category's term list in ONE
    * map pass — the pattern lists ride inside the expression as
    * literal arrays (a broadcast by construction), so no doc×pattern
    * join ever shuffles; a document is flagged for a category when
    * its hit count (with multiplicity) reaches `flagThreshold`.
    * Output: per (group, category) flagged-doc and total-hit counts
    * — integer-only, replays exactly.
    *
    * Scale: per-token probe is a hash-set `array_contains` on a
    * literal array; cost O(tokens × categories). For thousands of
    * patterns the same contract holds with an Aho-Corasick automaton
    * compiled into a native Expression — the per-category literal
    * arrays here are the bounded-list fast path. The explode is
    * |categories| structs per row, collapsed by a partial-agg-
    * combinable count before any exchange. */
  /** Pattern count above which [[keywordScreen]]/[[keywordMaxHits]]
    * dispatch a category to the Aho–Corasick native path: the
    * literal-array probe is O(tokens × patterns) (each probe
    * linear-scans the list), the automaton O(text) independent of
    * pattern count — the OpsSpec 1k-pattern measurement has the
    * automaton ahead well below this point, and at 64 the literal
    * array is already 64 probes per token. Callers never need to pick
    * a path by hand; the two are spec-asserted equal. */
  val AhoDispatchThreshold: Int = 64

  /** A term list the automaton path can replicate EXACTLY: non-empty
    * single tokens. Multi-word or empty terms are well-defined on the
    * literal path (they simply never match a token), so lists
    * carrying them stay there instead of throwing cross-category
    * collateral from [[keywordHitsAuto]]'s guard. */
  private def autoCompatible(terms: Seq[String]): Boolean =
    terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace))

  /** Per-row MAXIMUM category hit count over [[keywordScreen]]'s
    * lists — the gating column for screening pipelines
    * (`keywordMaxHits(...) < flagThreshold` keeps a document). */
  def keywordMaxHits(textCol: Column,
      categories: Map[String, Seq[String]]): Column = {
    require(categories.nonEmpty, "categories must be non-empty")
    val toks = filter(tokens(textCol), t => length(t) > 0)
    val hits = categories.toSeq.sortBy(_._1).map { case (_, terms) =>
      // per-category dispatch: big lists ride the automaton (same
      // IntegerType, same whole-token contract — spec-asserted equal)
      if (autoCompatible(terms) && terms.distinct.size >= AhoDispatchThreshold)
        keywordHitsAuto(textCol, terms)
      else
        size(filter(toks, t => array_contains(lit(terms.toArray), t)))
    }
    if (hits.size == 1) hits.head else greatest(hits: _*)
  }

  /** Whole-token multi-pattern hit count via the native Aho–Corasick
    * expression ([[graft.functions.AhoCorasickCount]]) — the
    * thousand-pattern upgrade path [[keywordScreen]]'s scaladoc
    * names: O(text) per row INDEPENDENT of pattern count, where the
    * literal-array `array_contains` probe is O(tokens × patterns)
    * (each probe linear-scans the literal list). Token semantics
    * replicate [[keywordMaxHits]] exactly and are spec-asserted
    * equal: the token stream re-joins on single spaces with one
    * leading/trailing pad, every pattern is space-padded, so a hit
    * is precisely a whole-token equality — overlap counting makes
    * consecutive duplicate tokens each count. Terms are deduped
    * (`array_contains` is a membership test; the automaton would
    * otherwise count a repeated term twice). */
  def keywordHitsAuto(textCol: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // a space-padded multi-word pattern would match a token SEQUENCE
    // in the joined stream — something the array_contains contract
    // this path claims to replicate can never match. Fail loudly and
    // point phrase callers at the operator built for them.
    require(terms.forall(t => !t.exists(_.isWhitespace)),
      "keyword terms must be single tokens (no whitespace) — " +
        "use phraseHits for multi-word phrases")
    // an empty term can never equal a token (the stream filters
    // length > 0), but its padded pattern "  " WOULD match the
    // empty-document stream " " + "" + " " — drop empties to keep
    // exact array_contains parity
    val clean = terms.filter(_.nonEmpty).distinct
    require(clean.nonEmpty, "terms must contain a non-empty token")
    val joined = concat(lit(" "),
      array_join(filter(tokens(textCol), t => length(t) > 0), " "), lit(" "))
    ColumnBridge.column(graft.functions.AhoCorasickCount(
      ColumnBridge.expression(joined),
      clean.map(t => " " + t + " ")))
  }

  /** [[keywordMaxHits]] on the Aho–Corasick path: per-row MAXIMUM
    * category hit count, one automaton per category, one shared
    * token join. Equal output to the `array_contains` path by the
    * [[keywordHitsAuto]] contract. */
  def keywordMaxHitsAuto(textCol: Column,
      categories: Map[String, Seq[String]]): Column = {
    require(categories.nonEmpty, "categories must be non-empty")
    val hits = categories.toSeq.sortBy(_._1).map { case (_, terms) =>
      keywordHitsAuto(textCol, terms)
    }
    if (hits.size == 1) hits.head else greatest(hits: _*)
  }

  /** Shared agg-before-melt screen shape: per-category hit columns in
    * ONE projection over the scan, aggregated per group BEFORE the
    * category melt, so the explode runs on |groups|-sized rows and
    * never re-evaluates a hit expression per output row (the Generate
    * re-evaluation rule). */
  private def screenAggMelt(df: DataFrame, groupCol: String,
      catNames: Seq[String], hitExprs: Seq[Column],
      flagThreshold: Int): DataFrame = {
    val hitCols = hitExprs.zipWithIndex.map { case (e, i) => e.as(s"__h_$i") }
    val aggCols = catNames.indices.flatMap { i =>
      Seq(sum(when(col(s"__h_$i") >= flagThreshold, 1L).otherwise(0L))
          .as(s"__f_$i"),
        sum(col(s"__h_$i").cast("long")).as(s"__t_$i"))
    }
    val aggd = df.select((col(groupCol).as("grp") +: hitCols): _*)
      .groupBy(col("grp"))
      .agg(aggCols.head, aggCols.tail: _*)
    aggd.select(col("grp"),
        explode(array(catNames.zipWithIndex.map { case (cat, i) =>
          struct(lit(cat).as("category"),
            col(s"__f_$i").as("n_docs_flagged"),
            col(s"__t_$i").as("total_hits"))
        }: _*)).as("__c"))
      .select(col("grp"), col("__c.category").as("category"),
        col("__c.n_docs_flagged").as("n_docs_flagged"),
        col("__c.total_hits").as("total_hits"))
  }

  /** PHRASE occurrence counting — the capability the whole-token
    * paths ([[keywordScreen]]/[[keywordMaxHits]]) structurally lack:
    * a multi-word phrase never equals any single token. The
    * [[graft.functions.AhoCorasickCount]] substring mode over the
    * whitespace-normalized text (lowercased, runs of whitespace
    * collapsed to single spaces, one space padded on each end) with
    * the phrase space-padded counts every occurrence, OVERLAPS
    * INCLUDED — adjacent repeats share a delimiter space
    * ("table table table" holds "table table" twice), which
    * replace()-style non-overlapping counts miss. Exactly
    * SQL-replayable by a brute-force position scan (the x196
    * oracle). Phrase whitespace is normalized the same way
    * driver-side. Map-only: rides the scan, no shuffle. */
  def phraseHits(textCol: Column, phrases: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(phrases.nonEmpty, "phrases must be non-empty")
    val norm = concat(lit(" "),
      regexp_replace(lower(textCol), WhitespaceClass, " "), lit(" "))
    val pats = phrases.map(p =>
        " " + p.trim.toLowerCase.split(WhitespaceClass).mkString(" ") + " ")
      .distinct
    ColumnBridge.column(graft.functions.AhoCorasickCount(
      ColumnBridge.expression(norm), pats))
  }

  def keywordScreen(df: DataFrame, groupCol: String, textCol: String,
      categories: Map[String, Seq[String]],
      flagThreshold: Int = 2): DataFrame = {
    require(categories.nonEmpty, "categories must be non-empty")
    // auto-dispatch, PER CATEGORY: once any automaton-compatible
    // category crosses the threshold, the whole screen takes the
    // agg-before-melt shape (hit expressions stay out of the
    // Generate) with each category on its best path — big compatible
    // lists on the automaton, everything else (small lists, and
    // multi-word/empty terms, which are well-defined literal no-ops)
    // on the literal probe. An incompatible category elsewhere in the
    // map neither throws nor drags a big list back onto the
    // O(tokens × patterns) probe.
    def autoWorthy(terms: Seq[String]): Boolean =
      autoCompatible(terms) && terms.distinct.size >= AhoDispatchThreshold
    if (categories.valuesIterator.exists(autoWorthy)) {
      val cats = categories.toSeq.sortBy(_._1)
      val litToks = filter(tokens(col(textCol)), t => length(t) > 0)
      return screenAggMelt(df, groupCol, cats.map(_._1),
        cats.map { case (_, terms) =>
          if (autoWorthy(terms)) keywordHitsAuto(col(textCol), terms)
          else size(filter(litToks,
            t => array_contains(lit(terms.toArray), t)))
        }, flagThreshold)
    }
    val toks = filter(tokens(col(textCol)), t => length(t) > 0)
    val catHits = categories.toSeq.sortBy(_._1).map { case (cat, terms) =>
      struct(lit(cat).as("category"),
        size(filter(toks,
          t => array_contains(lit(terms.toArray), t))).as("hits"))
    }
    df.select(col(groupCol).as("grp"),
        explode(array(catHits: _*)).as("__c"))
      .select(col("grp"), col("__c.category").as("category"),
        col("__c.hits").as("hits"))
      .groupBy(col("grp"), col("category"))
      .agg(sum(when(col("hits") >= flagThreshold, 1L).otherwise(0L))
          .as("n_docs_flagged"),
        sum(col("hits").cast("long")).as("total_hits"))
  }

  /** Confusable map for [[confusableSkeleton]]: common Cyrillic and
    * Greek homoglyphs of Latin letters (the Unicode TR39 confusables
    * the spam/SEO-dedup-evasion literature actually sees), as two
    * aligned code-point strings for `translate`. Public knowledge;
    * extend in pairs. */
  val ConfusablesFrom: String =
    "аеосрхуіѕјАВЕКМНОРСТХІЅЈοΑΒΕΖΗΙΚΜΝΟΡΤΥΧ"
  val ConfusablesTo: String =
    "aeocpxyisjABEKMHOPCTXISJoABEZHIKMNOPTYX"

  /** Zero-width / invisible characters deleted by the skeleton:
    * ZWSP, ZWNJ, ZWJ, soft hyphen (built from code points — the
    * characters are invisible in source by definition). */
  val InvisiblePattern: String =
    "[" + Seq(0x200B, 0x200C, 0x200D, 0x00AD).map(_.toChar).mkString + "]"

  /** Homoglyph skeleton (Unicode TR39's skeleton idea, minimally):
    * strip invisible characters, then map confusable Cyrillic/Greek
    * code points onto their Latin look-alikes. Two texts that render
    * identically but hash differently — the classic dedup-evasion /
    * spam trick — collapse to one skeleton. */
  def confusableSkeleton(text: Column): Column =
    translate(regexp_replace(text, InvisiblePattern, ""),
      ConfusablesFrom, ConfusablesTo)

  /** Dedup-evasion audit: per group, how much of the corpus carries
    * confusable/invisible characters, and how many exact-dup groups
    * exist only AFTER skeletonization — i.e. duplicates that evade
    * the x1/x2 content fingerprint by homoglyph substitution (a real
    * adversarial regime for web corpora: SEO mirrors and spam farms
    * routinely swap Cyrillic 'о' for Latin 'o' to beat dedup).
    * `groups_collapsed = distinct(fp) − distinct(fp_skeleton)` > 0
    * is the evasion signal; a clean corpus reports zeros (the
    * certificate, not a tautology — the spec plants evaders).
    *
    * Deterministic: translate/regexp are pure string maps, counts
    * exact BIGINTs. Scale shape: one map pass (two fingerprints per
    * row) + one combinable grouped aggregate with two two-phase
    * exact distincts. */
  def evasionAudit(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val skel = confusableSkeleton(col(textCol))
    df.select(col(groupCol).as("g"),
        fingerprint(col(textCol)).as("fp"),
        fingerprint(skel).as("fp_skel"),
        (skel =!= col(textCol)).cast("long").as("affected"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("affected")).as("n_affected"),
        countDistinct(col("fp")).as("n_groups"),
        countDistinct(col("fp_skel")).as("n_groups_skel"))
      .select(col("g").as(groupCol), col("n_docs"), col("n_affected"),
        col("n_groups"), col("n_groups_skel"),
        (col("n_groups") - col("n_groups_skel")).as("groups_collapsed"))
  }

  /** Interpolated Kneser–Ney smoothed bigram probabilities (Kneser &
    * Ney 1995; Chen & Goodman 1999 eq. 4.24) — the smoothing family
    * the CCNet/KenLM perplexity gate actually runs, next to [[
    * bigramLogProb]]'s add-one char model (add-one is the toy;
    * KN is what production LM filters ship):
    * `P(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1,·)/c1) · Pcont(w2)`
    * with `Pcont(w2) = N1+(·,w2) / N1+(·,·)` — the continuation
    * probability that scores a word by how many CONTEXTS it follows,
    * not how often it occurs (the "San Francisco" argument:
    * "Francisco" is frequent but only ever follows "San", so its
    * continuation mass is tiny and unseen-bigram backoff stops
    * hallucinating it).
    *
    * Returns the top `k` bigrams by raw count (total (n DESC, w1,
    * w2) order — deterministic cut) with `n` = c12, `p_cont`, and
    * `p_kn`, rounded to 6. Every input to the float expression is an
    * exact BIGINT count and the expression tree is fixed and
    * division-only (no float sums over data), so the result is
    * hash-replayable in ANSI SQL with no sorted folds — the x166
    * determinism class.
    *
    * Scale shape: ONE tokenize/explode pass over the corpus feeding
    * ONE map-side-combinable (w1, w2) count — the only corpus-sized
    * stage; the count table is eagerly localCheckpointed (three
    * downstream consumers — the x82 lesson) and every marginal
    * (c1 + N1+(w1,·) in one aggregate, N1+(·,w2), the single-row
    * N1+(·,·)) re-aggregates from it, vocab²-bounded. The marginal
    * joins are shuffle-hash on the word key; only the single-row
    * total broadcasts; top-k plans as TakeOrdered. */
  /** Word-bigram type counts (w1, w2, c12) from ONE tokenize/explode
    * pass — the corpus-sized stage shared by [[kneserNeyBigrams]]
    * and [[branchingEntropy]]; eagerly localCheckpointed because
    * every caller fans it into several aggregates (the x82 lesson). */
  private def wordBigramCounts(df: DataFrame, textCol: String): DataFrame = {
    val ts = filter(tokens(col(textCol)), t => length(t) > 0)
    Parallelism.ensure(df).select(ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
  }

  def kneserNeyBigrams(df: DataFrame, textCol: String,
      discount: Double = 0.75, k: Int = 30): DataFrame = {
    require(discount > 0 && discount < 1, "discount in (0, 1)")
    require(k >= 1, "k must be positive")
    val c = wordBigramCounts(df, textCol)
    val lw = c.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
    val rw = c.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val tot = broadcast(c.agg(count(lit(1)).as("n1all")))
    val d = lit(discount)
    c.hint("shuffle_hash").join(lw, "w1")
      .hint("shuffle_hash").join(rw, "w2")
      .crossJoin(tot)
      .select(col("w1"), col("w2"), col("c12").as("n"),
        round(col("n1bw").cast("double") / col("n1all").cast("double"), 6)
          .as("p_cont"),
        round(
          greatest(col("c12").cast("double") - d, lit(0.0))
              / col("c1").cast("double")
            + ((d * col("n1fw").cast("double")) / col("c1").cast("double"))
              * (col("n1bw").cast("double") / col("n1all").cast("double")),
          6).as("p_kn"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Next-token branching entropy per context: H(·|w1) = ln c(w1) −
    * (Σ_w2 c12·ln c12)/c(w1) — the successor-distribution Shannon
    * entropy in nats, computed by the integer-count identity (every
    * `ln` argument is an exact BIGINT — the x31 replay class — and
    * both engines evaluate the identical tree, so a single-successor
    * context cancels to 0 under the round-6 pin). Low branching
    * entropy on a frequent
    * context is the boilerplate signature — templated text pipes
    * every occurrence into the same successor ("all rights" →
    * "reserved") — which makes this the context-level twin of x80's
    * character entropy and a cheap pre-filter for the x57/x125 span
    * dedup family. Cross-type term sums fold keyed by w2 (the x94
    * discipline). Top `k` contexts by (count DESC, w1) — a
    * deterministic cut. Returns (w1, n_ctx, n_succ, entropy).
    *
    * Scale shape: rides [[wordBigramCounts]]'s single corpus pass;
    * the entropy aggregate groups the vocab²-bounded type table by
    * w1 — the collect_list inside the sorted fold is bounded by each
    * context's successor-TYPE count (vocab-bounded, not
    * corpus-bounded); top-k plans as TakeOrdered. */
  /** Per-document mean log-probability under an interpolated
    * Kneser–Ney bigram model trained on a SEPARATE slice — the
    * complete CCNet gate ([[kneserNeyBigrams]] estimates the model;
    * this scores with it, including the backoff arms a self-scoring
    * setup never exercises): seen bigram → the full KN mix; seen
    * context, unseen bigram → the discounted-mass · continuation
    * backoff; unseen context → the continuation probability alone;
    * a probability floor keeps fully-unseen words finite (the KenLM
    * OOV convention). Low mean log-prob = out-of-distribution text
    * (x129 buckets these into the CCNet head/middle/tail).
    *
    * Determinism: model counts are exact BIGINTs, the per-bigram
    * probability is the x169 fixed division tree, `ln` over those
    * rationals is the x31 replay class, and per-doc means fold
    * keyed by bigram POSITION (the x94 discipline) — bit-replayable.
    *
    * Scale shape: the model build is [[wordBigramCounts]]'s single
    * train-slice pass; scoring is one tokenize/explode over the
    * score slice and three LEFT shuffle-hash joins against the
    * vocab²-bounded model tables (never broadcast — the vocab is
    * corpus-scaled); only the single-row N1+(·,·) broadcasts. One
    * doc-keyed aggregate ends it. Docs with < 2 tokens have no
    * bigrams and are absent (no distribution to score them under). */
  def knLogProb(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75,
      floor: Double = 1e-10): DataFrame = {
    require(discount > 0 && discount < 1, "discount in (0, 1)")
    require(floor > 0 && floor < 1, "floor in (0, 1)")
    val c = wordBigramCounts(train, textCol)
    val lw = c.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
    val rw = c.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val tot = broadcast(c.agg(count(lit(1)).as("n1all")))
    val ts = filter(tokens(col(textCol)), t => length(t) > 0)
    val grams = Parallelism.ensure(score)
      .select(col(idCol).as("id"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))))
      .select(col("id"), col("pos"), col("col.w1").as("w1"),
        col("col.w2").as("w2"))
    val d = lit(discount)
    val pcont = coalesce(col("n1bw"), lit(0L)).cast("double") /
      col("n1all").cast("double")
    val backoff = ((d * col("n1fw").cast("double"))
      / col("c1").cast("double")) * pcont
    val p = when(col("c12").isNotNull,
        greatest(col("c12").cast("double") - d, lit(0.0))
          / col("c1").cast("double") + backoff)
      .when(col("c1").isNotNull, backoff)
      .otherwise(pcont)
    grams
      .hint("shuffle_hash").join(c, Seq("w1", "w2"), "left")
      .hint("shuffle_hash").join(lw, Seq("w1"), "left")
      .hint("shuffle_hash").join(rw, Seq("w2"), "left")
      .crossJoin(tot)
      .select(col("id"), col("pos"),
        log(greatest(p, lit(floor))).as("term"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Classifier.sortedFold(col("pos"), col("term")).as("s"))
      .select(col("id").as(idCol), col("n_bigrams"),
        round(col("s") / col("n_bigrams").cast("double"), 4)
          .as("mean_logprob"))
  }

  def branchingEntropy(df: DataFrame, textCol: String,
      k: Int = 30): DataFrame = {
    require(k >= 1, "k must be positive")
    val c = wordBigramCounts(df, textCol)
    val cd = col("c12").cast("double")
    c.groupBy(col("w1"))
      .agg(sum(col("c12")).as("n_ctx"), count(lit(1)).as("n_succ"),
        Classifier.sortedFold(col("w2"), cd * log(cd)).as("scl"))
      .select(col("w1"), col("n_ctx"), col("n_succ"),
        round(log(col("n_ctx").cast("double"))
          - col("scl") / col("n_ctx").cast("double"), 6).as("entropy"))
      .orderBy(col("n_ctx").desc, col("w1"))
      .limit(k)
  }
}

/** Minimal per-language stopword profiles (top function words) —
  * public knowledge, deterministic, good enough for n-gram-style
  * language voting. */
object Stopwords {
  val en: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is",
    "that", "it", "for", "on", "with", "as", "at", "by", "this")
  val de: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht",
    "ein", "eine", "zu", "mit", "auf", "für", "von", "im", "den")
  val es: Seq[String] = Seq("el", "la", "de", "que", "y", "en", "un",
    "una", "es", "por", "con", "para", "los", "las", "del")
  val fr: Seq[String] = Seq("le", "la", "de", "et", "est", "un", "une",
    "que", "pour", "dans", "les", "des", "du", "en", "au")
  val zh: Seq[String] = Seq("的", "是", "不", "了", "在", "人", "有",
    "我", "他", "这", "个", "们", "中", "来", "上")
  val all: Map[String, Seq[String]] =
    Map("en" -> en, "de" -> de, "es" -> es, "fr" -> fr, "zh" -> zh)
}
