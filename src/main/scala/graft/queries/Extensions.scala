package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import graft.ops.{AsOf, Dedup, Experiments, Funnel, History, Joins, Layout, Linkage, Multimodal, Packing, Privacy, Profiling, Sessionize, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline extension operators (BASELINE.json north star):
  * dedup, similarity search, text analysis, multimodal — exercised
  * over the driver's `documents` / `embeddings` tables, each with a
  * DuckDB oracle where ANSI SQL can express the semantics (sketch-
  * based ops are engine-side only → rows-only checks).
  */
object Extensions extends QueryModule {

  /** Exact dedup via content digest (hash-groupBy; uniform 128-bit
    * keys shuffle evenly at any scale). */
  private val x1DedupExact = GraftQuery(
    "x1_dedup_exact",
    (s, dir) => Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("content_hash")),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY content_hash"""))

  /** Bag-of-words fingerprint: md5 over sorted distinct tokens. */
  private val x2Fingerprint = GraftQuery(
    "x2_fingerprint",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
          AS fingerprint
      FROM documents ORDER BY doc_id"""))

  /** Token statistics (whitespace tokenization). */
  private val x3TextTokens = GraftQuery(
    "x3_text_tokens",
    (s, dir) => Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        round(length(col("text")).cast("double") /
          TextAnalysis.tokenCount(col("text")), 4).as("mean_token_len"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4)
          AS mean_token_len
      FROM documents ORDER BY doc_id"""))

  /** Quality heuristics: char-class ratios + distinct-stopword ratio.
    * (Both engines' set-intersection dedups, so the ratio is
    * distinct-stopwords-present / tokens on each side.) */
  private val x4TextQuality = GraftQuery(
    "x4_text_quality",
    (s, dir) => {
      val d = TextAnalysis.withQualityMetrics(Tables.documents(s, dir))
      d.select(col("doc_id"), col("alpha_ratio"), col("digit_ratio"),
        col("stopword_ratio")).orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
        round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
          / length(text), 4) AS alpha_ratio,
        round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
          / length(text), 4) AS digit_ratio,
        round(CAST(len(list_intersect(string_split(lower(text), ' '),
            [${graft.ops.Stopwords.en.map("'" + _ + "'").mkString(",")}])) AS DOUBLE)
          / len(string_split(text, ' ')), 4) AS stopword_ratio
      FROM documents ORDER BY doc_id"""))

  /** Language-ID distribution (stopword-profile voting). The oracle
    * replays the argmax in SQL: (hits, lang) encoded as a zero-padded
    * sortable string (DuckDB's greatest() takes no structs), with the
    * same max-hits-then-max-lang tie-break as Spark's struct
    * greatest(); stopword lists come from the same Stopwords object. */
  private val x5LangId = GraftQuery(
    "x5_lang_id",
    (s, dir) => TextAnalysis.withLanguage(Tables.documents(s, dir))
      .groupBy(col("detected_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("detected_lang")),
    Some {
      val arms = graft.ops.Stopwords.all.toSeq.sortBy(_._1).map { case (lang, words) =>
        val list = words.map("'" + _ + "'").mkString(",")
        s"printf('%03d', len(list_intersect(t, [$list]))) || '$lang'"
      }.mkString(",\n        ")
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      scored AS (SELECT doc_id, greatest(
        $arms) AS v FROM toks)
      SELECT CASE WHEN CAST(substr(v, 1, 3) AS INT) > 0 THEN substr(v, 4)
                  ELSE 'und' END AS detected_lang,
             count(*) AS n_docs
      FROM scored GROUP BY 1 ORDER BY 1"""
    })

  /** DuckDB exact cosine of list columns `a` and `b`, rounded to 4 —
    * the replay of `round(VectorMath.cosineSimilarity(a, b), 4)` in
    * explicit double lambdas (`list_cosine_similarity` is float32);
    * continuation lines are indented by `indent` spaces. */
  private def cosineSql(a: String, b: String, indent: Int): String =
    s"""round(
  list_sum(list_transform(range(1, len($a) + 1),
    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform($a,
       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform($b,
       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)""".replace(
      "\n", "\n" + " " * indent)

  /** Brute-force cosine top-k against the corpus's own vec 0 — the
    * exact-search baseline. The oracle mirrors the double-precision
    * element-wise math (DuckDB's list_cosine_similarity is float32 —
    * not bit-comparable). */
  private val x6SimTopK = GraftQuery(
    "x6_sim_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, k = 10)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
        ${cosineSql("embedding", "q.e", 8)} AS cosine
      FROM embeddings, q
      ORDER BY cosine DESC, vec_id ASC LIMIT 10"""))

  /** x7's exact cosine pairs over vec_id < 200 (`id_a < id_b`,
    * cosine rounded to 4, >= 0.3) — the pair set x7 reports and
    * [[dupClustersFor]] clusters; [[cosineReachSql]] replays it. */
  private def cosinePairs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(graft.functions.VectorMath.cosineSimilarity(col("vec_a"), col("vec_b")), 4))
      .filter(col("cosine") >= 0.3)
  }

  /** Embedding near-dup pairs on a bounded subset, exact cosine —
    * oracle-checkable; the unbounded scale path is the LSH variant
    * below. */
  private val x7EmbeddingPairs = GraftQuery(
    "x7_embedding_pairs",
    (s, dir) => cosinePairs(s, dir)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ${cosineSql("a.embedding", "b.embedding", 8)} AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 200 AND b.vec_id < 200
        AND ${cosineSql("a.embedding", "b.embedding", 8)} >= 0.3
      ORDER BY id_a, id_b"""))

  /** MinHash+LSH near-dup candidates (sketch-based, engine-side). */
  private val x8MinhashPairs = GraftQuery(
    "x8_minhash_pairs",
    (s, dir) => Dedup.minhashNearDuplicates(
      Tables.documents(s, dir), "doc_id", "text", threshold = 0.5)
      .orderBy(col("id_a"), col("id_b")),
    None)

  /** SimHash near-dup candidates (hamming ≤ 3 on 64-bit signatures). */
  private val x9SimhashPairs = GraftQuery(
    "x9_simhash_pairs",
    (s, dir) => Dedup.simhashNearDuplicates(
      Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)
      .orderBy(col("id_a"), col("id_b")),
    None)

  /** Exact n-gram Jaccard verified on LSH candidates. */
  private val x10NgramJaccard = GraftQuery(
    "x10_ngram_jaccard",
    (s, dir) => Dedup.ngramJaccardNearDuplicates(
      Tables.documents(s, dir), "doc_id", "text", threshold = 0.2)
      .orderBy(col("id_a"), col("id_b")),
    None)

  /** Per-label embedding centroids via the typed VectorAvg
    * aggregator, emitted as SCALAR (label, pos, mean) rows: the
    * array-returning API ([[Similarity.centroidsTyped]]) stays, but a
    * generic row-compare harness can't sort/hash array cells, so the
    * registered query posexplodes — 1-based pos to match DuckDB's
    * generate_subscripts. */
  private val x11Centroids = GraftQuery(
    "x11_centroids",
    (s, dir) => Similarity.centroidScalars(Tables.embeddings(s, dir), "label", "embedding")
      .orderBy(col("label"), col("pos")),
    Some("""SELECT label, CAST(pos AS INT) AS pos, round(avg(v), 4) AS mean FROM (
        SELECT label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
      GROUP BY label, pos ORDER BY label, pos"""))

  /** LSH-bucketed ANN top-k (scale path; recall vs brute force is
    * asserted in the spec, not the oracle). */
  private val x12AnnLsh = GraftQuery(
    "x12_ann_lsh",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.lshTopK(emb, "vec_id", "embedding", query, k = 10,
        numBits = 16, maxSigHamming = 6)
    },
    None)

  /** Multimodal plumbing: synthetic binary media → per-partition
    * feature extraction (REAL JDK codecs for image pixels and audio
    * samples; byte-hash stub for video only) → metadata summary. */
  private val x13MediaFeatures = GraftQuery(
    "x13_media_features",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col => c}
      val media = Multimodal.syntheticMedia(s, 300)
      val features = Multimodal.extractFeatures(media, dims = 16)
      features.groupBy(c("kind"))
        .agg(count(lit(1)).as("n"),
          round(avg(c("n_bytes")), 4).as("avg_bytes"),
          round(avg(element_at(c("feature"), 1)), 4).as("avg_f0"))
        .orderBy(c("kind"))
    },
    None)

  /** Generic as-of join (nearest prior purchase per user for every
    * event) — our union+window composition vs DuckDB's native
    * ASOF LEFT JOIN as the oracle. */
  private val x14AsofJoin = GraftQuery(
    "x14_asof_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOf.asofJoin(ev, purchases, "ts", "ts",
        partitionKeys = Seq("user_id"), payload = Seq("value"))
        .select(col("event_id"), col("user_id"),
          col("matched_time"), col("value_asof"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT e.event_id, e.user_id, p.pts AS matched_time,
        p.pvalue AS value_asof
      FROM events e ASOF LEFT JOIN
        (SELECT user_id AS puser, CAST(ts AS TIMESTAMP) AS pts, value AS pvalue
         FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.puser AND CAST(e.ts AS TIMESTAMP) >= p.pts
      ORDER BY e.event_id"""))

  /** Approximate distinct counting (HLL++) — the cardinality-sketch
    * path for 100 TB group-bys; algorithm-specific values, so spec-
    * checked against exact counts within rsd rather than oracled. */
  private val x15ApproxDistinct = GraftQuery(
    "x15_approx_distinct",
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        count_distinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type")),
    None)

  /** Structured Streaming, driver-checkable: the watermarked hourly
    * aggregation run to completion over the static events table via a
    * memory sink. Append mode emits exactly the windows whose end is
    * ≤ max(ts) − watermark — the oracle states that closure condition
    * in SQL. */
  private val x16StreamingHourly = GraftQuery(
    "x16_streaming_hourly",
    (s, dir) => {
      // the completed run is memoized per (session, sfDir): the
      // micro-batch machinery executes once, repeat calls (bench,
      // verify re-reads) serve the settled memory-sink table
      settledStream(x16Results, s, dir, "x16_hourly") {
        graft.streaming.EventStreams.hourlyTypeCounts(
          graft.streaming.EventStreams.fromParquetDir(s, streamSrcDir(dir)))
      }.orderBy(col("hour_start"), col("event_type"))
    },
    Some("""WITH wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes' AS w
                        FROM events)
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2
      HAVING hour_start + INTERVAL '1 hour' <= (SELECT w FROM wm)
      ORDER BY hour_start, event_type"""))

  /** FileStreamSource needs a directory; testdata ships one file per
    * table — stage a copy once per (prefix, sfDir). */
  private val streamDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Stage `srcFiles` (source name -> staged name) from `sfDir` into a
    * [[graft.TempDirs.createCleaned]] dir, whose whole tree is removed
    * at JVM exit — per-sfDir staging dirs must not accumulate for the
    * machine lifetime. One dir per (prefix, sfDir). */
  private def stagedStreamDir(prefix: String, sfDir: String,
      srcFiles: (String, String)*): String =
    streamDirs.computeIfAbsent((prefix, sfDir), _ => {
      val dir = graft.TempDirs.createCleaned(prefix)
      srcFiles.foreach { case (src, dst) => java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$src"), java.nio.file.Paths.get(dir, dst)) }
      dir
    })

  private def streamSrcDir(sfDir: String): String =
    stagedStreamDir("graft_stream_src", sfDir,
      "events.parquet" -> "events.parquet")

  /** A completed memory-sink stream: the settled table PLUS its sink
    * temp-view name, so eviction and race losers can actually drop
    * it — a memory sink pins its rows on the driver until the view
    * is dropped, so "the losing table is just an orphaned temp view"
    * was a driver-memory leak, one full result per lost race or
    * evicted entry for the JVM lifetime. */
  private final case class SettledStream(name: String,
      table: org.apache.spark.sql.DataFrame)

  private def dropSink(st: SettledStream): Unit =
    st.table.sparkSession.catalog.dropTempView(st.name)

  /** A completed stream's memo (x16/x72/x79/x103), keyed per
    * (session, sfDir): a settled table that ages out, loses a build
    * race or is cleared has its sink view dropped. */
  private def streamMemo(name: String) =
    new graft.BoundedMemo[(String, String), SettledStream](8, name, dropSink, dropSink)

  /** The memoized completed run of `build`. The query/sink name is
    * unique per attempt: two racing builders sharing one name would
    * make the second start() throw "query with that name is already
    * active". */
  private def settledStream(
      memo: graft.BoundedMemo[(String, String), SettledStream],
      s: org.apache.spark.sql.SparkSession, dir: String,
      namePrefix: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    memo.getOrBuild((graft.SessionKeys.of(s), dir)) {
      val attempt =
        s"${namePrefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      SettledStream(attempt, graft.streaming.EventStreams.runToMemory(s, build, attempt))
    }.table

  private val x16Results = streamMemo("x16-stream")

  /** Embedding near-dup over the FULL corpus via hyperplane-LSH
    * banding — the scale path behind x7's bounded exact baseline:
    * candidate pairs only materialize inside shared signature
    * buckets, exact cosine verifies. Sketch-driven candidate set →
    * rows-only here; recall vs the exact pairs is spec-asserted. */
  private val x22EmbeddingNearDup = GraftQuery(
    "x22_embedding_near_dup",
    (s, dir) => Dedup.embeddingNearDuplicates(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      // the synthetic embeddings are well-spread (max pairwise cosine
      // ≈ 0.5) — 0.4 exercises the operator with non-trivial output;
      // 48 bits / 8 bands (6-bit chunks) keeps buckets sparse — a
      // random pair collides in a band w.p. 2⁻⁶, so candidates stay
      // ~0.1× all-pairs — while recall ≈ 0.98 in the true near-dup
      // range (cos ≥ 0.9)
      threshold = 0.4, numBits = 48, bands = 8)
      .orderBy(col("id_a"), col("id_b")),
    None)

  /** Exact batch top-k similarity join (every query row finds its k
    * nearest corpus rows) on a bounded query set — fully
    * oracle-checked against DuckDB's double-lambda cosine + window
    * replay. Ranking happens on the UNROUNDED cosine on both sides
    * (neighbor-id tiebreak), output rounds to 4. */
  /** Exact batch-top-5 oracle (queries = vec_id < 20): DuckDB
    * double-lambda cosine + window replay, ranking on the UNROUNDED
    * cosine with neighbor-id tiebreak — shared by x23 (the exact
    * operator) and x202 (sharded IVF at full probe, whose merged
    * top-k provably equals the exact one). */
  private val batchTopK5Oracle =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                       FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(c.embedding) + 1),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(c.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(q.qe,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM embeddings c, q),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
             round(cos, 4) AS cosine
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank"""

  private val x23BatchTopK = GraftQuery(
    "x23_batch_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.batchTopK(
        emb.filter(col("vec_id") < 20), emb,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(batchTopK5Oracle))

  /** Sharded-IVF ANN driver-executed at FULL PROBE — the r15
    * "beyond MaxTrainK" composition ([[graft.ops.Similarity.ivfIndexSharded]]:
    * id-hash shards, per-shard flat indexes, probe-all-shards merge)
    * under the strongest possible check: with nprobe = nlist every
    * shard scores all its members, so the merged top-k EQUALS exact
    * brute-force batch top-k and x23's oracle replays it hash-green.
    * numShards = 2 pins genuine multi-shard execution (AutoShards
    * resolves 1 below MaxTrainK², so the default at driver SFs would
    * degenerate to the flat wrap); per-shard k = 4 lists, all
    * probed. */
  private val x202BatchTopKIvfSharded = GraftQuery(
    "x202_batch_topk_ivf_sharded",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Similarity.ivfIndexSharded(emb, "vec_id", "embedding",
        numShards = 2, k = 4, iters = 2)
      Similarity.ivfShardedBatchTopK(index, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", topK = 5, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(batchTopK5Oracle))

  /** WIDE-regime near-dup driver-executed — the r15 "past one Long"
    * banding ([[graft.ops.Dedup.lshSignature]]: per-band signatures,
    * chunk = the band's own Long) pinned by an explicit 80-bit /
    * 8-band width, since no driver-SF corpus is large enough for
    * [[graft.ops.Dedup.AutoBits]] to cross 64 bits on its own (the
    * x202-style explicit-parameter promotion: the composition the
    * clamp engages at scale, executed under Verify at every SF).
    * HASH-GREEN via the x201/x205 replica-union known answer (see
    * x201's scaladoc for the determinism argument; the wide regime
    * only strengthens it — 10-bit chunks keep buckets ~16× sparser
    * than the packed carriers', so the cap is even further from
    * engaging). A broken per-band seed stride, array chunk slice, or
    * wide-store banding surfaces as a missing/extra pair here. */
  private val x204EmbeddingNearDupWide = GraftQuery(
    "x204_embedding_near_dup_wide",
    (s, dir) => Dedup.embeddingNearDuplicates(
      replicatedEmbeddings(s, dir), "vec_id", "embedding",
      threshold = 0.95, numBits = 80, bands = 8)
      .orderBy(col("id_a"), col("id_b")),
    Some("""SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
        CAST(1.0 AS DOUBLE) AS cosine
      FROM embeddings ORDER BY id_a, id_b"""))

  /** LSH-bucketed batch top-k — the table-vs-table ANN scale path
    * (candidates bounded by bucket occupancy, never |q|×|corpus|).
    * Sketch-driven → rows-only; recall vs x23's exact ranks is
    * spec-asserted. */
  private val x24BatchTopKLsh = GraftQuery(
    "x24_batch_topk_lsh",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshBatchTopK(
        emb.filter(col("vec_id") < 20), emb,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    None)

  /** Corpus vocabulary top-k — the tokenizer-seed frequency table;
    * two-phase agg + TakeOrdered, fully SQL-replayable. */
  private val x25VocabTopK = GraftQuery(
    "x25_vocab_topk",
    (s, dir) => TextAnalysis.topTokens(Tables.documents(s, dir), "text", k = 100),
    Some("""SELECT token, count(*) AS n FROM (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
        FROM documents)
      WHERE length(token) > 0
      GROUP BY token ORDER BY n DESC, token ASC LIMIT 100"""))

  /** Exact interpolated length quantiles per source — corpus shape
    * stats (Spark `percentile` and DuckDB `quantile_cont` share the
    * linear-interpolation definition). */
  private val x26LengthQuantiles = GraftQuery(
    "x26_length_quantiles",
    (s, dir) => Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(percentile(col("n_chars"), lit(0.5)), 4).as("p50_chars"),
        round(percentile(col("n_chars"), lit(0.9)), 4).as("p90_chars"))
      .orderBy(col("source")),
    Some("""SELECT source, count(*) AS n_docs,
        round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
      FROM documents GROUP BY source ORDER BY source"""))

  /** DuckDB sessionization (30-minute inactivity gap, window named
    * `win`) and the per-session stats select, ungrouped tail left to
    * the caller — the x27 replay, reused by x72's settled stream. */
  private def sessionsSql(win: String): String =
    s"""ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
      marked AS (
        SELECT user_id, t, value,
          CASE WHEN lag(t) OVER $win IS NULL
                 OR t - lag(t) OVER $win > INTERVAL '30 minutes'
               THEN 1 ELSE 0 END AS new_s
        FROM ev WINDOW $win AS (PARTITION BY user_id ORDER BY t)),
      sess AS (
        SELECT user_id, t, value,
          sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT user_id, min(t) AS session_start,
             count(*) AS n_events, round(sum(value), 2) AS session_value
      FROM sess GROUP BY user_id, sid"""

  /** Sessionization over the events table (30-min inactivity gap) —
    * native session_window vs a lag/cumulative-sum SQL replay. */
  private val x27Sessions = GraftQuery(
    "x27_sessions",
    (s, dir) => graft.ops.Sessionize.sessionStats(
      Tables.events(s, dir), "user_id", "ts", "value")
      .orderBy(col("user_id"), col("session_start")),
    Some(s"""WITH ${sessionsSql("w")}
      ORDER BY user_id, session_start"""))

  /** DuckDB connected components of the undirected `pairs(id_a,
    * id_b)`: `edges` both ways and the recursive min-label closure
    * `reach(id, r)` (needs `WITH RECURSIVE`) — the recursive-CTE
    * replay of [[graft.ops.Dedup.duplicateClusters]]. */
  private val reachSql =
    """edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst)"""

  /** The x28 exact cosine pairs (vec_id < 200, cosine >= 0.3) and
    * their [[reachSql]] components — x28/x29/x98/x130 replay the
    * [[dupClustersFor]] clusters through this. */
  private val cosineReachSql =
    s"""pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 200 AND b.vec_id < 200
          AND ${cosineSql("a.embedding", "b.embedding", 10)} >= 0.3),
      $reachSql"""

  /** Duplicate-cluster formation: connected components (min-label
    * propagation) over x7's exact near-dup pairs, oracled by a
    * DuckDB recursive-CTE reachability replay — A≈B, B≈C collapse to
    * one cluster even though (A, C) never paired. x28, x29, x98 and
    * x130 share one propagation run through
    * [[Dedup.duplicateClusters]]' label memo. */
  private def dupClustersFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    Dedup.duplicateClusters(
      cosinePairs(s, dir).select(col("id_a"), col("id_b")), "id_a", "id_b")

  private val x28DupClusters = GraftQuery(
    "x28_dup_clusters",
    (s, dir) => dupClustersFor(s, dir).orderBy(col("id")),
    Some(s"""WITH RECURSIVE $cosineReachSql
      SELECT id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY id"""))

  /** Semantic dedup end-to-end: near-dup pairs → connected
    * components → keep the cluster minimum → the deduplicated
    * corpus, all oracle-checked (the anti-join drops exactly the
    * non-canonical cluster members the recursive-CTE replay drops). */
  private val x29SemanticDedup = GraftQuery(
    "x29_semantic_dedup",
    (s, dir) => {
      val drops = dupClustersFor(s, dir)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("vec_id"))
      Tables.embeddings(s, dir).filter(col("vec_id") < 200)
        .join(drops, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH RECURSIVE $cosineReachSql,
      clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT vec_id, label FROM embeddings em
      WHERE vec_id < 200
        AND NOT EXISTS (SELECT 1 FROM clusters c
          WHERE c.id != c.cluster_id AND c.id = em.vec_id)
      ORDER BY vec_id"""))

  /** Stratified corpus sampling (down-weight one language, keep the
    * other) + the hash-keyed train/holdout split. Both stages key on
    * the content id hash, so membership survives re-partitioning and
    * re-ingestion (contamination-safe). The hash is Spark's xxhash64
    * — not replayable in ANSI SQL → rows-only; the per-stratum
    * fraction tolerances and split stability are spec-asserted. */
  private val x30StratifiedSample = GraftQuery(
    "x30_stratified_sample",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val sampled = graft.ops.Sampling.stratifiedByHash(
        docs, "lang", "doc_id", Map("en" -> 0.5, "de" -> 0.1))
      val (train, holdout) = graft.ops.Sampling.hashSplit(sampled, "doc_id", 10)
      sampled.groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .join(train.groupBy(col("lang")).agg(count(lit(1)).as("n_train")), Seq("lang"), "left")
        .join(holdout.groupBy(col("lang")).agg(count(lit(1)).as("n_holdout")), Seq("lang"), "left")
        .orderBy(col("lang"))
    },
    None)

  /** Corpus-LM quality: per-doc mean log-prob under the corpus's own
    * add-one-smoothed char-bigram model — full SQL replay of the
    * model build and the scoring. */
  private val x31BigramLogprob = GraftQuery(
    "x31_bigram_logprob",
    (s, dir) => TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""WITH norm AS (
        SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        FROM documents),
      grams AS (
        SELECT doc_id,
          unnest(CASE WHEN length(s) < 2 THEN [s]
            ELSE list_transform(range(1, length(s)), i -> substr(s, i, 2)) END) AS g
        FROM norm),
      counts AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
      model AS (SELECT sum(c) AS total, count(*) AS vocab FROM counts)
      SELECT doc_id,
        round(avg(ln(CAST(c + 1 AS DOUBLE) / (total + vocab))), 4) AS mean_logprob
      FROM grams JOIN counts USING (g), model
      GROUP BY doc_id ORDER BY doc_id"""))

  /** TF-IDF top-3 terms per document — tf, df, N and the ranking all
    * replayed in SQL; rank on the unrounded score (term tie-break),
    * round only the output. */
  private val x32TfidfTerms = GraftQuery(
    "x32_tfidf_terms",
    (s, dir) => TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("rank")),
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        FROM documents),
      tok2 AS (SELECT * FROM toks WHERE length(term) > 0),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
      dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term,
          tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
        FROM tf JOIN dfreq USING (term), n),
      ranked AS (
        SELECT doc_id, term, tfidf,
          row_number() OVER (PARTITION BY doc_id
                             ORDER BY tfidf DESC, term ASC) AS rank
        FROM scored)
      SELECT doc_id, term, CAST(rank AS INT) AS rank,
             round(tfidf, 4) AS tfidf
      FROM ranked WHERE rank <= 3
      ORDER BY doc_id, rank"""))

  /** The scale-safe semantic-dedup composition over the FULL
    * embeddings table: LSH-bucketed near-dup pairs → connected
    * components → keep-cluster-minimum survivors — the pipeline a
    * real corpus runs (x29's recursive-CTE-oracled twin rides a
    * bounded exact pair source instead; this one's edge list never
    * leaves its signature buckets). Sketch-driven candidate set →
    * rows-only; the survivors-⊇-exact-survivors algebra is
    * spec-asserted on the x29 slice at the same threshold. */
  private val x34SemanticDedupLsh = GraftQuery(
    "x34_semantic_dedup_lsh",
    (s, dir) => Dedup.semanticDedupSurvivors(
      replicatedEmbeddings(s, dir), "vec_id", "embedding",
      // HASH-GREEN via the x201/x205 replica-union known answer at
      // the operator's production 0.95 threshold (pre-r16 this ran
      // the TEST-CORPUS 0.3 regime rows-only — that mid-threshold
      // duplicate graph stays pinned by x29's exact composition and
      // the OpsSpec contracts): the only verified edges are the
      // planted (v, v+10⁶) replica pairs, so clusters are exactly
      // those pairs and the survivor set is exactly the original
      // corpus — any mis-bucketed replica, broken CC round, or broken
      // survivor anti-join breaks the hash. 64 bits / 8 bands keeps
      // the banded self-join at candidate-volume parity with the old
      // 48/8-on-half-the-corpus form (256 buckets/band over 2× rows).
      threshold = 0.95, numBits = 64, bands = 8)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id")),
    Some("SELECT vec_id, label FROM embeddings ORDER BY vec_id"))

  /** Exact passage-containment twin (the x7↔x22 baseline/scale-path
    * pattern applied to containment): shared distinct word-trigram
    * counts between all pairs of a bounded doc subset, fully
    * SQL-replayable — pins the "shared passage ⇒ shared shingles"
    * semantics x21's winnowing path approximates with fingerprints. */
  private val x35ContainmentExact = GraftQuery(
    "x35_containment_exact",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          array_distinct(TextAnalysis.wordNgrams(col("text"), 3)).as("grams"))
      // re-spread the streamed side of the nested-loop join (see x43)
      val a = graft.ops.Parallelism.ensure(docs)
        .select(col("doc_id").as("id_a"), col("grams").as("grams_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("grams").as("grams_b"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("shared_ngrams",
          size(array_intersect(col("grams_a"), col("grams_b"))))
        .filter(col("shared_ngrams") >= 2)
        .select(col("id_a"), col("id_b"), col("shared_ngrams"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        FROM documents WHERE doc_id < 100),
      g AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            ELSE list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        FROM toks)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS shared_ngrams
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.grams, b.grams)) >= 2
      ORDER BY id_a, id_b"""))

  /** Decontamination at scale: which "training" documents share
    * winnowed passages with the bounded "evaluation" split — the
    * train/test-overlap sweep every LLM corpus runs before training.
    * Sketch-driven candidate set → rows-only; the winnowing
    * surfacing guarantee and the eval-side stop-fingerprint cap are
    * spec-asserted, and x37 is the bounded exact twin. */
  private val x36Decontaminate = GraftQuery(
    "x36_decontaminate",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // k = 20 chars ≈ a 4-word shingle on this corpus: contamination
      // sweeps fingerprint MULTI-WORD spans (8-char grams are ~1.5
      // words here and match everywhere in a 40-word vocabulary —
      // measured: k=8 pairs 81% of train×eval); the 10% eval-side
      // stop-fingerprint cap drops corpus-wide boilerplate spans
      Dedup.crossContainmentCandidates(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", minShared = 2, k = 20, window = 8,
        maxEvalDocFreq = 5)
        .orderBy(col("train_id"), col("eval_id"))
    },
    None)

  /** Exact decontamination twin (the x21↔x35 pattern): shared
    * distinct word-trigram counts between a bounded train slice and
    * the eval split, fully SQL-replayable — pins the "shared passage
    * ⇒ shared shingles" semantics x36 approximates with winnowed
    * fingerprints. Bounded by contract (the scale path is x36). */
  /** The distinct word-trigram gram frame every exact twin (x37,
    * x43, x51) pins its sketch's semantics on — ONE definition per
    * side (Scala + the DuckDB CTE body below) so a future fix to the
    * gram expression cannot silently diverge between twins. */
  private def trigramFrame(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"),
      array_distinct(TextAnalysis.wordNgrams(col("text"), 3)).as("grams"))

  /** Exact all-pairs trigram-Jaccard candidate edges over a bounded
    * doc slice — the shared pair stage of the x43/x114 exact twins.
    * The non-equi join plans as BroadcastNestedLoop: the STREAMED
    * side inherits the scan's single split, serializing 45k per-pair
    * evaluations onto one task (measured 7.7 s single-threaded) —
    * `Parallelism.ensure` re-spreads it; the broadcast side is 300
    * gram arrays. |a ∪ b| = |a| + |b| − |a ∩ b| (gram arrays are
    * distinct): materializing `array_union` per pair was the suite's
    * #1 CPU row (r7 verdict) — the oracles already use the identity. */
  private def trigramJaccardPairs(g: org.apache.spark.sql.DataFrame,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    val a = graft.ops.Parallelism.ensure(g)
      .select(col("doc_id").as("id_a"), col("grams").as("ga"))
    val b = g.select(col("doc_id").as("id_b"), col("grams").as("gb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("uni", size(col("ga")) + size(col("gb")) - col("inter"))
      .filter(round(when(col("uni") > 0,
        col("inter").cast("double") / col("uni")).otherwise(0.0), 4)
        >= threshold)
      .select("id_a", "id_b")
  }

  /** DuckDB replay of [[trigramFrame]] over `documents` rows matching
    * `where` — splice as the body of a `g AS (...)` CTE. */
  private def trigramGramsSql(where: String): String =
    s"""SELECT doc_id,
          list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            ELSE list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
              FROM documents WHERE $where)"""

  private val x37DecontaminateExact = GraftQuery(
    "x37_decontaminate_exact",
    (s, dir) => {
      def grams(d: org.apache.spark.sql.DataFrame) = trigramFrame(d)
      val docs = Tables.documents(s, dir)
      // re-spread the streamed side of the nested-loop join (see x43)
      val train = graft.ops.Parallelism.ensure(
        grams(docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)))
        .select(col("doc_id").as("train_id"), col("grams").as("grams_t"))
      val ev = grams(docs.filter(col("doc_id") < 50))
        .select(col("doc_id").as("eval_id"), col("grams").as("grams_e"))
      train.crossJoin(broadcast(ev))
        .withColumn("shared_ngrams",
          size(array_intersect(col("grams_t"), col("grams_e"))))
        .filter(col("shared_ngrams") >= 2)
        .select(col("train_id"), col("eval_id"), col("shared_ngrams"))
        .orderBy(col("train_id"), col("eval_id"))
    },
    Some(s"""WITH g AS (
        ${trigramGramsSql("doc_id < 50 OR (doc_id >= 100 AND doc_id < 200)")})
      SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
        CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS shared_ngrams
      FROM g a JOIN g b ON b.doc_id < 50
      WHERE a.doc_id >= 100 AND a.doc_id < 200
        AND len(list_intersect(a.grams, b.grams)) >= 2
      ORDER BY train_id, eval_id"""))

  /** The x38 repetition replay's CTEs over the token lists `toks.t`,
    * one definition for x38 and the x41/x200 gates: unigram counts
    * `uni`, bigram lists `big`, and bigram counts `bi` (bigram column
    * named `g`). */
  private val uniSql =
    """uni AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok)"""

  private val bigSql =
    """big AS (
        SELECT doc_id, CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
          ELSE list_transform(range(1, len(t)),
            i -> array_to_string(t[i:i+1], ' ')) END AS grams
        FROM toks)"""

  private def biSql(g: String): String =
    s"""bi AS (
        SELECT doc_id, $g, count(*) AS c
        FROM (SELECT doc_id, unnest(grams) AS $g FROM big) GROUP BY doc_id, $g)"""

  /** The x41/x200 repetition gate's per-doc counts: `uagg` (tokens,
    * top token) and `bagg` (bigrams, distinct bigrams). */
  private def repetitionGateSql(g: String): String =
    s"""$uniSql,
      uagg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, max(c) AS top_c
        FROM uni GROUP BY doc_id),
      $bigSql,
      ${biSql(g)},
      bagg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_big,
               count(*) AS n_distinct_big
        FROM bi GROUP BY doc_id)"""

  /** The x40 packing replay over per-doc `n_tokens` in CTE `t`: the
    * naive running-sum window into 512-token chunks (x40/x41/x200). */
  private def packingSql(t: String): String =
    s"""o AS (
        SELECT doc_id, n_tokens,
          COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
            AS start_offset
        FROM $t)
      SELECT doc_id, n_tokens, start_offset,
        start_offset // 512 AS start_chunk,
        (start_offset + greatest(n_tokens, 1) - 1) // 512 AS end_chunk
      FROM o ORDER BY doc_id"""

  /** Repetition filters (Gopher/C4): distinct-token ratio, top-token
    * share, duplicate-bigram fraction — fully SQL-replayable. */
  private val x38RepetitionStats = GraftQuery(
    "x38_repetition_stats",
    (s, dir) => TextAnalysis.repetitionStats(
      Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS t
        FROM documents),
      $uniSql,
      uagg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct, max(c) AS top_c
        FROM uni GROUP BY doc_id),
      $bigSql,
      ${biSql("g")},
      bagg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
               count(*) AS n_distinct_bigrams
        FROM bi GROUP BY doc_id)
      SELECT u.doc_id, u.n_tokens,
        round(CAST(u.n_distinct AS DOUBLE) / u.n_tokens, 4) AS distinct_ratio,
        round(CAST(u.top_c AS DOUBLE) / u.n_tokens, 4) AS top_token_ratio,
        round(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 4)
          AS dup_bigram_ratio
      FROM uagg u JOIN bagg b ON u.doc_id = b.doc_id
      ORDER BY u.doc_id"""))

  /** PII scrubbing (emails / IPv4 / phone runs → typed tags) over a
    * deterministically PII-seeded projection of the corpus (the
    * synthetic documents carry no PII of their own), exactly
    * replayed by RE2 regexp_replace in the oracle. */
  private val x39PiiScrub = GraftQuery(
    "x39_pii_scrub",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.scrubPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1 555 000 "),
          col("doc_id"), lit(" at 10.0.0."), pmod(col("doc_id"), lit(256))))
          .as("scrubbed"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              text || ' contact user' || doc_id || '@example.com or +1 555 000 '
                   || doc_id || ' at 10.0.0.' || (doc_id % 256),
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
          '\+?\d[\d ()-]{6,}\d', '<PHONE>', 'g') AS scrubbed
      FROM documents ORDER BY doc_id"""))

  /** Sequence packing (concatenate-then-chunk): each doc's chunk
    * span in the 512-token context stream, computed by the two-phase
    * distributed prefix sum (never a single-partition window) —
    * oracle = the naive running-sum window, which DuckDB can afford
    * at sf scale. Integer division via `div`/`//` on both sides
    * (double casts would round vs truncate differently). */
  private val x40SequencePacking = GraftQuery(
    "x40_sequence_packing",
    (s, dir) => graft.ops.Packing.chunkAssignments(
      Tables.documents(s, dir), "doc_id", "text", budget = 512)
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      ${packingSql("t")}"""))

  /** DuckDB replay of [[TextAnalysis.scrubPii]] over `text` as
    * `clean_text` (RE2 email → IPv4 → phone rewrites, the x39
    * patterns); continuation lines are indented by `indent` spaces. */
  private def piiScrubSql(indent: Int): String =
    """regexp_replace(
  regexp_replace(
    regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
  '\+?\d[\d ()-]{6,}\d', '<PHONE>', 'g') AS clean_text""".replace("\n", "\n" + " " * indent)

  /** End-to-end corpus preparation — the composition a pretraining
    * data pipeline actually ships: exact keep-first dedup →
    * repetition filters (x38 semantics) → PII scrub (x39 semantics)
    * → sequence packing of the survivors (x40 semantics). Every
    * stage is SQL-replayable, so the WHOLE pipeline is hash-checked
    * end-to-end: dedup survivors via min-id-per-digest, repetition
    * via the unnest replay, scrub via RE2, packing via the
    * running-sum window. */
  private val x41CorpusPrep = GraftQuery(
    "x41_corpus_prep",
    (s, dir) => {
      val deduped = Dedup.exactKeepFirst(Tables.documents(s, dir), "doc_id", "text")
      val keptIds = TextAnalysis.repetitionStats(deduped, "doc_id", "text")
        .filter(col("top_token_ratio") <= 0.12 && col("dup_bigram_ratio") <= 0.06)
        .select("doc_id")
      val cleaned = deduped
        .join(keptIds.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("clean_text"))
      graft.ops.Packing.chunkAssignments(cleaned, "doc_id", "clean_text", budget = 512)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH survivors AS (
        SELECT doc_id,
          ${piiScrubSql(10)},
          text
        FROM documents
        WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))),
      toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS t
        FROM survivors),
      ${repetitionGateSql("g")},
      kept AS (
        SELECT s.doc_id, s.clean_text
        FROM survivors s
        JOIN uagg u ON s.doc_id = u.doc_id
        JOIN bagg b ON s.doc_id = b.doc_id
        WHERE round(CAST(u.top_c AS DOUBLE) / u.n_tok, 4) <= 0.12
          AND round(1.0 - CAST(b.n_distinct_big AS DOUBLE) / b.n_big, 4) <= 0.06),
      t2 AS (
        SELECT doc_id,
          CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_tokens
        FROM kept),
      ${packingSql("t2")}"""))

  /** The documents corpus plus exact replicas of the doc_id < 1000
    * slice on a disjoint id range — [[replicatedEmbeddings]]' pattern
    * for the TEXT dedup carriers (x42/x118 share this one frame so
    * the trigram table and candidate memo build once across both).
    * The slice is BOUNDED (covers the whole corpus at sf≤0.01, a
    * fifth at sf0.1) because replicating every doc makes every doc an
    * LSH candidate and the verification gram table re-builds over the
    * full union — measured +95 s suite CPU (x42 alone at 9.2% of
    * suite CPU, above the ~7% quiet-run ceiling). The known answer
    * doesn't need full replication: the oracle groups on the sorted
    * gram list over the SAME union, so survivors are exact whatever
    * the slice, and the corpus's own exact-dup pairs (guaranteed
    * candidates — identical signatures) are covered replicated or
    * not. */
  private def replicatedDocuments(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val docs = Tables.documents(s, dir)
    docs.select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .unionByName(docs.filter(col("doc_id") < 1000)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          col("text"), col("source"), col("n_chars")))
  }

  /** DuckDB gram-set key over the x42/x118 replica union — the
    * trigramGramsSql definition (one gram expression per engine, the
    * x43 twin discipline) lifted to the union and sorted into a
    * grouping key: Jaccard = 1.0 on DISTINCT gram arrays ⇔ identical
    * gram SETS, so the oracle replays the full cluster semantics by
    * grouping on the sorted gram list — no planted-answer assumption
    * about which texts coincide. */
  private def replicaGramKeySql(cols: String): String =
    s"""WITH u AS (
        SELECT doc_id, text, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 10000000, text, source, n_chars FROM documents
        WHERE doc_id < 1000),
      tok AS (SELECT doc_id, source, n_chars,
          string_split_regex(lower(text), '\\s+') AS t FROM u),
      g AS (SELECT doc_id, source, n_chars,
          list_sort(list_distinct(CASE WHEN len(t) < 3
            THEN [array_to_string(t, ' ')]
            ELSE list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')) END)) AS gk
        FROM tok)
      SELECT $cols"""

  /** Fuzzy text dedup at scale (the SlimPajama/Dolma pipeline):
    * MinHash-LSH candidates → exact trigram-Jaccard verification →
    * connected components → keep cluster minima. HASH-GREEN on the
    * replica-union corpus at threshold 1.0: a verified Jaccard of
    * exactly 1.0 over DISTINCT gram arrays means identical gram
    * SETS (inter < uni rounds ≤ 0.99 at ≤ ~100 grams/doc, far from
    * the 0.99995 round-up boundary), identical sets sign identically
    * so every linking pair is a guaranteed LSH candidate (recall 1 —
    * same-text bucket groups of ≤ 4 rows never near the 1000 cap),
    * and the oracle replays the WHOLE semantics by grouping on the
    * sorted gram list — the engine's hashed-gram equality and the
    * oracle's string-gram equality agree up to a 2⁻⁶⁴ xxhash64
    * collision. The mid-threshold regime (0.7, recall < 1) stays
    * exercised by the x10 primitive and x43's bounded exact twin. */
  private val x42TextDedupFuzzy = GraftQuery(
    "x42_text_dedup_fuzzy",
    (s, dir) => Dedup.textDedupSurvivors(
      replicatedDocuments(s, dir), "doc_id", "text", threshold = 1.0)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id")),
    Some(replicaGramKeySql(
      """doc_id, source FROM (
        SELECT doc_id, source, min(doc_id) OVER (PARTITION BY gk) AS m
        FROM g) WHERE doc_id = m ORDER BY doc_id""")))

  /** The bounded exact trigram-Jaccard pairs (docs < 300, >= 0.7) —
    * the replay of [[trigramJaccardPairs]] that x43/x114/x127 feed;
    * [[trigramReachSql]] adds their [[reachSql]] components. */
  private val trigramPairsSql =
    s"""g AS (
        ${trigramGramsSql("doc_id < 300")}),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
          4) >= 0.7)"""

  private val trigramReachSql = s"""$trigramPairsSql,
      $reachSql"""

  /** Exact fuzzy-dedup twin (the x28/x29 oracle pattern on TEXT):
    * all-pairs trigram Jaccard over a bounded doc slice → recursive-
    * CTE reachability clusters → survivors, fully SQL-replayable —
    * pins x42's semantics the way x29 pins x34's. */
  private val x43TextDedupExact = GraftQuery(
    "x43_text_dedup_exact",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      val pairs = trigramJaccardPairs(trigramFrame(docs), threshold = 0.7)
      Dedup.survivorsFromPairs(docs, "doc_id", pairs)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $trigramReachSql,
      clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT doc_id, source FROM documents d
      WHERE doc_id < 300
        AND NOT EXISTS (SELECT 1 FROM clusters c
          WHERE c.id != c.cluster_id AND c.id = d.doc_id)
      ORDER BY doc_id"""))

  /** Exact per-chunk occupancy of the x40 packing: doc token
    * intervals clipped to chunk boundaries — every chunk but the
    * last holds exactly 512 tokens (no-gap invariant, spec-asserted)
    * — fully SQL-replayable via the same running-sum window. */
  private val x44ChunkFill = GraftQuery(
    "x44_chunk_fill",
    (s, dir) => graft.ops.Packing.chunkOccupancy(
      graft.ops.Packing.chunkAssignments(
        Tables.documents(s, dir), "doc_id", "text", budget = 512),
      budget = 512),
    Some("""WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      o AS (
        SELECT doc_id, n_tokens,
          COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
            AS start_offset
        FROM t),
      spans AS (
        SELECT start_offset, n_tokens,
          start_offset // 512 AS start_chunk,
          (start_offset + greatest(n_tokens, 1) - 1) // 512 AS end_chunk
        FROM o),
      exploded AS (
        SELECT start_offset, n_tokens,
          unnest(generate_series(start_chunk, end_chunk)) AS chunk
        FROM spans)
      SELECT chunk, count(*) AS n_docs,
        CAST(sum(least(start_offset + n_tokens, (chunk + 1) * 512)
             - greatest(start_offset, chunk * 512)) AS BIGINT) AS tokens
      FROM exploded GROUP BY chunk ORDER BY chunk"""))

  /** N-gram novelty scoring (corpus-level boilerplate detection) —
    * fully SQL-replayable: shingle df table + scoring join. */
  private val x45NgramNovelty = GraftQuery(
    "x45_ngram_novelty",
    (s, dir) => TextAnalysis.ngramNovelty(
      Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""WITH g AS (
        SELECT doc_id,
          unnest(list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            ELSE list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')) END)) AS gram
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
              FROM documents)),
      d AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
      SELECT g.doc_id,
        CAST(count(*) AS BIGINT) AS n_grams,
        round(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 4) AS novelty_ratio,
        round(list_sum(list_transform(list_sort(list(d.df)),
            x -> CAST(1.0 AS DOUBLE) / CAST(x AS DOUBLE)))
          / count(*), 4) AS mean_inv_df
      FROM g JOIN d ON g.gram = d.gram
      GROUP BY g.doc_id ORDER BY g.doc_id"""))

  /** Corpus data-quality gate (the reference's check-harness posture
    * on the LLM tables): two aggregates inline into named check
    * rows, fully SQL-replayable. */
  private val x46CorpusChecks = GraftQuery(
    "x46_corpus_checks",
    (s, dir) => graft.quality.CorpusQuality.suite(
      Tables.documents(s, dir), Tables.embeddings(s, dir)),
    Some("""WITH d AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT) AS dup,
          COALESCE(CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT), 0) AS nulls,
          COALESCE(CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
            AS BIGINT), 0) AS mism,
          COALESCE(CAST(sum(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
            THEN 1 ELSE 0 END) AS BIGINT), 0) AS unk,
          COALESCE(CAST(sum(CASE WHEN regexp_matches(text, '[^\x00-\x7f]')
            THEN 1 ELSE 0 END) AS BIGINT), 0) AS nonascii
        FROM documents),
      e AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(vec_id) - count(DISTINCT vec_id) AS BIGINT) AS dup,
          CAST(count(DISTINCT len(embedding)) AS BIGINT) AS widths
        FROM embeddings)
      SELECT * FROM (
        SELECT 'documents_nonempty' AS check_name, n_rows AS observed,
               CAST(n_rows > 0 AS INT) AS passed FROM d
        UNION ALL SELECT 'doc_id_unique', dup, CAST(dup = 0 AS INT) FROM d
        UNION ALL SELECT 'doc_id_not_null', nulls, CAST(nulls = 0 AS INT) FROM d
        UNION ALL SELECT 'n_chars_consistent', mism, CAST(mism = 0 AS INT) FROM d
        UNION ALL SELECT 'lang_known', unk, CAST(unk = 0 AS INT) FROM d
        UNION ALL SELECT 'text_ascii_only', nonascii,
               CAST(nonascii = 0 AS INT) FROM d
        UNION ALL SELECT 'embeddings_nonempty', n_rows,
               CAST(n_rows > 0 AS INT) FROM e
        UNION ALL SELECT 'vec_id_unique', dup, CAST(dup = 0 AS INT) FROM e
        UNION ALL SELECT 'embedding_width_uniform', widths,
               CAST(widths = 1 AS INT) FROM e)
      ORDER BY check_name"""))

  /** Bloom-filter decontamination (the broadcast-filter scale path of
    * x36; see [[Dedup.bloomDecontaminate]]): eval fingerprints
    * compress into a Bloom filter and the train side is a pure
    * map — no shuffle of the big side at all. Same winnowing regime
    * as x36 (k=20 chars ≈ 4-word shingles on this corpus, eval-side
    * stop-cap 5); fpp 0.001 keeps false-positive matches out of the
    * minMatched=2 gate at this scale. Sketch-path rows-only; the
    * shared-passage semantics are pinned by the exact twins x37
    * (word-trigram intersection) and the OpsSpec superset/exact-count
    * asserts. */
  private val x47DecontaminateBloom = GraftQuery(
    "x47_decontaminate_bloom",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.bloomDecontaminate(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", minMatched = 2, k = 20, window = 8,
        maxEvalDocFreq = 5, fpp = 0.001)
        .orderBy(col("train_id"))
    },
    None)

  /** Z-order (Morton) layout key over (p_partkey, p_size) — the
    * clustering key a range shuffle plus in-partition sort on it
    * keeps per-file parquet min/max stats tight on BOTH columns (see
    * Layout.scala's scale rationale; locality is spec-asserted in
    * LayoutSpec). The key computation is a pure shift/mask expression
    * tree, so the oracle replays the identical formula —
    * [[Layout.zValueSql]] emits it in ANSI SQL. */
  private val x48Zorder = GraftQuery(
    "x48_zorder",
    (s, dir) => Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_size"),
        Layout.zValue(Seq(col("p_partkey"), col("p_size")), 21).as("zval"))
      .orderBy(col("p_partkey")),
    Some(s"""SELECT p_partkey, p_size,
        ${Layout.zValueSql(Seq("p_partkey", "p_size"), 21)} AS zval
      FROM part ORDER BY p_partkey"""))

  /** Incremental dedup of a delta batch against a persisted MinHash
    * signature store ([[Dedup.incrementalMinhashNearDuplicates]]):
    * the corpus text is never re-shingled — only its slim signature
    * table is banded and joined. Sketch-path rows-only; the
    * incremental ≡ batch-restricted-full contract is spec-asserted
    * (OpsSpec), and x8's candidate family pins the banding
    * semantics. Threshold 0.5 mirrors x8's regime on this corpus. */
  private val x49DedupIncremental = GraftQuery(
    "x49_dedup_incremental",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val store = Dedup.minhashSignatures(
        docs.filter(col("doc_id") >= 100), "doc_id", "text")
      Dedup.incrementalMinhashNearDuplicates(
        store, docs.filter(col("doc_id") < 100), "doc_id", "text",
        threshold = 0.5)
        .orderBy(col("batch_id"), col("dup_id"), col("dup_in"))
    },
    None)

  /** Materialized packed training sequences ([[graft.ops.Packing.packedChunks]]):
    * the actual fixed-budget context windows with their assembled
    * text — turns x40's assignment table into trainable sequences.
    * The whole path (prefix sum → interval clip → token slice →
    * in-order concat) replays in ANSI SQL, so the sequences
    * themselves are hash-checked. */
  private val x50PackChunks = GraftQuery(
    "x50_pack_chunks",
    (s, dir) => graft.ops.Packing.packedChunks(
      Tables.documents(s, dir), "doc_id", "text", budget = 512),
    Some("""WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      o AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
          COALESCE(CAST(sum(CAST(len(toks) AS BIGINT)) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
            AS start_offset
        FROM t),
      spans AS (
        SELECT doc_id, toks, n_tokens, start_offset,
          start_offset // 512 AS start_chunk,
          (start_offset + greatest(n_tokens, 1) - 1) // 512 AS end_chunk
        FROM o),
      exploded AS (
        SELECT doc_id, toks, n_tokens, start_offset,
          unnest(generate_series(start_chunk, end_chunk)) AS chunk
        FROM spans),
      slices AS (
        SELECT chunk, toks,
          greatest(start_offset, chunk * 512) AS clip_start,
          least(start_offset + n_tokens, (chunk + 1) * 512)
            - greatest(start_offset, chunk * 512) AS slice_len,
          greatest(start_offset, chunk * 512) - start_offset AS slice_start
        FROM exploded),
      pieces AS (
        SELECT chunk, clip_start, slice_len,
          array_to_string(toks[CAST(slice_start + 1 AS INT):CAST(slice_start + slice_len AS INT)], ' ') AS piece
        FROM slices WHERE slice_len > 0)
      SELECT chunk, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(slice_len) AS BIGINT) AS n_tokens,
        string_agg(piece, ' ' ORDER BY clip_start) AS text
      FROM pieces GROUP BY chunk ORDER BY chunk"""))

  /** Bounded exact twin of x49 (the x42↔x43 pattern): true word-
    * trigram Jaccard between a batch slice and a corpus slice, with
    * the same output shape and orientation contract as the
    * incremental sketch path (batch doc on the left, provenance
    * tagged, batch-internal pairs once). Bounded by contract
    * (doc_id < 300); the scale path is x49. */
  private val x51DedupIncrementalExact = GraftQuery(
    "x51_dedup_incremental_exact",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      val g = trigramFrame(docs)
      // re-spread the streamed side of the nested-loop join (see x43)
      val a = graft.ops.Parallelism.ensure(g.filter(col("doc_id") < 100))
        .select(col("doc_id").as("batch_id"), col("grams").as("ga"))
      val b = g.select(col("doc_id").as("dup_id"), col("grams").as("gb"))
      a.join(broadcast(b),
          col("dup_id") >= 100 || col("batch_id") < col("dup_id"))
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
        .withColumn("jaccard", round(when(
          col("ga").isNotNull && col("gb").isNotNull,
          col("inter").cast("double")
            / (size(col("ga")) + size(col("gb")) - col("inter"))).otherwise(0.0), 4))
        .filter(col("jaccard") >= 0.5)
        .withColumn("dup_in",
          when(col("dup_id") < 100, lit("batch")).otherwise(lit("corpus")))
        .select(col("batch_id"), col("dup_id"), col("jaccard"), col("dup_in"))
        .orderBy(col("batch_id"), col("dup_id"))
    },
    Some(s"""WITH g AS (
        ${trigramGramsSql("doc_id < 300")})
      SELECT a.doc_id AS batch_id, b.doc_id AS dup_id,
        round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
          4) AS jaccard,
        CASE WHEN b.doc_id < 100 THEN 'batch' ELSE 'corpus' END AS dup_in
      FROM g a JOIN g b
        ON a.doc_id < 100 AND (b.doc_id >= 100 OR a.doc_id < b.doc_id)
      WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
          4) >= 0.5
      ORDER BY batch_id, dup_id"""))

  /** Int8 embedding quantization ([[Similarity.quantizeInt8]]),
    * emitted as scalar (vec_id, pos, q, scale) rows for the generic
    * row-compare harness (the x11 pattern; 1-based pos to match
    * generate_subscripts). Deterministic — rounding is written as
    * floor(x/scale + 0.5) on BOTH sides, vector math in explicit
    * double lambdas. Bounded to vec_id < 500 for oracle-output size
    * only; the op itself is a map-only single pass. */
  private val x52QuantizeInt8 = GraftQuery(
    "x52_quantize_int8",
    (s, dir) => Similarity.quantizeInt8(
      Tables.embeddings(s, dir).filter(col("vec_id") < 500), "vec_id", "embedding")
      .select(col("id").as("vec_id"), round(col("scale"), 6).as("scale"),
        posexplode(col("qvec")))
      .select(col("vec_id"), (col("pos") + 1).as("pos"),
        col("col").as("q"), col("scale"))
      .orderBy(col("vec_id"), col("pos")),
    Some("""WITH s AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
            AS sc,
          embedding
        FROM embeddings WHERE vec_id < 500)
      SELECT vec_id, CAST(pos AS INT) AS pos,
        CASE WHEN sc > 0
          THEN CAST(floor(CAST(v AS DOUBLE) / sc + 0.5) AS INT) ELSE 0 END AS q,
        round(sc, 6) AS scale
      FROM (SELECT vec_id, sc, unnest(embedding) AS v,
              generate_subscripts(embedding, 1) AS pos
            FROM s)
      ORDER BY vec_id, pos"""))

  /** Sliding-window chunking ([[graft.ops.Packing.slidingWindows]]):
    * overlapping token windows per document (window 64, stride 48 →
    * 16-token overlap), the RAG/long-doc splitting op. Map-only and
    * fully SQL-replayable — the window texts themselves hash-check. */
  private val x53SlidingWindows = GraftQuery(
    "x53_sliding_windows",
    (s, dir) => graft.ops.Packing.slidingWindows(
      Tables.documents(s, dir), "doc_id", "text", window = 64, stride = 48)
      .orderBy(col("doc_id"), col("window_idx")),
    Some("""WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, toks,
          unnest(generate_series(0,
            greatest(0, CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT)))) AS w
        FROM t)
      SELECT doc_id, CAST(w AS INT) AS window_idx,
        array_to_string(toks[w*48+1 : w*48+64], ' ') AS chunk_text,
        CAST(least(64, len(toks) - w*48) AS INT) AS chunk_tokens
      FROM w ORDER BY doc_id, window_idx"""))

  /** ANSI replay of [[graft.ops.Similarity.kmeansCentroids]] +
    * [[graft.ops.Similarity.kmeansAssign]]: init = the k lowest-id
    * vectors; each Lloyd round is an argmax CTE (cosine rounded to 9,
    * ties to the higher cluster index) + a centroid-update CTE
    * (`round(avg, 6)` — the same half-away-from-zero quantization the
    * engine applies driver-side, which is what makes the iteration
    * replay-exact despite float addition-order differences between
    * engines). Emits CTE text up to `bfin` (vec_id, cluster, sim). */
  private def kmeansReplayCtes(k: Int, iters: Int): String = {
    def assignCte(name: String, from: String): String =
      s"""$name AS (
        SELECT vec_id, j, round(
          list_sum(list_transform(range(1, len(vec) + 1), ii -> vec[ii] * c[ii]))
          / (nv * sqrt(list_sum(list_transform(c, x -> x * x)))), 9) AS sim
        FROM nrm CROSS JOIN $from)"""
    val sb = new StringBuilder
    sb ++= s"""v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings),
      nrm AS (
        SELECT vec_id, vec,
          sqrt(list_sum(list_transform(vec, x -> x * x))) AS nv FROM v),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
          vec AS c
        FROM v QUALIFY row_number() OVER (ORDER BY vec_id) <= $k)"""
    for (i <- 1 to iters) {
      sb ++= s""",
      ${assignCte(s"a$i", s"c${i - 1}")},
      b$i AS (
        SELECT vec_id, j AS cluster FROM a$i
        QUALIFY row_number() OVER (PARTITION BY vec_id
          ORDER BY sim DESC, j DESC) = 1),
      u$i AS (
        SELECT cluster AS j, pos, round(avg(x), 6) AS val FROM (
          SELECT b$i.cluster, unnest(v.vec) AS x,
            generate_subscripts(v.vec, 1) AS pos
          FROM b$i JOIN v USING (vec_id))
        GROUP BY 1, 2),
      c$i AS (
        SELECT p.j, coalesce(u.c, p.c) AS c
        FROM c${i - 1} p LEFT JOIN (
          SELECT j, list(val ORDER BY pos) AS c FROM u$i GROUP BY j) u
          ON p.j = u.j)"""
    }
    sb ++= s""",
      ${assignCte("afin", s"c$iters")},
      bfin AS (
        SELECT vec_id, j AS cluster, sim FROM afin
        QUALIFY row_number() OVER (PARTITION BY vec_id
          ORDER BY sim DESC, j DESC) = 1)"""
    sb.toString
  }

  /** Fully distributed Lloyd's k-means (full-corpus training — the
    * complement to x17's sample-trained IVF): k=4, 2 Lloyd rounds,
    * final assignment with cosine-to-centroid. The ENTIRE training
    * iteration replays in ANSI SQL (hash-green), which pins the
    * distributed aggregation's semantics exactly — see
    * [[kmeansReplayCtes]]. */
  private val x54Kmeans = GraftQuery(
    "x54_kmeans",
    (s, dir) => Similarity.kmeansAssign(
      Tables.embeddings(s, dir), "vec_id", "embedding", k = 4, iters = 2)
      .orderBy(col("vec_id")),
    Some(s"""WITH ${kmeansReplayCtes(4, 2)}
      SELECT vec_id, cluster, round(sim, 4) AS cosine FROM bfin
      ORDER BY vec_id"""))

  /** Cluster-balanced sampling over the k-means assignment: cap every
    * cluster at 40 rows (lowest ids — deterministic, relayout-stable).
    * The anti-domination mix step; shares x54's trained model via the
    * kmeans memo (one training per session+input). */
  private val x55ClusterSample = GraftQuery(
    "x55_cluster_sample",
    (s, dir) => graft.ops.Sampling.clusterBalanced(
      Similarity.kmeansAssign(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 4, iters = 2),
      "vec_id", "cluster", maxPerCluster = 40)
      .select(col("cluster"), col("vec_id"))
      .orderBy(col("cluster"), col("vec_id")),
    Some(s"""WITH ${kmeansReplayCtes(4, 2)}
      SELECT cluster, vec_id FROM (
        SELECT cluster, vec_id,
          row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
        FROM bfin)
      WHERE rn <= 40 ORDER BY cluster, vec_id"""))

  /** Corpus drift monitor ([[graft.ops.TextAnalysis.corpusDrift]]):
    * per-source unigram KL divergence from the whole-corpus
    * distribution. Exact (no smoothing needed — a group's tokens are
    * a subset of the corpus's), fully SQL-replayable. */
  private val x56CorpusDrift = GraftQuery(
    "x56_corpus_drift",
    (s, dir) => graft.ops.TextAnalysis.corpusDrift(
      Tables.documents(s, dir), "source", "text")
      .orderBy(col("source")),
    Some("""WITH t AS (
        SELECT source AS grp,
          unnest(string_split_regex(lower(text), '\s+')) AS token
        FROM documents),
      tf AS (
        SELECT grp, token, CAST(count(*) AS BIGINT) AS cnt_g
        FROM t WHERE len(token) > 0 GROUP BY 1, 2),
      cf AS (SELECT token, CAST(sum(cnt_g) AS BIGINT) AS cnt_c
        FROM tf GROUP BY 1),
      gt AS (SELECT grp, CAST(sum(cnt_g) AS BIGINT) AS tot_g
        FROM tf GROUP BY 1),
      ct AS (SELECT CAST(sum(cnt_g) AS BIGINT) AS tot_c FROM tf)
      SELECT grp AS source, gt.tot_g AS n_tokens,
        CAST(count(*) AS BIGINT) AS distinct_tokens,
        round(sum((CAST(cnt_g AS DOUBLE) / tot_g)
          * ln((CAST(cnt_g AS DOUBLE) / tot_g)
            / (CAST(cnt_c AS DOUBLE) / tot_c))), 6) AS kl_divergence
      FROM tf
      JOIN cf USING (token) JOIN gt USING (grp) CROSS JOIN ct
      GROUP BY grp, gt.tot_g
      ORDER BY source"""))

  /** Duplicated-span detection ([[Dedup.duplicatedSpans]]): per-doc
    * token positions covered by cross-document 8-gram matches, merged
    * into maximal spans. Hash-keyed since r20-opt (grams travel as
    * xxhash64 longs — the x161 ordering argument: only gram EQUALITY
    * feeds the output, so the text-keyed ANSI oracle still replays
    * the identical result; OpsSpec pins hash-keyed == text-keyed). */
  private val x57DupSpans = GraftQuery(
    "x57_dup_spans",
    // hashGrams (r20 opt, the r13 x161 precedent): the 8-word gram
    // key travels as its xxhash64 long — df counts and the leftsemi
    // need only gram EQUALITY, so the output is bit-identical unless
    // two distinct grams of one doc collide at 64 bits
    // (≈|grams|²/2⁶⁴); OpsSpec asserts hash-keyed == text-keyed and
    // the STRING-keyed oracle replays the same verified output
    (s, dir) => Dedup.duplicatedSpans(
      Tables.documents(s, dir), "doc_id", "text", n = 8, hashGrams = true)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
      g AS (
        SELECT doc_id, p, array_to_string(toks[p+1 : p+8], ' ') AS g
        FROM (SELECT doc_id, toks,
                unnest(generate_series(0, len(toks) - 8)) AS p
              FROM b WHERE n_tokens >= 8)),
      d AS (
        SELECT g FROM (
          SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY g)
        WHERE df >= 2),
      dp AS (SELECT doc_id, p FROM g JOIN d USING (g)),
      isl AS (
        SELECT doc_id, p,
          sum(CASE WHEN p - lagp > 8 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM (SELECT doc_id, p,
                lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lagp
              FROM dp)),
      per_island AS (
        SELECT doc_id, island, max(p) - min(p) + 8 AS covered
        FROM isl GROUP BY 1, 2),
      per_doc AS (
        SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_tokens,
          CAST(count(*) AS BIGINT) AS dup_spans
        FROM per_island GROUP BY 1)
      SELECT b.doc_id, b.n_tokens,
        COALESCE(per_doc.dup_tokens, 0) AS dup_tokens,
        COALESCE(per_doc.dup_spans, 0) AS dup_spans,
        round(CAST(COALESCE(per_doc.dup_tokens, 0) AS DOUBLE) / b.n_tokens,
          4) AS dup_ratio
      FROM b LEFT JOIN per_doc USING (doc_id) ORDER BY b.doc_id"""))

  /** Encoding-anomaly scan ([[graft.ops.TextAnalysis
    * .encodingAnomalies]]): U+FFFD / control-char / mojibake-marker
    * counts per document, all from length deltas — map-only, fully
    * SQL-replayable (literal `replace` for the metachar-free markers,
    * `'g'`-flagged regex for the byte classes). */
  private val x58EncodingChecks = GraftQuery(
    "x58_encoding_checks",
    (s, dir) => graft.ops.TextAnalysis.encodingAnomalies(
      Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        CAST(length(text) AS INT) AS n_chars,
        CAST(length(text) - length(replace(text, '�', '')) AS INT)
          AS repl_chars,
        CAST(length(text) - length(regexp_replace(text,
          '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS INT) AS ctrl_chars,
        round(CAST(length(text) - length(regexp_replace(text,
            '[^\x00-\x7F]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS non_ascii_ratio,
        CAST((length(text) - length(replace(text, 'â€', ''))) // 2 AS INT)
          AS mojibake_hits,
        (length(text) = length(replace(text, '�', ''))
          AND length(text) = length(regexp_replace(text,
            '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
          AND length(text) = length(replace(text, 'â€', ''))) AS clean
      FROM documents ORDER BY doc_id"""))

  /** ANSI replay of [[Similarity.pqTrain]] + [[Similarity.pqEncode]]
    * for ONE subspace `s` (sliced `vec[a:b]`): same CTE skeleton as
    * [[kmeansReplayCtes]] but with squared-L2 argmin (ties to the
    * SMALLER code) and per-subspace init from the k lowest-id
    * subvectors. */
  private def pqSubspaceCtes(s: Int, k: Int, iters: Int, subDim: Int): String = {
    val a = s * subDim + 1
    val b = (s + 1) * subDim
    def assign(name: String, from: String): String =
      s"""s${s}_$name AS (
        SELECT vec_id, code, round(
          list_sum(list_transform(range(1, $subDim + 1),
            ii -> (vec[$a + ii - 1] - c[ii]) * (vec[$a + ii - 1] - c[ii]))),
          9) AS dist
        FROM v CROSS JOIN s${s}_$from)"""
    def pick(name: String, from: String, extra: String): String =
      s"""s${s}_$name AS (
        SELECT vec_id, code$extra FROM s${s}_$from
        QUALIFY row_number() OVER (PARTITION BY vec_id
          ORDER BY dist ASC, code ASC) = 1)"""
    val sb = new StringBuilder
    sb ++= s"""s${s}_c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
          vec[$a:$b] AS c
        FROM v QUALIFY row_number() OVER (ORDER BY vec_id) <= $k)"""
    for (i <- 1 to iters) {
      sb ++= s""",
      ${assign(s"a$i", s"c${i - 1}")},
      ${pick(s"b$i", s"a$i", "")},
      s${s}_u$i AS (
        SELECT code, pos, round(avg(x), 6) AS val FROM (
          SELECT b.code, unnest(v.vec[$a:$b]) AS x,
            generate_subscripts(v.vec[$a:$b], 1) AS pos
          FROM s${s}_b$i b JOIN v USING (vec_id))
        GROUP BY 1, 2),
      s${s}_c$i AS (
        SELECT p.code, coalesce(u.c, p.c) AS c
        FROM s${s}_c${i - 1} p LEFT JOIN (
          SELECT code, list(val ORDER BY pos) AS c
          FROM s${s}_u$i GROUP BY code) u ON p.code = u.code)"""
    }
    sb ++= s""",
      ${assign("af", s"c$iters")},
      ${pick("bf", "af", s", $s AS subspace")}"""
    sb.toString
  }

  /** Product quantization (x59): m=4 subspaces × 8 codes over the
    * 64-dim embeddings, ONE distributed Lloyd round, exploded to
    * (vec_id, subspace, code) scalar rows — the entire per-subspace
    * training + encoding replays in SQL (hash-green), the same
    * determinism contract as x54. */
  private val x59PqEncode = GraftQuery(
    "x59_pq_encode",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 4, k = 8, iters = 1)
      Similarity.pqEncode(emb, "vec_id", "embedding", model)
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos").as("subspace"), col("col").as("code"))
        .orderBy(col("vec_id"), col("subspace"))
    },
    Some {
      val ctes = (0 until 4).map(s => pqSubspaceCtes(s, k = 8, iters = 1,
        subDim = 16)).mkString(",\n      ")
      val union = (0 until 4)
        .map(s => s"SELECT vec_id, subspace, code FROM s${s}_bf")
        .mkString(" UNION ALL ")
      s"""WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings),
      $ctes
      SELECT vec_id, CAST(subspace AS INT) AS subspace, code
      FROM ($union) ORDER BY vec_id, subspace"""
    })

  /** Pairwise vocabulary overlap between sources ([[TextAnalysis
    * .sourceOverlap]]): Jaccard of distinct-token sets for every
    * source pair — the cross-source repetition matrix a mixture
    * design starts from. Shuffle-hash self-join on token (vocabulary
    * is corpus-sized, NOT broadcast); per-source totals broadcast. */
  private val x60SourceOverlap = GraftQuery(
    "x60_source_overlap",
    (s, dir) => TextAnalysis.sourceOverlap(
      Tables.documents(s, dir), "source", "text")
      .orderBy(col("source_a"), col("source_b")),
    Some("""WITH t AS (
        SELECT DISTINCT source, token FROM (
          SELECT source,
            unnest(string_split_regex(lower(text), '\s+')) AS token
          FROM documents)
        WHERE len(token) > 0 AND source IS NOT NULL),
      c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(count(*) AS BIGINT) AS n_common,
        ca.n AS n_a, cb.n AS n_b,
        round(CAST(count(*) AS DOUBLE)
          / (ca.n + cb.n - count(*)), 6) AS jaccard
      FROM t a JOIN t b ON a.token = b.token AND a.source < b.source
      JOIN c ca ON ca.source = a.source
      JOIN c cb ON cb.source = b.source
      GROUP BY 1, 2, ca.n, cb.n
      ORDER BY source_a, source_b"""))

  /** Winsorized per-source length stats ([[graft.quality.CorpusQuality
    * .winsorizedStats]]): mean/stddev of n_chars after clamping to the
    * source's [p05, p95] — outlier-robust corpus profiling. Quantile
    * table broadcast back onto the scan; the big side never shuffles. */
  private val x61WinsorizedStats = GraftQuery(
    "x61_winsorized_stats",
    (s, dir) => graft.quality.CorpusQuality.winsorizedStats(
      Tables.documents(s, dir), "source", "n_chars", lo = 0.05, hi = 0.95)
      .orderBy(col("source")),
    Some("""WITH q AS (
        SELECT source,
          quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p_lo,
          quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p_hi
        FROM documents WHERE source IS NOT NULL GROUP BY source)
      SELECT source, CAST(count(*) AS BIGINT) AS n,
        round(min(p_lo), 4) AS p_lo, round(min(p_hi), 4) AS p_hi,
        round(avg(CAST(n_chars AS DOUBLE)), 4) AS mean_raw,
        round(avg(least(greatest(CAST(n_chars AS DOUBLE), p_lo), p_hi)), 4)
          AS mean_winsorized,
        round(stddev(least(greatest(CAST(n_chars AS DOUBLE), p_lo), p_hi)), 4)
          AS stddev_winsorized
      FROM documents JOIN q USING (source)
      GROUP BY source ORDER BY source"""))

  /** Temperature-flattened mixture sample ([[graft.ops.Sampling
    * .replayableMixture]], α = 1/2): keep-probability √(n_min/n) per
    * source, decided in EXACT integer arithmetic on a multiplicative
    * id scramble — the one sampling query whose membership a DuckDB
    * oracle replays bit-for-bit (the xxhash64 paths x30/x41 stay
    * rows-only). The corpus side is a map-only filter; only the
    * |strata|-row count table shuffles. Stratified on `lang` — the
    * skewed stratum (en dominates ~3×), so the flattening actually
    * bites: en keeps ~√(n_min/n_en) ≈ 54%, the rarest language
    * keeps everything. */
  private val x62MixtureSample = GraftQuery(
    "x62_mixture_sample",
    (s, dir) => graft.ops.Sampling.replayableMixture(
      Tables.documents(s, dir), "lang", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_stratum").as("n_lang"))
      .orderBy(col("doc_id")),
    Some("""WITH c AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
        FROM documents WHERE lang IS NOT NULL GROUP BY 1),
      m AS (SELECT min(n_lang) AS n_min FROM c),
      b AS (
        SELECT doc_id, lang,
          ((doc_id % 2147483648) * 2654435761) % 4294967296 AS bucket
        FROM documents)
      SELECT doc_id, lang, n_lang
      FROM b JOIN c USING (lang) CROSS JOIN m
      WHERE CAST(bucket AS HUGEINT) * CAST(bucket AS HUGEINT)
              * CAST(n_lang AS HUGEINT)
            < CAST(n_min AS HUGEINT) * CAST(18446744073709551616 AS HUGEINT)
      ORDER BY doc_id"""))

  /** Count-min-sketch token frequencies ([[TextAnalysis
    * .tokenFrequencySketch]]): fixed-memory frequency table probed at
    * the exact top-20 tokens. Sketch estimates aren't ANSI-expressible
    * → rows-only; the paired hash-green query is x25 (identical
    * tokenization, exact counts), and OpsSpec pins both CMS bounds
    * (est ≥ true; est ≤ true + eps·N at the default confidence). */
  private val x63FreqSketch = GraftQuery(
    "x63_freq_sketch",
    (s, dir) => TextAnalysis.tokenFrequencySketch(
      Tables.documents(s, dir), "text", k = 20)
      .orderBy(col("exact_n").desc, col("token")),
    None)

  /** IVF-PQ batch ANN ([[Similarity.ivfPqBatchTopK]]): probe pruning
    * + asymmetric-distance scoring over m=4 PQ codes + exact
    * re-ranking — the composed scale path of x17 (IVF) and x59 (PQ),
    * sharing both memoized artifacts inside one run. Approximate by
    * construction → rows-only; the full-probe/full-refine ≡ exact
    * brute-force contract is spec-asserted, and x23 is the
    * hash-green exact twin of the search semantics. */
  private val x64IvfPqTopK = GraftQuery(
    "x64_ivfpq_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
      val pq = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, k = 8, iters = 1)
      Similarity.ivfPqBatchTopK(index, pq, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", topK = 5, nprobe = 3, refine = 20)
        .orderBy(col("query_id"), col("rank"))
    },
    None)

  /** SemDeDup ([[graft.ops.Dedup.semanticClusterDedup]], Abbas et al.
    * 2023): k-means partitions the space, exact-cosine pairs form
    * within clusters only, components keep the min id. Threshold 0.3
    * is the TEST-CORPUS regime (embeddings are well-spread, max cos
    * ≈ 0.5 — same note as x34); real corpora use the 0.95 default.
    * Fully hash-green: Lloyd replays via [[kmeansReplayCtes]], the
    * within-cluster pairs and reachability replay in SQL. */
  /** SemDeDup survivors oracle (flat k = 4, 2 Lloyd rounds,
    * threshold 0.3): full k-means replay + within-cluster exact
    * cosine pairs + recursive-CTE components + keep-minimum — shared
    * by x65 (the flat operator) and x203 (the two-level machinery at
    * k₁ = 1, whose output the spec-pinned equivalence makes exactly
    * the flat k = 4 result). */
  private lazy val semdedupK4Oracle =
    s"""WITH RECURSIVE ${kmeansReplayCtes(4, 2)},
      p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bfin a JOIN bfin b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN nrm va ON va.vec_id = a.vec_id
        JOIN nrm vb ON vb.vec_id = b.vec_id
        WHERE round(
          list_sum(list_transform(range(1, len(va.vec) + 1),
            i -> va.vec[i] * vb.vec[i])) / (va.nv * vb.nv), 4) >= 0.3),
      e AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT src, src FROM e
        UNION
        SELECT e.src, rr.r FROM e JOIN reach rr ON rr.id = e.dst),
      cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT vec_id, label FROM embeddings em
      WHERE NOT EXISTS (SELECT 1 FROM cl c
        WHERE c.id != c.cluster_id AND c.id = em.vec_id)
      ORDER BY vec_id"""

  private val x65SemdedupClusters = GraftQuery(
    "x65_semdedup_clusters",
    (s, dir) => graft.ops.Dedup.semanticClusterDedup(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.3)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id")),
    Some(semdedupK4Oracle))

  /** Two-level SemDeDup driver-executed — the r15 "beyond MaxAutoK"
    * composition through the FULL two-level machinery (top Lloyd,
    * broadcast sub-centroid join, ordered-fold argmax, the shared
    * pair kernel, survivors) at k₁ = 1, where the spec-pinned
    * equivalence (same init rule, same round(9) argmax, same ≥ tie
    * direction, same centroid rounding) makes the output EXACTLY the
    * flat k = 4 path — so x65's full-kmeans-replay oracle checks the
    * two-level code hash-green. Genuine k₁ > 1 engagement (above the
    * MaxAutoK clamp) stays OpsSpec-pinned: the driver corpora resolve
    * FlatK, and an explicit k₁ > 1 would have no ANSI replay. */
  private val x203SemdedupTwoLevel = GraftQuery(
    "x203_semdedup_two_level",
    (s, dir) => graft.ops.Dedup.semanticClusterDedupTwoLevel(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      k1 = 1, k2 = 4, iters = 2, threshold = 0.3)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id")),
    Some(semdedupK4Oracle))

  /** Binned interval-overlap join ([[graft.ops.Intervals.overlapJoin]]):
    * click sessions within 15 minutes of a purchase session, across
    * all users — proximity expressed as overlap of end-padded
    * intervals, so the generic operator stays pure. The non-equi
    * predicate never reaches a BroadcastNestedLoop: candidates form
    * only inside shared 30-minute time bins and each pair is emitted
    * in exactly one bin (the bin of `max(start)`), no distinct.
    * Oracle: sessionization replay (x27's window chain, partitioned
    * by user AND type) + the plain non-equi join DuckDB runs as an
    * IEJoin. */
  private val x66IntervalJoin = GraftQuery(
    "x66_interval_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      def sess(t: String, u: String, st: String, en: String) =
        graft.ops.Sessionize.sessionIntervals(
          ev.filter(col("event_type") === t), "user_id", "ts")
          .select(col("user_id").as(u), col("session_start").as(st),
            col("session_end").as(en),
            (col("session_end") + expr("INTERVAL 15 MINUTES")).as(s"__p$en"))
      graft.ops.Intervals.overlapJoin(
        sess("click", "user_a", "start_a", "end_a"),
        sess("purchase", "user_b", "start_b", "end_b"),
        "start_a", "__pend_a", "start_b", "__pend_b", binSeconds = 1800)
        .select(col("user_a"), col("start_a"), col("end_a"),
          col("user_b"), col("start_b"), col("end_b"))
        .orderBy(col("user_a"), col("start_a"), col("user_b"), col("start_b"))
    },
    Some("""WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events
        WHERE event_type IN ('click', 'purchase')),
      marked AS (
        SELECT user_id, event_type, t,
          CASE WHEN lag(t) OVER w IS NULL
                 OR t - lag(t) OVER w > INTERVAL '30 minutes'
               THEN 1 ELSE 0 END AS new_s
        FROM ev WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t)),
      sess AS (
        SELECT user_id, event_type, t,
          sum(new_s) OVER (PARTITION BY user_id, event_type ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked),
      iv AS (
        SELECT user_id, event_type, min(t) AS s, max(t) AS e
        FROM sess GROUP BY user_id, event_type, sid)
      SELECT a.user_id AS user_a, a.s AS start_a, a.e AS end_a,
             b.user_id AS user_b, b.s AS start_b, b.e AS end_b
      FROM iv a JOIN iv b
        ON a.event_type = 'click' AND b.event_type = 'purchase'
       AND a.s <= b.e + INTERVAL '15 minutes'
       AND b.s <= a.e + INTERVAL '15 minutes'
      ORDER BY user_a, start_a, user_b, start_b"""))

  /** Perceptual image dedup ([[graft.ops.Multimodal.imageNearDuplicates]]):
    * REAL pixels → dHash → simhash-style banded bucket join → exact
    * Hamming verify, over a structured corpus with planted resized
    * re-encodes. No ANSI oracle (PNG decode isn't SQL); determinism +
    * planted-pair recall are OpsSpec-asserted. */
  private val x67ImageNearDup = GraftQuery(
    "x67_image_near_dup",
    (s, dir) => Multimodal.imageNearDuplicates(
      Multimodal.syntheticImageCorpus(s, 240), maxHamming = 4)
      .orderBy(col("id_a"), col("id_b")),
    None)

  /** Misra–Gries heavy hitters ([[graft.ops.TextAnalysis.heavyHitters]]):
    * fixed-memory mergeable summary, shuffle carries ≤capacity-entry
    * maps. Estimates are merge-order-dependent (bounds spec-asserted)
    * → rows-only; x25's exact vocabulary top-k is the hash-green
    * twin. */
  private val x68HeavyHitters = GraftQuery(
    "x68_heavy_hitters",
    (s, dir) => graft.ops.TextAnalysis.heavyHitters(
      Tables.documents(s, dir), "text", capacity = 64, topK = 15),
    None)

  /** ANSI replay of [[graft.ops.TextAnalysis.bpeTrain]]: word counts
    * once, then per round (pair-count + argmax) plus greedy merge
    * application as gaps-and-islands — candidate merge positions
    * grouped into consecutive runs, every even offset within a run
    * selected (≡ the engine's carry fold: a merged token never
    * re-merges in its round). Emits CTEs `m1..mN` (the per-round
    * winning merge) and `v0..vN` (the evolving vocabulary). */
  private def bpeReplayCtes(numMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """w AS (
        SELECT word, count(*) AS n FROM (
          SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
          FROM documents)
        WHERE word <> '' GROUP BY word),
      v0 AS MATERIALIZED (SELECT word, n, string_split(word, '') AS syms FROM w)"""
    for (r <- 1 to numMerges) {
      val p = r - 1
      sb ++= s""",
      p$r AS MATERIALIZED (
        SELECT syms[i] AS lhs, syms[i+1] AS rhs, CAST(sum(n) AS BIGINT) AS cnt
        FROM v$p, unnest(generate_series(1, len(syms) - 1)) AS t(i)
        WHERE len(syms) >= 2 GROUP BY 1, 2),
      m$r AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      s$r AS MATERIALIZED (
        SELECT word, n, i, syms[i] AS sym
        FROM v$p, unnest(generate_series(1, len(syms))) AS t(i)),
      mt$r AS (
        SELECT a.word AS word, a.i AS i
        FROM s$r a JOIN s$r b ON a.word = b.word AND b.i = a.i + 1, m$r
        WHERE a.sym = m$r.lhs AND b.sym = m$r.rhs),
      sel$r AS MATERIALIZED (
        SELECT word, i FROM (
          SELECT word, i, min(i) OVER (PARTITION BY word, isl) AS i0
          FROM (SELECT word, i,
              i - row_number() OVER (PARTITION BY word ORDER BY i) AS isl
            FROM mt$r))
        WHERE (i - i0) % 2 = 0),
      v$r AS MATERIALIZED (
        SELECT s.word AS word, any_value(s.n) AS n,
          list(CASE WHEN sa.i IS NOT NULL THEN (SELECT lhs || rhs FROM m$r)
               ELSE s.sym END ORDER BY s.i) AS syms
        FROM s$r s
        LEFT JOIN sel$r sa ON sa.word = s.word AND sa.i = s.i
        LEFT JOIN sel$r sb ON sb.word = s.word AND sb.i = s.i - 1
        WHERE sb.i IS NULL
        GROUP BY s.word)"""
    }
    sb.toString
  }

  /** Distributed BPE tokenizer training: the full greedy training
    * loop — corpus aggregated once, 8 merge rounds over the bounded
    * vocabulary — replayed merge-for-merge in SQL (hash-green). */
  private val x69BpeTrain = GraftQuery(
    "x69_bpe_train",
    (s, dir) => graft.ops.TextAnalysis.bpeTrain(
      Tables.documents(s, dir), "text", numMerges = 8),
    Some(s"""WITH ${bpeReplayCtes(8)}
      SELECT * FROM (
        ${(1 to 8).map(r =>
          s"SELECT $r AS merge_rank, lhs, rhs, cnt FROM m$r")
          .mkString("\n        UNION ALL ")})
      ORDER BY merge_rank"""))

  /** BPE corpus encoding under the x69-trained rules
    * ([[graft.ops.TextAnalysis.bpeSegment]]): subword frequency top-20.
    * Merges are a function of the word alone, so the oracle reads each
    * word's final segmentation straight from the replay's last
    * vocabulary state (`v8`) — hash-green, training shared with x69
    * via the rules memo. */
  private val x70BpeEncode = GraftQuery(
    "x70_bpe_encode",
    (s, dir) => graft.ops.TextAnalysis.bpeSegment(
      Tables.documents(s, dir), "text", numMerges = 8, topK = 20),
    Some(s"""WITH ${bpeReplayCtes(8)}
      SELECT subword, CAST(sum(n) AS BIGINT) AS n FROM (
        SELECT unnest(syms) AS subword, n FROM v8)
      GROUP BY subword
      ORDER BY n DESC, subword
      LIMIT 20"""))

  private val x72Results = streamMemo("x72-stream")

  /** STREAMING sessionization ([[graft.streaming.EventStreams.sessionizedStats]]):
    * watermarked `session_window` run to completion over the staged
    * events file. HASH-GREEN against the batch replay — the emitted
    * table is exactly the x27 sessionization restricted to sessions
    * closed by the final watermark (end + gap ≤ max ts − 30 min),
    * which pins the append-mode emission semantics, not just row
    * counts. */
  private val x72StreamingSessions = GraftQuery(
    "x72_streaming_sessions",
    (s, dir) => {
      settledStream(x72Results, s, dir, "x72_sessions") {
        graft.streaming.EventStreams.sessionizedStats(
          graft.streaming.EventStreams.fromParquetDir(s, streamSrcDir(dir)))
      }.orderBy(col("user_id"), col("session_start"))
    },
    Some(s"""WITH wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes' AS w
                        FROM events),
      ${sessionsSql("win")}
      HAVING max(t) + INTERVAL '30 minutes' <= (SELECT w FROM wm)
      ORDER BY user_id, session_start"""))

  /** Perceptual audio dedup ([[graft.ops.Multimodal.audioNearDuplicates]]):
    * real WAV decode → energy-delta fingerprint → the same banded
    * Hamming join as x67, over a corpus with planted gain-scaled
    * re-encodes. rows-only (WAV decode isn't SQL); OpsSpec asserts
    * recall, gain invariance and corrupt-drop. */
  private val x71AudioNearDup = GraftQuery(
    "x71_audio_near_dup",
    (s, dir) => Multimodal.audioNearDuplicates(
      Multimodal.syntheticAudioCorpus(s, 240), maxHamming = 4)
      .orderBy(col("id_a"), col("id_b")),
    None)

  /** Corpus snapshot diff ([[graft.ops.Diff.corpusDiff]]): v2 derived
    * deterministically from the documents table (drop %17, revise
    * %13, add %29 under shifted ids), classified by content digest
    * through one full-outer join. Emits the non-unchanged rows —
    * hash-green. */
  private val x73CorpusDiff = GraftQuery(
    "x73_corpus_diff",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val v2 = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 29 === 0)
          // added ids live on the negative axis: disjoint from real
          // non-negative doc_ids at ANY scale factor (an offset like
          // +100000 collides once the corpus outgrows it)
          .select((-col("doc_id") - 1).as("doc_id"),
            concat(lit("fresh "), col("text")).as("text")))
      graft.ops.Diff.corpusDiff(docs, v2, "doc_id", "text")
        .filter(col("status") =!= "unchanged")
        .orderBy(col("doc_id"))
    },
    Some("""WITH v2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text
        FROM documents WHERE doc_id % 17 != 0
        UNION ALL
        SELECT -doc_id - 1, 'fresh ' || text
        FROM documents WHERE doc_id % 29 = 0)
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.text != n.text THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM documents o FULL JOIN v2 n ON o.doc_id = n.doc_id
      WHERE CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.text != n.text THEN 'changed'
             ELSE 'unchanged' END != 'unchanged'
      ORDER BY doc_id"""))

  /** Weighted without-replacement sample ([[graft.ops.Sampling
    * .weightedSample]], A-ES): 60 documents drawn ∝ n_chars. The
    * selection replays exactly in SQL (shared id-hash uniform +
    * ln(u)/w ranking); output carries ids only, so near-ulp priority
    * noise can't reach the hash compare. */
  private val x74WeightedSample = GraftQuery(
    "x74_weighted_sample",
    (s, dir) => graft.ops.Sampling.weightedSample(
      Tables.documents(s, dir), "doc_id", "n_chars", k = 60)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
          ln((((doc_id % 2147483648) * 2654435761) % 4294967296 + 0.5)
             / 4294967296.0) / CAST(n_chars AS DOUBLE) AS pr
        FROM documents)
      QUALIFY row_number() OVER (ORDER BY pr DESC, doc_id) <= 60
      ORDER BY doc_id"""))

  /** Mixture schedule ([[graft.ops.Sampling.mixtureSchedule]]): the
    * deterministic α=1/2 interleave order a loader consumes. Ordered
    * by (schedule_key, source, doc_id) — the full total order a
    * range-partitioned write would lay down. Hash-green (rank + sqrt
    * replay; key rounded to 9 on both sides). */
  private val x75MixtureSchedule = GraftQuery(
    "x75_mixture_schedule",
    (s, dir) => graft.ops.Sampling.mixtureSchedule(
      Tables.documents(s, dir), "source", "doc_id")
      .orderBy(col("schedule_key"), col("source"), col("doc_id")),
    Some("""WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_source
        FROM documents WHERE source IS NOT NULL GROUP BY source),
      r AS (
        SELECT doc_id, source,
          CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
            AS INT) AS rank_in_source
        FROM documents)
      SELECT doc_id, source, rank_in_source,
        round(CAST(rank_in_source AS DOUBLE) / sqrt(CAST(n_source AS DOUBLE)), 9)
          AS schedule_key
      FROM r JOIN c USING (source)
      ORDER BY schedule_key, source, doc_id"""))

  /** DuckDB replay of [[TextAnalysis.bm25TopK]]'s per-term BM25
    * contributions `scored(doc_id, ts)` for the query terms
    * (vector, stream, query), k1 = 1.2, b = 0.75 (x76, x133). */
  private val bm25ScoredSql =
    """toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        FROM documents),
      tok2 AS (SELECT * FROM toks WHERE length(term) > 0),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             FROM tok2 GROUP BY 1),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS tot FROM dl),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM tok2 WHERE term IN ('vector', 'stream', 'query')
             GROUP BY 1, 2),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfr
                FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id,
          ln((CAST(n_docs AS DOUBLE) - dfr + 0.5) / (dfr + 0.5) + 1.0)
            * (tf * (1.2 + 1.0))
            / (tf + 1.2 * ((1.0 - 0.75)
                + 0.75 * (dl / (CAST(tot AS DOUBLE) / n_docs)))) AS ts
        FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats)"""

  /** BM25 top-k ([[graft.ops.TextAnalysis.bm25TopK]]): lexical
    * retrieval over the corpus for a fixed bag-of-terms query — the
    * sparse twin of the dense ANN family. Hash-green: the full
    * scoring pipeline (exact avgdl quotient, Lucene +1 idf, sorted
    * per-doc fold) is replayed in SQL with the identical IEEE
    * expression tree; rank on the unrounded score, round only the
    * output. */
  private val x76Bm25TopK = GraftQuery(
    "x76_bm25_topk",
    (s, dir) => TextAnalysis.bm25TopK(Tables.documents(s, dir),
      "doc_id", "text", Seq("vector", "stream", "query"), k = 10)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some(s"""WITH $bm25ScoredSql,
      agg AS (
        SELECT doc_id, list_sum(list_sort(list(ts))) AS score,
               CAST(count(*) AS BIGINT) AS terms_matched
        FROM scored GROUP BY 1)
      SELECT doc_id, terms_matched, round(score, 4) AS bm25
      FROM agg
      QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 10
      ORDER BY doc_id"""))

  /** Per-source token-budget curation
    * ([[graft.ops.Sampling.tokenBudget]]): each source spends a fixed
    * token allowance on its highest-priority documents (n_chars as
    * the priority stand-in). Hash-green — integer window arithmetic
    * over a total order. */
  private val x77TokenBudget = GraftQuery(
    "x77_token_budget",
    (s, dir) => {
      // text guard: a NULL text would hit tokenBudget's loud
      // raise_error while the oracle silently excluded the row
      val docs = Tables.documents(s, dir)
        .filter(col("source").isNotNull && col("n_chars").isNotNull
          && col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("toks"))
      graft.ops.Sampling.tokenBudget(docs, "source", "doc_id",
        "toks", "n_chars", budget = 600L)
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""SELECT doc_id, source, n_chars, toks,
        CAST(sum(toks) OVER (PARTITION BY source
          ORDER BY n_chars DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum_tokens
      FROM (
        SELECT doc_id, source, n_chars,
          CAST(len(string_split_regex(lower(text), '\s+')) AS INT) AS toks
        FROM documents
        WHERE source IS NOT NULL AND n_chars IS NOT NULL
          AND text IS NOT NULL)
      QUALIFY cum_tokens <= 600
      ORDER BY source, doc_id"""))

  /** PageRank ([[graft.ops.Graph.pageRank]]) over a deterministic
    * synthetic citation graph (3 out-links per doc via modular
    * arithmetic — no dangling nodes, so mass is conserved). Oracle:
    * all 5 synchronous rounds unrolled as MATERIALIZED CTEs (the x69
    * discipline), same sorted inbound-mass fold per node. */
  private val x78PageRank = GraftQuery(
    "x78_pagerank",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val cnt = broadcast(docs.agg(count(lit(1)).as("n")))
      val edges = docs.crossJoin(cnt)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(1), lit(3))).as("k"), col("n"))
        .select(col("src"),
          pmod(col("src") * 31 + col("k"), col("n")).as("dst"))
      graft.ops.Graph.pageRank(edges,
          nodes = Some(docs.select(col("doc_id").as("id"))))
        .select(col("id").as("doc_id"), round(col("rank"), 9).as("rank"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH cnt AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
      edges AS MATERIALIZED (
        SELECT doc_id AS src, (doc_id * 31 + k) % n AS dst
        FROM documents CROSS JOIN cnt
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
      deg AS MATERIALIZED (
        SELECT src, CAST(count(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY 1),
      e AS MATERIALIZED (
        SELECT src, dst, outdeg FROM edges JOIN deg USING (src)),
      r0 AS MATERIALIZED (
        SELECT id, 1.0 / n AS rank FROM nodes CROSS JOIN cnt),
      r1 AS MATERIALIZED (
        SELECT nodes.id,
          (1.0 - 0.85) / n + 0.85 * COALESCE(m.mass, 0.0) AS rank
        FROM nodes CROSS JOIN cnt LEFT JOIN (
          SELECT e.dst AS id, list_sum(list_sort(list(r.rank / e.outdeg))) AS mass
          FROM e JOIN r0 r ON e.src = r.id GROUP BY 1) m USING (id)),
      r2 AS MATERIALIZED (
        SELECT nodes.id,
          (1.0 - 0.85) / n + 0.85 * COALESCE(m.mass, 0.0) AS rank
        FROM nodes CROSS JOIN cnt LEFT JOIN (
          SELECT e.dst AS id, list_sum(list_sort(list(r.rank / e.outdeg))) AS mass
          FROM e JOIN r1 r ON e.src = r.id GROUP BY 1) m USING (id)),
      r3 AS MATERIALIZED (
        SELECT nodes.id,
          (1.0 - 0.85) / n + 0.85 * COALESCE(m.mass, 0.0) AS rank
        FROM nodes CROSS JOIN cnt LEFT JOIN (
          SELECT e.dst AS id, list_sum(list_sort(list(r.rank / e.outdeg))) AS mass
          FROM e JOIN r2 r ON e.src = r.id GROUP BY 1) m USING (id)),
      r4 AS MATERIALIZED (
        SELECT nodes.id,
          (1.0 - 0.85) / n + 0.85 * COALESCE(m.mass, 0.0) AS rank
        FROM nodes CROSS JOIN cnt LEFT JOIN (
          SELECT e.dst AS id, list_sum(list_sort(list(r.rank / e.outdeg))) AS mass
          FROM e JOIN r3 r ON e.src = r.id GROUP BY 1) m USING (id)),
      r5 AS MATERIALIZED (
        SELECT nodes.id,
          (1.0 - 0.85) / n + 0.85 * COALESCE(m.mass, 0.0) AS rank
        FROM nodes CROSS JOIN cnt LEFT JOIN (
          SELECT e.dst AS id, list_sum(list_sort(list(r.rank / e.outdeg))) AS mass
          FROM e JOIN r4 r ON e.src = r.id GROUP BY 1) m USING (id))
      SELECT id AS doc_id, round(rank, 9) AS rank
      FROM r5 ORDER BY doc_id"""))

  private val x79Results = streamMemo("x79-stream")

  /** Streaming exact dedup
    * ([[graft.streaming.EventStreams.dedupWithinWatermark]]): the
    * input directory carries a full replay of the events file, and
    * the deduped stream must emit each event exactly ONCE — the
    * exactly-once replay-protection contract of a continuously-
    * ingesting corpus loader, driver-checked hash-green: the oracle
    * is simply the distinct event set. State is keyed by event_id
    * and bounded by the 30-minute watermark horizon. */
  private val x79StreamingDedup = GraftQuery(
    "x79_streaming_dedup",
    (s, dir) => {
      settledStream(x79Results, s, dir, "x79_dedup") {
        graft.streaming.EventStreams.dedupWithinWatermark(
          // the SAME events file staged twice — the crashed-and-rerun
          // loader / re-crawled shard shape; its own dir so x16/x72
          // keep their single-copy semantics
          graft.streaming.EventStreams.fromParquetDir(s,
            stagedStreamDir("graft_stream_replay", dir,
              "events.parquet" -> "events.parquet",
              "events.parquet" -> "events_replay.parquet")),
          Seq("event_id"))
      }.select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        event_type, value, props
      FROM events ORDER BY event_id"""))

  /** Character-entropy quality signal
    * ([[graft.ops.TextAnalysis.charEntropy]]): per-doc Shannon
    * entropy computed entirely inside the row (no explode, no
    * shuffle) by the native [[graft.functions.CharEntropy]]
    * expression — one O(chars) pass per doc since r20-opt (the HOF
    * fold it replaced ran an interpreted filter per DISTINCT char;
    * CharEntropySpec pins native == fold, outputs bit-identical,
    * oracle unchanged). Hash-green: integer-count ratios + sorted
    * fold, replayed with DuckDB's list lambdas. */
  private val x80CharEntropy = GraftQuery(
    "x80_char_entropy",
    // the entropy pass is the whole cost and the plan is otherwise
    // exchange-free, so a 1-file scan would run it on ONE task —
    // re-spread first (measured 7.2 s -> sub-second at sf0.1)
    (s, dir) => graft.ops.Parallelism.ensure(Tables.documents(s, dir))
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("n_chars"),
        round(TextAnalysis.charEntropy(col("text")), 6).as("entropy"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_chars,
        round(-(list_sum(list_sort(list_transform(list_distinct(cs),
          c -> (len(list_filter(cs, x -> x = c)) / len(cs))
               * ln(len(list_filter(cs, x -> x = c)) / len(cs)))))), 6)
          AS entropy
      FROM (SELECT doc_id, n_chars, string_split(text, '') AS cs
            FROM documents
            WHERE text IS NOT NULL AND length(text) > 0)
      ORDER BY doc_id"""))

  /** Stratified A-ES ([[graft.ops.Sampling.weightedSamplePerGroup]]):
    * 8 weight-biased docs from every source in one pass. Hash-green:
    * the identical ln(u)/w priority replay, ranked per source. */
  private val x81WeightedSamplePerGroup = GraftQuery(
    "x81_weighted_sample_per_group",
    (s, dir) => graft.ops.Sampling.weightedSamplePerGroup(
      Tables.documents(s, dir), "source", "doc_id", "n_chars", kPerGroup = 8)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("source"), col("doc_id")),
    Some("""SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
          ln((((doc_id % 2147483648) * 2654435761) % 4294967296 + 0.5)
             / 4294967296.0) / CAST(n_chars AS DOUBLE) AS pr
        FROM documents)
      QUALIFY row_number() OVER (PARTITION BY source
        ORDER BY pr DESC, doc_id) <= 8
      ORDER BY source, doc_id"""))

  /** Collocation PMI ([[graft.ops.TextAnalysis.collocations]]): top
    * adjacent word pairs by pointwise mutual information. Hash-green:
    * the log-decomposed score is a fixed chain of ln over integer
    * counts — replayed term-for-term in SQL. */
  private val x82Collocations = GraftQuery(
    "x82_collocations",
    (s, dir) => TextAnalysis.collocations(
      Tables.documents(s, dir), "text", minCount = 5, k = 20)
      .orderBy(col("w1"), col("w2")),
    Some("""WITH t AS (
        SELECT string_split_regex(lower(text), '\s+') AS ts FROM documents),
      uni AS (
        SELECT w FROM (SELECT unnest(ts) AS w FROM t) WHERE length(w) > 0),
      cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
      nu AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM uni),
      bi AS (
        SELECT w1, w2 FROM (
          SELECT ts[i + 1] AS w1, ts[i + 2] AS w2 FROM (
            SELECT ts, unnest(range(len(ts) - 1)) AS i
            FROM t WHERE len(ts) >= 2))
        WHERE length(w1) > 0 AND length(w2) > 0),
      cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
             FROM bi GROUP BY 1, 2),
      nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bi),
      scored AS (
        SELECT w1, w2, cb,
          ln(cb) + ln(nu) + ln(nu) - ln(nb) - ln(cu1.cu) - ln(cu2.cu) AS pmi
        FROM cb
        JOIN cu cu1 ON cb.w1 = cu1.w
        JOIN cu cu2 ON cb.w2 = cu2.w
        CROSS JOIN nb CROSS JOIN nu
        WHERE cb >= 5)
      SELECT w1, w2, cb, round(pmi, 6) AS pmi FROM scored
      QUALIFY row_number() OVER (ORDER BY pmi DESC, w1, w2) <= 20
      ORDER BY w1, w2"""))

  /** DuckDB replay of [[graft.ops.Funnel.funnel]] over the steps
    * view → click → purchase, each step within `within` of the
    * previous when given (x83, x86). */
  private def funnelSql(within: Option[String]): String = {
    def bound(t: String) =
      within.fold("")(w => s"\n               AND t <= $t + INTERVAL '$w'")
    s"""WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
      s1 AS (SELECT user_id, min(t) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT ev.user_id, min(t) AS t2 FROM ev JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND t > t1${bound("t1")} GROUP BY 1),
      s3 AS (SELECT ev.user_id, min(t) AS t3 FROM ev JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND t > t2${bound("t2")} GROUP BY 1),
      n AS (
        SELECT 1 AS step, 'view' AS step_name,
               CAST(count(*) AS BIGINT) AS n_users FROM s1
        UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
        UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
      SELECT step, step_name, n_users,
        round(n_users / first_value(n_users) OVER (ORDER BY step), 6)
          AS conv_from_first,
        round(n_users / COALESCE(lag(n_users) OVER (ORDER BY step), n_users), 6)
          AS conv_from_prev
      FROM n ORDER BY step"""
  }

  /** Funnel analysis ([[graft.ops.Funnel.funnel]]): first-occurrence
    * view → click → purchase reach per user, with step conversions.
    * Hash-green: timestamps and integer-ratio divisions only. */
  private val x83Funnel = GraftQuery(
    "x83_funnel",
    (s, dir) => graft.ops.Funnel.funnel(Tables.events(s, dir),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
    Some(funnelSql(None)))

  /** Distinctive terms per source
    * ([[graft.ops.TextAnalysis.distinctiveTerms]]): Dirichlet
    * log-odds z-scores, top-5 per source. Hash-green: fixed IEEE
    * tree over integer counts, mirrored term-for-term. */
  private val x84DistinctiveTerms = GraftQuery(
    "x84_distinctive_terms",
    (s, dir) => TextAnalysis.distinctiveTerms(
      Tables.documents(s, dir), "source", "text", prior = 0.5, k = 5)
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"), col("term")),
    Some("""WITH toks AS (
        SELECT source AS grp,
               unnest(string_split_regex(lower(text), '\s+')) AS term
        FROM documents WHERE source IS NOT NULL),
      tok2 AS (SELECT grp, term FROM toks WHERE length(term) > 0),
      csw AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS c_sw
              FROM tok2 GROUP BY 1, 2),
      cw AS (SELECT term, CAST(sum(c_sw) AS BIGINT) AS c_w
             FROM csw GROUP BY 1),
      ns AS (SELECT grp, CAST(sum(c_sw) AS BIGINT) AS n_s
             FROM csw GROUP BY 1),
      tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tot,
                     CAST(count(*) AS DOUBLE) * 0.5 AS a_tot FROM cw),
      scored AS (
        SELECT grp, term, c_sw,
          (ln((c_sw + 0.5) / (n_s + a_tot - c_sw - 0.5))
           - ln(((c_w - c_sw) + 0.5)
                / ((n_tot - n_s) + a_tot - (c_w - c_sw) - 0.5)))
          / sqrt(1.0 / (c_sw + 0.5) + 1.0 / ((c_w - c_sw) + 0.5)) AS z
        FROM csw JOIN cw USING (term) JOIN ns USING (grp) CROSS JOIN tot)
      SELECT grp AS source, term, c_sw, round(z, 6) AS z_score FROM scored
      QUALIFY row_number() OVER (PARTITION BY grp ORDER BY z DESC, term) <= 5
      ORDER BY source, term"""))

  /** Weekly cohort retention ([[graft.ops.Funnel.cohortRetention]]):
    * first-activity-week cohorts × weeks-since. Hash-green: dates
    * and integer-count ratios only. */
  private val x85CohortRetention = GraftQuery(
    "x85_cohort_retention",
    (s, dir) => graft.ops.Funnel.cohortRetention(
      Tables.events(s, dir), "user_id", "ts")
      .orderBy(col("cohort_week"), col("week_k")),
    Some("""WITH ev AS (
        SELECT DISTINCT user_id AS u,
          CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
        FROM events),
      cohort AS (SELECT u, min(week) AS cohort_week FROM ev GROUP BY 1),
      sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
                FROM cohort GROUP BY 1),
      cells AS (
        SELECT cohort_week,
          CAST(floor(date_diff('day', cohort_week, week) / 7) AS INT) AS week_k,
          CAST(count(*) AS BIGINT) AS n_active
        FROM ev JOIN cohort USING (u) GROUP BY 1, 2)
      SELECT cohort_week, week_k, n_active,
        round(n_active / cohort_size, 6) AS retention
      FROM cells JOIN sizes USING (cohort_week)
      ORDER BY cohort_week, week_k"""))

  /** Time-bounded funnel ([[graft.ops.Funnel.funnel]] with `within`):
    * each step must land within 12 hours of the previous one — the
    * "converted within the window" form. Hash-green. */
  private val x86FunnelWithin = GraftQuery(
    "x86_funnel_within",
    (s, dir) => graft.ops.Funnel.funnel(Tables.events(s, dir),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
      within = Some("12 hours")),
    Some(funnelSql(Some("12 hours"))))

  /** Weekly churn ([[graft.ops.Funnel.weeklyChurn]]): share of each
    * week's active users absent the following week. Hash-green. */
  private val x87WeeklyChurn = GraftQuery(
    "x87_weekly_churn",
    (s, dir) => graft.ops.Funnel.weeklyChurn(
      Tables.events(s, dir), "user_id", "ts")
      .orderBy(col("week")),
    Some("""WITH active AS (
        SELECT DISTINCT user_id AS u,
          CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
        FROM events),
      marked AS (
        SELECT week,
          CASE WHEN lead(week) OVER (PARTITION BY u ORDER BY week) IS NULL
                 OR date_diff('day', week,
                      lead(week) OVER (PARTITION BY u ORDER BY week)) > 7
               THEN 1 ELSE 0 END AS churned
        FROM active)
      SELECT week, CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(churned) AS BIGINT) AS n_churned,
             round(sum(churned) / count(*), 6) AS churn_rate
      FROM marked GROUP BY week ORDER BY week"""))

  /** Robust outlier scores
    * ([[graft.quality.CorpusQuality.robustOutliers]]): per-source
    * median/MAD z over n_chars. Hash-green: order statistics + a
    * fixed IEEE tree (quantile_cont ↔ percentile, the x26 pairing). */
  private val x88RobustOutliers = GraftQuery(
    "x88_robust_outliers",
    (s, dir) => graft.quality.CorpusQuality.robustOutliers(
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", cutoff = 3.5)
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(col("robust_z"), 6).as("robust_z"), col("is_outlier"))
      .orderBy(col("doc_id")),
    Some("""WITH med AS (
        SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
        FROM documents WHERE source IS NOT NULL GROUP BY 1),
      stats AS (
        SELECT source, min(med) AS med,
          quantile_cont(abs(CAST(n_chars AS DOUBLE) - med), 0.5) AS mad
        FROM documents JOIN med USING (source) GROUP BY 1)
      SELECT doc_id, source, n_chars,
        round(CASE WHEN mad > 0
          THEN (CAST(n_chars AS DOUBLE) - med) / (1.4826 * mad) END, 6)
          AS robust_z,
        CASE WHEN mad > 0
          THEN abs((CAST(n_chars AS DOUBLE) - med) / (1.4826 * mad)) > 3.5
          WHEN mad = 0 THEN CAST(n_chars AS DOUBLE) != med
          END AS is_outlier
      FROM documents LEFT JOIN stats USING (source)
      ORDER BY doc_id"""))

  /** Rolling 7-day uniques, HLL-merged
    * ([[graft.ops.Funnel.rollingUniqueUsers]]). Sketch estimates
    * aren't ANSI-replayable → rows-only; x90 is the exact hash-green
    * twin, and the spec pins the estimate against it. */
  private val x89RollingUniquesHll = GraftQuery(
    "x89_rolling_uniques_hll",
    (s, dir) => graft.ops.Funnel.rollingUniqueUsers(
      Tables.events(s, dir), "user_id", "ts")
      .orderBy(col("day")),
    None)

  /** Exact rolling 7-day uniques
    * ([[graft.ops.Funnel.rollingUniqueUsersExact]]) — x89's
    * hash-green twin. */
  private val x90RollingUniquesExact = GraftQuery(
    "x90_rolling_uniques_exact",
    (s, dir) => graft.ops.Funnel.rollingUniqueUsersExact(
      Tables.events(s, dir), "user_id", "ts")
      .orderBy(col("day")),
    Some("""WITH du AS (
        SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        FROM events),
      days AS (SELECT DISTINCT day FROM du)
      SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_uniques
      FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY 1 ORDER BY 1"""))

  /** Event-transition matrix ([[graft.ops.Funnel.eventTransitions]]):
    * P(next | current) over per-user time-ordered streams, event_id
    * breaking timestamp ties. Hash-green: integer pair counts + one
    * ratio. */
  private val x91EventTransitions = GraftQuery(
    "x91_event_transitions",
    (s, dir) => graft.ops.Funnel.eventTransitions(
      Tables.events(s, dir), "user_id", "ts", "event_id", "event_type")
      .orderBy(col("prev_type"), col("next_type")),
    Some("""WITH ev AS (
        SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t,
               event_id AS eid, event_type AS et
        FROM events),
      seq AS (
        SELECT et, lag(et) OVER (PARTITION BY u ORDER BY t, eid) AS prev_type
        FROM ev),
      pairs AS (
        SELECT prev_type, et AS next_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      tot AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_prev
        FROM pairs GROUP BY 1)
      SELECT prev_type, next_type, n, round(n / n_prev, 6) AS p
      FROM pairs JOIN tot USING (prev_type)
      ORDER BY prev_type, next_type"""))

  /** Percentile-rank normalization
    * ([[graft.quality.CorpusQuality.percentileNormalize]]): n_chars
    * calibrated to its within-source rank position. Hash-green:
    * rank arithmetic over the value multiset. */
  private val x92PercentileNormalize = GraftQuery(
    "x92_percentile_normalize",
    (s, dir) => graft.quality.CorpusQuality.percentileNormalize(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars")
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source, n_chars,
        CASE WHEN n_chars IS NULL THEN NULL ELSE
          round(percent_rank() OVER (
            PARTITION BY source, (n_chars IS NULL) ORDER BY n_chars), 9)
        END AS pct_rank
      FROM documents ORDER BY doc_id"""))

  /** C4-style per-source cap ([[graft.ops.Sampling.capPerGroup]]):
    * at most 25 documents per source, chosen by the shared
    * arithmetic id-hash priority — an unbiased per-source sample,
    * not "oldest 25". Hash-green: the Knuth hash and the rank both
    * replay exactly in SQL. */
  private val x93SourceCap = GraftQuery(
    "x93_source_cap",
    (s, dir) => graft.ops.Sampling.capPerGroup(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "source", "doc_id", k = 25)
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source FROM (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY source
            ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
                     doc_id) AS rk
        FROM documents)
      WHERE rk <= 25 ORDER BY doc_id"""))

  /** DSIR importance weights ([[graft.ops.TextAnalysis
    * .importanceWeights]]): every document scored by how src0-like
    * its hashed char-bigram distribution is — the selection signal
    * importance resampling feeds to [[graft.ops.Sampling
    * .weightedSample]]. Hash-green: arithmetic bucket hash, both
    * smoothed models, and the SORTED per-doc fold all replay in SQL
    * (ln = DuckDB ln; fold order pinned by list_sort — the x45
    * float-order rule). */
  private val x94DsirWeights = GraftQuery(
    "x94_dsir_weights",
    (s, dir) => graft.ops.TextAnalysis.importanceWeights(
      Tables.documents(s, dir)
        .withColumn("is_target", col("source") === "src0"),
      "doc_id", "text", "is_target", numBuckets = 512, alpha = 0.5)
      .orderBy(col("doc_id")),
    Some("""WITH norm AS (
        SELECT doc_id, (source = 'src0') AS tgt,
          regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        FROM documents WHERE text IS NOT NULL),
      grams AS (
        SELECT doc_id, tgt,
          unnest(list_transform(range(1, length(s)),
            i -> (ascii(substr(s, CAST(i AS INT), 1)) * 31
                  + ascii(substr(s, CAST(i AS INT) + 1, 1))) % 512)) AS b
        FROM norm WHERE length(s) >= 2),
      db AS (
        SELECT doc_id, tgt, b, CAST(count(*) AS BIGINT) AS cnt
        FROM grams GROUP BY doc_id, tgt, b),
      counts AS (
        SELECT b,
          CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS c_t,
          CAST(sum(CASE WHEN tgt THEN 0 ELSE cnt END) AS BIGINT) AS c_r
        FROM db GROUP BY b),
      tot AS (
        SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
               CAST(sum(c_r) AS BIGINT) AS n_r
        FROM counts),
      lr AS (
        SELECT doc_id, b, cnt,
          cnt * ln(((c_t + 0.5) / (n_t + 256.0))
                   / ((c_r + 0.5) / (n_r + 256.0))) AS v
        FROM db JOIN counts USING (b), tot)
      SELECT doc_id,
        round(list_sum(list_transform(
            list_sort(list(struct_pack(k := b, v := v))),
            s -> struct_extract(s, 'v')))
          / CAST(sum(cnt) AS DOUBLE), 6) AS dsir_logweight
      FROM lr GROUP BY doc_id ORDER BY doc_id"""))

  /** Edit-distance contamination verify ([[graft.ops.Dedup
    * .editDistanceContamination]]): the exact stage after the x36
    * sketch sweep — shared-trigram candidates between the bounded
    * train slice and the eval split, each confirmed or cleared by
    * normalized Levenshtein similarity. Hash-green: candidates AND
    * the similarity replay in SQL (DuckDB levenshtein = the same
    * unit-cost edit distance); the flag compares the rounded value
    * on both sides. */
  private val x95ContaminationVerify = GraftQuery(
    "x95_contamination_verify",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Dedup.editDistanceContamination(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200),
        docs.filter(col("doc_id") < 50),
        "doc_id", "text", minShared = 2, simThreshold = 0.5)
        .orderBy(col("train_id"), col("eval_id"))
    },
    Some("""WITH d AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id < 50 OR (doc_id >= 100 AND doc_id < 200)),
      g AS (
        SELECT doc_id, text,
          list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            ELSE list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        FROM (SELECT doc_id, text,
                string_split_regex(lower(text), '\s+') AS t FROM d)),
      cand AS (
        SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
          CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS shared_ngrams,
          round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
            / greatest(length(a.text), length(b.text)), 4) AS edit_sim
        FROM g a JOIN g b ON b.doc_id < 50
        WHERE a.doc_id >= 100 AND a.doc_id < 200
          AND len(list_intersect(a.grams, b.grams)) >= 2)
      SELECT train_id, eval_id, shared_ngrams, edit_sim,
        (edit_sim >= 0.5) AS contaminated
      FROM cand ORDER BY train_id, eval_id"""))

  /** Segment-level exact dedup with reconstruction
    * ([[graft.ops.Dedup.segmentDedup]], the distributable form of
    * Lee et al. 2021 exact-substring dedup): 8-token windows,
    * corpus-wide first occurrence wins, documents rebuilt from
    * surviving segments. Hash-green: the winner rule is a total
    * order and the rebuild pins position order on both sides. */
  private val x96SegmentDedup = GraftQuery(
    "x96_segment_dedup",
    (s, dir) => graft.ops.Dedup.segmentDedup(
      Tables.documents(s, dir), "doc_id", "text", n = 8)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t
        FROM documents),
      segs AS (
        SELECT doc_id,
          unnest(range(0, greatest(CAST(ceil(len(t) / 8.0) AS BIGINT), 1)))
            AS seg_idx,
          unnest(list_transform(
            range(0, greatest(CAST(ceil(len(t) / 8.0) AS BIGINT), 1)),
            i -> array_to_string(t[CAST(i * 8 + 1 AS INT):CAST(i * 8 + 8 AS INT)], ' ')))
            AS seg
        FROM toks WHERE len(t) > 0),
      ranked AS (
        SELECT doc_id, seg_idx, seg,
          row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        FROM segs)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments_kept,
        string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
      FROM ranked WHERE rn = 1
      GROUP BY doc_id ORDER BY doc_id"""))

  /** In-engine quality-classifier training ([[graft.ops.Classifier
    * .logRegScores]]): two batch-gradient rounds of logistic
    * regression on hashed bigram frequencies, label = src0, then
    * score the corpus. Hash-green — the ENTIRE training loop replays
    * in SQL: sorted folds for every cross-row float sum, model
    * pinned to 9 decimals at each round boundary, unrolled CTEs
    * MATERIALIZED (the x69 exponential-inline rule). */
  private val x97QualityClassifier = GraftQuery(
    "x97_quality_classifier",
    (s, dir) => graft.ops.Classifier.logRegScores(
      Tables.documents(s, dir)
        .withColumn("is_target", col("source") === "src0"),
      "doc_id", "text", "is_target", numBuckets = 64, eta = 0.5,
      iters = 2)
      .orderBy(col("doc_id")),
    Some("""WITH norm AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
          regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        FROM documents WHERE text IS NOT NULL),
      grams AS MATERIALIZED (
        SELECT doc_id, y,
          unnest(list_transform(range(1, length(s)),
            i -> (ascii(substr(s, CAST(i AS INT), 1)) * 31
                  + ascii(substr(s, CAST(i AS INT) + 1, 1))) % 64)) AS b
        FROM norm WHERE length(s) >= 2),
      feats AS MATERIALIZED (
        SELECT doc_id, y, b,
          CAST(count(*) AS DOUBLE)
            / CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS DOUBLE) AS x
        FROM grams GROUP BY doc_id, y, b),
      w1 AS MATERIALIZED (
        SELECT b, round(0.5 * list_sum(list_transform(
            list_sort(list(struct_pack(k := doc_id, v := x * (y - 0.5)))),
            s -> struct_extract(s, 'v'))), 9) AS w
        FROM feats GROUP BY b),
      p1 AS MATERIALIZED (
        SELECT f.doc_id,
          round(1.0 / (1.0 + exp(-(round(list_sum(list_transform(
            list_sort(list(struct_pack(k := f.b, v := w1.w * f.x))),
            s -> struct_extract(s, 'v'))), 9)))), 9) AS p
        FROM feats f JOIN w1 ON f.b = w1.b GROUP BY f.doc_id),
      w2 AS MATERIALIZED (
        SELECT f.b, round(min(w1.w) + 0.5 * list_sum(list_transform(
            list_sort(list(struct_pack(k := f.doc_id,
                                       v := f.x * (f.y - p1.p)))),
            s -> struct_extract(s, 'v'))), 9) AS w
        FROM feats f JOIN p1 ON f.doc_id = p1.doc_id
                    JOIN w1 ON f.b = w1.b
        GROUP BY f.b)
      SELECT f.doc_id, CAST(f.y AS INT) AS label,
        round(1.0 / (1.0 + exp(-(round(list_sum(list_transform(
          list_sort(list(struct_pack(k := f.b, v := w2.w * f.x))),
          s -> struct_extract(s, 'v'))), 9)))), 6) AS score
      FROM feats f JOIN w2 ON f.b = w2.b
      GROUP BY f.doc_id, f.y ORDER BY f.doc_id"""))

  /** Leakage-safe cluster-aware split, EXACT twin ([[graft.ops.Dedup
    * .splitByCluster]] over the memoized x28/x29 exact cluster
    * source, bounded by contract): near-dup clusters never straddle
    * the train/holdout boundary. Hash-green: recursive-CTE
    * components + the arithmetic split hash replay in SQL. The
    * scale path is x99. */
  private val x98ClusterSplit = GraftQuery(
    "x98_cluster_split",
    (s, dir) => graft.ops.Dedup.splitByCluster(
      Tables.embeddings(s, dir).filter(col("vec_id") < 200)
        .select(col("vec_id"), col("label")),
      "vec_id", dupClustersFor(s, dir), holdoutPct = 20)
      .orderBy(col("vec_id")),
    Some(s"""WITH RECURSIVE $cosineReachSql,
      clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      assigned AS (
        SELECT e.vec_id, e.label,
          COALESCE(c.cluster_id, e.vec_id) AS cluster_id
        FROM embeddings e LEFT JOIN clusters c ON c.id = e.vec_id
        WHERE e.vec_id < 200)
      SELECT vec_id, label, cluster_id,
        CASE WHEN ((cluster_id % 2147483648) * 2654435761)
                  % 4294967296 % 100 < 20
             THEN 'holdout' ELSE 'train' END AS split
      FROM assigned ORDER BY vec_id"""))

  /** DuckDB replay of [[TextAnalysis.qualityScore]] (English stopword
    * list): per-doc `metrics` over `from`, the `scored` ratios, and the
    * `quality` CTE's leading columns through `quality_score` — a
    * caller opens `metrics` with its SELECT list and closes `quality`
    * (x103, x20). */
  private def qualityMetricsSql(from: String): String = {
    val enList = graft.ops.Stopwords.en.map("'" + _ + "'").mkString(",")
    s"""string_split(lower(text), ' ') AS t,
          CAST(length(text) AS DOUBLE) AS nc,
          CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS nt,
          CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS alpha,
          CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits
        FROM $from),
      scored AS (
        SELECT *,
          round(CASE WHEN nc > 0 THEN alpha / nc ELSE 0 END, 4) AS alpha_ratio,
          round(CASE WHEN nc > 0 THEN digits / nc ELSE 0 END, 4) AS digit_ratio,
          round(CASE WHEN nt > 0 THEN nc / nt ELSE 0 END, 4) AS mean_token_len,
          round(CASE WHEN nt > 0 THEN
            CAST(len(list_intersect(t, [$enList])) AS DOUBLE) / nt ELSE 0 END, 4)
            AS stopword_ratio
        FROM metrics),
      quality AS (
        SELECT *,
          round(greatest(0.0, least(1.0,
            alpha_ratio * 0.4
            + least(stopword_ratio * 4.0, 1.0) * 0.3
            + CASE WHEN mean_token_len BETWEEN 3.0 AND 12.0 THEN 0.2 ELSE 0.0 END
            + CASE WHEN digit_ratio < 0.2 THEN 0.1 ELSE 0.0 END)), 4) AS quality_score"""
  }

  /** End-to-end capped curation — the round-6 operators composed the
    * way a real pre-training prep runs: exact dedup → segment-level
    * dedup with reconstruction → per-source cap → per-language token
    * budget. Every stage is individually hash-green (x18/x96/x93/
    * x77), so the COMPOSITION carries a full oracle too: a curation
    * pipeline whose final kept-set is oracle-checkable end-to-end,
    * not just stage-by-stage. Cap k=10 and budget 1500 are sized so
    * BOTH gates bind on the test corpus. */
  private val x100CurationCapped = GraftQuery(
    "x100_curation_capped",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val deduped = Dedup.exactKeepFirst(docs, "doc_id", "text")
      val rebuilt = Dedup.segmentDedup(deduped, "doc_id", "text", n = 8)
      val enriched = rebuilt.join(
        docs.select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
      val capped = graft.ops.Sampling.capPerGroup(
        enriched, "source", "doc_id", k = 10)
      val withToks = capped.select(col("doc_id"), col("source"),
        col("lang"), col("n_segments_kept"),
        TextAnalysis.tokenCount(col("clean_text")).as("toks"))
      graft.ops.Sampling.tokenBudget(withToks, "lang", "doc_id",
        "toks", "n_segments_kept", budget = 1500L)
        .orderBy(col("lang"), col("doc_id"))
    },
    Some("""WITH survivors AS MATERIALIZED (
        SELECT d.doc_id, d.text, d.source, d.lang FROM documents d
        WHERE d.doc_id IN
          (SELECT min(doc_id) FROM documents GROUP BY md5(text))),
      toks0 AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t
        FROM survivors),
      segs AS MATERIALIZED (
        SELECT doc_id,
          unnest(range(0, greatest(CAST(ceil(len(t) / 8.0) AS BIGINT), 1)))
            AS seg_idx,
          unnest(list_transform(
            range(0, greatest(CAST(ceil(len(t) / 8.0) AS BIGINT), 1)),
            i -> array_to_string(t[CAST(i * 8 + 1 AS INT):CAST(i * 8 + 8 AS INT)], ' ')))
            AS seg
        FROM toks0 WHERE len(t) > 0),
      ranked AS (
        SELECT doc_id, seg_idx, seg,
          row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        FROM segs),
      rebuilt AS MATERIALIZED (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments_kept,
          string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        FROM ranked WHERE rn = 1 GROUP BY doc_id),
      enriched AS (
        SELECT r.doc_id, s.source, s.lang, r.n_segments_kept,
               r.clean_text
        FROM rebuilt r JOIN survivors s USING (doc_id)),
      capped AS MATERIALIZED (
        SELECT doc_id, source, lang, n_segments_kept, clean_text FROM (
          SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
                     doc_id) AS rk
          FROM enriched) WHERE rk <= 10),
      wt AS (
        SELECT doc_id, source, lang, n_segments_kept,
          CAST(len(string_split_regex(lower(clean_text), '\s+')) AS INT)
            AS toks
        FROM capped)
      SELECT doc_id, source, lang, n_segments_kept, toks,
        CAST(sum(toks) OVER (PARTITION BY lang
          ORDER BY n_segments_kept DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum_tokens
      FROM wt QUALIFY cum_tokens <= 1500
      ORDER BY lang, doc_id"""))

  private val x103Results = streamMemo("x103-stream")

  /** Streaming ingest-side curation: documents arrive as files, each
    * micro-batch scores ([[graft.ops.TextAnalysis.qualityScore]]),
    * gates at 0.5, and PII-scrubs — the continuous form of the x20
    * batch pipeline's row-level stages. Entirely stateless
    * (map-only), so the stream needs no watermark, emits every
    * surviving row exactly once, and the completed run equals the
    * batch replay bit-for-bit → hash-green against the batch
    * oracle (the x72 exact-replay pattern; gate compares the
    * ROUNDED score on both sides). */
  private val x103StreamingCuration = GraftQuery(
    "x103_streaming_curation",
    (s, dir) => {
      settledStream(x103Results, s, dir, "x103_curation") {
        val stream = graft.streaming.EventStreams.docsFromParquetDir(s,
          stagedStreamDir("graft_docstream_src", dir,
            "documents.parquet" -> "documents.parquet"))
        TextAnalysis.qualityScore(stream)
          // 0.66 ≈ the test corpus's median score — the gate BINDS
          // (scores cluster 0.62-0.83 here; a real corpus keeps the
          // operator's 0.5-class threshold)
          .filter(col("quality_score") >= 0.66)
          .select(col("doc_id"), col("lang"), col("source"),
            col("quality_score"),
            TextAnalysis.scrubPii(col("text")).as("clean_text"))
      }.orderBy(col("doc_id"))
    },
    Some(s"""WITH metrics AS (
        SELECT doc_id, lang, source, text,
          ${qualityMetricsSql("documents")}
        FROM scored)
      SELECT doc_id, lang, source, quality_score,
        ${piiScrubSql(8)}
      FROM quality WHERE quality_score >= 0.66
      ORDER BY doc_id"""))

  /** Embedding-space outlier screening ([[graft.ops.Similarity
    * .embeddingOutliers]]): per-label centroid distance, robust-z'd
    * (median/MAD) — the embedding-side x88. Hash-green: rounded x11
    * centroids + dimension-ordered fold + quantile_cont↔percentile
    * order statistics. */
  private val x104EmbeddingOutliers = GraftQuery(
    "x104_embedding_outliers",
    (s, dir) => graft.ops.Similarity.embeddingOutliers(
      Tables.embeddings(s, dir), "vec_id", "label", "embedding",
      cutoff = 2.5)
      .orderBy(col("vec_id")),
    Some("""WITH cents AS (
        SELECT label, CAST(pos AS INT) AS pos, round(avg(v), 4) AS c FROM (
          SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
        GROUP BY label, pos),
      comps AS (
        SELECT vec_id, label,
          CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
          CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
      dists AS (
        SELECT vec_id, label,
          round(sqrt(list_sum(list_transform(
            list_sort(list(struct_pack(k := pos, v := (v - c) * (v - c)))),
            s -> struct_extract(s, 'v')))), 6) AS dist
        FROM comps JOIN cents USING (label, pos)
        GROUP BY vec_id, label),
      med AS (
        SELECT label, quantile_cont(dist, 0.5) AS med
        FROM dists WHERE label IS NOT NULL GROUP BY 1),
      stats AS (
        SELECT label, min(med) AS med,
          quantile_cont(abs(dist - med), 0.5) AS mad
        FROM dists JOIN med USING (label) GROUP BY 1)
      SELECT vec_id, label, dist,
        round(CASE WHEN mad > 0
          THEN (dist - med) / (1.4826 * mad) END, 6) AS robust_z,
        CASE WHEN mad > 0
          THEN abs((dist - med) / (1.4826 * mad)) > 2.5
          WHEN mad = 0 THEN dist != med
          END AS is_outlier
      FROM dists LEFT JOIN stats USING (label)
      ORDER BY vec_id"""))

  /** Target-mixture rebalance ([[graft.ops.Sampling
    * .rebalanceToTarget]]): keep fractions computed from target
    * proportions, applied via the arithmetic id-hash — shares sized
    * so every kept stratum's gate BINDS (0.4 / 0.2 / 0.8 of the
    * three sources). Hash-green: counts, the floor'd integer
    * threshold and the Knuth bucket all replay exactly. */
  private val x105RebalanceMixture = GraftQuery(
    "x105_rebalance_mixture",
    (s, dir) => graft.ops.Sampling.rebalanceToTarget(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "source", "doc_id",
      Map("src0" -> 0.02, "src1" -> 0.01, "src2" -> 0.04))
      .orderBy(col("doc_id")),
    Some("""WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM documents WHERE source IN ('src0', 'src1', 'src2')
        GROUP BY source),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
      f AS (
        -- every literal CAST to DOUBLE: DuckDB types bare numeric
        -- literals as DECIMAL, and the exact decimal n_total*share
        -- can floor one lower than the driver's IEEE-double tree
        -- (e.g. floor(least(1.0,(3*0.1)/3)*1e6): 99999 decimal vs
        -- 100000 double) — a one-off threshold that flips any row
        -- whose Knuth bucket sits exactly on the boundary
        SELECT source,
          CAST(floor(least(CAST(1.0 AS DOUBLE),
            (CAST(n_total AS DOUBLE) *
             CASE source WHEN 'src0' THEN CAST(0.02 AS DOUBLE)
                         WHEN 'src1' THEN CAST(0.01 AS DOUBLE)
                         WHEN 'src2' THEN CAST(0.04 AS DOUBLE) END)
            / CAST(n AS DOUBLE))
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS thr
        FROM c, t)
      SELECT d.doc_id, d.source
      FROM documents d JOIN f USING (source)
      WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296
            % 1000000 < thr
      ORDER BY d.doc_id"""))

  /** The scale path of x97: the SAME training loop with
    * `exact = false` — the per-bucket gradient becomes a plain
    * map-side-combinable `sum` instead of the sorted
    * `collect_list` fold, so no aggregation buffer ever holds a
    * bucket's full document list (the x63↔x25 twin pattern: x97 is
    * the bounded hash-green twin; OpsSpec asserts both paths score
    * within 1e-6 — the granularity of the 6-decimal score — on the
    * fixture corpus). Addition order is layout-dependent →
    * rows-only. This is the path a 100 TB run uses: x97's
    * per-bucket fold collects n/B structs into one task, an
    * executor OOM at corpus scale. */
  private val x106QualityClassifierScaled = GraftQuery(
    "x106_quality_classifier_scaled",
    (s, dir) => graft.ops.Classifier.logRegScores(
      Tables.documents(s, dir)
        .withColumn("is_target", col("source") === "src0"),
      "doc_id", "text", "is_target", numBuckets = 64, eta = 0.5,
      iters = 2, exact = false)
      .orderBy(col("doc_id")),
    None)

  /** Join-key skew diagnosis ([[graft.ops.Skew.keySkewStats]]) over
    * events.user_id — the measurement that picks plain shuffle vs
    * AQE skew handling vs salting. Hash-green: exact counts, order-
    * statistic percentiles (percentile ↔ quantile_cont, the x26
    * pairing), rounded shares, verdict on the ROUNDED value. */
  private val x101KeySkew = GraftQuery(
    "x101_key_skew",
    (s, dir) => graft.ops.Skew.keySkewStats(
      Tables.events(s, dir), "user_id", saltThreshold = 0.05),
    Some("""WITH c AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY user_id),
      a AS (
        SELECT CAST(sum(c) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_keys,
          CAST(max(c) AS BIGINT) AS top1_cnt,
          quantile_cont(c, 0.5) AS p50_cnt,
          quantile_cont(c, 0.99) AS p99_cnt
        FROM c)
      SELECT n_rows, n_keys, top1_cnt, p50_cnt, p99_cnt,
        round(CAST(top1_cnt AS DOUBLE) / n_rows, 4) AS top1_share,
        round(CAST(top1_cnt AS DOUBLE) / p50_cnt, 4) AS skew_ratio,
        (round(CAST(top1_cnt AS DOUBLE) / n_rows, 4) >= 0.05)
          AS needs_salting
      FROM a"""))

  /** ANALYZE-style column profile ([[graft.ops.Profiling
    * .columnProfile]]) of the documents table — per-column row/null
    * counts, exact ndv, min/max as strings. Hash-green: exact
    * integer stats; min/max on bigint/varchar columns cast to
    * string identically on both engines. */
  private val x102ColumnProfile = GraftQuery(
    "x102_column_profile",
    (s, dir) => graft.ops.Profiling.columnProfile(
      Tables.documents(s, dir),
      Seq("doc_id", "text", "lang", "source", "n_chars"))
      .orderBy(col("col_name")),
    Some(Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count($c) AS BIGINT) AS n_non_null,
          CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
          CAST(min($c) AS VARCHAR) AS min_value,
          CAST(max($c) AS VARCHAR) AS max_value
        FROM documents"""
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")))

  /** The scale path of x98: the same leakage-safe split with
    * LSH-bucketed near-dup pairs feeding pointer-jumping components,
    * run at the PRODUCTION defaults (threshold 0.95, AutoBits) over
    * the x205 replica union and HASH-GREEN via the replica-union
    * known answer (r16 verdict #1: the pre-r17 form forced threshold
    * 0.3 to get pairs out of the well-spread corpus, and when the
    * r16 x34 conversion left the (0.3, 48, 8) memo entry with no
    * second tenant, 25.5 s CPU of 0.3-threshold verification mass
    * re-attributed to this carrier — the conversion removes the mass
    * AND the rows-only row). On the two-replica corpus the only
    * pairs at ≥ 0.95 are the planted (v, v+10⁶) replicas (x201's
    * premise: max distinct-pair cosine 0.479/0.513/0.601 per SF,
    * identical vectors share every band bucket), so every cluster is
    * exactly {v, v+10⁶} with pointer-jumping representative v —
    * every row's cluster_id is its ORIGINAL vec_id, and both replica
    * rows split by the x98 Knuth-hash arithmetic on it (the
    * no-straddle contract, visible in the output itself). Shares
    * [[replicatedEmbeddings]]' canonical plan key, so the pair table
    * is the SAME memo entry x201 builds — the sharing the 0.3 form
    * lost. */
  private val x99ClusterSplitLsh = GraftQuery(
    "x99_cluster_split_lsh",
    (s, dir) => graft.ops.Dedup.leakageSafeSplit(
      replicatedEmbeddings(s, dir).select(col("vec_id"), col("label")),
      "vec_id",
      graft.ops.Dedup.embeddingNearDuplicates(
        replicatedEmbeddings(s, dir), "vec_id", "embedding"),
      "id_a", "id_b", holdoutPct = 20)
      .orderBy(col("vec_id")),
    Some("""WITH u AS (
        SELECT vec_id, label, vec_id AS cluster_id FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, label, vec_id FROM embeddings)
      SELECT vec_id, label, cluster_id,
        CASE WHEN ((cluster_id % 2147483648) * 2654435761)
                  % 4294967296 % 100 < 20
             THEN 'holdout' ELSE 'train' END AS split
      FROM u ORDER BY vec_id"""))

  /** Community detection ([[graft.ops.Graph.labelPropagation]]): 3
    * synchronous rounds of deterministic plurality-vote label
    * propagation over a block-structured synthetic graph (each
    * document links to 3 neighbors inside its 50-id block — the
    * mirrored edges make votes flow both ways). Hash-green: labels
    * are pure BIGINT arithmetic — plurality counts with the total
    * (count DESC, label ASC) tie-break — so the oracle replays the
    * rounds exactly. The struct-max winner is encoded in SQL as
    * `max(cnt*1e6 + (999999 - label))` (valid while labels <
    * 1e6, which doc_id-seeded labels on this corpus are), the same
    * total order. Rounds unroll as MATERIALIZED CTEs (the x78 /
    * CLAUDE.md rule — inlined chains go exponential), generated one
    * per round by `rounds`. */
  private val x107LabelPropagation = {
    val iters = 3
    def rounds(n: Int): String = (1 to n).map { r =>
      s"""r$r AS MATERIALIZED (
        SELECT n.id, COALESCE(w.new_label, p.label) AS label
        FROM allnodes n JOIN r${r - 1} p USING (id)
        LEFT JOIN (
          SELECT dst AS id,
            999999 - (max(cnt * 1000000 + (999999 - label)) % 1000000)
              AS new_label
          FROM (
            SELECT e.dst, r.label, CAST(count(*) AS BIGINT) AS cnt
            FROM e JOIN r${r - 1} r ON e.src = r.id GROUP BY 1, 2)
          GROUP BY 1) w USING (id))"""
    }.mkString(",\n      ")
    GraftQuery(
      "x107_label_propagation",
      (s, dir) => {
        // the oracle's struct-max encoding (cnt*1e6 + (999999-label))
        // silently corrupts the tie-break if any id reaches 1e6 — fail
        // loudly IN the scan instead of hash-mismatching at a larger SF
        // (the epochShuffle raise_error pattern; r7 advisor item)
        val docs = Tables.documents(s, dir).select(
          when(col("doc_id") >= 1000000L, raise_error(lit(
            "x107: doc_id >= 1e6 breaks the oracle's packed tie-break " +
              "encoding — widen the encoding before scaling up")))
            .otherwise(col("doc_id")).as("doc_id"))
        val edges = docs
          .select(col("doc_id").as("src"),
            explode(sequence(lit(1), lit(3))).as("k"))
          .select(col("src"),
            (expr("src div 50") * 50 +
              pmod(pmod(col("src"), lit(50)) + col("k") * 7, lit(50))).as("dst"))
        graft.ops.Graph.labelPropagation(edges, iters = iters)
          .select(col("id").as("doc_id"), col("label").as("community"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH edges0 AS MATERIALIZED (
        SELECT doc_id AS src,
          (doc_id // 50) * 50 + ((doc_id % 50) + k * 7) % 50 AS dst
        FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
      e AS MATERIALIZED (
        SELECT src, dst FROM edges0
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges0),
      allnodes AS MATERIALIZED (
        SELECT DISTINCT id FROM (
          SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
      r0 AS MATERIALIZED (SELECT id, id AS label FROM allnodes),
      ${rounds(iters)}
      SELECT id AS doc_id, label AS community FROM r$iters ORDER BY doc_id"""))
  }

  /** Johnson–Lindenstrauss projection
    * ([[graft.ops.Similarity.randomProjection]]): 64-dim embeddings
    * → 8 dims with the deterministic Lehmer-LCG ±1 sign matrix,
    * exploded to (vec_id, dim, value). Hash-green: the sign hash is
    * pure BIGINT arithmetic the oracle replays term-for-term, and
    * both engines fold the projection sum in ascending dimension
    * order on the same IEEE double tree (the x7 cosine precedent),
    * rounded to 4 decimals. */
  private val x108RandomProjection = GraftQuery(
    "x108_random_projection",
    (s, dir) => Similarity.randomProjection(
      Tables.embeddings(s, dir), "vec_id", "embedding", outDim = 8)
      .select(col("id").as("vec_id"),
        posexplode(col("projection")).as(Seq("dim", "value")))
      .orderBy(col("vec_id"), col("dim")),
    Some("""SELECT vec_id, j AS dim,
        round(list_sum(list_transform(range(1, len(embedding) + 1),
          i -> CAST(embedding[i] AS DOUBLE) *
            CAST(1 - 2 * ((((i - 1) * 2654435761 + j * 40503 + 97)
              % 2147483647) * 48271 % 2147483647 % 2) AS DOUBLE)))
          / sqrt(8.0), 4) AS value
      FROM embeddings
      CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS j)
      ORDER BY vec_id, dim"""))

  /** Coreset selection ([[graft.ops.Similarity.kCenterCoreset]]):
    * greedy farthest-first traversal picking 5 maximally-spread
    * embedding vectors from seed vec_id 0. Hash-green: per-center
    * squared distances fold in ascending dimension order and round
    * to 6 decimals BEFORE the min/argmax, and the farthest-point
    * tie-break is (distance DESC, id ASC) on both engines — the
    * oracle unrolls the 4 selection rounds as MATERIALIZED CTEs,
    * each `least`-ing the new rounded distance into the carried
    * minimum (equivalent to the operator's min-over-all-centers:
    * min is associative over identically-rounded terms). */
  private val x109KcenterCoreset = GraftQuery(
    "x109_kcenter_coreset",
    (s, dir) => Similarity.kCenterCoreset(
      Tables.embeddings(s, dir), "vec_id", "embedding", k = 5, seedId = 0L)
      .orderBy(col("sel_round")),
    Some("""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
      c1 AS MATERIALIZED (SELECT embedding AS c FROM e WHERE vec_id = 0),
      d1 AS MATERIALIZED (
        SELECT e.vec_id, round(list_sum(list_transform(
          range(1, len(e.embedding) + 1),
          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c[i] AS DOUBLE))
             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c[i] AS DOUBLE)))), 6)
          AS md
        FROM e CROSS JOIN c1 c),
      p2 AS MATERIALIZED (
        SELECT vec_id, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
      c2 AS MATERIALIZED (
        SELECT e.embedding AS c FROM e JOIN p2 USING (vec_id)),
      d2 AS MATERIALIZED (
        SELECT d1.vec_id, least(d1.md, round(list_sum(list_transform(
          range(1, len(e.embedding) + 1),
          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c[i] AS DOUBLE))
             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c[i] AS DOUBLE)))), 6))
          AS md
        FROM d1 JOIN e USING (vec_id) CROSS JOIN c2 c),
      p3 AS MATERIALIZED (
        SELECT vec_id, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
      c3 AS MATERIALIZED (
        SELECT e.embedding AS c FROM e JOIN p3 USING (vec_id)),
      d3 AS MATERIALIZED (
        SELECT d2.vec_id, least(d2.md, round(list_sum(list_transform(
          range(1, len(e.embedding) + 1),
          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c[i] AS DOUBLE))
             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c[i] AS DOUBLE)))), 6))
          AS md
        FROM d2 JOIN e USING (vec_id) CROSS JOIN c3 c),
      p4 AS MATERIALIZED (
        SELECT vec_id, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
      c4 AS MATERIALIZED (
        SELECT e.embedding AS c FROM e JOIN p4 USING (vec_id)),
      d4 AS MATERIALIZED (
        SELECT d3.vec_id, least(d3.md, round(list_sum(list_transform(
          range(1, len(e.embedding) + 1),
          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c[i] AS DOUBLE))
             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c[i] AS DOUBLE)))), 6))
          AS md
        FROM d3 JOIN e USING (vec_id) CROSS JOIN c4 c),
      p5 AS MATERIALIZED (
        SELECT vec_id, md FROM d4 ORDER BY md DESC, vec_id LIMIT 1)
      SELECT 1 AS sel_round, CAST(0 AS BIGINT) AS center_id,
        CAST(0.0 AS DOUBLE) AS radius
      UNION ALL SELECT 2, vec_id, md FROM p2
      UNION ALL SELECT 3, vec_id, md FROM p3
      UNION ALL SELECT 4, vec_id, md FROM p4
      UNION ALL SELECT 5, vec_id, md FROM p5
      ORDER BY sel_round"""))

  /** Matrix-free PCA ([[graft.ops.Similarity.pcaPowerIteration]]):
    * 2 power-iteration rounds toward the embeddings' top principal
    * component, every row scored by its projection. Hash-green: the
    * weight vector pins to 9 decimals at every round boundary and
    * every cross-row sum is a carrier-keyed sorted fold, so the
    * oracle unrolls mean → (y, z, normalize)×2 → score with the
    * x94/x97 keyed-fold replay; the driver-side normalize replays as
    * a dim-sorted list_sum over z² (same sequential IEEE tree as the
    * operator's foldLeft). */
  private val x110PcaPowerIteration = GraftQuery(
    "x110_pca_power_iteration",
    (s, dir) => Similarity.pcaPowerIteration(
      Tables.embeddings(s, dir), "vec_id", "embedding", iters = 2)
      .orderBy(col("vec_id")),
    Some("""WITH comps AS MATERIALIZED (
        SELECT vec_id AS id,
          unnest(range(1, len(embedding) + 1)) AS dim,
          unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        FROM embeddings),
      nn AS MATERIALIZED (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
      mu AS MATERIALIZED (
        SELECT dim, round(list_sum(list_transform(
            list_sort(list(struct_pack(k := id, v := v))),
            s -> struct_extract(s, 'v'))) / nn.n, 9) AS mu
        FROM comps CROSS JOIN nn GROUP BY dim, nn.n),
      c AS MATERIALIZED (
        SELECT comps.id, comps.dim, comps.v - mu.mu AS cv
        FROM comps JOIN mu ON comps.dim = mu.dim),
      dims AS MATERIALIZED (SELECT DISTINCT dim FROM comps),
      dcnt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS d FROM dims),
      w0 AS MATERIALIZED (
        SELECT dim, round(1.0 / sqrt(d), 9) AS w FROM dims CROSS JOIN dcnt),
      y1 AS MATERIALIZED (
        SELECT c.id, round(list_sum(list_transform(
            list_sort(list(struct_pack(k := c.dim, v := c.cv * w.w))),
            s -> struct_extract(s, 'v'))), 9) AS y
        FROM c JOIN w0 w ON c.dim = w.dim GROUP BY c.id),
      z1 AS MATERIALIZED (
        SELECT c.dim, round(list_sum(list_transform(
            list_sort(list(struct_pack(k := c.id, v := c.cv * y.y))),
            s -> struct_extract(s, 'v'))), 9) AS z
        FROM c JOIN y1 y ON c.id = y.id GROUP BY c.dim),
      n1 AS MATERIALIZED (
        SELECT sqrt(list_sum(list_transform(
          list_sort(list(struct_pack(k := dim, v := z * z))),
          s -> struct_extract(s, 'v')))) AS nrm FROM z1),
      w1 AS MATERIALIZED (
        SELECT dim, round(z / nrm, 9) AS w FROM z1 CROSS JOIN n1),
      y2 AS MATERIALIZED (
        SELECT c.id, round(list_sum(list_transform(
            list_sort(list(struct_pack(k := c.dim, v := c.cv * w.w))),
            s -> struct_extract(s, 'v'))), 9) AS y
        FROM c JOIN w1 w ON c.dim = w.dim GROUP BY c.id),
      z2 AS MATERIALIZED (
        SELECT c.dim, round(list_sum(list_transform(
            list_sort(list(struct_pack(k := c.id, v := c.cv * y.y))),
            s -> struct_extract(s, 'v'))), 9) AS z
        FROM c JOIN y2 y ON c.id = y.id GROUP BY c.dim),
      n2 AS MATERIALIZED (
        SELECT sqrt(list_sum(list_transform(
          list_sort(list(struct_pack(k := dim, v := z * z))),
          s -> struct_extract(s, 'v')))) AS nrm FROM z2),
      w2 AS MATERIALIZED (
        SELECT dim, round(z / nrm, 9) AS w FROM z2 CROSS JOIN n2)
      SELECT c.id AS vec_id, round(list_sum(list_transform(
          list_sort(list(struct_pack(k := c.dim, v := c.cv * w.w))),
          s -> struct_extract(s, 'v'))), 6) AS pc1_score
      FROM c JOIN w2 w ON c.dim = w.dim GROUP BY c.id ORDER BY vec_id"""))

  /** The 100 TB path of x110: identical power iteration with plain
    * map-side-combinable sums instead of carrier-keyed sorted folds
    * (constant-size aggregation buffers — no per-dimension
    * collect_list). Addition order is layout-dependent → rows-only;
    * x110 is the hash-green twin and OpsSpec asserts both paths
    * agree to 1e-6 (the x97↔x106 pattern). */
  private val x111PcaScaled = GraftQuery(
    "x111_pca_scaled",
    (s, dir) => Similarity.pcaPowerIteration(
      Tables.embeddings(s, dir), "vec_id", "embedding", iters = 2,
      exact = false)
      .orderBy(col("vec_id")),
    None)

  /** Contrastive hard-negative mining
    * ([[graft.ops.Similarity.hardNegatives]]): for each of the 50
    * lowest-id anchors, the 3 most-similar vectors with a DIFFERENT
    * cluster label. Hash-green: exact cosine (the x7 double-lambda
    * replay) rounded to 4 before the (cosine DESC, neg_id ASC)
    * row_number — rank selection replays exactly; rank CAST to INT
    * (DuckDB row_number is BIGINT). */
  private val x112HardNegatives = GraftQuery(
    "x112_hard_negatives",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "label", "embedding", k = 3)
        .orderBy(col("anchor_id"), col("rank"))
    },
    Some(s"""WITH a AS MATERIALIZED (
        SELECT vec_id AS anchor_id, label AS al, embedding AS av
        FROM embeddings WHERE vec_id < 50),
      c AS MATERIALIZED (
        SELECT vec_id AS neg_id, label AS nl, embedding AS nv
        FROM embeddings),
      p AS MATERIALIZED (
        SELECT anchor_id, neg_id,
          ${cosineSql("av", "nv", 10)}
            AS cosine
        FROM a JOIN c ON a.al <> c.nl),
      r AS MATERIALIZED (
        SELECT anchor_id, neg_id, cosine,
          CAST(row_number() OVER (
            PARTITION BY anchor_id ORDER BY cosine DESC, neg_id ASC)
            AS INT) AS rank
        FROM p)
      SELECT anchor_id, rank, neg_id, cosine FROM r
      WHERE rank <= 3 ORDER BY anchor_id, rank"""))

  /** The scale path of x112 ([[graft.ops.Similarity
    * .hardNegativesLsh]]): banded hyperplane-LSH candidates filtered
    * to cross-label pairs before the rank, over the FULL embeddings
    * table. Sketch-driven candidate set → rows-only; x112 is the
    * bounded hash-green twin, and the full-probe (bands = numBits)
    * ≡ exact contract is spec-asserted. */
  private val x113HardNegativesLsh = GraftQuery(
    "x113_hard_negatives_lsh",
    (s, dir) => Similarity.hardNegativesLsh(
      Tables.embeddings(s, dir), "vec_id", "label", "embedding",
      k = 3, numBits = 16, bands = 4)
      .orderBy(col("anchor_id"), col("rank")),
    None)

  /** Quality-aware canonical selection
    * ([[graft.ops.Dedup.keepBestPerCluster]]): x43's exact trigram-
    * Jaccard clusters, but keeping each cluster's LONGEST member
    * (n_chars DESC, doc_id ASC) instead of the minimum id — the
    * "keep the most complete copy" dedup refinement. Hash-green:
    * integer scores, so the winner selection replays exactly over
    * the same recursive-CTE clusters. */
  private val x114CanonicalSelection = GraftQuery(
    "x114_canonical_selection",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      val pairs = trigramJaccardPairs(trigramFrame(docs), threshold = 0.7)
      val clusters = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      Dedup.keepBestPerCluster(docs, "doc_id", "n_chars", clusters)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $trigramReachSql,
      clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      lbl AS (
        SELECT d.doc_id, d.source, d.n_chars,
          COALESCE(c.cluster_id, d.doc_id) AS lbl
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id
        WHERE d.doc_id < 300),
      r AS (
        SELECT doc_id, source, n_chars,
          row_number() OVER (
            PARTITION BY lbl ORDER BY n_chars DESC, doc_id ASC) AS rk
        FROM lbl)
      SELECT doc_id, source, n_chars FROM r WHERE rk = 1
      ORDER BY doc_id"""))

  /** Mergeable quantile sketch ([[graft.ops.Profiling
    * .approxQuantiles]]): per-source n_chars quantiles via the
    * Greenwald–Khanna `percentile_approx` — kilobyte partial
    * sketches through the shuffle where x26's exact `percentile`
    * ships every value. Sketch estimates aren't ANSI-expressible →
    * rows-only; x26 is the exact hash-green twin and OpsSpec pins
    * the GK rank-error contract. */
  private val x115ApproxQuantiles = GraftQuery(
    "x115_approx_quantiles",
    (s, dir) => graft.ops.Profiling.approxQuantiles(
      Tables.documents(s, dir), "source", "n_chars",
      probs = Seq(0.5, 0.9), accuracy = 10000)
      .orderBy(col("source"), col("p")),
    None)

  /** Repeat-factor upsampling ([[graft.ops.Sampling
    * .upsampleToTarget]]): reweight src0/src1 to a 90/10 mixture by
    * COPYING rows — factor 1.8 for src0 (every row once, the Knuth-
    * bucket 80% twice), 0.2 for src1 (bucket-thresholded keep).
    * Hash-green: integer counts, one fixed IEEE double tree for the
    * factor (shares CAST AS DOUBLE in the oracle — the x105 ADVICE
    * rule: bare literals are DECIMAL in DuckDB), integer floor
    * thresholds, arithmetic bucket compare, integer copy indices —
    * no float boundary anywhere in the per-row decision. */
  private val x116UpsampleMixture = GraftQuery(
    "x116_upsample_mixture",
    (s, dir) => graft.ops.Sampling.upsampleToTarget(
      Tables.documents(s, dir), "source", "doc_id",
      Map("src0" -> 0.9, "src1" -> 0.1))
      .select(col("doc_id"), col("source"), col("copy"))
      .orderBy(col("doc_id"), col("copy")),
    Some("""WITH counts AS MATERIALIZED (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
        WHERE source IN ('src0', 'src1') GROUP BY source),
      tot AS MATERIALIZED (
        SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts),
      plan AS MATERIALIZED (
        SELECT source,
          CAST(floor(f) AS BIGINT) AS base,
          CAST(floor((f - floor(f)) * 1000000) AS BIGINT) AS thr
        FROM (
          SELECT source,
            (CAST(n_total AS DOUBLE) *
             CAST(CASE source WHEN 'src0' THEN 0.9 ELSE 0.1 END AS DOUBLE))
              / n AS f
          FROM counts CROSS JOIN tot)),
      d AS MATERIALIZED (
        SELECT d.doc_id, d.source,
          p.base + CASE WHEN ((d.doc_id % 2147483648) * 2654435761)
              % 4294967296 % 1000000 < p.thr
            THEN 1 ELSE 0 END AS copies
        FROM documents d JOIN plan p USING (source))
      SELECT doc_id, source, unnest(range(0, copies)) AS copy
      FROM d WHERE copies > 0
      ORDER BY doc_id, copy"""))

  /** Reproducible epoch shuffle ([[graft.ops.Sampling
    * .epochShuffle]]): the epoch-3 global training order of the
    * documents table. Hash-green: the permutation key is pure
    * BIGINT arithmetic and the oracle computes the SAME rank with
    * one global window — equal to the operator's two-phase
    * (bucket offsets + per-bucket dense ranks) decomposition
    * because the buckets are contiguous key ranges. */
  private val x117EpochShuffle = GraftQuery(
    "x117_epoch_shuffle",
    (s, dir) => graft.ops.Sampling.epochShuffle(
      Tables.documents(s, dir), "doc_id", epoch = 3)
      .select(col("doc_id"), col("epoch"), col("shuffle_rank"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, 3 AS epoch,
        CAST(row_number() OVER (ORDER BY
          ((doc_id % 2147483648) + 3 * 1000003) * 2654435761 % 4294967296,
          doc_id) AS BIGINT) AS shuffle_rank
      FROM documents ORDER BY doc_id"""))

  /** The scale path of x114 ([[graft.ops.Dedup.keepBestPerCluster]]
    * over MinHash-LSH verified clusters, full corpus): candidates
    * from banded MinHash, exact-Jaccard verified, pointer-jumping
    * components, then keep each cluster's LONGEST member (n_chars
    * DESC, id ASC). HASH-GREEN on the x42 replica union at threshold
    * 1.0 — see x42's determinism argument; the oracle replays the
    * full keep-best algebra as a window over the gram-set groups, so
    * a broken tie-break, a split cluster, or a dropped singleton
    * breaks the hash. The mid-threshold regime stays pinned by x114
    * (bounded exact twin) and the OpsSpec survivor-algebra contract. */
  private val x118CanonicalSelectionLsh = GraftQuery(
    "x118_canonical_selection_lsh",
    (s, dir) => {
      val docs = replicatedDocuments(s, dir)
      val pairs = Dedup.ngramJaccardNearDuplicates(
        docs, "doc_id", "text", threshold = 1.0, shingleSize = 3)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      Dedup.keepBestPerCluster(docs, "doc_id", "n_chars", clusters)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some(replicaGramKeySql(
      """doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
          row_number() OVER (PARTITION BY gk
            ORDER BY n_chars DESC, doc_id ASC) AS rk
        FROM g) WHERE rk = 1 ORDER BY doc_id""")))

  /** Length-bucket padding-waste profile ([[graft.ops.Packing
    * .paddingStats]]): per 64-token bucket at maxSeqLen 512, the
    * real-vs-padded token ratio for dynamic (pad-to-bucket-max) and
    * static (pad-to-512) batching. Hash-green: integer token counts
    * and bucket arithmetic; each waste ratio is ONE double division
    * of two BIGINTs rounded to 4 — no float accumulation. */
  private val x119PaddingStats = GraftQuery(
    "x119_padding_stats",
    (s, dir) => graft.ops.Packing.paddingStats(
      Tables.documents(s, dir), "text",
      maxSeqLen = 512, bucketSize = 64)
      .orderBy(col("bucket_lo")),
    Some("""WITH t AS (
        SELECT least(CAST(len(string_split(text, ' ')) AS BIGINT), 512)
          AS len
        FROM documents),
      b AS (
        SELECT (len - 1) // 64 AS b, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len) AS BIGINT) AS sum_tokens,
          CAST(max(len) AS BIGINT) AS max_tokens
        FROM t GROUP BY 1)
      SELECT b * 64 + 1 AS bucket_lo, (b + 1) * 64 AS bucket_hi,
        n_docs, sum_tokens, max_tokens,
        round(CAST(1.0 AS DOUBLE) - CAST(sum_tokens AS DOUBLE)
          / (n_docs * max_tokens), 4) AS waste_bucketed,
        round(CAST(1.0 AS DOUBLE) - CAST(sum_tokens AS DOUBLE)
          / (n_docs * 512), 4) AS waste_naive
      FROM b ORDER BY bucket_lo"""))

  /** Embedding-space domain overlap ([[graft.ops.Similarity
    * .centroidSimilarityMatrix]]): pairwise cosine between the
    * cluster-label centroids — the x60 vocabulary-overlap matrix in
    * embedding space. Hash-green with zero float-boundary exposure:
    * the centroid cells are vec_id-keyed SORTED-FOLD means (the
    * x94/x97 rule — the r7 advisor flagged the former round(avg, 4)
    * cells as the x45-class boundary-flip risk), then carrier-keyed
    * dimension folds for dot and norms, re-rounded to 4. */
  private val x120CentroidSimilarity = GraftQuery(
    "x120_centroid_similarity",
    (s, dir) => Similarity.centroidSimilarityMatrix(
      Tables.embeddings(s, dir), "vec_id", "label", "embedding")
      .orderBy(col("label_a"), col("label_b")),
    Some("""WITH cents AS MATERIALIZED (
        SELECT label, CAST(pos AS INT) AS pos,
          round(list_sum(list_transform(
              list_sort(list(struct_pack(k := vec_id,
                                         v := CAST(v AS DOUBLE)))),
              s -> struct_extract(s, 'v')))
            / CAST(count(*) AS DOUBLE), 4) AS c FROM (
          SELECT label, vec_id, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
        GROUP BY label, pos),
      p AS MATERIALIZED (
        SELECT a.label AS label_a, b.label AS label_b, a.pos,
          a.c AS ma, b.c AS mb
        FROM cents a JOIN cents b ON a.pos = b.pos AND a.label < b.label)
      SELECT label_a, label_b,
        round(
          list_sum(list_transform(
            list_sort(list(struct_pack(k := pos, v := ma * mb))),
            s -> struct_extract(s, 'v')))
          / (sqrt(list_sum(list_transform(
               list_sort(list(struct_pack(k := pos, v := ma * ma))),
               s -> struct_extract(s, 'v'))))
           * sqrt(list_sum(list_transform(
               list_sort(list(struct_pack(k := pos, v := mb * mb))),
               s -> struct_extract(s, 'v'))))), 4) AS cosine
      FROM p GROUP BY label_a, label_b ORDER BY label_a, label_b"""))

  /** ANN recall measurement ([[graft.ops.Similarity.annRecall]]):
    * per-query recall@10 of the x24 LSH configuration against the
    * exact x23 baseline on 50 bounded queries — the harness that
    * decides whether a numBits/bands setting is usable. ANN-side
    * membership is sketch-driven → rows-only; OpsSpec pins the
    * contract (full-probe recall ≡ 1.0 on every query; a
    * missing-query row scores 0, never inflates). */
  private val x121AnnRecall = GraftQuery(
    "x121_ann_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 50)
      val exact = Similarity.batchTopK(q, emb,
        "vec_id", "vec_id", "embedding", "embedding", k = 10)
      val ann = Similarity.lshBatchTopK(q, emb,
        "vec_id", "vec_id", "embedding", "embedding", k = 10,
        numBits = 16, bands = 4)
      Similarity.annRecall(exact, ann, k = 10)
        .orderBy(col("query_id"))
    },
    None)

  /** Late-interaction retrieval ([[graft.ops.Similarity
    * .maxSimScores]]): 4 query vectors against label-grouped
    * multi-vector documents — score = Σ_q max_{v∈doc} cos(q, v),
    * the ColBERT MaxSim rule. Hash-green: per-pair cosine (the x7
    * double-lambda replay) rounds to 4 BEFORE the max, and the
    * per-document sum over the 4 maxima is a carrier-keyed sorted
    * fold re-rounded to 4. */
  private val x122MaxsimRetrieval = GraftQuery(
    "x122_maxsim_retrieval",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.maxSimScores(
        emb.filter(col("vec_id") < 4), emb,
        "vec_id", "label", "embedding", "embedding")
        .orderBy(col("doc"))
    },
    Some(s"""WITH q AS MATERIALIZED (
        SELECT vec_id AS qid, embedding AS qv
        FROM embeddings WHERE vec_id < 4),
      sc AS MATERIALIZED (
        SELECT e.label AS doc, q.qid,
          ${cosineSql("e.embedding", "q.qv", 10)} AS c
        FROM embeddings e CROSS JOIN q),
      m AS MATERIALIZED (
        SELECT doc, qid, max(c) AS m FROM sc GROUP BY doc, qid)
      SELECT doc, round(list_sum(list_transform(
          list_sort(list(struct_pack(k := qid, v := m))),
          s2 -> struct_extract(s2, 'v'))), 4) AS maxsim
      FROM m GROUP BY doc ORDER BY doc"""))

  /** Sentence-structure profile ([[graft.ops.TextAnalysis
    * .structureStats]]): non-empty sentence count, mean words per
    * sentence, comma density — the readability features
    * Gopher/C4-style filters gate on. Hash-green: integer counts
    * with single-division rounded ratios; both engines count only
    * non-blank trimmed segments, neutralizing split trailing-empty
    * semantics. */
  private val x123StructureStats = GraftQuery(
    "x123_structure_stats",
    (s, dir) => graft.ops.TextAnalysis.structureStats(
      Tables.documents(s, dir))
      .select(col("doc_id"), col("n_sentences"),
        col("mean_words_per_sentence"), col("comma_density"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
            s -> trim(s) != '')) AS INT) AS n_sentences,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          CAST(length(text) - length(replace(text, ',', '')) AS INT)
            AS n_commas
        FROM documents)
      SELECT doc_id, n_sentences,
        round(CASE WHEN n_sentences > 0
          THEN CAST(n_tokens AS DOUBLE) / n_sentences ELSE 0.0 END, 4)
          AS mean_words_per_sentence,
        round(CASE WHEN n_tokens > 0
          THEN CAST(n_commas AS DOUBLE) / n_tokens ELSE 0.0 END, 4)
          AS comma_density
      FROM t ORDER BY doc_id"""))

  /** Distribution-matched split ([[graft.ops.Sampling
    * .matchedSplit]]): documents stratified into n_chars deciles,
    * split 80/20 within each stratum — per (stratum, split) counts.
    * Hash-green: quantile boundaries via the x26 percentile ↔
    * quantile_cont pairing rounded to 6 before strictly-greater
    * compares against integer n_chars, membership the arithmetic
    * Knuth split hash, output exact counts. */
  private val x124MatchedSplit = GraftQuery(
    "x124_matched_split",
    (s, dir) => graft.ops.Sampling.matchedSplit(
      Tables.documents(s, dir), "doc_id", "n_chars",
      buckets = 10, holdoutPct = 20)
      .groupBy(col("value_bucket"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("value_bucket"), col("split")),
    Some("""WITH bounds AS MATERIALIZED (
        SELECT quantile_cont(n_chars,
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        FROM documents),
      a AS MATERIALIZED (
        SELECT d.doc_id,
          CASE WHEN d.n_chars IS NULL THEN NULL
            ELSE CAST(len(list_filter(b.bs,
              x -> CAST(d.n_chars AS DOUBLE) > round(x, 6))) AS INT)
            END AS value_bucket,
          CASE WHEN ((d.doc_id % 2147483648) * 2654435761)
              % 4294967296 % 100 < 20
            THEN 'holdout' ELSE 'train' END AS split
        FROM documents d CROSS JOIN bounds b)
      SELECT value_bucket, split, CAST(count(*) AS BIGINT) AS n_docs
      FROM a GROUP BY value_bucket, split
      ORDER BY value_bucket, split"""))

  /** Paragraph-level exact dedup ([[graft.ops.Dedup.paragraphDedup]],
    * the Dolma/CCNet line-dedup granularity): the corpus is reshaped
    * into 20-word paragraphs (testdata text is single-line — the
    * reshape is itself replayed in the oracle), then every paragraph
    * appearing in more than one distinct document is dropped from ALL
    * of them and documents re-assemble from the survivors — the
    * boilerplate-removal semantics x57 only detects and x96's
    * keep-first rule doesn't express. Hash-green: pure integer/string
    * predicates, position order pinned on both sides (the x96 zipped-
    * unnest replay). */
  private val x125ParagraphDedup = GraftQuery(
    "x125_paragraph_dedup",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) > 0)
      val reshaped = toks.select(col("doc_id"),
        array_join(
          transform(
            sequence(lit(0),
              greatest(ceil(size(col("t")) / lit(20.0)).cast("int"), lit(1)) - 1),
            i => concat_ws(" ", slice(col("t"), i * 20 + 1, lit(20)))),
          "\n\n").as("text"))
      Dedup.paragraphDedup(reshaped, "doc_id", "text", maxDocFreq = 1)
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      paras AS (
        SELECT doc_id,
          unnest(range(0, greatest(CAST(ceil(len(w) / 20.0) AS BIGINT), 1)))
            AS para_idx,
          unnest(list_transform(
            range(0, greatest(CAST(ceil(len(w) / 20.0) AS BIGINT), 1)),
            i -> array_to_string(
              w[CAST(i * 20 + 1 AS INT):CAST(i * 20 + 20 AS INT)], ' ')))
            AS para
        FROM t WHERE len(w) > 0),
      keep AS (
        SELECT para FROM paras GROUP BY para
        HAVING count(DISTINCT doc_id) <= 1)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs_kept,
        string_agg(para, chr(10) || chr(10) ORDER BY para_idx)
          AS clean_text
      FROM paras JOIN keep USING (para)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** In-document dedup ([[graft.ops.Dedup.intraDocDedup]], the
    * Gopher duplicate-line cleaner): keep each segment's FIRST
    * in-doc occurrence, entirely in-row. The carrier runs at token
    * granularity (testdata text is line-less; the ~50-word synthetic
    * vocabulary guarantees real in-doc repeats) — production use is
    * `delimiter = "\n"`. Hash-green: pure string positions, the
    * indexed list_filter replay. */
  private val x126IntraDocDedup = GraftQuery(
    "x126_intra_doc_dedup",
    (s, dir) => graft.ops.Dedup.intraDocDedup(
      Tables.documents(s, dir), "text", delimiter = " ")
      .select(col("doc_id"), col("n_segments"), col("n_dropped"),
        col("clean_text"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_segments,
        CAST(len(w) - len(k) AS BIGINT) AS n_dropped,
        array_to_string(k, ' ') AS clean_text
      FROM (
        SELECT doc_id, w,
          list_filter(w, (x, i) -> list_position(w, x) = i) AS k
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents))
      ORDER BY doc_id"""))

  /** Cross-source duplication matrix ([[graft.ops.Dedup
    * .duplicationMatrix]]): the bounded exact trigram-Jaccard pairs
    * (the x43 stage) projected onto sources — who mirrors whom, with
    * intra-source duplication on the diagonal. Hash-green: integer
    * pair counts over string labels; the scale path feeds the same
    * operator from minhash/embedding candidates. */
  private val x127SourceDupMatrix = GraftQuery(
    "x127_source_dup_matrix",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      graft.ops.Dedup.duplicationMatrix(
        trigramJaccardPairs(trigramFrame(docs), threshold = 0.7),
        "id_a", "id_b", docs, "doc_id", "source")
        .orderBy(col("label_a"), col("label_b"))
    },
    Some(s"""WITH $trigramPairsSql
      SELECT least(da.source, db.source) AS label_a,
        greatest(da.source, db.source) AS label_b,
        CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs
      JOIN documents da ON pairs.id_a = da.doc_id
      JOIN documents db ON pairs.id_b = db.doc_id
      GROUP BY 1, 2 ORDER BY label_a, label_b"""))

  /** kNN label transfer ([[graft.ops.Similarity.knnLabelTransfer]]):
    * vec_id < 100 as the labeled seed set, labels transferred onto
    * the rest of the embeddings table by 5-NN majority vote.
    * Hash-green: the x112 double-lambda cosine replay rounded before
    * the neighbor rank, then integer vote counts with a total-order
    * winner. */
  private val x128KnnLabelTransfer = GraftQuery(
    "x128_knn_label_transfer",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLabelTransfer(
        emb.filter(col("vec_id") >= 100), emb.filter(col("vec_id") < 100),
        "vec_id", "label", "embedding", k = 5)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH l AS MATERIALIZED (
        SELECT vec_id AS nn_id, label AS nn_label, embedding AS lv
        FROM embeddings WHERE vec_id < 100),
      c AS MATERIALIZED (
        SELECT vec_id AS id, embedding AS cv
        FROM embeddings WHERE vec_id >= 100),
      p AS MATERIALIZED (
        SELECT id, nn_id, nn_label,
          ${cosineSql("cv", "lv", 10)}
            AS cos
        FROM c CROSS JOIN l),
      topk AS MATERIALIZED (
        SELECT id, nn_label FROM (
          SELECT id, nn_label,
            row_number() OVER (PARTITION BY id
              ORDER BY cos DESC, nn_id ASC) AS rn
          FROM p) WHERE rn <= 5),
      v AS MATERIALIZED (
        SELECT id, nn_label, CAST(count(*) AS BIGINT) AS n_votes
        FROM topk GROUP BY 1, 2)
      SELECT id AS vec_id, nn_label AS pred_label, n_votes FROM (
        SELECT id, nn_label, n_votes,
          row_number() OVER (PARTITION BY id
            ORDER BY n_votes DESC, nn_label ASC) AS rv
        FROM v) WHERE rv = 1 ORDER BY vec_id"""))

  /** CCNet perplexity-bucket gate ([[graft.ops.TextAnalysis
    * .perplexityBuckets]]): per-source head/middle/tail terciles of
    * the x31 bigram-LM score, counted per (source, bucket).
    * Hash-green: x31's rounded-4 scores, boundaries via the x26/x124
    * percentile ↔ quantile_cont pairing rounded to 6 before
    * strictly-greater compares, integer counts out. */
  private val x129PerplexityBuckets = GraftQuery(
    "x129_perplexity_buckets",
    (s, dir) => TextAnalysis.perplexityBuckets(
      Tables.documents(s, dir), "doc_id", "text", "source")
      .groupBy(col("source"), col("ppl_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("ppl_bucket")),
    Some("""WITH norm AS MATERIALIZED (
        SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        FROM documents),
      grams AS MATERIALIZED (
        SELECT doc_id,
          unnest(CASE WHEN length(s) < 2 THEN [s]
            ELSE list_transform(range(1, length(s)), i -> substr(s, i, 2)) END) AS g
        FROM norm),
      counts AS MATERIALIZED (SELECT g, count(*) AS c FROM grams GROUP BY g),
      model AS MATERIALIZED (
        SELECT sum(c) AS total, count(*) AS vocab FROM counts),
      scored AS MATERIALIZED (
        SELECT doc_id,
          round(avg(ln(CAST(c + 1 AS DOUBLE) / (total + vocab))), 4) AS lp
        FROM grams JOIN counts USING (g), model GROUP BY doc_id),
      withsrc AS MATERIALIZED (
        SELECT s.doc_id, d.source, s.lp
        FROM scored s JOIN documents d USING (doc_id)),
      bounds AS MATERIALIZED (
        SELECT source,
          round(quantile_cont(lp, 0.3333333333333333), 6) AS b13,
          round(quantile_cont(lp, 0.6666666666666666), 6) AS b23
        FROM withsrc GROUP BY source)
      SELECT w.source,
        CASE WHEN lp > b23 THEN 'head'
             WHEN lp > b13 THEN 'middle'
             ELSE 'tail' END AS ppl_bucket,
        CAST(count(*) AS BIGINT) AS n_docs
      FROM withsrc w JOIN bounds b USING (source)
      GROUP BY 1, 2 ORDER BY source, ppl_bucket"""))

  /** Dedup report ([[graft.ops.Dedup.clusterSizeHistogram]]): the
    * cluster-size histogram of x28's exact embedding clusters — how
    * many clusters of each size, holding how many docs. Hash-green:
    * the x28 recursive-CTE clusters + two integer counts. */
  private val x130ClusterHistogram = GraftQuery(
    "x130_cluster_histogram",
    (s, dir) => graft.ops.Dedup.clusterSizeHistogram(dupClustersFor(s, dir))
      .orderBy(col("cluster_size")),
    Some(s"""WITH RECURSIVE $cosineReachSql,
      clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY 1)
      SELECT cluster_size,
        CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(cluster_size * count(*) AS BIGINT) AS n_docs
      FROM sizes GROUP BY cluster_size ORDER BY cluster_size"""))

  /** Tokenizer fertility per source ([[graft.ops.TextAnalysis
    * .tokenizerFertility]]): chars/token and tokens/word under the
    * x69-trained 8-merge BPE, per source. Hash-green: the x69/x70
    * BPE replay CTEs + integer sums + two rounded divisions. */
  private val x131TokenizerFertility = GraftQuery(
    "x131_tokenizer_fertility",
    (s, dir) => TextAnalysis.tokenizerFertility(
      Tables.documents(s, dir), "source", "text", numMerges = 8)
      .orderBy(col("source")),
    Some(s"""WITH ${bpeReplayCtes(8)},
      sw AS MATERIALIZED (
        SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM documents),
      gw AS MATERIALIZED (
        SELECT source, word, CAST(count(*) AS BIGINT) AS n
        FROM sw WHERE word <> '' GROUP BY 1, 2),
      j AS MATERIALIZED (
        SELECT g.source, g.n, length(g.word) AS wlen, len(v8.syms) AS nsub
        FROM gw g JOIN v8 ON g.word = v8.word)
      SELECT source,
        CAST(sum(n) AS BIGINT) AS n_words,
        CAST(sum(n * nsub) AS BIGINT) AS n_subwords,
        round(CAST(sum(n * wlen) AS DOUBLE)
          / CAST(sum(n * nsub) AS DOUBLE), 4) AS chars_per_token,
        round(CAST(sum(n * nsub) AS DOUBLE)
          / CAST(sum(n) AS DOUBLE), 4) AS tokens_per_word
      FROM j GROUP BY source ORDER BY source"""))

  /** Filter-pipeline attribution ([[graft.ops.TextAnalysis
    * .filterAttribution]]): Gopher/C4-style rule chain with
    * first-fail attribution — the per-(source, rule) kill table a
    * curation run publishes. Hash-green by construction: every rule
    * is an integer cross-multiplication (no float boundary), outputs
    * are integer counts. */
  private val x132FilterAttribution = GraftQuery(
    "x132_filter_attribution",
    (s, dir) => TextAnalysis.filterAttribution(
      Tables.documents(s, dir), "source", "text")
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"), col("verdict")),
    Some("""WITH t AS (
        SELECT source,
          list_filter(string_split_regex(lower(text), '\s+'),
            w -> w <> '') AS toks
        FROM documents),
      v AS (
        SELECT source, len(toks) AS n_tok,
          len(list_distinct(toks)) AS n_uniq,
          len(list_filter(toks, w -> w IN ('the','a','of','and','to',
            'in','is','that','it','for','on','with','as','at','by',
            'this'))) AS stop_hits
        FROM t)
      SELECT source,
        CASE WHEN n_tok < 25 THEN 'too_short'
             WHEN n_tok > 90 THEN 'too_long'
             WHEN n_uniq * 100 < n_tok * 35 THEN 'low_diversity'
             WHEN stop_hits * 1000 < n_tok * 20 THEN 'low_stopword'
             ELSE 'pass' END AS verdict,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM v GROUP BY 1, 2 ORDER BY source, verdict"""))

  /** Keyword screening ([[graft.ops.TextAnalysis.keywordScreen]]):
    * three topic lists scored in one map pass, per-(source, category)
    * flagged-doc and hit totals. Integer counts only — hash-green. */
  private val x134KeywordScreen = GraftQuery(
    "x134_keyword_screen",
    (s, dir) => TextAnalysis.keywordScreen(
      Tables.documents(s, dir), "source", "text",
      Map(
        "engine" -> Seq("spark", "stream", "vector"),
        "relational" -> Seq("join", "filter", "scan"),
        "storage" -> Seq("table", "row", "column")),
      flagThreshold = 2)
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"), col("category")),
    Some("""WITH t AS (
        SELECT source,
          list_filter(string_split_regex(lower(text), '\s+'),
            w -> w <> '') AS toks
        FROM documents),
      c AS (
        SELECT source, 'engine' AS category,
          len(list_filter(toks, w -> w IN ('spark','stream','vector'))) AS hits
        FROM t
        UNION ALL
        SELECT source, 'relational',
          len(list_filter(toks, w -> w IN ('join','filter','scan')))
        FROM t
        UNION ALL
        SELECT source, 'storage',
          len(list_filter(toks, w -> w IN ('table','row','column')))
        FROM t)
      SELECT source, category,
        CAST(sum(CASE WHEN hits >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_docs_flagged,
        CAST(sum(hits) AS BIGINT) AS total_hits
      FROM c GROUP BY 1, 2 ORDER BY source, category"""))

  /** Hybrid-retrieval fusion ([[graft.ops.Similarity.rrfFuse]]):
    * reciprocal-rank fusion of the x76 BM25 lexical top-10 and the
    * x6 dense cosine top-10 (doc_id and vec_id share the id space in
    * the synthetic corpus). Ranks re-rank each list's ROUNDED scores
    * with an id tiebreak (deterministic given the hash-green x6/x76
    * score contracts); the fusion score is an exact two-term
    * rational sum. */
  private val x133RrfFusion = GraftQuery(
    "x133_rrf_fusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = TextAnalysis.bm25TopK(Tables.documents(s, dir),
        "doc_id", "text", Seq("vector", "stream", "query"), k = 10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("id"))))
      val emb = Tables.embeddings(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        query, k = 10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("vec_id"))))
        .withColumnRenamed("vec_id", "id")
      Similarity.rrfFuse(lex, dense, "id", "rank", k0 = 60, topK = 10)
        .orderBy(col("id"))
    },
    Some(s"""WITH $bm25ScoredSql,
      agg AS (
        SELECT doc_id, list_sum(list_sort(list(ts))) AS score
        FROM scored GROUP BY 1),
      lexsel AS (
        SELECT doc_id, round(score, 4) AS bm25 FROM agg
        QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 10),
      lex AS (
        SELECT doc_id AS id, CAST(row_number() OVER (
          ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
        FROM lexsel),
      q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
      cos AS (
        SELECT vec_id,
          ${cosineSql("embedding", "q.e", 10)} AS cosine
        FROM embeddings, q),
      dense AS (
        SELECT vec_id AS id, CAST(row_number() OVER (
          ORDER BY cosine DESC, vec_id) AS INT) AS dense_rank
        FROM cos
        QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id) <= 10),
      fused AS (
        SELECT coalesce(l.id, d.id) AS id, l.lex_rank, d.dense_rank,
          (CASE WHEN l.lex_rank IS NOT NULL
             THEN 1.0 / (60.0 + l.lex_rank) ELSE 0.0 END
           + CASE WHEN d.dense_rank IS NOT NULL
             THEN 1.0 / (60.0 + d.dense_rank) ELSE 0.0 END) AS s
        FROM lex l FULL OUTER JOIN dense d ON l.id = d.id)
      SELECT id, lex_rank, dense_rank, round(s, 6) AS rrf
      FROM fused
      QUALIFY row_number() OVER (ORDER BY s DESC, id) <= 10
      ORDER BY id"""))

  /** DuckDB replay of the x135 content-defined anchor predicate
    * (base-31 rolling hash over 8 chars, `% 16 = 0`) as the list of
    * anchor end positions of text `s`; `pos` is the char index
    * expression; continuation lines are indented by `indent` more
    * spaces. Shared by x135 and the x197–x200 anchor windows. */
  private def cdcAnchorsSql(pos: String, indent: Int = 0): String =
    s"""CASE WHEN length(text) >= 8 THEN
            list_filter(range(8, length(text)+1), i ->
              (CAST(list_sum(list_transform(range(0, 8), j ->
                ascii(substr(s, $pos, 1))
                  * ([27512614111,887503681,28629151,923521,
                      29791,961,31,1][j+1])))
               AS BIGINT) % 16) = 0)
          ELSE [] END""".replace("\n", "\n" + " " * indent)

  /** Content-defined chunking dedup profile ([[graft.ops.Dedup
    * .cdcDedupProfile]]): rolling-hash chunk boundaries (window 8,
    * mod 16), per-doc chunk counts and the corpus-shared-chunk
    * count. Hash-green: boundaries are exact integer arithmetic
    * (base-31 over ASCII < 2^53), chunk hashes are md5, outputs are
    * integer counts. The ASCII assumption is runtime-gated by x46's
    * `text_ascii_only` check (r11 verdict): a non-ASCII corpus fails
    * that named gate instead of hash-mismatching here. */
  private val x135CdcChunking = GraftQuery(
    "x135_cdc_chunking",
    (s, dir) => Dedup.cdcDedupProfile(
      Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some(s"""WITH b AS (
        SELECT doc_id, text AS s, length(text) AS n,
          list_sort(list_distinct(list_append(
            ${cdcAnchorsSql("i-7+j", 2)},
            length(text)))) AS bounds
        FROM documents),
      c AS (
        SELECT doc_id, s,
          unnest(list_transform(range(1, len(bounds)+1), k ->
            struct_pack(idx := k,
              st := CASE WHEN k = 1 THEN 0 ELSE bounds[k-1] END,
              en := bounds[k]))) AS ch
        FROM b),
      e AS (
        SELECT doc_id, ch.idx AS chunk_idx,
          ch.en - ch.st AS chunk_len,
          md5(substr(s, ch.st + 1, ch.en - ch.st)) AS h
        FROM c),
      dc AS (SELECT h, count(DISTINCT doc_id) AS nd FROM e GROUP BY h)
      SELECT doc_id, CAST(count(*) AS INT) AS n_chunks,
        CAST(max(chunk_len) AS INT) AS max_chunk_len,
        CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_shared_chunks
      FROM e JOIN dc USING (h)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Matryoshka truncation evaluation ([[graft.ops.Similarity
    * .truncationRecall]]): recall@10 of prefix-16-dim cosine ranking
    * vs the full 64-dim ranking, per probe query. Hash-green: both
    * rankings order ROUNDED cosines with id tiebreaks; outputs are
    * an integer overlap count and its exact /k quotient. */
  private val x136TruncationRecall = GraftQuery(
    "x136_truncation_recall",
    (s, dir) => Similarity.truncationRecall(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      nQueries = 8, dims = 16, k = 10)
      .orderBy(col("query_id")),
    Some(s"""WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 8),
      s AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
          ${cosineSql("e.embedding", "q.qv", 10)} AS cos_full,
          round(
            list_sum(list_transform(range(1, 17),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(e.embedding[1:16],
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv[1:16],
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos_trunc
        FROM embeddings e, q),
      r AS (
        SELECT query_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos_full DESC, neighbor_id) AS rf,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos_trunc DESC, neighbor_id) AS rt
        FROM s)
      SELECT query_id,
        CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_common,
        round(CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
          AS DOUBLE) / 10.0, 4) AS recall
      FROM r GROUP BY query_id ORDER BY query_id"""))

  /** Incremental profile merge ([[graft.ops.Profiling.batchStats]] /
    * [[graft.ops.Profiling.mergeStats]]): per-source sufficient
    * statistics computed on two doc_id-parity batches and FOLDED —
    * the oracle computes the global stats directly, so the pass
    * asserts merge == direct (exact integer algebra; the mean is one
    * rounded quotient of exact integers). */
  private val x137ProfileMerge = GraftQuery(
    "x137_profile_merge",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val halves = Seq(0, 1).map(p => Profiling.batchStats(
        docs.filter(pmod(col("doc_id"), lit(2)) === p), "source", "n_chars"))
      Profiling.mergeStats(halves)
        .select(col("grp").as("source"), col("n"),
          col("sum_v").as("sum_chars"), col("min_v").as("min_chars"),
          col("max_v").as("max_chars"),
          round(col("sum_v").cast("double") / col("n"), 4).as("mean_chars"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, CAST(count(n_chars) AS BIGINT) AS n,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(min(n_chars) AS BIGINT) AS min_chars,
        CAST(max(n_chars) AS BIGINT) AS max_chars,
        round(CAST(sum(n_chars) AS DOUBLE) / count(n_chars), 4)
          AS mean_chars
      FROM documents GROUP BY source ORDER BY source"""))

  /** Small-cell suppression report ([[graft.ops.Privacy
    * .suppressionReport]]): k=3 over (event_type, hour) release
    * cells — how many cells a release withholds and how many rows
    * that hides, per event type. Integer counts only. */
  private val x138SmallCellSuppression = GraftQuery(
    "x138_small_cell_suppression",
    (s, dir) => Privacy.suppressionReport(Tables.events(s, dir),
      Seq(col("event_type"), date_trunc("hour", col("ts"))),
      "event_type", k = 3)
      .orderBy(col("event_type")),
    Some("""WITH c AS (
        SELECT event_type,
          date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
          count(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_cells,
        CAST(sum(CASE WHEN n < 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_suppressed,
        CAST(sum(CASE WHEN n < 3 THEN n ELSE 0 END) AS BIGINT)
          AS rows_suppressed,
        CAST(sum(CASE WHEN n >= 3 THEN n ELSE 0 END) AS BIGINT)
          AS rows_released
      FROM c GROUP BY 1 ORDER BY event_type"""))

  /** Language-ID confusion matrix: the x5 stopword-vote classifier
    * evaluated against the corpus's labeled `lang` column — the eval
    * harness for the classifier the pipeline actually filters with.
    * Hash-green: the x5 vote replay (greatest over printf-encoded
    * arms) plus integer counts. */
  private val x139LangConfusion = GraftQuery(
    "x139_lang_confusion",
    (s, dir) => TextAnalysis.withLanguage(Tables.documents(s, dir))
      .groupBy(col("lang"), col("detected_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("detected_lang")),
    Some {
      val arms = graft.ops.Stopwords.all.toSeq.sortBy(_._1).map { case (lang, words) =>
        val list = words.map("'" + _ + "'").mkString(",")
        s"printf('%03d', len(list_intersect(t, [$list]))) || '$lang'"
      }.mkString(",\n        ")
      s"""WITH toks AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS t
        FROM documents),
      scored AS (SELECT doc_id, lang, greatest(
        $arms) AS v FROM toks)
      SELECT lang,
        CASE WHEN CAST(substr(v, 1, 3) AS INT) > 0 THEN substr(v, 4)
             ELSE 'und' END AS detected_lang,
        CAST(count(*) AS BIGINT) AS n_docs
      FROM scored GROUP BY 1, 2 ORDER BY lang, detected_lang"""
    })

  /** Time-decayed engagement ([[graft.ops.Funnel
    * .timeDecayedEngagement]]): per-user recency-weighted activity,
    * half-life 7 days anchored at 2024-01-31. Hash-green: round-9
    * pinned decay terms folded in event_id order (the x94/x97 keyed
    * sorted fold), final round 6. */
  private val x140TimeDecay = GraftQuery(
    "x140_time_decay_engagement",
    (s, dir) => Funnel.timeDecayedEngagement(Tables.events(s, dir),
      "user_id", "event_id", "ts", "value",
      lit("2024-01-31 00:00:00").cast("timestamp"), halfLifeDays = 7.0)
      .orderBy(col("user_id")),
    Some("""WITH t AS (
        SELECT user_id, event_id,
          round(value * pow(2.0,
            -(((epoch_us(TIMESTAMP '2024-01-31 00:00:00')
                - epoch_us(CAST(ts AS TIMESTAMP)))
               / 86400000000.0) / 7.0)), 9) AS v
        FROM events)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        round(list_sum(list_transform(
          list_sort(list(struct_pack(k := event_id, v := v))),
          s -> struct_extract(s, 'v'))), 6) AS score
      FROM t GROUP BY user_id ORDER BY user_id"""))

  /** Right-to-erasure propagation ([[graft.ops.Privacy.erase]]):
    * purge every row of the user_id%10==0 subject list from events,
    * then the post-purge per-type profile. Hash-green: anti-join +
    * integer counts (the audit-zero proof is OpsSpec's). */
  private val x141Erasure = GraftQuery(
    "x141_erasure",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val subjects = ev.select(col("user_id"))
        .filter(pmod(col("user_id"), lit(10)) === 0).distinct()
      Privacy.erase(ev, "user_id", subjects, "user_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events WHERE user_id % 10 <> 0
      GROUP BY 1 ORDER BY event_type"""))

  /** Differentially-private release ([[graft.ops.Privacy
    * .noisyCounts]]): seeded-Laplace ε=0.5 noise on per-type event
    * counts. Hash-green: the Knuth-scramble uniform is exact integer
    * arithmetic over the cell rank, the ln noise is round-9 pinned
    * before the add (the x97 libm rule), release rounded to 4. */
  private val x142NoisyCounts = GraftQuery(
    "x142_noisy_counts",
    (s, dir) => Privacy.noisyCounts(Tables.events(s, dir),
      Seq("event_type"), epsilon = 0.5, seed = 42L)
      .orderBy(col("event_type")),
    Some("""WITH c AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1),
      r AS (
        SELECT event_type, n,
          CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS rk
        FROM c),
      u AS (
        SELECT event_type, n,
          ((((rk + 42) % 2147483648) * 2654435761) % 4294967296 + 0.5)
            / 4294967296.0 AS uu
        FROM r),
      z AS (
        SELECT event_type, n,
          round((-1.0 / 0.5) * sign(uu - 0.5)
            * ln(1.0 - 2.0 * abs(uu - 0.5)), 9) AS noise
        FROM u)
      SELECT event_type, n, noise, round(n + noise, 4) AS noisy_n
      FROM z ORDER BY event_type"""))

  /** A/B conversion lift ([[graft.ops.Experiments.abConversionLift]]):
    * user_id-parity arms, purchase conversion, two-proportion pooled
    * z. Conversion = a high-value purchase (a plain purchase is
    * degenerate on this data: EVERY user has one, pp=1 divides by
    * zero in the pooled variance — the operator is honest and loud
    * about a broken metric). Hash-green: integer counts through a
    * fixed IEEE tree — division/multiply/sqrt are correctly-rounded
    * IEEE ops (no libm ulp exists to pin), rounded to 6 on output. */
  private val x143AbLift = GraftQuery(
    "x143_ab_lift",
    (s, dir) => Experiments.abConversionLift(Tables.events(s, dir),
      "user_id", pmod(col("user_id"), lit(2)),
      col("event_type") === "purchase" && col("value") > 180.0),
    Some("""WITH u AS (
        SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
          max(CASE WHEN event_type = 'purchase' AND value > 180.0
              THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1),
      a AS (
        SELECT
          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
          CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_ctrl,
          CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_treat
        FROM u)
      SELECT n_ctrl, n_treat, conv_ctrl, conv_treat,
        round(CAST(conv_ctrl AS DOUBLE) / n_ctrl, 6) AS p_ctrl,
        round(CAST(conv_treat AS DOUBLE) / n_treat, 6) AS p_treat,
        round(CAST(conv_treat AS DOUBLE) / n_treat
          - CAST(conv_ctrl AS DOUBLE) / n_ctrl, 6) AS lift,
        round((CAST(conv_treat AS DOUBLE) / n_treat
            - CAST(conv_ctrl AS DOUBLE) / n_ctrl)
          / sqrt((CAST(conv_ctrl + conv_treat AS DOUBLE) / (n_ctrl + n_treat))
            * (1.0 - CAST(conv_ctrl + conv_treat AS DOUBLE) / (n_ctrl + n_treat))
            * (1.0 / n_ctrl + 1.0 / n_treat)), 6) AS z_score
      FROM a"""))

  /** Dedup-candidate recall harness ([[graft.ops.Dedup.pairRecall]]):
    * what fraction of the exact trigram-Jaccard ≥0.7 pairs (the
    * x43/x127 verified stage, bounded) do the banded MinHash
    * candidates surface — the x121 "measure, don't guess" number for
    * the dedup family's numHashes/bands knobs. Rows-only by the twin
    * rule (the candidate side is a seeded sketch); OpsSpec pins that
    * a full-probe configuration measures recall 1.0. */
  private val x144DedupRecall = GraftQuery(
    "x144_dedup_recall",
    (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      val exact = trigramJaccardPairs(trigramFrame(docs), threshold = 0.7)
      val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      Dedup.pairRecall(exact, cands)
    },
    None)

  /** Zipf rank-frequency slope per source ([[graft.ops.TextAnalysis
    * .zipfSlope]]). Hash-green: integer counts, total-ordered ranks,
    * round-9 pinned ln values, rank-keyed sorted folds, one rounded
    * OLS quotient. */
  private val x145ZipfSlope = GraftQuery(
    "x145_zipf_slope",
    (s, dir) => TextAnalysis.zipfSlope(
      Tables.documents(s, dir), "source", "text", topK = 50)
      .withColumnRenamed("grp", "source")
      .orderBy(col("source")),
    Some("""WITH tok AS (
        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
        FROM documents),
      t2 AS (SELECT * FROM tok WHERE length(t) > 0),
      c AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cnt
            FROM t2 GROUP BY 1, 2),
      r AS (
        SELECT source, cnt,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY cnt DESC, t ASC) AS BIGINT) AS rk
        FROM c
        QUALIFY row_number() OVER (PARTITION BY source
          ORDER BY cnt DESC, t ASC) <= 50),
      v AS (
        SELECT source, rk,
          round(ln(CAST(rk AS DOUBLE)), 9) AS x,
          round(ln(CAST(cnt AS DOUBLE)), 9) AS y
        FROM r),
      s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
          list_sum(list_transform(list_sort(list(struct_pack(k := rk, v := x))),
            e -> struct_extract(e, 'v'))) AS sx,
          list_sum(list_transform(list_sort(list(struct_pack(k := rk, v := y))),
            e -> struct_extract(e, 'v'))) AS sy,
          list_sum(list_transform(list_sort(list(struct_pack(k := rk, v := x * y))),
            e -> struct_extract(e, 'v'))) AS sxy,
          list_sum(list_transform(list_sort(list(struct_pack(k := rk, v := x * x))),
            e -> struct_extract(e, 'v'))) AS sxx
        FROM v GROUP BY source)
      SELECT source, n_terms,
        round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 4)
          AS zipf_slope
      FROM s ORDER BY source"""))

  /** Governance release pipeline (composition of the round-8
    * operators): rule-chain gate ([[graft.ops.TextAnalysis
    * .filterVerdict]] == pass) → keyword screen (max category hits
    * < 4) → exact dedup keep-first → per-source release counts.
    * Hash-green: every stage is integer/string logic. */
  private val x146ReleasePipeline = GraftQuery(
    "x146_release_pipeline",
    (s, dir) => {
      val cats = Map(
        "engine" -> Seq("spark", "stream", "vector"),
        "relational" -> Seq("join", "filter", "scan"))
      val gated = Tables.documents(s, dir)
        .filter(TextAnalysis.filterVerdict(col("text")) === "pass")
        .filter(TextAnalysis.keywordMaxHits(col("text"), cats) < 4)
      Dedup.exactKeepFirst(gated, "doc_id", "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("n_tokens"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, source, text,
          list_filter(string_split_regex(lower(text), '\s+'),
            w -> w <> '') AS tk
        FROM documents),
      gated AS (
        SELECT doc_id, source, text
        FROM toks
        WHERE NOT (len(tk) < 25) AND NOT (len(tk) > 90)
          AND NOT (len(list_distinct(tk)) * 100 < len(tk) * 35)
          AND NOT (len(list_filter(tk, w -> w IN ('the','a','of','and',
            'to','in','is','that','it','for','on','with','as','at',
            'by','this'))) * 1000 < len(tk) * 20)
          AND greatest(
            len(list_filter(tk, w -> w IN ('spark','stream','vector'))),
            len(list_filter(tk, w -> w IN ('join','filter','scan')))) < 4),
      survivors AS (
        SELECT * FROM gated
        QUALIFY row_number() OVER (PARTITION BY md5(text)
          ORDER BY doc_id) = 1)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM survivors GROUP BY source ORDER BY source"""))

  /** Blocked fuzzy entity resolution ([[graft.ops.Linkage
    * .blockedBestMatch]]): a deterministically-dirtied catalog (each
    * part name loses the last character of its second word — the
    * OCR/typo shape) is re-linked to the canonical name table by
    * token blocking + normalized Levenshtein best-match. Hash-green:
    * the similarity is a rational of two integers rounded at 4, the
    * assignment tie-break is total (sim DESC, canonical id ASC) —
    * the x95 levenshtein-replay precedent. The spec pins 100%
    * re-link accuracy on this perturbation. */
  private val x147EntityResolution = GraftQuery(
    "x147_entity_resolution",
    (s, dir) => {
      val ents = Tables.part(s, dir)
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).cast("long").as("ent_id"))
      val w1 = element_at(split(col("name"), " "), 1)
      val w2 = element_at(split(col("name"), " "), 2)
      val dirty = ents.select(col("ent_id").as("d_id"),
        concat_ws(" ", w1, w2.substr(lit(1), length(w2) - 1)).as("d_name"))
      Linkage.blockedBestMatch(dirty, ents,
          probeId = "d_id", probeName = "d_name",
          canonId = "ent_id", canonName = "name")
        .orderBy(col("probe_id"))
    },
    Some("""WITH ents AS (
        SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS ent_id
        FROM part GROUP BY 1),
      dirty AS (
        SELECT ent_id AS probe_id,
          string_split(name, ' ')[1] || ' ' ||
          substr(string_split(name, ' ')[2], 1,
            length(string_split(name, ' ')[2]) - 1) AS probe_name
        FROM ents),
      lt AS (SELECT probe_id, probe_name,
          unnest(list_distinct(string_split(probe_name, ' '))) AS tok
        FROM dirty),
      rt AS (SELECT ent_id, name,
          unnest(list_distinct(string_split(name, ' '))) AS tok
        FROM ents),
      cand AS (SELECT DISTINCT l.probe_id, l.probe_name, r.ent_id, r.name
        FROM lt l JOIN rt r USING (tok)),
      scored AS (SELECT probe_id, probe_name, ent_id, name,
          round(1.0 - CAST(levenshtein(probe_name, name) AS DOUBLE)
            / greatest(length(probe_name), length(name)), 4) AS sim
        FROM cand)
      SELECT probe_id, probe_name, ent_id AS matched_id,
        name AS matched_name, sim
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY probe_id
        ORDER BY sim DESC, ent_id) = 1
      ORDER BY probe_id"""))

  /** Bloom semi-join reduction ([[graft.ops.Joins.bloomReducedJoin]]):
    * lineitem joined to the top-price order slice with the big side
    * pre-filtered by a Bloom filter of the qualifying order keys
    * BEFORE the join's exchange — the explicit runtime-filter shape
    * for selective big-big joins. EXACT despite the sketch (false
    * positives die in the equi-join), so it oracles as the plain
    * join; integer-exact measures (count, integral quantity sum)
    * keep the hash safe. */
  private val x148BloomJoin = GraftQuery(
    "x148_bloom_join",
    (s, dir) => {
      val big = Tables.lineitem(s, dir)
      val small = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 450000)
      Joins.bloomReducedJoin(big, small, "l_orderkey", "o_orderkey",
          expectedKeys = 20000)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
      FROM lineitem l
      JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
        ON l.l_orderkey = o.o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** SCD Type-2 dimension build ([[graft.ops.History.scd2History]]):
    * each user's event_type change log collapsed into validity
    * intervals — consecutive same-type rows merge, each version gets
    * `[valid_from, valid_to)` and an `is_current` flag. One shuffle on
    * the key; the lag/row_number/lead trio shares its exchange.
    * Hash-green: timestamps are exact micros on both sides, version
    * arithmetic is integral. */
  private val x149Scd2History = GraftQuery(
    "x149_scd2_history",
    (s, dir) => History.scd2History(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type")
      .orderBy(col("user_id"), col("version")),
    Some("""WITH ev AS (
        SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS t,
               event_id AS tie, event_type AS attr
        FROM events),
      chg AS (
        SELECT k, t, tie, attr,
          lag(attr) OVER (PARTITION BY k ORDER BY t, tie) AS prev_attr
        FROM ev),
      vers AS (
        SELECT k, t, tie, attr FROM chg
        WHERE prev_attr IS NULL OR prev_attr <> attr)
      SELECT k AS user_id,
        CAST(row_number() OVER w AS BIGINT) AS version,
        t AS valid_from,
        lead(t) OVER w AS valid_to,
        CAST(CASE WHEN lead(t) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
          AS is_current,
        attr AS event_type
      FROM vers
      WINDOW w AS (PARTITION BY k ORDER BY t, tie)
      ORDER BY user_id, version"""))

  /** Hierarchical rollup report (`rollup` + `grouping`): corpus counts
    * at (source, lang), per-source subtotal, and grand total in one
    * pass — Spark expands the grouping sets map-side, so the plan is
    * ONE aggregate over one scan, not three unioned queries. The
    * grouping() bits disambiguate real values from subtotal rows
    * (robust even if a dimension ever carries literal NULLs). */
  private val x150RollupReport = GraftQuery(
    "x150_rollup_report",
    (s, dir) => Tables.documents(s, dir)
      .rollup(col("source"), col("lang"))
      // grouping() is only resolvable inside the rollup's own agg list
      .agg(
        when(grouping(col("source")) === 1, lit("ALL"))
          .otherwise(col("source")).as("source_lvl"),
        when(grouping(col("lang")) === 1, lit("ALL"))
          .otherwise(col("lang")).as("lang_lvl"),
        (grouping(col("source")) * 2 + grouping(col("lang")))
          .cast("int").as("lvl"),
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(col("source_lvl"), col("lang_lvl"), col("lvl"),
        col("n_docs"), col("sum_chars"))
      .orderBy(col("lvl"), col("source_lvl"), col("lang_lvl")),
    Some("""SELECT
        CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END
          AS source_lvl,
        CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang_lvl,
        CAST(GROUPING(source) * 2 + GROUPING(lang) AS INT) AS lvl,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      GROUP BY ROLLUP(source, lang)
      ORDER BY lvl, source_lvl, lang_lvl"""))

  /** Pivot to a wide source × lang count matrix (`groupBy.pivot` with
    * an EXPLICIT value list — no driver-side distinct scan to discover
    * columns, so the plan is one aggregate; at 100 TB an implicit
    * pivot would first collect the domain). Missing cells coalesce
    * to 0. The oracle replays the pivot as conditional aggregation —
    * the ANSI equivalent Spark's pivot compiles to. */
  private val x151PivotMatrix = GraftQuery(
    "x151_pivot_matrix", {
      val langs = Seq("de", "en", "es", "fr", "zh")
      (s, dir) => Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .select(col("source") +:
          langs.map(l => coalesce(col(l), lit(0L)).cast("long").as(l)): _*)
        .orderBy(col("source"))
    },
    Some("""SELECT source,
        CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
      FROM documents GROUP BY 1 ORDER BY source"""))

  /** Classifier calibration curve
    * ([[graft.ops.Classifier.calibrationCurve]]): the x4 stopword
    * ratio as a deterministic [0,1] "quality score" vs the lang='en'
    * label, bucketed into deciles — volume, empirical positive rate,
    * mean predicted score, per-bucket Brier. Cross-row float sums are
    * doc_id-keyed sorted folds (the x94/x97 replay pattern);
    * `exact=false` is the constant-buffer production twin
    * (spec-asserted ≈). */
  private val x152Calibration = GraftQuery(
    "x152_calibration",
    (s, dir) => {
      val scored = TextAnalysis.withQualityMetrics(Tables.documents(s, dir))
        .select(col("doc_id"), col("stopword_ratio").as("score"),
          (col("lang") === "en").cast("int").as("label"))
      graft.ops.Classifier.calibrationCurve(
          scored, "doc_id", "score", "label", bins = 10)
        .orderBy(col("bucket"))
    },
    Some(s"""WITH scored AS (
        SELECT doc_id,
          round(CAST(len(list_intersect(string_split(lower(text), ' '),
              [${graft.ops.Stopwords.en.map("'" + _ + "'").mkString(",")}]))
            AS DOUBLE) / len(string_split(text, ' ')), 4) AS score,
          CAST(lang = 'en' AS INT) AS label
        FROM documents),
      b AS (
        SELECT doc_id, label, score,
          CAST(least(floor(score * 10), 9) AS INT) AS bucket
        FROM scored),
      agg AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(label) AS BIGINT) AS n_pos,
          round(list_sum(list_transform(
            list_sort(list(struct_pack(k := doc_id, v := score))),
            s -> struct_extract(s, 'v'))), 6) AS sum_score,
          round(list_sum(list_transform(
            list_sort(list(struct_pack(k := doc_id,
              v := (score - label) * (score - label)))),
            s -> struct_extract(s, 'v'))), 6) AS sum_sq_err
        FROM b GROUP BY 1)
      SELECT bucket, n, n_pos,
        round(n_pos / n, 6) AS frac_pos,
        round(sum_score / n, 6) AS mean_score,
        round(sum_sq_err / n, 6) AS brier
      FROM agg ORDER BY bucket"""))

  /** Inter-labeler agreement ([[graft.ops.Experiments.cohensKappa]]):
    * two heuristic quality raters (char-length rule vs token-count
    * rule) scored for chance-corrected agreement before either label
    * set trains anything. One conditional aggregate to a single row;
    * all floats derive from the integer confusion matrix through one
    * IEEE expression tree (the x143 determinism contract). */
  private val x153CohensKappa = GraftQuery(
    "x153_cohens_kappa",
    (s, dir) => Experiments.cohensKappa(Tables.documents(s, dir),
      raterA = col("n_chars") > 300,
      raterB = size(split(col("text"), " ")) > 50),
    Some("""WITH r AS (
        SELECT (n_chars > 300) AS a,
               (len(string_split(text, ' ')) > 50) AS b
        FROM documents),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00,
          CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
          CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
          CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11
        FROM r),
      p AS (
        SELECT n, n00, n01, n10, n11,
          (n00 + n11) / CAST(n AS DOUBLE) AS po,
          ((n10 + n11) / CAST(n AS DOUBLE)) * ((n01 + n11) / CAST(n AS DOUBLE))
            + (1.0 - (n10 + n11) / CAST(n AS DOUBLE))
            * (1.0 - (n01 + n11) / CAST(n AS DOUBLE)) AS pe
        FROM m)
      SELECT n, n00, n01, n10, n11, round(po, 6) AS po, round(pe, 6) AS pe,
        round(CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END, 6) AS kappa
      FROM p"""))

  /** Length-bucketed batch assignment
    * ([[graft.ops.Packing.bucketedBatches]]): sequences bucketed by
    * length band, ranked in-bucket, grouped into fixed-size batches;
    * per batch the padded length and waste fraction. One shuffle on
    * the bucket key; the batch aggregate reuses the window's
    * partitioning. Integer-exact except the final rounded ratio. */
  private val x154BucketedBatches = GraftQuery(
    "x154_bucketed_batches",
    (s, dir) => Packing.bucketedBatches(
        Tables.documents(s, dir), "doc_id", "n_chars",
        bucketWidth = 100, batchSize = 8)
      .orderBy(col("bucket"), col("batch_ix")),
    Some("""WITH b AS (
        SELECT doc_id, n_chars,
          CAST(n_chars // 100 AS BIGINT) AS bucket,
          row_number() OVER (PARTITION BY n_chars // 100
            ORDER BY n_chars, doc_id) AS rn
        FROM documents),
      g AS (
        SELECT bucket, CAST((rn - 1) // 8 AS BIGINT) AS batch_ix,
          CAST(count(*) AS BIGINT) AS n_seqs,
          CAST(max(n_chars) AS BIGINT) AS padded_len,
          CAST(sum(n_chars) AS BIGINT) AS sum_len
        FROM b GROUP BY 1, 2)
      SELECT bucket, batch_ix, n_seqs, padded_len, sum_len,
        round(1.0 - CAST(sum_len AS DOUBLE)
          / CAST(n_seqs * padded_len AS DOUBLE), 6) AS waste_frac
      FROM g ORDER BY bucket, batch_ix"""))

  /** First/last-touch attribution
    * ([[graft.ops.Funnel.touchAttribution]]): every purchase
    * annotated with the user's first and most recent click/view
    * strictly before it — conditional ignore-nulls carries over ONE
    * user-keyed window, no join back to the touch stream. Hash-green:
    * timestamps are exact micros, the (ts, event_id) order is total. */
  private val x155TouchAttribution = GraftQuery(
    "x155_touch_attribution",
    (s, dir) => Funnel.touchAttribution(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type",
        isTouch = col("event_type").isin("click", "view"),
        isConversion = col("event_type") === "purchase")
      .orderBy(col("user_id"), col("ts"), col("event_id")),
    Some("""WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events),
      ann AS (
        SELECT user_id, ts, event_id, event_type,
          first_value(CASE WHEN event_type IN ('click','view') THEN ts END
            IGNORE NULLS) OVER w AS first_touch_ts,
          first_value(CASE WHEN event_type IN ('click','view') THEN event_type
            END IGNORE NULLS) OVER w AS first_touch_type,
          last_value(CASE WHEN event_type IN ('click','view') THEN ts END
            IGNORE NULLS) OVER w AS last_touch_ts,
          last_value(CASE WHEN event_type IN ('click','view') THEN event_type
            END IGNORE NULLS) OVER w AS last_touch_type
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT user_id, ts, event_id, event_type,
        first_touch_ts, first_touch_type, last_touch_ts, last_touch_type
      FROM ann WHERE event_type = 'purchase'
      ORDER BY user_id, ts, event_id"""))

  /** Unicode NFC canonicalization
    * ([[graft.functions.UnicodeNormalize]], the native-Expression
    * tier — Spark ships no normalizer builtin): decomposed text
    * (every 'a' turned into a + U+0301 combining acute, the reshape
    * replayed in both engines) is NFC-composed back; per doc the
    * decomposed/composed codepoint lengths and the md5 of the
    * canonical form. Hash-green because NFC is Unicode-standardized:
    * DuckDB's nfc_normalize produces the identical byte sequence. */
  private val x156UnicodeNormalize = GraftQuery(
    "x156_unicode_normalize",
    (s, dir) => {
      val dec = regexp_replace(col("text"), "a", "a\u0301")
      val nfc = graft.functions.TextNormalize.unicodeNormalize(dec)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(dec).cast("long").as("len_decomposed"),
          length(nfc).cast("long").as("len_nfc"),
          md5(nfc).as("md5_nfc"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH dec AS (
        SELECT doc_id, regexp_replace(text, 'a', 'a' || chr(769), 'g') AS d
        FROM documents)
      SELECT doc_id,
        CAST(length(d) AS BIGINT) AS len_decomposed,
        CAST(length(nfc_normalize(d)) AS BIGINT) AS len_nfc,
        md5(nfc_normalize(d)) AS md5_nfc
      FROM dec ORDER BY doc_id"""))

  /** DEFLATE compression-ratio quality signal
    * ([[graft.functions.DeflateRatio]], Gopher-style redundancy
    * filter): per-doc deflate(bytes)/bytes — sees SEQUENTIAL
    * redundancy (LZ77) that unigram entropy misses. DEFLATE output is
    * implementation-defined → rows-only by design; x80 char entropy
    * is the hash-green distributional cousin and OpsSpec pins the
    * semantics (repetition compresses, random text doesn't, ratio
    * ordering). */
  private val x157CompressionRatio = GraftQuery(
    "x157_compression_ratio",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        round(graft.functions.TextNormalize.deflateRatio(col("text")), 4)
          .as("deflate_ratio"))
      .orderBy(col("doc_id")),
    None)

  /** Fixed-grid resampling with forward fill
    * ([[graft.ops.AsOf.resampleFfill]]): every user's event values
    * regularized onto a 6-hour grid — last observation per slot (a
    * map-side-combinable struct max, no per-slot rank window), empty
    * slots carry forward. The grid explodes from one |users|-row span
    * frame. Hash-green: values pass through bit-unchanged, slots are
    * integer epoch arithmetic. */
  private val x158ResampleFfill = GraftQuery(
    "x158_resample_ffill",
    (s, dir) => AsOf.resampleFfill(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value", stepSeconds = 21600L)
      .orderBy(col("user_id"), col("slot_ts")),
    Some("""WITH ev AS (
        SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t, event_id AS eid,
          value AS v,
          epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS slot
        FROM events),
      sv AS (
        SELECT u, slot, v AS slot_value FROM (
          SELECT u, slot, v, row_number() OVER (
            PARTITION BY u, slot ORDER BY t DESC, eid DESC) AS rn
          FROM ev) WHERE rn = 1),
      span AS (
        SELECT u, min(slot) AS lo, max(slot) AS hi FROM ev GROUP BY u),
      grid AS (
        SELECT u, unnest(generate_series(lo, hi)) AS slot FROM span),
      j AS (
        SELECT g.u, g.slot, sv.slot_value
        FROM grid g LEFT JOIN sv ON g.u = sv.u AND g.slot = sv.slot)
      SELECT u AS user_id,
        make_timestamp(slot * 21600000000) AS slot_ts,
        CAST(slot_value IS NOT NULL AS INT) AS observed,
        last_value(slot_value IGNORE NULLS) OVER (
          PARTITION BY u ORDER BY slot) AS value_ffill
      FROM j ORDER BY user_id, slot_ts"""))

  /** Span-corruption mask plan ([[graft.ops.Packing.maskPlan]],
    * T5-style): deterministic seedless masking schedule from pure
    * 64-bit integer arithmetic — per doc the span starts, covered
    * tokens, maximal runs and mask ratio. Entirely in-row (HOFs over
    * the token-index range, zero shuffle); the same doc masks
    * identically at any partitioning. Hash-green: both engines run
    * the identical integer recurrence. */
  private val x159MaskPlan = GraftQuery(
    "x159_mask_plan",
    (s, dir) => Packing.maskPlan(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
      m AS (
        SELECT doc_id, n_tokens,
          list_transform(range(0, n_tokens), j ->
            len(list_filter(
              range(CASE WHEN j - 2 > 0 THEN j - 2 ELSE 0 END, j + 1),
              k -> ((((doc_id * 131 + k) % 1000000007) * 2654435761)
                % 4294967296) % 20 = 0)) > 0) AS masked,
          len(list_filter(range(0, n_tokens),
            k -> ((((doc_id * 131 + k) % 1000000007) * 2654435761)
              % 4294967296) % 20 = 0)) AS n_starts
        FROM t)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_starts AS BIGINT) AS n_starts,
        CAST(len(list_filter(masked, x -> x)) AS BIGINT) AS n_masked,
        CAST(len(list_filter(range(0, len(masked)), j ->
          masked[j + 1] AND (j = 0 OR NOT masked[j]))) AS BIGINT) AS n_spans,
        round(CAST(len(list_filter(masked, x -> x)) AS DOUBLE)
          / n_tokens, 4) AS mask_ratio
      FROM m ORDER BY doc_id"""))

  /** EWMA ingestion-volume baseline
    * ([[graft.ops.Funnel.ewmaDailyCounts]]): per event type, each
    * day's count against the decay-weighted mean of its trailing
    * observed days, plus the deviation — the drift monitor for a
    * recurring feed. The event stream reduces once to (type, day);
    * the triangular weighting runs on that bounded frame with
    * 9-decimal-pinned terms through day-keyed sorted folds (the x140
    * replay discipline). */
  private val x160EwmaDaily = GraftQuery(
    "x160_ewma_daily",
    (s, dir) => Funnel.ewmaDailyCounts(
        Tables.events(s, dir), "event_type", "ts", decay = 0.7)
      .orderBy(col("event_type"), col("day")),
    Some(s"""WITH daily AS (
        SELECT event_type AS et,
          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      wt AS (SELECT CAST([${Funnel.ewmaWeightTable(0.7).mkString(", ")}]
          AS DOUBLE[]) AS tab),
      terms AS (
        SELECT a.et, a.day, a.n, b.day AS day_b,
          round(b.n * (CASE WHEN a.day - b.day < len(tab)
            THEN tab[CAST(a.day - b.day AS INT) + 1]
            ELSE CAST(0 AS DOUBLE) END), 9) AS term,
          (CASE WHEN a.day - b.day < len(tab)
            THEN tab[CAST(a.day - b.day AS INT) + 1]
            ELSE CAST(0 AS DOUBLE) END) AS w
        FROM daily a JOIN daily b ON a.et = b.et AND b.day <= a.day, wt),
      agg AS (
        SELECT et, day, max(n) AS n,
          list_sum(list_transform(
            list_sort(list(struct_pack(k := day_b, v := term))),
            s -> struct_extract(s, 'v'))) AS st,
          list_sum(list_transform(
            list_sort(list(struct_pack(k := day_b, v := w))),
            s -> struct_extract(s, 'v'))) AS sw
        FROM terms GROUP BY 1, 2)
      SELECT et AS event_type, day, n,
        round(st / sw, 6) AS ewma,
        round(n - round(st / sw, 6), 6) AS deviation
      FROM agg ORDER BY event_type, day"""))

  /** EXACT set-similarity self-join via prefix filtering
    * ([[graft.ops.Dedup.prefixFilterJaccardPairs]], Bayardo 2007 /
    * PPJoin): every trigram-set pair at J ≥ 0.7, with the
    * completeness guarantee the MinHash candidates (x8/x10/x42) trade
    * away — rare-first prefixes must collide for any qualifying pair.
    * Thresholds live in TENTHS so both the prefix length and the
    * verify test are pure integer arithmetic (no float boundary).
    * Hash-green: the oracle replays the frequency ordering, prefix
    * slice, length filter and integer verify. */
  private val x161PrefixFilterJoin = GraftQuery(
    "x161_prefix_filter_join",
    (s, dir) => Dedup.prefixFilterJaccardPairs(
        Tables.documents(s, dir), "doc_id", "text",
        thresholdTenths = 7, shingleSize = 3)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH tok AS (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            ELSE list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')) END)) AS w
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
              FROM documents)),
      df AS (SELECT w, count(*) AS d FROM tok GROUP BY w),
      sorted AS (
        SELECT doc_id, list(w ORDER BY d, w) AS toks, count(*) AS sz
        FROM tok JOIN df USING (w) GROUP BY doc_id),
      pre AS (
        SELECT doc_id, sz,
          unnest(toks[1 : CAST(sz - (sz * 7 + 9) // 10 + 1 AS INT)]) AS w
        FROM sorted),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pre a JOIN pre b ON a.w = b.w AND a.doc_id < b.doc_id
          AND b.sz * 10 >= a.sz * 7 AND a.sz * 10 >= b.sz * 7),
      ver AS (
        SELECT id_a, id_b,
          len(list_intersect(sa.toks, sb.toks)) AS inter,
          sa.sz + sb.sz - len(list_intersect(sa.toks, sb.toks)) AS uni
        FROM cand
        JOIN sorted sa ON sa.doc_id = cand.id_a
        JOIN sorted sb ON sb.doc_id = cand.id_b)
      SELECT id_a, id_b,
        round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
      FROM ver WHERE inter * 10 >= uni * 7
      ORDER BY id_a, id_b"""))

  /** Inter-arrival burstiness per user
    * ([[graft.ops.Funnel.interArrivalStats]], Goh–Barabási B):
    * gap sums are exact integer seconds, σ/μ/B derive through one
    * fixed IEEE tree (the x143 contract) — hash-green. One user-keyed
    * window + an aggregate riding the same partitioning. */
  private val x162Burstiness = GraftQuery(
    "x162_burstiness",
    (s, dir) => Funnel.interArrivalStats(Tables.events(s, dir),
        "user_id", "ts", "event_id")
      .orderBy(col("user_id")),
    Some("""WITH ev AS (
        SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t, event_id AS eid
        FROM events),
      g AS (
        SELECT u,
          (epoch_us(t) - epoch_us(lag(t) OVER (
            PARTITION BY u ORDER BY t, eid))) // 1000000 AS gap_s
        FROM ev),
      agg AS (
        SELECT u, CAST(count(*) AS BIGINT) AS n_events,
          CAST(count(gap_s) AS BIGINT) AS n_gaps,
          CAST(sum(gap_s) AS BIGINT) AS sg,
          CAST(sum(gap_s * gap_s) AS BIGINT) AS ssq
        FROM g GROUP BY u HAVING count(gap_s) >= 2),
      m AS (
        SELECT u, n_events, n_gaps,
          CAST(sg AS DOUBLE) / n_gaps AS mean,
          sqrt(greatest(CAST(ssq AS DOUBLE) / n_gaps
            - (CAST(sg AS DOUBLE) / n_gaps) * (CAST(sg AS DOUBLE) / n_gaps),
            0.0)) AS sd
        FROM agg)
      SELECT u AS user_id, n_events, n_gaps,
        round(mean, 2) AS mean_gap_s, round(sd, 2) AS sd_gap_s,
        round(CASE WHEN sd + mean > 0 THEN (sd - mean) / (sd + mean) END, 6)
          AS burstiness
      FROM m ORDER BY user_id"""))

  /** Footer-metadata profiling ([[graft.ops.Profiling.metadataStats]]):
    * COUNT/MIN/MAX answered from parquet row-group statistics via
    * DSv2 aggregate pushdown — the scan reads footers, not data pages
    * (`PushedAggregation` in the plan, spec-asserted), so this costs
    * one footer read per file at 100 TB. Hash-green: footer stats
    * equal the data stats by parquet's own contract. */
  private val x163MetadataStats = GraftQuery(
    "x163_metadata_stats",
    (s, dir) => Profiling.metadataStats(
      s, s"$dir/documents.parquet", Seq("doc_id", "n_chars")),
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(min(doc_id) AS BIGINT) AS min_doc_id,
        CAST(max(doc_id) AS BIGINT) AS max_doc_id,
        CAST(min(n_chars) AS BIGINT) AS min_n_chars,
        CAST(max(n_chars) AS BIGINT) AS max_n_chars
      FROM documents"""))

  /** Per-dimension embedding statistics
    * ([[graft.ops.Similarity.dimensionStats]]): the feature-scaling
    * profile (mean/std/min/max per coordinate) before any
    * standardization/whitening, and the drift monitor for an
    * embedding-model swap. Cross-row sums are id-keyed sorted folds
    * (x110 discipline; `exact=false` is the constant-buffer twin).
    * |dims| output rows regardless of corpus size. */
  private val x164DimensionStats = GraftQuery(
    "x164_dimension_stats",
    (s, dir) => Similarity.dimensionStats(
        Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy(col("dim")),
    Some("""WITH comps AS (
        SELECT vec_id AS id,
          unnest(range(1, len(embedding) + 1)) AS dim,
          unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        FROM embeddings),
      agg AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
          list_sum(list_transform(
            list_sort(list(struct_pack(k := id, v := v))),
            s -> struct_extract(s, 'v'))) AS sv,
          list_sum(list_transform(
            list_sort(list(struct_pack(k := id, v := v * v))),
            s -> struct_extract(s, 'v'))) AS ssq,
          min(v) AS mn, max(v) AS mx
        FROM comps GROUP BY dim)
      SELECT CAST(dim AS BIGINT) AS dim, n,
        round(sv / n, 6) AS mean,
        round(sqrt(greatest(ssq / n - (sv / n) * (sv / n), 0.0)), 6) AS std,
        round(mn, 6) AS min_v, round(mx, 6) AS max_v
      FROM agg ORDER BY dim"""))

  /** DuckDB 30-minute sessions `s(u, t, eid, et, sid)` over events
    * in (ts, event_id) order — the x165 session CTEs, reused by x181. */
  private val eventSessionsSql =
    """ev AS (
        SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t,
          event_id AS eid, event_type AS et
        FROM events),
      f AS (
        SELECT u, t, eid, et,
          CASE WHEN lag(t) OVER w IS NULL
            OR epoch_us(t) - epoch_us(lag(t) OVER w) > 1800000000
            THEN 1 ELSE 0 END AS ns
        FROM ev WINDOW w AS (PARTITION BY u ORDER BY t, eid)),
      s AS (
        SELECT u, t, eid, et,
          sum(ns) OVER (PARTITION BY u ORDER BY t, eid) AS sid
        FROM f)"""

  /** Top-k session paths ([[graft.ops.Sessionize.topSessionPaths]]):
    * k-step behavioral patterns via ANSI-replayable gaps-and-islands
    * sessions (lag flag + running sum share one user exchange; the
    * session collect groups on a superset of that partitioning —
    * no second shuffle; top-k is TakeOrdered). Total (count DESC,
    * path) order makes the k-cut deterministic. */
  private val x165SessionPaths = GraftQuery(
    "x165_session_paths",
    (s, dir) => Sessionize.topSessionPaths(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type"),
    Some(s"""WITH $eventSessionsSql,
      p AS (
        SELECT u, sid,
          array_to_string(list(et ORDER BY t, eid)[1:5], '>') AS path
        FROM s GROUP BY u, sid),
      c AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        FROM p GROUP BY path)
      SELECT path, n_sessions FROM c
      ORDER BY n_sessions DESC, path LIMIT 20"""))

  /** Exact per-language ROC-AUC ([[graft.ops.Classifier.aucByGroup]])
    * of the x4 stopword score against the lang='en' label — the
    * discrimination metric next to x152's calibration. Mann-Whitney
    * tie-averaged ranks from integer counts: every term is an exact
    * 0.5-multiple, so the sum is bit-deterministic in ANY aggregation
    * order — no sorted fold needed. Hash-green. */
  private val x166ClassifierAuc = GraftQuery(
    "x166_classifier_auc",
    (s, dir) => {
      val scored = TextAnalysis.withQualityMetrics(Tables.documents(s, dir))
        .select(col("source"), col("stopword_ratio").as("score"),
          (col("lang") === "en").cast("int").as("label"))
      graft.ops.Classifier.aucByGroup(scored, "source", "score", "label")
        .orderBy(col("source"))
    },
    Some(s"""WITH scored AS (
        SELECT source,
          round(CAST(len(list_intersect(string_split(lower(text), ' '),
              [${graft.ops.Stopwords.en.map("'" + _ + "'").mkString(",")}]))
            AS DOUBLE) / len(string_split(text, ' ')), 4) AS score,
          CAST(lang = 'en' AS INT) AS label
        FROM documents),
      per_score AS (
        SELECT source, score AS s, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(label) AS BIGINT) AS pos
        FROM scored GROUP BY 1, 2),
      ranked AS (
        SELECT source, cnt, pos,
          CAST(sum(cnt) OVER (PARTITION BY source ORDER BY s) AS DOUBLE)
            - CAST(cnt - 1 AS DOUBLE) / 2 AS avg_rank
        FROM per_score),
      agg AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS n_pos,
          sum(CAST(pos AS DOUBLE) * avg_rank) AS rank_sum_pos
        FROM ranked GROUP BY 1)
      SELECT source, n, n_pos,
        round(CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
          (rank_sum_pos
            - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2)
          / (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)) END, 6)
          AS auc
      FROM agg ORDER BY source"""))

  /** HITS hubs & authorities ([[graft.ops.Graph.hits]]) over the
    * deterministic synthetic citation graph (x78's modular-arithmetic
    * family, different multiplier — no dangling nodes). Oracle: every
    * half-round unrolled as MATERIALIZED CTEs by `rounds` — per-node sorted
    * contribution folds (the x78 rule), keyed sorted global
    * normalizer folds (the x94 pattern), and a round-9 pin at every
    * half-round boundary (the x97 iterative-float discipline) so the
    * two engines feed bit-identical inputs into each round. */
  private val x167Hits = {
    val iters = 2
    // one half-round: scores `name` from the previous half-round
    // `from`, summed along edges from their `on` end to their `out` end
    def half(name: String, from: String, out: String, on: String): String = {
      val al = from.take(1)
      s"""${name}r AS MATERIALIZED (
        SELECT e.$out AS id, list_sum(list_sort(list($al.s))) AS raw
        FROM edges e JOIN $from $al ON e.$on = $al.id GROUP BY 1),
      ${name}t AS MATERIALIZED (
        SELECT list_sum(list_transform(
          list_sort(list(struct_pack(k := id, v := raw))),
          x -> struct_extract(x, 'v'))) AS total FROM ${name}r),
      $name AS MATERIALIZED (
        SELECT nodes.id, round(CASE WHEN total > 0
            THEN COALESCE(raw, 0.0) / total ELSE 0.0 END, 9) AS s
        FROM nodes LEFT JOIN ${name}r USING (id) CROSS JOIN ${name}t)"""
    }
    def rounds(n: Int): String = (1 to n).flatMap(r =>
      Seq(half(s"a$r", s"h${r - 1}", "dst", "src"), half(s"h$r", s"a$r", "src", "dst")))
      .mkString(",\n      ")
    GraftQuery(
      "x167_hits",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"))
        val cnt = broadcast(docs.agg(count(lit(1)).as("n")))
        val edges = docs.crossJoin(cnt)
          .select(col("doc_id").as("src"),
            explode(sequence(lit(1), lit(3))).as("k"), col("n"))
          .select(col("src"),
            pmod(col("src") * 17 + col("k"), col("n")).as("dst"))
        graft.ops.Graph.hits(edges,
            nodes = Some(docs.select(col("doc_id").as("id"))), iters = iters)
          .select(col("id").as("doc_id"), col("hub"), col("auth"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH cnt AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
      edges AS MATERIALIZED (
        SELECT doc_id AS src, (doc_id * 17 + k) % n AS dst
        FROM documents CROSS JOIN cnt
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
      h0 AS MATERIALIZED (SELECT id, 1.0 AS s FROM nodes),
      ${rounds(iters)}
      SELECT h$iters.id AS doc_id, h$iters.s AS hub, a$iters.s AS auth
      FROM h$iters JOIN a$iters ON h$iters.id = a$iters.id ORDER BY doc_id"""))
  }

  /** Stratified k-fold CV assignment
    * ([[graft.ops.Sampling.stratifiedKfold]]), reported as per
    * (lang, fold) size and length profile — the balance the operator
    * guarantees (±1 rows per fold within a stratum, matched length
    * means). Oracle: the two-phase bucketed rank replayed as one
    * plain per-stratum row_number over the identical Knuth hash
    * (buckets are contiguous hash ranges, so the decomposition IS
    * the direct rank); integer sums, one division, round 6. */
  private val x168KfoldAssign = GraftQuery(
    "x168_kfold_assign",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("lang").isNotNull && col("doc_id").isNotNull)
      graft.ops.Sampling.stratifiedKfold(docs, "lang", "doc_id", k = 5)
        .groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .select(col("lang"), col("fold"), col("n"), col("sum_chars"),
          round(col("sum_chars").cast("double") / col("n"), 6)
            .as("mean_chars"))
        .orderBy(col("lang"), col("fold"))
    },
    Some("""WITH assigned AS (
        SELECT lang, n_chars,
          CAST((row_number() OVER (PARTITION BY lang
            ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
              doc_id) - 1) % 5 AS INT) AS fold
        FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL)
      SELECT lang, fold, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
      FROM assigned GROUP BY 1, 2 ORDER BY lang, fold"""))

  /** DuckDB corpus bigram counts `c(w1, w2, c12)` over non-empty
    * lowercased whitespace tokens — the x169/x173 replay base. */
  private val bigramCountsSql =
    """toks AS (
        SELECT list_filter(string_split_regex(lower(text), '\s+'),
          t -> length(t) > 0) AS ts
        FROM documents),
      grams AS (
        SELECT unnest(list_transform(range(1, len(ts)),
          i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS g
        FROM toks WHERE len(ts) >= 2),
      c AS (
        SELECT g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
        FROM grams GROUP BY 1, 2)"""

  /** Interpolated Kneser–Ney bigram LM
    * ([[graft.ops.TextAnalysis.kneserNeyBigrams]]) — the production
    * LM-smoothing twin of x31's add-one toy. Oracle: identical
    * integer count marginals and the identically-parenthesized
    * division-only float tree (no float sums over data — the x166
    * determinism class), total (n DESC, w1, w2) top-k cut. */
  private val x169KneserNey = GraftQuery(
    "x169_kneser_ney",
    (s, dir) => TextAnalysis.kneserNeyBigrams(
        Tables.documents(s, dir), "text", discount = 0.75, k = 30)
      .orderBy(col("n").desc, col("w1"), col("w2")),
    Some(s"""WITH $bigramCountsSql,
      lw AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
          CAST(count(*) AS BIGINT) AS n1fw
        FROM c GROUP BY 1),
      rw AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM c GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n1all FROM c)
      SELECT w1, w2, c12 AS n,
        round(CAST(n1bw AS DOUBLE) / CAST(n1all AS DOUBLE), 6) AS p_cont,
        round(greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0)
            / CAST(c1 AS DOUBLE)
          + ((0.75 * CAST(n1fw AS DOUBLE)) / CAST(c1 AS DOUBLE))
            * (CAST(n1bw AS DOUBLE) / CAST(n1all AS DOUBLE)), 6) AS p_kn
      FROM c JOIN lw USING (w1) JOIN rw USING (w2) CROSS JOIN tot
      ORDER BY n DESC, w1, w2 LIMIT 30"""))

  /** Per-type daily-volume OLS trend
    * ([[graft.ops.Funnel.volumeTrend]]) — direction + linearity next
    * to x160's EWMA level baseline. Oracle: identical exact-BIGINT
    * OLS moments over min-day-re-indexed days and the identically
    * parenthesized division-only float tree (x166 determinism
    * class); sum(BIGINT)→HUGEINT CASTs per the DuckDB rules. */
  private val x170VolumeTrend = GraftQuery(
    "x170_volume_trend",
    (s, dir) => Funnel.volumeTrend(Tables.events(s, dir),
        "event_type", "ts")
      .orderBy(col("event_type")),
    Some("""WITH daily AS (
        SELECT event_type AS et,
          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      d0 AS (SELECT min(day) AS day0 FROM daily),
      xy AS (
        SELECT et, day - day0 AS x, y FROM daily CROSS JOIN d0),
      m AS (
        SELECT et, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(y * y) AS BIGINT) AS syy
        FROM xy GROUP BY 1),
      f AS (
        SELECT et, n_days, sy,
          n_days * sxy - sx * sy AS num,
          n_days * sxx - sx * sx AS den_x,
          n_days * syy - sy * sy AS den_y,
          sy * sxx - sx * sxy AS num_i
        FROM m)
      SELECT et AS event_type, n_days, sy AS total,
        round(CASE WHEN den_x > 0
          THEN CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) END, 6)
          AS slope,
        round(CASE WHEN den_x > 0
          THEN CAST(num_i AS DOUBLE) / CAST(den_x AS DOUBLE) END, 6)
          AS intercept,
        round(CASE WHEN den_x > 0 AND den_y > 0
          THEN (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
            / (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)) END, 6)
          AS r2
      FROM f ORDER BY event_type"""))

  /** Ranked-retrieval quality ([[graft.ops.Similarity.retrievalEval]]):
    * MRR reciprocal ranks + binary-gain nDCG@10 of exact cosine
    * retrieval (x23's ranks, self-hit excluded and re-ranked) against
    * same-label relevance. The log₂ position discounts are
    * driver-pinned literals injected into BOTH the plan and this SQL
    * ([[graft.ops.Similarity.ndcgWeights]]) — the ranking math never
    * touches either engine's libm. */
  private val x171RetrievalEval = {
    val (wl, pl) = Similarity.ndcgWeights(10)
    GraftQuery(
      "x171_retrieval_eval",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, dir)
        val topk = Similarity.batchTopK(emb.filter(col("vec_id") < 20),
          emb, "vec_id", "vec_id", "embedding", "embedding", k = 11)
        val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
        val reranked = topk.filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
        val withRel = reranked
          .join(emb.select(col("vec_id").as("qid"),
            col("label").as("qlabel")), col("query_id") === col("qid"))
          .join(emb.select(col("vec_id").as("nid"),
            col("label").as("nlabel")), col("neighbor_id") === col("nid"))
          .select(col("query_id"), col("rk").as("rank"),
            (col("nlabel") === col("qlabel")).cast("int").as("rel"))
        Similarity.retrievalEval(withRel, "query_id", "rank", "rel",
          k = 10).orderBy(col("query_id"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
            label AS qlabel
          FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id,
            c.label AS nlabel,
            list_sum(list_transform(range(1, len(c.embedding) + 1),
              i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(c.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qe,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
          FROM embeddings c, q),
        ranked AS (
          SELECT query_id, qlabel, neighbor_id, nlabel,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored),
        reranked AS (
          SELECT query_id,
            row_number() OVER (PARTITION BY query_id ORDER BY rank)
              AS rk,
            CAST(nlabel = qlabel AS INT) AS rel
          FROM ranked
          WHERE rank <= 11 AND neighbor_id != query_id),
        wl AS (SELECT CAST([${wl.mkString(", ")}] AS DOUBLE[]) AS w,
          CAST([${pl.mkString(", ")}] AS DOUBLE[]) AS p),
        agg AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_results,
            CAST(sum(rel) AS BIGINT) AS n_rel,
            min(CASE WHEN rel = 1 THEN rk END) AS first_rel,
            list_sum(list_transform(
              list_sort(list(struct_pack(k := rk, v := rel * w[rk]))),
              s -> struct_extract(s, 'v'))) AS dcg
          FROM reranked CROSS JOIN wl WHERE rk <= 10
          GROUP BY query_id)
        SELECT query_id, n_results, n_rel,
          COALESCE(round(CAST(1.0 AS DOUBLE) / first_rel, 9), 0.0) AS rr,
          CASE WHEN n_rel > 0 THEN
            round(dcg / p[CAST(least(n_rel, 10) AS INT)], 9) END AS ndcg
        FROM agg CROSS JOIN wl ORDER BY query_id"""))
  }

  /** Per-node triangle count + clustering coefficient
    * ([[graft.ops.Graph.triangleStats]]) over a deterministic
    * blocked path graph (chords (i,i+1) and (i,i+2) within 50-id
    * blocks → a triangle strip per block). Oracle: plain ordered
    * triangle enumeration (x<y<z by id) — orientation-free, so it
    * cross-checks the operator's degree-ordered orientation rather
    * than replaying it; integer counts, one division (x166 class). */
  private val x172TriangleStats = GraftQuery(
    "x172_triangle_stats",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val e1 = docs.select(col("doc_id").as("src"),
          (col("doc_id") + 1).as("dst"))
        .filter(expr("doc_id div 50") === expr("(doc_id + 1) div 50"))
      val e2 = docs.select(col("doc_id").as("src"),
          (col("doc_id") + 2).as("dst"))
        .filter(expr("doc_id div 50") === expr("(doc_id + 2) div 50"))
      graft.ops.Graph.triangleStats(e1.union(e2))
        .orderBy(col("id"))
    },
    Some("""WITH edges AS MATERIALIZED (
        SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
        WHERE doc_id // 50 = (doc_id + 1) // 50
        UNION ALL
        SELECT doc_id AS src, doc_id + 2 AS dst FROM documents
        WHERE doc_id // 50 = (doc_id + 2) // 50),
      und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src != dst),
      deg AS MATERIALIZED (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
        GROUP BY 1),
      tri AS MATERIALIZED (
        SELECT a.u AS x, a.v AS y, b.v AS z
        FROM und a
        JOIN und b ON a.u = b.u AND a.v < b.v
        JOIN und c ON c.u = a.v AND c.v = b.v),
      pn AS MATERIALIZED (
        SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
          SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
          UNION ALL SELECT z AS id FROM tri)
        GROUP BY 1)
      SELECT deg.id, deg.deg,
        COALESCE(pn.triangles, 0) AS triangles,
        round(CASE WHEN deg.deg >= 2 THEN
          (2.0 * CAST(COALESCE(pn.triangles, 0) AS DOUBLE))
            / (CAST(deg.deg AS DOUBLE) * CAST(deg.deg - 1 AS DOUBLE))
          END, 6) AS coeff
      FROM deg LEFT JOIN pn USING (id) ORDER BY deg.id"""))

  /** Next-token branching entropy
    * ([[graft.ops.TextAnalysis.branchingEntropy]]) — the
    * boilerplate-context detector. Oracle: same integer-count
    * identity ln c₁ − (Σ c·ln c)/c₁ with the w2-keyed sorted fold
    * (x94 discipline) and the (count DESC, w1) top-k cut. */
  private val x173BranchingEntropy = GraftQuery(
    "x173_branching_entropy",
    (s, dir) => TextAnalysis.branchingEntropy(
        Tables.documents(s, dir), "text", k = 30)
      .orderBy(col("n_ctx").desc, col("w1")),
    Some(s"""WITH $bigramCountsSql,
      agg AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS n_ctx,
          CAST(count(*) AS BIGINT) AS n_succ,
          list_sum(list_transform(
            list_sort(list(struct_pack(k := w2,
              v := CAST(c12 AS DOUBLE) * ln(CAST(c12 AS DOUBLE))))),
            s -> struct_extract(s, 'v'))) AS scl
        FROM c GROUP BY 1)
      SELECT w1, n_ctx, n_succ,
        round(ln(CAST(n_ctx AS DOUBLE)) - scl / CAST(n_ctx AS DOUBLE), 6)
          AS entropy
      FROM agg ORDER BY n_ctx DESC, w1 LIMIT 30"""))

  /** χ² independence audit of lang × source
    * ([[graft.quality.CorpusQuality.chiSquareAudit]]) — the
    * corpus-mix confounding check. Oracle: identical exact-BIGINT
    * contingency marginals and the identically parenthesized
    * division tree (x166 class); null-safe joins mirrored with
    * IS NOT DISTINCT FROM. */
  private val x174ChiSquare = GraftQuery(
    "x174_chi_square",
    (s, dir) => graft.quality.CorpusQuality.chiSquareAudit(
        Tables.documents(s, dir), "lang", "source")
      .orderBy(col("lang"), col("source")),
    Some("""WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      ra AS (
        SELECT lang, CAST(sum(n) AS BIGINT) AS row_total
        FROM cells GROUP BY 1),
      cb AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS col_total
        FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM cells),
      f AS (
        SELECT cells.lang, cells.source, n, row_total, col_total,
          (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE))
            / CAST(grand AS DOUBLE) AS e
        FROM cells
        JOIN ra ON cells.lang IS NOT DISTINCT FROM ra.lang
        JOIN cb ON cells.source IS NOT DISTINCT FROM cb.source
        CROSS JOIN tot)
      SELECT lang, source, n, row_total, col_total,
        round(e, 6) AS expected,
        round((CAST(n AS DOUBLE) - e) / sqrt(e), 6) AS residual,
        round(((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e)) / e, 6)
          AS chi2_term
      FROM f ORDER BY lang, source"""))

  /** Exact audience-overlap matrix
    * ([[graft.ops.Funnel.audienceOverlap]], exact path): distinct
    * users per event-type pair + Jaccard. Integer counts, one
    * division (x166 class). Hash-green; the x176 sketch path is its
    * rows-only twin. */
  private val x175AudienceOverlap = GraftQuery(
    "x175_audience_overlap",
    (s, dir) => Funnel.audienceOverlap(Tables.events(s, dir),
        "event_type", "user_id")
      .orderBy(col("type_a"), col("type_b")),
    Some("""WITH d AS (
        SELECT DISTINCT event_type AS et, user_id AS u FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      counts AS (
        SELECT et, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
      pairs AS (
        SELECT a.et AS type_a, b.et AS type_b,
          CAST(count(*) AS BIGINT) AS n_both
        FROM d a JOIN d b ON a.u = b.u AND a.et < b.et
        GROUP BY 1, 2)
      SELECT type_a, type_b, ca.n AS n_a, cb.n AS n_b, n_both,
        round(CAST(n_both AS DOUBLE)
          / CAST(ca.n + cb.n - n_both AS DOUBLE), 6) AS jaccard
      FROM pairs
      JOIN counts ca ON pairs.type_a = ca.et
      JOIN counts cb ON pairs.type_b = cb.et
      ORDER BY type_a, type_b"""))

  /** Mergeable-sketch audience overlap (the 100 TB shape: one
    * aggregation pass, kilobyte HLL sketches, inclusion–exclusion on
    * a broadcast |types|² cross — the corpus never self-joins).
    * Sketch estimates aren't ANSI-replayable → rows-only; the spec
    * pins every pair against x175's exact counts. */
  private val x176AudienceOverlapHll = GraftQuery(
    "x176_audience_overlap_hll",
    (s, dir) => Funnel.audienceOverlap(Tables.events(s, dir),
        "event_type", "user_id", exact = false)
      .orderBy(col("type_a"), col("type_b")),
    None)

  /** Markov removal-effect attribution
    * ([[graft.ops.Funnel.markovAttribution]]) — the data-driven
    * credit model next to x155's positional rules. Oracle: the FULL
    * pipeline generated and unrolled — journey windows, exact-count
    * transition weights, then (1 + |channels|) absorption variants ×
    * 4 rounds as MATERIALIZED CTEs with target-keyed sorted folds
    * and round-9 pins at every round boundary (the x78/x97
    * discipline, generated programmatically per channel). */
  private val x177MarkovAttribution = {
    val channels = Seq("click", "error", "signup", "view")
    val conv = "purchase"
    val iters = 4
    def rounds(variant: String, removedCase: String): String =
      (1 to iters).map { r =>
        val prev = if (r == 1) "p_zero" else s"p_${variant}_${r - 1}"
        s"""p_${variant}_$r AS MATERIALIZED (
        SELECT tm.s, round(list_sum(list_transform(list_sort(list(
          struct_pack(k := tm.t2, v := tm.w * CASE
            WHEN tm.t2 = '__conv' THEN CAST(1.0 AS DOUBLE)
            WHEN tm.t2 = '__drop' THEN CAST(0.0 AS DOUBLE)
            $removedCase
            ELSE COALESCE(pp.p, CAST(0.0 AS DOUBLE)) END))),
          x -> struct_extract(x, 'v'))), 9) AS p
        FROM tm LEFT JOIN $prev pp ON tm.t2 = pp.s
        GROUP BY tm.s)"""
      }.mkString(",\n      ")
    val variantCtes = (rounds("full", "") +: channels.map(c =>
      rounds(c, s"WHEN tm.t2 = '$c' THEN CAST(0.0 AS DOUBLE)")))
      .mkString(",\n      ")
    val removedUnion = channels.map(c =>
      s"""SELECT '$c' AS channel,
        (SELECT p FROM p_${c}_$iters WHERE s = '__start') AS p_removed""")
      .mkString("\n        UNION ALL ")
    GraftQuery(
      "x177_markov_attribution",
      (s, dir) => Funnel.markovAttribution(Tables.events(s, dir),
          "user_id", "ts", "event_id", "event_type", conv, channels,
          iters = iters)
        .orderBy(col("channel")),
      Some(s"""WITH ev AS MATERIALIZED (
        SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t,
          event_id AS eid, event_type AS et
        FROM events
        WHERE event_type IN (${(channels :+ conv)
          .map("'" + _ + "'").mkString(", ")})),
      rn AS MATERIALIZED (
        SELECT u, et,
          row_number() OVER (PARTITION BY u ORDER BY t, eid) AS rn
        FROM ev),
      cr AS MATERIALIZED (
        SELECT u, min(CASE WHEN et = '$conv' THEN rn END) AS conv_rn
        FROM rn GROUP BY u),
      kept AS MATERIALIZED (
        SELECT rn.u, rn.rn, rn.et, cr.conv_rn
        FROM rn JOIN cr USING (u)
        WHERE cr.conv_rn IS NULL OR rn.rn < cr.conv_rn),
      body AS MATERIALIZED (
        SELECT et AS s,
          COALESCE(lead(et) OVER (PARTITION BY u ORDER BY rn),
            CASE WHEN conv_rn IS NOT NULL THEN '__conv'
              ELSE '__drop' END) AS t2
        FROM kept),
      startrows AS MATERIALIZED (
        SELECT '__start' AS s,
          CASE WHEN cr.conv_rn = 1 THEN '__conv' ELSE rn.et END AS t2
        FROM rn JOIN cr USING (u) WHERE rn.rn = 1),
      trans AS MATERIALIZED (
        SELECT s, t2, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT * FROM body UNION ALL SELECT * FROM startrows)
        GROUP BY 1, 2),
      tm AS MATERIALIZED (
        SELECT trans.s, trans.t2,
          CAST(n AS DOUBLE) / CAST(ns AS DOUBLE) AS w
        FROM trans JOIN (
          SELECT s, CAST(sum(n) AS BIGINT) AS ns FROM trans GROUP BY 1
        ) tot USING (s)),
      p_zero AS MATERIALIZED (
        SELECT DISTINCT s, CAST(0.0 AS DOUBLE) AS p FROM tm),
      $variantCtes,
      re AS MATERIALIZED (
        SELECT channel, p_removed, p_full,
          round(CASE WHEN p_full > 0 THEN
            CAST(1.0 AS DOUBLE) - p_removed / p_full END, 6)
            AS removal_effect
        FROM ($removedUnion)
        CROSS JOIN (SELECT p AS p_full FROM p_full_$iters
          WHERE s = '__start')),
      tt AS (
        SELECT list_sum(list_transform(list_sort(list(struct_pack(
          k := channel,
          v := COALESCE(removal_effect, CAST(0.0 AS DOUBLE))))),
          x -> struct_extract(x, 'v'))) AS sum_re FROM re)
      SELECT channel, p_removed, p_full, removal_effect,
        round(CASE WHEN sum_re > 0 THEN removal_effect / sum_re END, 6)
          AS share
      FROM re CROSS JOIN tt ORDER BY channel"""))
  }

  /** Isotonic (PAV) score calibration
    * ([[graft.ops.Classifier.isotonicCalibration]]) — the applied
    * monotone fit next to x152's diagnostic curve, computed by the
    * minimax identity (joins/aggregates, not the sequential PAV
    * loop). Oracle: the same bins³-bounded segment build — every
    * mean a division of exact BIGINT sums, min/max order-free (x166
    * determinism class). */
  private val x178IsotonicCalibration = GraftQuery(
    "x178_isotonic_calibration",
    (s, dir) => {
      val scored = TextAnalysis.withQualityMetrics(Tables.documents(s, dir))
        .select(col("stopword_ratio").as("score"),
          (col("lang") === "en").cast("int").as("label"))
      graft.ops.Classifier.isotonicCalibration(
          scored, "score", "label", bins = 10)
        .orderBy(col("bucket"))
    },
    Some(s"""WITH scored AS (
        SELECT round(CAST(len(list_intersect(string_split(lower(text), ' '),
              [${graft.ops.Stopwords.en.map("'" + _ + "'").mkString(",")}]))
            AS DOUBLE) / len(string_split(text, ' ')), 4) AS score,
          CAST(lang = 'en' AS INT) AS label
        FROM documents),
      b AS (
        SELECT CAST(least(floor(score * 10), 9) AS INT) AS bucket,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(label) AS BIGINT) AS n_pos
        FROM scored GROUP BY 1),
      segs AS (
        SELECT j.bucket AS j, k.bucket AS k,
          CAST(sum(m.ps) AS DOUBLE) / CAST(sum(m.ns) AS DOUBLE) AS avg
        FROM b j
        JOIN b k ON j.bucket <= k.bucket
        JOIN (SELECT bucket AS mb, n AS ns, n_pos AS ps FROM b) m
          ON m.mb BETWEEN j.bucket AND k.bucket
        GROUP BY 1, 2),
      mins AS (
        SELECT i.bucket AS i, segs.j, min(segs.avg) AS mn
        FROM b i JOIN segs ON segs.j <= i.bucket AND segs.k >= i.bucket
        GROUP BY 1, 2),
      fit AS (SELECT i, max(mn) AS f FROM mins GROUP BY 1)
      SELECT b.bucket, b.n, b.n_pos,
        round(CAST(b.n_pos AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS rate,
        round(f, 6) AS fitted
      FROM b JOIN fit ON b.bucket = fit.i ORDER BY b.bucket"""))

  /** Seeded Poisson-bootstrap CI for per-source mean document length
    * ([[graft.ops.Experiments.bootstrapCI]]) — nonparametric
    * uncertainty for a skewed metric. Oracle: identical Knuth
    * (id, replica) draw against the SAME injected round-9 Poisson
    * thresholds ([[graft.ops.Experiments.poissonThresholds]] — the
    * ndcgWeights literal discipline), exact BIGINT replica sums, one
    * division per mean, index-level quantile cut on the sorted
    * array. */
  private val x179BootstrapCi = {
    val thr = graft.ops.Experiments.poissonThresholds
    val whens = thr.zipWithIndex
      .map { case (t, k) => s"WHEN u < ${t} THEN ${k}" }.mkString(" ")
    GraftQuery(
      "x179_bootstrap_ci",
      (s, dir) => graft.ops.Experiments.bootstrapCI(
          Tables.documents(s, dir), "source", "doc_id", "n_chars",
          reps = 40)
        .orderBy(col("source")),
      Some(s"""WITH base AS (
        SELECT source AS g, doc_id AS id, n_chars AS x FROM documents),
      expanded AS (
        SELECT g, id, x, unnest(range(0, 40)) AS rep FROM base),
      wts AS (
        SELECT g, rep, x,
          CAST(CASE $whens ELSE 6 END AS BIGINT) AS w
        FROM (
          SELECT g, rep, x,
            CAST(((id % 2147483648 + rep * 1000003) * 2654435761)
              % 4294967296 AS DOUBLE)
              / CAST(4294967296 AS DOUBLE) AS u
          FROM expanded)),
      rm AS (
        SELECT g, rep,
          round(CASE WHEN sum(w) > 0 THEN
            CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE) END, 9)
            AS m
        FROM wts GROUP BY 1, 2),
      agg AS (
        SELECT g, list_sort(list(m)) AS ms,
          CAST(count(m) AS BIGINT) AS n_reps
        FROM rm WHERE m IS NOT NULL GROUP BY 1),
      pt AS (
        SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(n_chars) AS BIGINT) AS sx
        FROM documents GROUP BY 1)
      SELECT agg.g AS source, n,
        round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        round(ms[CAST(floor((n_reps - 1) * CAST(0.025 AS DOUBLE)) + 1
          AS INT)], 6) AS ci_lo,
        round(ms[CAST(floor((n_reps - 1) * CAST(0.975 AS DOUBLE)) + 1
          AS INT)], 6) AS ci_hi,
        n_reps
      FROM agg JOIN pt ON agg.g = pt.g ORDER BY source"""))
  }

  /** Survivorship golden record per fingerprint group
    * ([[graft.ops.Dedup.goldenRecord]]) — the FIELD-level merge next
    * to x114's row-level canonical selection, keyed by x2's
    * replayable content fingerprint. Oracle: same md5 fingerprint,
    * argmax replayed as a (q DESC, id) window rank, modal votes as
    * count/max-filter/min — integer-only, no floats anywhere. */
  private val x180GoldenRecord = GraftQuery(
    "x180_golden_record",
    (s, dir) => Dedup.goldenRecord(
        Tables.documents(s, dir)
          .withColumn("fp", TextAnalysis.fingerprint(col("text"))),
        "fp", "doc_id", "n_chars", Seq("lang", "source"))
      .orderBy(col("fp")),
    Some("""WITH f AS (
        SELECT doc_id AS id, n_chars AS q, lang, source,
          md5(array_to_string(list_sort(list_distinct(
            string_split(lower(text), ' '))), ' ')) AS k
        FROM documents),
      core AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_members,
          CAST(min(id) AS BIGINT) AS golden_id
        FROM f GROUP BY 1),
      best AS (
        SELECT k, CAST(id AS BIGINT) AS best_id,
          CAST(q AS BIGINT) AS best_quality
        FROM f
        QUALIFY row_number() OVER (PARTITION BY k ORDER BY q DESC, id)
          = 1),
      cl AS (
        SELECT k, lang, count(*) AS cnt FROM f GROUP BY 1, 2),
      ml AS (
        SELECT cl.k, min(cl.lang) AS modal_lang
        FROM cl JOIN (SELECT k, max(cnt) AS mx FROM cl GROUP BY 1) x
          ON cl.k = x.k AND cl.cnt = x.mx
        GROUP BY 1),
      cs AS (
        SELECT k, source, count(*) AS cnt FROM f GROUP BY 1, 2),
      ms AS (
        SELECT cs.k, min(cs.source) AS modal_source
        FROM cs JOIN (SELECT k, max(cnt) AS mx FROM cs GROUP BY 1) x
          ON cs.k = x.k AND cs.cnt = x.mx
        GROUP BY 1)
      SELECT core.k AS fp, n_members, golden_id, best_id, best_quality,
        modal_lang, modal_source
      FROM core JOIN best USING (k) JOIN ml USING (k) JOIN ms USING (k)
      ORDER BY fp"""))

  /** Ordered-pair episode support
    * ([[graft.ops.Sessionize.episodeSupport]]) — subsequence-order
    * pattern mining beyond x91's adjacency and x165's exact paths.
    * Oracle: x165's session CTEs + positional self-join + per-session
    * DISTINCT vote, integer counts, one division (x166 class). */
  private val x181EpisodeSupport = GraftQuery(
    "x181_episode_support",
    (s, dir) => Sessionize.episodeSupport(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type")
      .orderBy(col("a"), col("b")),
    Some(s"""WITH $eventSessionsSql,
      p AS (
        SELECT u, sid, et,
          row_number() OVER (PARTITION BY u, sid ORDER BY t, eid) AS pos
        FROM s QUALIFY pos <= 50),
      n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total
        FROM (SELECT DISTINCT u, sid FROM p)),
      pairs AS (
        SELECT DISTINCT p1.u, p1.sid, p1.et AS a, p2.et AS b
        FROM p p1 JOIN p p2
          ON p1.u = p2.u AND p1.sid = p2.sid AND p1.pos < p2.pos),
      c AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_sessions
        FROM pairs GROUP BY 1, 2)
      SELECT a, b, n_sessions,
        round(CAST(n_sessions AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
          AS support
      FROM c CROSS JOIN n ORDER BY a, b"""))

  /** PSI drift between the even- and odd-id corpus halves on
    * n_chars ([[graft.ops.Profiling.psiDrift]]) — the A/A control
    * (a near-zero index is the calibration proof; the spec drives
    * real drift). Oracle: quantile_cont boundaries round-6 (x124
    * pairing), Laplace-smoothed bin ratios, one ln per bin (x31
    * class). */
  private val x183PsiDrift = GraftQuery(
    "x183_psi_drift",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Profiling.psiDrift(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "n_chars")
        .orderBy(col("bucket"))
    },
    Some("""WITH bounds AS MATERIALIZED (
        SELECT quantile_cont(n_chars,
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
      cr AS MATERIALIZED (
        SELECT CAST(len(list_filter(b.bs,
            x -> CAST(d.n_chars AS DOUBLE) > round(x, 6))) AS INT)
            AS bucket,
          CAST(count(*) AS BIGINT) AS n
        FROM documents d CROSS JOIN bounds b
        WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL GROUP BY 1),
      cc AS MATERIALIZED (
        SELECT CAST(len(list_filter(b.bs,
            x -> CAST(d.n_chars AS DOUBLE) > round(x, 6))) AS INT)
            AS bucket,
          CAST(count(*) AS BIGINT) AS n
        FROM documents d CROSS JOIN bounds b
        WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1),
      tr AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM documents
        WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
      tc AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM documents
        WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
      bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bucket),
      f AS (
        SELECT bins.bucket,
          COALESCE(cr.n, 0) AS n_ref, COALESCE(cc.n, 0) AS n_cur,
          CAST(COALESCE(cr.n, 0) + 1 AS DOUBLE)
            / CAST(nr + 10 AS DOUBLE) AS p_r,
          CAST(COALESCE(cc.n, 0) + 1 AS DOUBLE)
            / CAST(nc + 10 AS DOUBLE) AS p_c
        FROM bins
        LEFT JOIN cr ON bins.bucket = cr.bucket
        LEFT JOIN cc ON bins.bucket = cc.bucket
        CROSS JOIN tr CROSS JOIN tc)
      SELECT bucket, n_ref, n_cur,
        round(p_r, 6) AS p_ref, round(p_c, 6) AS p_cur,
        round((p_r - p_c) * ln(p_r / p_c), 6) AS psi_term
      FROM f ORDER BY bucket"""))

  /** Per-source corpus datasheet — the "Datasheets for Datasets"
    * (Gebru 2021) summary card a release ships with, composed as ONE
    * grouped aggregate over one scan: volume (docs/tokens), length
    * profile (mean + exact interpolated median), language mix, and
    * the exact-dup rate from x2's content fingerprint. Everything is
    * integer counts + single divisions except the median (the
    * x26/x124 percentile ↔ quantile_cont round-6 pairing). A
    * composition showcase in the x20/x100/x146 line: five report
    * families, one pass, no joins. */
  private val x182CorpusDatasheet = GraftQuery(
    "x182_corpus_datasheet",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("source"), col("n_chars"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          round(percentile(col("n_chars"), lit(0.5)), 6)
            .as("median_chars"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          countDistinct(col("fp")).as("n_unique"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(col("sum_chars").cast("double")
            / col("n_docs").cast("double"), 6).as("mean_chars"),
          col("median_chars"),
          round(col("n_en").cast("double")
            / col("n_docs").cast("double"), 6).as("pct_en"),
          round(lit(1.0) - col("n_unique").cast("double")
            / col("n_docs").cast("double"), 6).as("dup_rate"))
        .orderBy(col("source"))
    },
    Some("""WITH base AS (
        SELECT source, n_chars, lang,
          CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
            AS toks,
          md5(array_to_string(list_sort(list_distinct(
            string_split(lower(text), ' '))), ' ')) AS fp
        FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(toks) AS BIGINT) AS total_tokens,
        round(CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS mean_chars,
        round(quantile_cont(n_chars, 0.5), 6) AS median_chars,
        round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS pct_en,
        round(CAST(1.0 AS DOUBLE) - CAST(count(DISTINCT fp) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS dup_rate
      FROM base GROUP BY source ORDER BY source"""))

  /** Embedding covariance/correlation matrix over the first 8 dims
    * ([[graft.ops.Similarity.covarianceMatrix]]) — the off-diagonal
    * structure x164's per-dim profile can't see. Oracle: id-keyed
    * sorted folds for BOTH moment families (x94/x164 discipline),
    * identical division tree, null-safe; exact=false is the
    * constant-buffer scale twin (spec-asserted ≈). */
  private val x184CovarianceMatrix = GraftQuery(
    "x184_covariance_matrix",
    (s, dir) => Similarity.covarianceMatrix(
        Tables.embeddings(s, dir), "vec_id", "embedding", dims = 8)
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        col("n"), col("cov"), col("corr"))
      .orderBy(col("i"), col("j")),
    Some("""WITH base AS MATERIALIZED (
        SELECT vec_id AS id,
          list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) >= 8),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
      comps AS MATERIALIZED (
        SELECT id, unnest(range(1, 9)) AS d, unnest(v) AS x FROM base),
      pairs AS MATERIALIZED (
        SELECT a.id, a.d AS i, b.d AS j, a.x * b.x AS p
        FROM comps a JOIN comps b ON a.id = b.id AND a.d <= b.d),
      sij AS MATERIALIZED (
        SELECT i, j, list_sum(list_transform(
          list_sort(list(struct_pack(k := id, v := p))),
          s -> struct_extract(s, 'v'))) AS sij
        FROM pairs GROUP BY 1, 2),
      sm AS MATERIALIZED (
        SELECT d, list_sum(list_transform(
          list_sort(list(struct_pack(k := id, v := x))),
          s -> struct_extract(s, 'v'))) AS s
        FROM comps GROUP BY 1),
      cov AS MATERIALIZED (
        SELECT i, j, n, sij / n - (si.s / n) * (sj.s / n) AS cov
        FROM sij
        JOIN sm si ON sij.i = si.d
        JOIN sm sj ON sij.j = sj.d
        CROSS JOIN nn),
      diag AS (SELECT i AS dd, cov AS var FROM cov WHERE i = j)
      SELECT CAST(cov.i AS INT) AS i, CAST(cov.j AS INT) AS j, n,
        round(cov.cov, 6) AS cov,
        round(CASE WHEN d1.var > 0 AND d2.var > 0
          THEN cov.cov / sqrt(d1.var * d2.var) END, 6) AS corr
      FROM cov
      JOIN diag d1 ON cov.i = d1.dd
      JOIN diag d2 ON cov.j = d2.dd
      ORDER BY i, j"""))

  /** DuckDB replay of [[TextAnalysis.knLogProb]] trained on the even
    * docs: bigram counts `c`, continuation counts `lw`/`rw`/`tot`,
    * and the per-bigram interpolated log-probs
    * `scoredg(doc_id, pos, term)` of the docs in CTE/table `scored`
    * (x185, x192). */
  private def knScoredSql(scored: String): String =
    s"""ttoks AS (
        SELECT list_filter(string_split_regex(lower(text), '\\s+'),
          t -> length(t) > 0) AS ts
        FROM documents WHERE doc_id % 2 = 0),
      tgrams AS (
        SELECT unnest(list_transform(range(1, len(ts)),
          i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS g
        FROM ttoks WHERE len(ts) >= 2),
      c AS MATERIALIZED (
        SELECT g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
        FROM tgrams GROUP BY 1, 2),
      lw AS MATERIALIZED (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
          CAST(count(*) AS BIGINT) AS n1fw
        FROM c GROUP BY 1),
      rw AS MATERIALIZED (
        SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM c GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n1all FROM c),
      stoks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
          t -> length(t) > 0) AS ts
        FROM $scored),
      grams AS (
        SELECT doc_id, unnest(range(1, len(ts))) AS pos,
          unnest(list_transform(range(1, len(ts)),
            i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS g
        FROM stoks WHERE len(ts) >= 2),
      scoredg AS (
        SELECT doc_id, pos,
          ln(greatest(
            CASE WHEN c.c12 IS NOT NULL THEN
              greatest(CAST(c.c12 AS DOUBLE) - 0.75, 0.0)
                / CAST(lw.c1 AS DOUBLE)
              + ((0.75 * CAST(lw.n1fw AS DOUBLE)) / CAST(lw.c1 AS DOUBLE))
                * (CAST(COALESCE(rw.n1bw, 0) AS DOUBLE)
                  / CAST(tot.n1all AS DOUBLE))
            WHEN lw.c1 IS NOT NULL THEN
              ((0.75 * CAST(lw.n1fw AS DOUBLE)) / CAST(lw.c1 AS DOUBLE))
                * (CAST(COALESCE(rw.n1bw, 0) AS DOUBLE)
                  / CAST(tot.n1all AS DOUBLE))
            ELSE CAST(COALESCE(rw.n1bw, 0) AS DOUBLE)
              / CAST(tot.n1all AS DOUBLE)
            END, 1e-10)) AS term
        FROM grams
        LEFT JOIN c ON grams.g.w1 = c.w1 AND grams.g.w2 = c.w2
        LEFT JOIN lw ON grams.g.w1 = lw.w1
        LEFT JOIN rw ON grams.g.w2 = rw.w2
        CROSS JOIN tot)"""

  /** KN-model document scoring with real backoff
    * ([[graft.ops.TextAnalysis.knLogProb]]): the model trains on the
    * even-id half, every doc scores against it — odd docs exercise
    * the unseen-bigram/unseen-context arms a self-scored corpus
    * never hits. Oracle: same model marginals, the same three-arm
    * CASE over the x169 division tree, ln over exact-BIGINT
    * rationals (x31 class), position-keyed sorted doc folds (x94). */
  private val x185KnLogprob = GraftQuery(
    "x185_kn_logprob",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.knLogProb(docs.filter(col("doc_id") % 2 === 0),
          docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${knScoredSql("documents")}
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        round(list_sum(list_transform(
          list_sort(list(struct_pack(k := pos, v := term))),
          s -> struct_extract(s, 'v')))
          / CAST(count(*) AS DOUBLE), 4) AS mean_logprob
      FROM scoredg GROUP BY doc_id ORDER BY doc_id"""))

  /** Source concentration per language
    * ([[graft.quality.CorpusQuality.sourceConcentration]]) — HHI +
    * Gini of within-lang source volumes, the diversity twin of
    * x174's independence residuals. Oracle: identical integer
    * volumes; the Gini rank-sum replays via DuckDB's indexed lambda
    * over the same sorted struct list (exact integer fold on both
    * engines), single divisions at the end. */
  private val x186SourceConcentration = GraftQuery(
    "x186_source_concentration",
    (s, dir) => graft.quality.CorpusQuality.sourceConcentration(
        Tables.documents(s, dir), "lang", "source")
      .orderBy(col("lang")),
    Some("""WITH counts AS (
        SELECT lang AS g, source AS s, CAST(count(*) AS BIGINT) AS n
        FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL
        GROUP BY 1, 2),
      agg AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_sources,
          CAST(sum(n) AS BIGINT) AS total,
          CAST(sum(n * n) AS BIGINT) AS sum_sq,
          CAST(list_sum(list_transform(
            list_sort(list(struct_pack(n := n, s := s))),
            (x, i) -> i * struct_extract(x, 'n'))) AS BIGINT) AS rank_sum
        FROM counts GROUP BY 1)
      SELECT g AS lang, n_sources, total,
        round(CAST(sum_sq AS DOUBLE) / CAST(total * total AS DOUBLE), 6)
          AS hhi,
        round((2.0 * CAST(rank_sum AS DOUBLE))
            / CAST(n_sources * total AS DOUBLE)
          - CAST(n_sources + 1 AS DOUBLE) / CAST(n_sources AS DOUBLE), 6)
          AS gini
      FROM agg ORDER BY lang"""))

  /** Directed association rules over user behavior
    * ([[graft.ops.Funnel.associationRules]]) — confidence + lift on
    * x175's co-audience counts (the "rule vs merely-common"
    * separation raw overlap can't make). Oracle: same distinct
    * self-join, both directions, fixed division trees (x166
    * class). */
  private val x187AssociationRules = GraftQuery(
    "x187_association_rules",
    (s, dir) => Funnel.associationRules(Tables.events(s, dir),
        "event_type", "user_id")
      .orderBy(col("antecedent"), col("consequent")),
    Some("""WITH d AS (
        SELECT DISTINCT event_type AS et, user_id AS u FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      nu AS (
        SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_users FROM d),
      counts AS (
        SELECT et, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
      pairs AS (
        SELECT a.et AS antecedent, b.et AS consequent,
          CAST(count(*) AS BIGINT) AS n_both
        FROM d a JOIN d b ON a.u = b.u AND a.et != b.et
        GROUP BY 1, 2)
      SELECT antecedent, consequent, ca.n AS n_a, cb.n AS n_b, n_both,
        round(CAST(n_both AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
          AS support,
        round(CAST(n_both AS DOUBLE) / CAST(ca.n AS DOUBLE), 6)
          AS confidence,
        round((CAST(n_both AS DOUBLE) / CAST(n_users AS DOUBLE))
          / ((CAST(ca.n AS DOUBLE) / CAST(n_users AS DOUBLE))
            * (CAST(cb.n AS DOUBLE) / CAST(n_users AS DOUBLE))), 6)
          AS lift
      FROM pairs
      JOIN counts ca ON pairs.antecedent = ca.et
      JOIN counts cb ON pairs.consequent = cb.et
      CROSS JOIN nu
      ORDER BY antecedent, consequent"""))

  /** Theil–Sen robust daily trend ([[graft.ops.Funnel.robustTrend]])
    * — the median-slope twin of x170's OLS (breakdown point ~29% vs
    * a single point). Oracle: identical pairwise-slope rationals and
    * EXPLICIT index-arithmetic medians on the sorted arrays (no
    * interpolating percentile anywhere — bit-replayable). */
  private val x188RobustTrend = GraftQuery(
    "x188_robust_trend",
    (s, dir) => Funnel.robustTrend(Tables.events(s, dir),
        "event_type", "ts")
      .orderBy(col("event_type")),
    Some("""WITH daily AS MATERIALIZED (
        SELECT event_type AS et,
          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      d0 AS (SELECT min(day) AS day0 FROM daily),
      d AS MATERIALIZED (
        SELECT et, day - day0 AS x, y FROM daily CROSS JOIN d0),
      nd AS (SELECT et, CAST(count(*) AS BIGINT) AS n_days
        FROM d GROUP BY 1),
      slopes AS MATERIALIZED (
        SELECT a.et,
          CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS sl
        FROM d a JOIN d b ON a.et = b.et AND a.x < b.x),
      sm AS MATERIALIZED (
        SELECT et, list_sort(list(sl)) AS ms FROM slopes GROUP BY 1),
      slo AS MATERIALIZED (
        SELECT et, CASE WHEN len(ms) % 2 = 1 THEN ms[(len(ms) + 1) // 2]
          ELSE (ms[len(ms) // 2] + ms[len(ms) // 2 + 1]) / 2.0 END
          AS slope
        FROM sm),
      resid AS MATERIALIZED (
        SELECT d.et, slo.slope,
          CAST(d.y AS DOUBLE) - slo.slope * CAST(d.x AS DOUBLE) AS r
        FROM d LEFT JOIN slo ON d.et = slo.et),
      rm AS (
        SELECT et, min(slope) AS slope, list_sort(list(r)) AS rs
        FROM resid GROUP BY 1)
      SELECT nd.et AS event_type, nd.n_days,
        round(rm.slope, 6) AS slope,
        round(CASE WHEN len(rs) % 2 = 1 THEN rs[(len(rs) + 1) // 2]
          ELSE (rs[len(rs) // 2] + rs[len(rs) // 2 + 1]) / 2.0 END, 6)
          AS intercept
      FROM nd LEFT JOIN rm ON nd.et = rm.et ORDER BY event_type"""))

  /** Mutual information of lang × source
    * ([[graft.quality.CorpusQuality.mutualInformation]]) — the
    * effect-size companion to x174's χ² (stable under corpus growth
    * where χ² inflates with N). Oracle: identical cell/marginal
    * integer products through the same ln tree, (a,b)-keyed sorted
    * folds for the MI and entropy sums (x94 discipline). */
  private val x189MutualInformation = GraftQuery(
    "x189_mutual_information",
    (s, dir) => graft.quality.CorpusQuality.mutualInformation(
        Tables.documents(s, dir), "lang", "source"),
    Some("""WITH cells AS MATERIALIZED (
        SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      ra AS MATERIALIZED (
        SELECT a, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY 1),
      cb AS MATERIALIZED (
        SELECT b, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM cells),
      mi AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
          list_sum(list_transform(list_sort(list(struct_pack(
            k := struct_pack(a := cells.a, b := cells.b),
            v := (CAST(n AS DOUBLE) / CAST(grand AS DOUBLE))
              * ln((CAST(n AS DOUBLE) * CAST(grand AS DOUBLE))
                / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))))),
            x -> struct_extract(x, 'v'))) AS mi
        FROM cells
        JOIN ra ON cells.a IS NOT DISTINCT FROM ra.a
        JOIN cb ON cells.b IS NOT DISTINCT FROM cb.b
        CROSS JOIN tot),
      ha AS (
        SELECT list_sum(list_transform(list_sort(list(struct_pack(
          k := a, v := -(CAST(rt AS DOUBLE) / CAST(grand AS DOUBLE))
            * ln(CAST(rt AS DOUBLE) / CAST(grand AS DOUBLE))))),
          x -> struct_extract(x, 'v'))) AS h_a
        FROM ra CROSS JOIN tot),
      hb AS (
        SELECT list_sum(list_transform(list_sort(list(struct_pack(
          k := b, v := -(CAST(ct AS DOUBLE) / CAST(grand AS DOUBLE))
            * ln(CAST(ct AS DOUBLE) / CAST(grand AS DOUBLE))))),
          x -> struct_extract(x, 'v'))) AS h_b
        FROM cb CROSS JOIN tot)
      SELECT n_cells, round(mi, 6) AS mi,
        round(h_a, 6) AS h_a, round(h_b, 6) AS h_b,
        round(CASE WHEN least(h_a, h_b) > 0
          THEN mi / least(h_a, h_b) END, 6) AS nmi
      FROM mi CROSS JOIN ha CROSS JOIN hb"""))

  /** Forward-chaining temporal folds
    * ([[graft.ops.Sampling.temporalFolds]]) — the never-see-the-
    * future CV split, reported per fold with its day range and the
    * cumulative train volume evaluation k would see. Oracle: same
    * integer fold arithmetic (DuckDB `//` ↔ Spark positive-long
    * truncation), bounded k-row window for the cumulative sum. */
  private val x190TemporalFolds = GraftQuery(
    "x190_temporal_folds",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val assigned = graft.ops.Sampling.temporalFolds(Tables.events(s, dir), "ts",
          k = 5)
        .select(col("fold"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long")
            .as("day"))
      val perFold = assigned.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_rows"), min(col("day")).as("day_lo"),
          max(col("day")).as("day_hi"))
      val w = Window.orderBy(col("fold"))
        .rowsBetween(Window.unboundedPreceding, -1)
      perFold
        .withColumn("cum_train", coalesce(sum(col("n_rows")).over(w),
          lit(0L)))
        .orderBy(col("fold"))
    },
    Some("""WITH days AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        FROM events),
      bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM days),
      assigned AS (
        SELECT least(4, ((day - d0) * 5) // (d1 - d0 + 1)) AS fold, day
        FROM days CROSS JOIN bounds),
      per_fold AS (
        SELECT CAST(fold AS INT) AS fold,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(min(day) AS BIGINT) AS day_lo,
          CAST(max(day) AS BIGINT) AS day_hi
        FROM assigned GROUP BY 1)
      SELECT fold, n_rows, day_lo, day_hi,
        CAST(COALESCE(sum(n_rows) OVER (ORDER BY fold
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS cum_train
      FROM per_fold ORDER BY fold"""))

  /** Homoglyph dedup-evasion audit
    * ([[graft.ops.TextAnalysis.evasionAudit]]) — the adversarial-
    * robustness certificate for the x1/x2 fingerprint family (a
    * clean corpus reports zeros; the spec plants Cyrillic/zero-width
    * evaders and watches the groups collapse). Oracle: identical
    * confusable map and invisible-character pattern interpolated
    * into the same translate/regexp/md5 pipeline. */
  private val x191EvasionAudit = {
    val from = TextAnalysis.ConfusablesFrom
    val to = TextAnalysis.ConfusablesTo
    val inv = TextAnalysis.InvisiblePattern
    GraftQuery(
      "x191_evasion_audit",
      (s, dir) => TextAnalysis.evasionAudit(
          Tables.documents(s, dir), "text", "source")
        .orderBy(col("source")),
      Some(s"""WITH base AS (
          SELECT source,
            md5(array_to_string(list_sort(list_distinct(
              string_split(lower(text), ' '))), ' ')) AS fp,
            md5(array_to_string(list_sort(list_distinct(string_split(
              lower(translate(regexp_replace(text, '$inv', '', 'g'),
                '$from', '$to')), ' '))), ' ')) AS fp_skel,
            CAST(translate(regexp_replace(text, '$inv', '', 'g'),
              '$from', '$to') != text AS BIGINT) AS affected
          FROM documents)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(affected) AS BIGINT) AS n_affected,
          CAST(count(DISTINCT fp) AS BIGINT) AS n_groups,
          CAST(count(DISTINCT fp_skel) AS BIGINT) AS n_groups_skel,
          CAST(count(DISTINCT fp) - count(DISTINCT fp_skel) AS BIGINT)
            AS groups_collapsed
        FROM base GROUP BY source ORDER BY source"""))
  }

  /** Round-8 capstone composition (the x20/x100/x146 line): evasion-
    * resistant exact dedup (keep-first on the x191 SKELETON
    * fingerprint — homoglyph copies collapse before anything else
    * runs) → x185 KN-model quality gate (trained on the even-id
    * half, threshold −3.5) → x168 stratified k-fold assignment over
    * the survivors → per (lang, fold) volume/token report. Every
    * stage is an already-hash-green fragment; the chain proves they
    * compose without re-keying drift. */
  /** x192's evasion-resistant keep-first: the min-id doc of each
    * skeleton-fingerprint group.
    *
    * r21: semi-join on the WINNER IDS alone. doc_id is unique (the
    * corpus id contract), so id ∈ {min(doc_id) per fp} ≡ the
    * exactKeepFirst (fp, id) membership — but the (fp, doc_id) form
    * forced the probe side to re-evaluate the skeleton fingerprint,
    * and `survivors` feeds TWO subplans, so the translate+regexp+md5
    * pipeline ran 3× over the corpus (plan audit,
    * plans/r21/x192_curation_v2_audit.txt nodes 4/10/27). Id-only
    * keeps it to the ONE evaluation under `keep`.
    *
    * A NULL text has a NULL fingerprint in the oracle (md5 of a NULL
    * list), and its null-unsafe `s.fp = k.fp` drops the doc. Spark's
    * fingerprint of a NULL text is md5("") — concat_ws skips the NULL
    * token array — so the NULL fingerprints are the NULL texts, and
    * those are filtered before the keep-first. */
  private[graft] def x192Survivors(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keep = docs.filter(col("text").isNotNull)
      .withColumn("fp",
        TextAnalysis.fingerprint(TextAnalysis.confusableSkeleton(col("text"))))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    docs.join(keep.select(col("doc_id")).hint("shuffle_hash"), Seq("doc_id"), "left_semi")
  }

  private val x192CurationV2 = {
    val from = TextAnalysis.ConfusablesFrom
    val to = TextAnalysis.ConfusablesTo
    val inv = TextAnalysis.InvisiblePattern
    GraftQuery(
    "x192_curation_v2",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val survivors = x192Survivors(docs)
      val scores = TextAnalysis.knLogProb(
        docs.filter(col("doc_id") % 2 === 0), survivors, "doc_id", "text")
      val gated = survivors
        .join(scores.select(col("doc_id"), col("mean_logprob")), Seq("doc_id"))
        .filter(col("mean_logprob") >= lit(-3.5))
        // x168's defensive guard, mirrored in the oracle's WHERE: one
        // NULL-lang row would raise_error inside stratifiedKfold and
        // fail the whole capstone — degrade predictably instead on
        // partially-tagged corpora
        .filter(col("lang").isNotNull && col("doc_id").isNotNull)
      graft.ops.Sampling.stratifiedKfold(gated, "lang", "doc_id", k = 5)
        .groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("total_tokens"))
        .orderBy(col("lang"), col("fold"))
    },
    Some(s"""WITH skel AS MATERIALIZED (
        SELECT doc_id, text, lang,
          md5(array_to_string(list_sort(list_distinct(string_split(
            lower(translate(regexp_replace(text, '$inv', '', 'g'),
              '$from', '$to')), ' '))), ' '))
            AS fp
        FROM documents),
      survivors AS MATERIALIZED (
        SELECT s.doc_id, s.text, s.lang
        FROM skel s JOIN (
          SELECT fp, min(doc_id) AS keep_id FROM skel GROUP BY 1) k
          ON s.fp = k.fp AND s.doc_id = k.keep_id),
      ${knScoredSql("survivors")},
      ml AS MATERIALIZED (
        SELECT doc_id,
          round(list_sum(list_transform(
            list_sort(list(struct_pack(k := pos, v := term))),
            s -> struct_extract(s, 'v')))
            / CAST(count(*) AS DOUBLE), 4) AS mean_logprob
        FROM scoredg GROUP BY doc_id),
      gated AS MATERIALIZED (
        SELECT s.doc_id, s.text, s.lang
        FROM survivors s JOIN ml ON s.doc_id = ml.doc_id
        WHERE ml.mean_logprob >= -3.5
          AND s.lang IS NOT NULL AND s.doc_id IS NOT NULL),
      assigned AS (
        SELECT lang, text,
          CAST((row_number() OVER (PARTITION BY lang
            ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
              doc_id) - 1) % 5 AS INT) AS fold
        FROM gated)
      SELECT lang, fold, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(len(string_split_regex(lower(text), '\\s+')))
          AS BIGINT) AS total_tokens
      FROM assigned GROUP BY 1, 2 ORDER BY lang, fold"""))
  }

  /** DAU/WAU stickiness ([[graft.ops.Funnel.stickiness]]) — the
    * engagement-frequency ratio over x90's exact rolling uniques,
    * from one shared distinct. Oracle: the x90 range-join replay +
    * daily counts + one division. */
  private val x193Stickiness = GraftQuery(
    "x193_stickiness",
    (s, dir) => Funnel.stickiness(Tables.events(s, dir),
        "user_id", "ts")
      .orderBy(col("day")),
    Some("""WITH du AS (
        SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
          user_id
        FROM events),
      dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
      days AS (SELECT DISTINCT day FROM du),
      wau AS (
        SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
        FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1)
      SELECT dau.day, dau.dau, wau.wau,
        round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
          AS stickiness
      FROM dau JOIN wau ON dau.day = wau.day ORDER BY dau.day"""))

  /** Character-granular exact-substring dedup with reconstruction
    * ([[graft.ops.Dedup.charWindowDedup]] — the x96 keep-first rule
    * at Lee et al. 2021's char granularity, 40-char windows):
    * corpus-wide first occurrence per distinct window wins, docs
    * rebuilt by concatenation. Hash-green: the winner rule is a
    * total order, Spark/DuckDB substring agree on code-point
    * positions, and the rebuild pins position order on both sides
    * (the x96 replay at char granularity). */
  private val x194CharWindowDedup = GraftQuery(
    "x194_char_window_dedup",
    (s, dir) => graft.ops.Dedup.charWindowDedup(
      Tables.documents(s, dir), "doc_id", "text", n = 40)
      .orderBy(col("doc_id")),
    Some("""WITH base AS (
        SELECT doc_id, text, length(text) AS len
        FROM documents WHERE length(text) > 0),
      wins AS (
        SELECT doc_id, text,
          unnest(range(0, CAST(ceil(len / CAST(40 AS DOUBLE)) AS BIGINT)))
            AS win_idx
        FROM base),
      segs AS MATERIALIZED (
        SELECT doc_id, win_idx,
          substring(text, CAST(win_idx * 40 + 1 AS INT), 40) AS seg
        FROM wins),
      ranked AS (
        SELECT doc_id, win_idx, seg,
          row_number() OVER (PARTITION BY seg ORDER BY doc_id, win_idx) AS rn
        FROM segs)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows_kept,
        string_agg(seg, '' ORDER BY win_idx) AS clean_text
      FROM ranked WHERE rn = 1
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Keyword gating on the Aho–Corasick native path
    * ([[graft.ops.TextAnalysis.keywordMaxHitsAuto]] over
    * [[graft.functions.AhoCorasickCount]]): per-source count of docs
    * whose MAX category hit count clears the x134 flag threshold,
    * plus the max-hit total — the same three lists probed by the
    * automaton, whose whole-token contract equals the literal-array
    * path, so the oracle replays with plain IN-list filters. Integer
    * counts — hash-green; this row pins the native expression's
    * semantics at corpus scale where the OpsSpec pins them per-row. */
  private val x195KeywordScreenAuto = GraftQuery(
    "x195_keyword_screen_auto",
    (s, dir) => {
      val cats = Map(
        "engine" -> Seq("spark", "stream", "vector"),
        "relational" -> Seq("join", "filter", "scan"),
        "storage" -> Seq("table", "row", "column"))
      Tables.documents(s, dir)
        .select(col("source"),
          TextAnalysis.keywordMaxHitsAuto(col("text"), cats)
            .cast("long").as("mh"))
        .groupBy(col("source"))
        .agg(sum(when(col("mh") >= 2, 1L).otherwise(0L)).as("n_docs_flagged"),
          sum(col("mh")).as("total_max_hits"))
        .orderBy(col("source"))
    },
    Some("""WITH t AS (
        SELECT source,
          list_filter(string_split_regex(lower(text), '\s+'),
            w -> w <> '') AS toks
        FROM documents),
      v AS (
        SELECT source, greatest(
          len(list_filter(toks, w -> w IN ('spark','stream','vector'))),
          len(list_filter(toks, w -> w IN ('join','filter','scan'))),
          len(list_filter(toks, w -> w IN ('table','row','column')))) AS mh
        FROM t)
      SELECT source,
        CAST(sum(CASE WHEN mh >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_docs_flagged,
        CAST(sum(mh) AS BIGINT) AS total_max_hits
      FROM v GROUP BY 1 ORDER BY source"""))

  /** Phrase screening ([[graft.ops.TextAnalysis.phraseHits]] —
    * Aho–Corasick substring mode): per-(source, phrase) doc and
    * occurrence totals for multi-word phrases, the semantics no
    * whole-token probe can express. Overlapping occurrences count
    * ("table table table" holds "table table" twice — adjacent
    * repeats share the delimiter space), so the oracle replays with
    * a brute-force all-positions scan (list_filter over range +
    * substring equality), NOT a replace()-based non-overlap count.
    * SQL arms are generated programmatically per phrase (the x177
    * unrolled-variant discipline) so the pattern lengths can't
    * drift. Integer counts — hash-green. */
  private val x196PhraseScreen = {
    val phrases = Seq("fast table", "scan scan", "table table",
      "value table")
    val arms = phrases.map { p =>
      val pad = " " + p + " "
      val L = pad.length
      s"""SELECT source, '$p' AS phrase,
          len(list_filter(range(1, length(s) - $L + 2),
            i -> substring(s, CAST(i AS INT), $L) = ' $p ')) AS hits
        FROM n"""
    }.mkString("\n        UNION ALL\n        ")
    GraftQuery(
      "x196_phrase_screen",
      (s, dir) => {
        val hitCols = phrases.zipWithIndex.map { case (p, i) =>
          TextAnalysis.phraseHits(col("text"), Seq(p)).as(s"__p_$i")
        }
        val aggCols = phrases.indices.flatMap { i =>
          Seq(sum(when(col(s"__p_$i") >= 1, 1L).otherwise(0L)).as(s"__d_$i"),
            sum(col(s"__p_$i").cast("long")).as(s"__t_$i"))
        }
        Tables.documents(s, dir)
          .select((col("source") +: hitCols): _*)
          .groupBy(col("source"))
          .agg(aggCols.head, aggCols.tail: _*)
          .select(col("source"),
            explode(array(phrases.zipWithIndex.map { case (p, i) =>
              struct(lit(p).as("phrase"),
                col(s"__d_$i").as("n_docs_hit"),
                col(s"__t_$i").as("total_occurrences"))
            }: _*)).as("__c"))
          .select(col("source"), col("__c.phrase").as("phrase"),
            col("__c.n_docs_hit").as("n_docs_hit"),
            col("__c.total_occurrences").as("total_occurrences"))
          .orderBy(col("source"), col("phrase"))
      },
      Some(s"""WITH n AS MATERIALIZED (
          SELECT source,
            ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS s
          FROM documents),
        c AS (
        $arms)
        SELECT source, phrase,
          CAST(sum(CASE WHEN hits >= 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_docs_hit,
          CAST(sum(hits) AS BIGINT) AS total_occurrences
        FROM c GROUP BY 1, 2 ORDER BY source, phrase"""))
  }

  /** The x197–x200 anchor-window replay: anchors `b` (CTE header
    * `b`, char index expression `pos`), 40-char windows `w`/`e` at
    * each anchor, and first-occurrence ranks `r` (rn > 1 = a window
    * seen earlier in (doc_id, pos) order). */
  private def anchorWindowsSql(b: String, pos: String): String =
    s"""$b (
        SELECT doc_id, text AS s, length(text) AS len,
          ${cdcAnchorsSql(pos)} AS anchors
        FROM documents WHERE length(text) > 0),
      w AS MATERIALIZED (
        SELECT doc_id, s,
          unnest(list_filter(anchors, a -> a + 40 <= len)) AS pos
        FROM b),
      e AS MATERIALIZED (
        SELECT doc_id, pos,
          substring(s, CAST(pos + 1 AS INT), 40) AS seg
        FROM w),
      r AS (
        SELECT doc_id, pos,
          row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        FROM e)"""

  /** x198/x200: the repeated windows of `r` merged into spans `iv`
    * (gaps-and-islands, break at pos − lag(pos) > 40). */
  private val anchorSpansSql =
    """d AS (SELECT doc_id, pos FROM r WHERE rn > 1),
      g AS (
        SELECT doc_id, pos,
          CASE WHEN pos - coalesce(lag(pos) OVER
              (PARTITION BY doc_id ORDER BY pos), -100) > 40
            THEN 1 ELSE 0 END AS brk
        FROM d),
      isl AS (
        SELECT doc_id, pos,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island
        FROM g),
      iv AS (
        SELECT doc_id, min(pos) AS st, max(pos) + 40 AS en
        FROM isl GROUP BY doc_id, island)"""

  /** x198/x200: `b.s` with the sorted spans `v.ivs` cut out, as
    * `clean_text`; continuation lines are indented by `indent` more
    * spaces. */
  private def cleanTextSql(indent: Int): String =
    """CASE WHEN v.doc_id IS NULL THEN b.s
        ELSE array_to_string(
            list_transform(v.ivs, (x, i) -> substring(b.s,
              CAST((CASE WHEN i = 1 THEN 0
                    ELSE struct_extract(v.ivs[i-1], 'en') END) + 1 AS INT),
              CAST(struct_extract(x, 'st') -
                   (CASE WHEN i = 1 THEN 0
                    ELSE struct_extract(v.ivs[i-1], 'en') END) AS INT))), '')
          || substring(b.s,
               CAST(struct_extract(v.ivs[len(v.ivs)], 'en') + 1 AS INT))
        END AS clean_text""".replace("\n", "\n" + " " * indent)

  /** Shift-robust exact duplicate-content profile
    * ([[graft.ops.Dedup.anchorWindowProfile]] — content-defined
    * anchors via the x135 rolling-hash predicate, 40-char exact
    * verification windows, x194's first-occurrence total order):
    * catches the UNALIGNED duplication x194's fixed grid provably
    * misses (a 1-char insertion shifts every later grid window).
    * Hash-green: anchor positions are exact base-31 integer
    * arithmetic (the x135 replay), window identity is md5/substring
    * equality, outputs are integer counts and a majority flag.
    * Parity caveat (r10 advice): the oracle replays the rolling hash
    * via DuckDB `ascii`/`substr`, which agree with Spark's code-point
    * arithmetic only on ASCII/BMP text — the same assumption the
    * accepted x135 replay makes; a non-ASCII corpus change now
    * fails x46's named `text_ascii_only` gate (r11 verdict) instead
    * of surfacing here as a mystery hash mismatch. */
  private val x197AnchorWindowDedup = GraftQuery(
    "x197_anchor_window_dedup",
    (s, dir) => graft.ops.Dedup.anchorWindowProfile(
      Tables.documents(s, dir), "doc_id", "text",
      n = 40, window = 8, mod = 16)
      .orderBy(col("doc_id")),
    Some(s"""WITH ${anchorWindowsSql("b AS", "i-7+j")}
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_windows,
        CAST(CASE WHEN 2 * sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
          > count(*) THEN 1 ELSE 0 END AS INT) AS dup_doc
      FROM r GROUP BY doc_id ORDER BY doc_id"""))

  /** Shift-robust exact dedup WITH reconstruction
    * ([[graft.ops.Dedup.anchorWindowDedup]]): x197's anchored
    * duplicate windows become merged spans CUT from each document,
    * the remainder reconstructed in position order — the removal
    * x197 only detects (the r10 verdict's named gap). One row per
    * non-empty doc: span/char counts plus the cleaned text; docs
    * with no earlier-seen windows (first occurrences included)
    * reconstruct byte-exact. Hash-green: the same x135/x197 integer
    * anchor replay, then a gaps-and-islands interval merge (break at
    * pos − lag(pos) > 40 ≡ the engine fold's merge-when
    * p <= last_end for sorted equal-length spans) and an indexed
    * list_transform reconstruction — integer-and-substring algebra
    * end to end. Same ASCII/BMP ascii()-vs-code-point parity
    * assumption as x197/x135, runtime-gated by x46's
    * `text_ascii_only` check. */
  private val x198AnchorWindowRemoval = GraftQuery(
    "x198_anchor_window_removal",
    (s, dir) => graft.ops.Dedup.anchorWindowDedup(
      Tables.documents(s, dir), "doc_id", "text",
      n = 40, window = 8, mod = 16)
      .orderBy(col("doc_id")),
    // `b` is referenced twice (by `w` and the final SELECT) — r11
    // advice: MATERIALIZED, or DuckDB inlines the anchor scan into
    // both consumers and runs the O(len·window) arithmetic twice
    Some(s"""WITH ${anchorWindowsSql("b AS MATERIALIZED", "CAST(i-7+j AS INT)")},
      $anchorSpansSql,
      v AS (
        SELECT doc_id,
          list_sort(list(struct_pack(st := st, en := en))) AS ivs,
          count(*) AS nspans, sum(en - st) AS removed
        FROM iv GROUP BY doc_id)
      SELECT b.doc_id,
        CAST(coalesce(v.nspans, 0) AS BIGINT) AS n_dup_spans,
        CAST(coalesce(v.removed, 0) AS BIGINT) AS chars_removed,
        ${cleanTextSql(0)}
      FROM b LEFT JOIN v USING (doc_id) ORDER BY doc_id"""))

  /** Doc-LEVEL shift-robust keep-first dedup
    * ([[graft.ops.Dedup.dedupByAnchorProfile]] — the r11 verdict's
    * named carrier gap: the production form of the x197/x198 family,
    * previously OpsSpec-only): documents a strict MAJORITY of whose
    * anchored 40-char windows were seen earlier in the corpus vanish
    * WHOLE; every survivor keeps ALL its original columns
    * byte-identical, so the oracle is the x197 profile replay plus
    * one NOT EXISTS over the flagged ids (NOT EXISTS, not NOT IN —
    * the anti-join's NULL semantics exactly; a NULL id under NOT IN
    * would silently empty or over-keep, r12 advice). Hash-green:
    * integer anchor
    * arithmetic, md5 window identity, integer majority vote, then
    * untouched source rows. Same ASCII/BMP ascii()-vs-code-point
    * parity caveat as x197/x135 (runtime-gated by the
    * `text_ascii_only` corpus check, x46). */
  private val x199AnchorDocDedup = GraftQuery(
    "x199_anchor_doc_dedup",
    (s, dir) => graft.ops.Dedup.dedupByAnchorProfile(
      Tables.documents(s, dir), "doc_id", "text",
      n = 40, window = 8, mod = 16)
      .orderBy(col("doc_id")),
    Some(s"""WITH ${anchorWindowsSql("b AS", "i-7+j")},
      flagged AS (
        SELECT doc_id FROM r GROUP BY doc_id
        HAVING 2 * sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) > count(*))
      SELECT doc_id, text, lang, source, n_chars FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
      ORDER BY doc_id"""))

  /** End-to-end anchored curation — the r11 verdict's composition
    * gap: x198's shift-robust removal feeds a production chain
    * instead of standing alone. Anchored span removal (x198
    * semantics) → repetition gate on the CLEANED text (x38
    * semantics; dedup-inflated top-token/dup-bigram ratios would
    * misjudge the original) → sequence packing of the survivors
    * (x40 semantics). Docs whose cleaned text tokenizes to nothing
    * drop at the gate on both engines (inner join against the
    * unigram table). The whole pipeline replays hash-green: every
    * stage reuses an already-green oracle's algebra. Scale shape:
    * the cleaned frame is localCheckpointed once for its two
    * consumers (gate + pack — the PERF.md re-execution rule);
    * stages otherwise keep their audited shapes. */
  private val x200AnchorCuration = GraftQuery(
    "x200_anchor_curation",
    (s, dir) => {
      val cleaned = graft.ops.Dedup.anchorWindowDedup(
        Tables.documents(s, dir), "doc_id", "text",
        n = 40, window = 8, mod = 16)
        .select(col("doc_id"), col("clean_text"))
        .localCheckpoint(true)
      val keptIds = TextAnalysis.repetitionStats(cleaned, "doc_id", "clean_text")
        .filter(col("top_token_ratio") <= 0.12 && col("dup_bigram_ratio") <= 0.06)
        .select("doc_id")
      val kept = cleaned
        .join(keptIds.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      graft.ops.Packing.chunkAssignments(kept, "doc_id", "clean_text", budget = 512)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${anchorWindowsSql("b AS MATERIALIZED", "CAST(i-7+j AS INT)")},
      $anchorSpansSql,
      v AS (
        SELECT doc_id,
          list_sort(list(struct_pack(st := st, en := en))) AS ivs
        FROM iv GROUP BY doc_id),
      cln AS MATERIALIZED (
        SELECT b.doc_id,
          ${cleanTextSql(2)}
        FROM b LEFT JOIN v USING (doc_id)),
      toks AS MATERIALIZED (
        SELECT doc_id,
          list_filter(string_split_regex(lower(clean_text), '\\s+'),
            x -> len(x) > 0) AS t
        FROM cln),
      ${repetitionGateSql("gr")},
      kept AS (
        SELECT c.doc_id, c.clean_text
        FROM cln c
        JOIN uagg u ON c.doc_id = u.doc_id
        JOIN bagg bg ON c.doc_id = bg.doc_id
        WHERE round(CAST(u.top_c AS DOUBLE) / u.n_tok, 4) <= 0.12
          AND round(1.0 - CAST(bg.n_distinct_big AS DOUBLE) / bg.n_big, 4)
            <= 0.06),
      t2 AS (
        SELECT doc_id,
          CAST(len(string_split_regex(clean_text, '\\s+')) AS BIGINT)
            AS n_tokens
        FROM kept),
      ${packingSql("t2")}"""))
  // ^ t2 MUST be the regex split, not x40's literal string_split(' '):
  // TextAnalysis.tokenCount splits on the whitespace CLASS, and span
  // removal can leave adjacent/leading/trailing spaces in clean_text
  // where the two splits disagree (x40's literal form only replays on
  // the raw single-spaced corpus; sf0.1 diverged by one token).
  // Spark split('[ \t\n\f\r]+') and DuckDB string_split_regex('\s+')
  // agree on all empty-segment edges ('a  b', ' a', 'a ', '', '  ').

  /** Two exact replicas of the embeddings corpus on disjoint id
    * ranges (replica r keeps vec_id + r·10⁶) — the x205 replica-union
    * known-answer substrate shared by the x201/x204/x34 carriers so
    * the union frame canonicalizes to ONE plan key (one
    * [[graft.CorpusCounts]] count serves every auto-sized call). */
  private def replicatedEmbeddings(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val emb = Tables.embeddings(s, dir)
    (0 until 2).map(r => emb.select(
        (col("vec_id") + lit(r * 1000000L)).as("vec_id"),
        col("embedding"), col("label")))
      .reduce(_.unionByName(_))
  }

  /** The PRODUCTION-DEFAULT embedding near-dup path: every parameter
    * auto-resolved — [[graft.ops.Dedup.AutoBits]] width from the
    * memoized corpus count, default bands, default bucket cap, and
    * (unlike the pre-r16 form, which had to force threshold 0.4 to
    * get rows out of the well-spread corpus) the default 0.95
    * threshold itself. HASH-GREEN via the x205 replica-union known
    * answer: on the two-replica corpus the only pairs at ≥ 0.95 are
    * the planted (v, v+10⁶) replicas (max DISTINCT-pair cosine is
    * 0.479/0.513/0.601 at sf0.001/0.01/0.1), identical vectors sign
    * identically so they share every band bucket (sketch recall is
    * exactly 1 on them — candidates can't miss, and a capped bucket
    * would have to trip in ALL bands at ~62-row averages vs the
    * 1000-row cap to drop one), and the verified cosine of an exact
    * replica rounds to 1.0. Any mis-bucketed replica, broken band
    * slice, or broken verify filter breaks the hash. OpsSpec pins the
    * precision/twin contract against explicit x22 on the raw corpus. */
  private val x201EmbeddingNearDupAuto = GraftQuery(
    "x201_embedding_near_dup_auto",
    (s, dir) => Dedup.embeddingNearDuplicates(
      replicatedEmbeddings(s, dir), "vec_id", "embedding")
      .orderBy(col("id_a"), col("id_b")),
    Some("""SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
        CAST(1.0 AS DOUBLE) AS cosine
      FROM embeddings ORDER BY id_a, id_b"""))

  /** GENUINE-regime two-level SemDeDup driver-executed (r15 verdict
    * #1: x203 runs the two-level CODE but at k₁ = 1, the degenerate
    * point — the broadcast sub-centroid fan-out and the above-clamp
    * [[graft.ops.Dedup.AutoK]] resolution never ran under
    * graft.Verify). Two exact replicas of the embeddings corpus on
    * disjoint id ranges at targetCluster = 2 push AutoK past
    * [[graft.ops.Dedup.MaxAutoK]] at EVERY SF (500 vectors → raw 500
    * clusters → TwoLevelK(23, 22); sf0.1's 2000 → TwoLevelK(45, 45)),
    * so the top Lloyd trains k₁ > 1 plan-literal centroids and the
    * sub-centroid broadcast join genuinely fans out
    * (Dedup.scala semanticClusterDedup/semanticClusterDedupTwoLevel,
    * Similarity.scala hierarchicalKmeansModel/Assign). HASH-GREEN,
    * not rows-only: leaf assignment is a pure function of the vector,
    * so each replica pair shares a leaf and collapses to its min id
    * = the original vec_id, and no DISTINCT pair reaches the 0.95
    * threshold (measured max distinct-pair cosine 0.601 at sf0.1 /
    * 0.513 at sf0.01 / 0.479 at sf0.001 — x22's well-spread-corpus
    * calibration), so the survivor set is EXACTLY the original corpus
    * — a known-answer oracle that fails on any mis-bucketed replica,
    * broken argmax, or broken survivor algebra. OpsSpec pins
    * AutoK ≡ explicit-(k₁, k₂) and per-id assignment consistency
    * (on its own 3-replica fixture — independent of this carrier). */
  private val x205SemdedupTwoLevelDeep = GraftQuery(
    "x205_semdedup_two_level_deep",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val big = (0 until 2).map(r =>
          emb.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
            col("embedding")))
        .reduce(_.unionByName(_))
      Dedup.semanticClusterDedup(big, "vec_id", "embedding",
        k = Dedup.AutoK, iters = 2, threshold = 0.95, targetCluster = 2)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },
    Some("SELECT vec_id FROM embeddings ORDER BY vec_id"))

  /** Incremental embedding near-dup (r15 verdict #3: the reference's
    * whole incrementality story is monthly appends —
    * udac_capstone_emr.py:155, the S5 append sinks — and x49 covers
    * incremental TEXT dedup, but the embedding path re-signed the
    * full corpus per run). The corpus is represented by its signature
    * store ([[graft.ops.Dedup.embeddingSignatures]], the persistable
    * frame — the parquet save/load round-trip is spec'd like
    * loadIvfIndex); the batch is signed fresh and banded against it,
    * corpus vectors touched only by the verification join.
    * HASH-GREEN via the replica-union known answer: the batch is an
    * exact replica of the first 100 corpus vectors under shifted ids,
    * so at the production 0.95 threshold each batch row matches
    * exactly its corpus original (identical vectors share every band
    * bucket — and this path has no bucket cap at all — while max
    * distinct-pair cosine is 0.601 across SFs, so no cross match and
    * no batch-internal pair survives verification). A broken store
    * banding, probe-side seed, or provenance join breaks the hash.
    * OpsSpec asserts incremental ≡ full-recompute restricted to pairs
    * touching the batch, the revision-check row, and the store
    * width/regime guards. */
  private val x206EmbeddingNearDupIncremental = GraftQuery(
    "x206_embedding_near_dup_incremental",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val store = Dedup.embeddingSignatures(
        emb, "vec_id", "embedding", numBits = 48, bands = 8)
      val batch = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding"))
      Dedup.incrementalEmbeddingNearDuplicates(
        store, emb, batch, "vec_id",
        "embedding", numBits = 48, bands = 8, threshold = 0.95)
        .orderBy(col("batch_id"), col("dup_id"), col("dup_in"))
    },
    Some("""SELECT vec_id + 1000000 AS batch_id, vec_id AS dup_id,
        CAST(1.0 AS DOUBLE) AS cosine, 'corpus' AS dup_in
      FROM embeddings WHERE vec_id < 100
      ORDER BY batch_id, dup_id, dup_in"""))

  /** DuckDB replay of the 2-round order-pinned logreg training on
    * docs < 250 (labels `source = 'src0'`, 64 bigram buckets): the
    * `norm` texts, training features `ftrain` and round weights `w1`,
    * `p1`, `w2` that x207 and x209 score with. */
  private val logRegTrainSql =
    """norm AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
          regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        FROM documents WHERE text IS NOT NULL),
      gtrain AS MATERIALIZED (
        SELECT doc_id, y,
          unnest(list_transform(range(1, length(s)),
            i -> (ascii(substr(s, CAST(i AS INT), 1)) * 31
                  + ascii(substr(s, CAST(i AS INT) + 1, 1))) % 64)) AS b
        FROM norm WHERE length(s) >= 2 AND doc_id < 250),
      ftrain AS MATERIALIZED (
        SELECT doc_id, y, b,
          CAST(count(*) AS DOUBLE)
            / CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS DOUBLE) AS x
        FROM gtrain GROUP BY doc_id, y, b),
      w1 AS MATERIALIZED (
        SELECT b, round(0.5 * list_sum(list_transform(
            list_sort(list(struct_pack(k := doc_id, v := x * (y - 0.5)))),
            s -> struct_extract(s, 'v'))), 9) AS w
        FROM ftrain GROUP BY b),
      p1 AS MATERIALIZED (
        SELECT f.doc_id,
          round(1.0 / (1.0 + exp(-(round(list_sum(list_transform(
            list_sort(list(struct_pack(k := f.b, v := w1.w * f.x))),
            s -> struct_extract(s, 'v'))), 9)))), 9) AS p
        FROM ftrain f JOIN w1 ON f.b = w1.b GROUP BY f.doc_id),
      w2 AS MATERIALIZED (
        SELECT f.b, round(min(w1.w) + 0.5 * list_sum(list_transform(
            list_sort(list(struct_pack(k := f.doc_id,
                                       v := f.x * (f.y - p1.p)))),
            s -> struct_extract(s, 'v'))), 9) AS w
        FROM ftrain f JOIN p1 ON f.doc_id = p1.doc_id
                     JOIN w1 ON f.b = w1.b
        GROUP BY f.b)"""

  /** Train-once / score-the-intake classifier split
    * ([[graft.ops.Classifier.logRegTrain]] on the labeled doc_id<250
    * slice, [[graft.ops.Classifier.logRegApply]] on everything else —
    * the production half of x97's fused train-and-score: at 100 TB
    * the reference-vs-crawl model trains once on the curated set and
    * each day's intake pays ONE broadcast join of the ≤64-row weight
    * vector plus a per-doc fold, no retraining; the model persists
    * via saveLogRegModel/loadLogRegModel, spec'd like the signature
    * stores). HASH-GREEN: the oracle replays the ENTIRE 2-round
    * training loop over the train slice (x97's unrolled CTE chain,
    * same sorted folds and round-9 pins) and then scores the apply
    * slice through the same inner weight join — a drifted feature
    * hash, a label leak across the split, or a broken apply fold
    * breaks the hash. */
  private val x207ClassifierApplySplit = GraftQuery(
    "x207_classifier_apply_split",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("is_target", col("source") === "src0")
      val model = graft.ops.Classifier.logRegTrain(
        docs.filter(col("doc_id") < 250), "doc_id", "text", "is_target",
        numBuckets = 64, eta = 0.5, iters = 2)
      graft.ops.Classifier.logRegApply(model,
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $logRegTrainSql,
      gapply AS MATERIALIZED (
        SELECT doc_id,
          unnest(list_transform(range(1, length(s)),
            i -> (ascii(substr(s, CAST(i AS INT), 1)) * 31
                  + ascii(substr(s, CAST(i AS INT) + 1, 1))) % 64)) AS b
        FROM norm WHERE length(s) >= 2 AND doc_id >= 250),
      fapply AS MATERIALIZED (
        SELECT doc_id, b,
          CAST(count(*) AS DOUBLE)
            / CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS DOUBLE) AS x
        FROM gapply GROUP BY doc_id, b)
      SELECT f.doc_id,
        round(1.0 / (1.0 + exp(-(round(list_sum(list_transform(
          list_sort(list(struct_pack(k := f.b,
            v := COALESCE(w2.w * f.x, 0.0)))),
          s -> struct_extract(s, 'v'))), 9)))), 6) AS score
      FROM fapply f LEFT JOIN w2 ON f.b = w2.b
      GROUP BY f.doc_id ORDER BY f.doc_id"""))

  /** Per-sfDir store root for [[x208PersistedStoreRoundtrip]] /
    * [[x209IncrementalIntake]] — one temp dir per (JVM, sfDir), whole
    * TREE removed at JVM exit ([[graft.TempDirs]] — a bare
    * deleteOnExit on the root silently never deletes a non-empty dir,
    * r17 review); re-invocations overwrite in place, exactly what a
    * production daily re-save does. */
  private val storeRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // private[graft]: PlanSpec probes the REAL per-session root instead
  // of reverse-engineering /tmp (a concurrent graft JVM's root would
  // race a newest-dir scan, r17 review)
  private[graft] def storeRootFor(sfDir: String): String =
    storeRoots.computeIfAbsent(sfDir,
      _ => graft.TempDirs.createCleaned("graft_stores_x208"))

  /** Disk round-trip of EVERY persisted store under
    * `graft.Verify` (r16 verdict #2 — the x201 gap-class: every
    * save/load pair was OpsSpec round-trip-asserted, but no driver
    * carrier ever wrote a store to parquet and probed through the
    * LOADED handle, so a serialization regression would surface only
    * in `sbt test`, never in a CORRECTNESS row; the five r16 stores
    * plus the r15 IVF index store and its append path, which had the
    * same gap). Each section saves
    * to the per-session store root, re-reads FROM DISK, and probes;
    * the output is one (store, id, ok) row per domain element with
    * ok=true the known answer — any write/read corruption, dropped
    * row, or value drift flips ok (or creates an unexpected group)
    * and breaks the hash. Domains are source-table slices or literal
    * ranges, so the oracle is five trivial SELECTs:
    *
    *   - `bpe_rules` ([[graft.ops.TextAnalysis.saveBpeRules]]): the
    *     x69-memoized 8-rule model saved + parquet re-read,
    *     rank-joined against the in-session rules (x69's oracle
    *     proves exactly ranks 1..8 exist on this corpus at every SF);
    *   - `embedding_sig` ([[graft.ops.Dedup.saveEmbeddingSignatures]]
    *     → store-handle [[graft.ops.Dedup
    *     .incrementalEmbeddingNearDuplicates]]): the x206 known
    *     answer probed THROUGH the loaded handle — each replica batch
    *     row must find exactly its corpus original at cosine 1.0;
    *   - `logreg_model` ([[graft.ops.Classifier.saveLogRegModel]]):
    *     train on doc_id<100, save, score docs 100..300 through the
    *     loaded handle vs the in-session model — scores must agree
    *     bit-for-bit (weights are round-9 doubles; parquet round-trips
    *     doubles exactly);
    *   - `minhash_sig` ([[graft.ops.Dedup.saveMinhashSignatures]]):
    *     stored signature arrays of docs<200 vs freshly computed —
    *     null-safe struct equality per doc;
    *   - `pq_model` ([[graft.ops.Similarity.savePqModel]]): the
    *     x64-memoized (m=4, k=8) codebooks re-read from parquet vs
    *     the in-session serialization, per (subspace, code) cell;
    *   - `ivf_index` ([[graft.ops.Similarity.saveIvfIndex]] →
    *     [[graft.ops.Similarity.loadIvfIndex]]): full-coverage batch
    *     top-5 through the loaded index vs the in-session one, per
    *     (query, rank);
    *   - `ivf_append` ([[graft.ops.Similarity.appendToIvfIndex]]):
    *     appended replica vectors must land in exactly their
    *     originals' clusters through the persisted centroids;
    *   - `minhash_append` / `embsig_append` (r18,
    *     [[graft.ops.Dedup.appendToMinhashSignatures]] /
    *     [[graft.ops.Dedup.appendToEmbeddingSignatures]]): a shifted
    *     batch folded into a separate store copy — the loaded
    *     appended rows must equal the batch signed fresh with the
    *     store's own meta;
    *   - `minhash_compact` / `embsig_compact` (r19,
    *     [[graft.ops.Dedup.compactMinhashSignatures]] /
    *     [[graft.ops.Dedup.compactEmbeddingSignatures]] — the x214
    *     shape for the sketch members): the append-fragmented
    *     mh_inc/emb_inc trees rewritten blue/green; the compacted
    *     stores must hold the identical signature row per raw id
    *     (originals and appended) with meta verbatim;
    *   - `ivf_compact` (r19, [[graft.ops.Similarity.compactIvfIndex]]
    *     — the PARTITION-PRESERVING rewrite): the append-fragmented
    *     cluster-partitioned ivf_inc tree compacted without
    *     flattening the PartitionFilters layout; per raw id the
    *     compacted assignments carry the identical cluster.
    *
    * Scale shape: every store is the small persisted artifact of its
    * family (rules/codebooks/weights are KB; signatures are one row
    * per doc) — the carrier's cost is driver-paced store writes plus
    * bounded probes, not corpus work. */
  private val x208PersistedStoreRoundtrip = GraftQuery(
    "x208_persisted_store_roundtrip",
    (s, dir) => {
      import s.implicits._
      val root = storeRootFor(dir)
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val okCols = Seq(col("store"), col("id"), col("ok"))
      // r20 opt (guide §2.6, the r17 ivfIndexSharded pool discipline
      // via ops.Concurrency): the twelve sections form EIGHT
      // independent store chains (disjoint roots and domains by
      // construction); their cost is eager DRIVER actions —
      // save/append/compact writes, meta collects, training collects
      // — which the sequential build serialized (~30 blocking
      // actions ≈ this row's whole bench wall, the suite's largest).
      // The chains now run from a 4-thread pool; each returns its
      // (store-label → okFrame) pairs and the union keeps the
      // original fixed order, so the output is bit-identical and the
      // oracle untouched.
      val mhSlice = docs.filter(col("doc_id") < 200)

      // ---- bpe_rules: x69's memoized model, saved + re-read ----
      def bpeChain(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val bpeRules = TextAnalysis.bpeTrainRules(docs, "text", 8)
      TextAnalysis.saveBpeRules(s, bpeRules, s"$root/bpe")
      val bpeFresh = bpeRules.toDF("merge_rank", "lhs", "rhs", "cnt")
      val bpeLoaded = s.read.parquet(s"$root/bpe/rules")
      val bpeOk = s.range(1, 9).select(col("id"))
        .join(bpeFresh.select(col("merge_rank").cast("long").as("id"),
          struct(col("lhs"), col("rhs"), col("cnt")).as("f")), Seq("id"), "left")
        .join(bpeLoaded.select(col("merge_rank").cast("long").as("id"),
          struct(col("lhs"), col("rhs"), col("cnt")).as("l")), Seq("id"), "left")
        .select(lit("bpe_rules").as("store"), col("id"),
          (col("f") <=> col("l")).as("ok"))
      Seq("bpe_rules" -> bpeOk)
      }

      // ---- embedding_sig: save, load, probe through the handle ----
      def embSigChain(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val embStore = Dedup.saveEmbeddingSignatures(emb, "vec_id",
        "embedding", s"$root/emb_sig", numBits = 48, bands = 8)
      val batch = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
      val probe = Dedup.incrementalEmbeddingNearDuplicates(
        embStore, emb, batch, "vec_id", "embedding", threshold = 0.95)
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n"),
          max(struct(col("dup_id"), col("cosine"), col("dup_in"))).as("m"))
      val embOk = emb.filter(col("vec_id") < 100).select(col("vec_id"))
        .join(probe.withColumn("vec_id", col("batch_id") - lit(1000000L)),
          Seq("vec_id"), "left")
        .select(lit("embedding_sig").as("store"), col("vec_id").as("id"),
          (col("n") === 1 && col("m.dup_id") === col("vec_id") &&
            col("m.cosine") === 1.0 && col("m.dup_in") === "corpus").as("ok"))
      Seq("embedding_sig" -> embOk)
      }

      // ---- logreg_model: train, save, apply via loaded handle ----
      def logregChain(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val labeled = docs.withColumn("is_target", col("source") === "src0")
      val lrModel = graft.ops.Classifier.logRegTrain(
        labeled.filter(col("doc_id") < 100), "doc_id", "text", "is_target")
      val lrLoaded = graft.ops.Classifier.saveLogRegModel(lrModel, s"$root/logreg")
      val applySlice = docs.filter(col("doc_id") >= 100 && col("doc_id") < 300)
      val lrFresh = graft.ops.Classifier.logRegApply(lrModel, applySlice,
        "doc_id", "text").withColumnRenamed("score", "f")
      val lrVia = graft.ops.Classifier.logRegApply(lrLoaded, applySlice,
        "doc_id", "text").withColumnRenamed("score", "l")
      val lrOk = applySlice.select(col("doc_id"))
        .join(lrFresh, Seq("doc_id"), "left")
        .join(lrVia, Seq("doc_id"), "left")
        .select(lit("logreg_model").as("store"), col("doc_id").as("id"),
          (col("f") <=> col("l")).as("ok"))
      Seq("logreg_model" -> lrOk)
      }

      // ---- minhash_sig: stored arrays vs freshly computed ----
      def minhashChain(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val mhStore = Dedup.saveMinhashSignatures(mhSlice, "doc_id", "text",
        s"$root/minhash")
      val mhFresh = Dedup.minhashSignatures(mhSlice, "doc_id", "text")
      val mhOk = mhSlice.select(col("doc_id"))
        .join(mhFresh.select(col("id").as("doc_id"), col("sig").as("f")),
          Seq("doc_id"), "left")
        .join(mhStore.signatures.select(col("id").as("doc_id"),
          col("sig").as("l")), Seq("doc_id"), "left")
        .select(lit("minhash_sig").as("store"), col("doc_id").as("id"),
          (col("f") <=> col("l")).as("ok"))
      Seq("minhash_sig" -> mhOk)
      }

      // ---- ivf chain: index save/load probe, append, and the
      // partition-preserving compact — ONE chain (append reads the
      // saved ivf_inc tree, compact reads the appended one) ----
      def ivfChain(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      // ---- ivf_index: saveIvfIndex / loadIvfIndex probe (the same
      // gap-class as the five r16 stores — the oldest persisted
      // index, spec'd since r15 but never driver-exercised): the
      // x33-memoized index saved to parquet, re-loaded, and probed
      // with full-coverage batch top-5 — per (query, rank) the
      // loaded index must return the identical (neighbor, cosine)
      // as the in-session one (centroids and vectors round-trip
      // parquet exactly; rank order is the shared unrounded-cosine
      // + neighbor-id total order) ----
      val ivfIdx = Similarity.ivfIndex(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      Similarity.saveIvfIndex(ivfIdx, s"$root/ivf")
      val ivfLoaded = Similarity.loadIvfIndex(s, s"$root/ivf",
        "vec_id", "embedding")
      val ivfQ = emb.filter(col("vec_id") < 20)
      val ivfFresh = Similarity.ivfBatchTopK(ivfIdx, ivfQ,
        "vec_id", "embedding", topK = 5, nprobe = 8)
        .select(col("query_id"), col("rank"),
          struct(col("neighbor_id"), col("cosine")).as("f"))
      val ivfVia = Similarity.ivfBatchTopK(ivfLoaded, ivfQ,
        "vec_id", "embedding", topK = 5, nprobe = 8)
        .select(col("query_id"), col("rank"),
          struct(col("neighbor_id"), col("cosine")).as("l"))
      val ivfOk = ivfQ.select(col("vec_id"),
          explode(sequence(lit(1), lit(5))).as("rank"))
        .join(ivfFresh.withColumnRenamed("query_id", "vec_id"),
          Seq("vec_id", "rank"), "left")
        .join(ivfVia.withColumnRenamed("query_id", "vec_id"),
          Seq("vec_id", "rank"), "left")
        .select(lit("ivf_index").as("store"),
          (col("vec_id") * 5 + col("rank")).as("id"),
          (col("f") <=> col("l")).as("ok"))

      // ---- ivf_append: appendToIvfIndex writes a replica batch into
      // the cluster-partitioned layout through the PERSISTED
      // centroids — each appended (v + 2·10⁶, same vector) must land
      // in exactly its original's cluster (one shared assignment
      // expression; a drifted load path or a re-centered append
      // would split them). Separate store path: the load-probe
      // section above must not see appended rows ----
      Similarity.saveIvfIndex(ivfIdx, s"$root/ivf_inc")
      Similarity.appendToIvfIndex(s, s"$root/ivf_inc",
        emb.filter(col("vec_id") < 10)
          .select((col("vec_id") + lit(2000000L)).as("vec_id"),
            col("embedding")),
        "vec_id", "embedding")
      val incAsg = Similarity.loadIvfIndex(s, s"$root/ivf_inc",
        "vec_id", "embedding").assignments
      val incOk = emb.filter(col("vec_id") < 10).select(col("vec_id"))
        .join(incAsg.filter(col("vec_id") < 2000000L)
          .select(col("vec_id"), col("cluster").as("cb")),
          Seq("vec_id"), "left")
        .join(incAsg.filter(col("vec_id") >= 2000000L)
          .select((col("vec_id") - lit(2000000L)).as("vec_id"),
            col("cluster").as("ca")), Seq("vec_id"), "left")
        .select(lit("ivf_append").as("store"), col("vec_id").as("id"),
          (col("ca") <=> col("cb")).as("ok"))

      // ---- ivf_compact (r19): the append-fragmented cluster-
      // partitioned ivf_inc tree rewritten PARTITION-PRESERVINGLY
      // (a flat compact would destroy the PartitionFilters layout);
      // per raw id the compacted assignments must carry the identical
      // cluster, centroids verbatim ----
      val ivfCompact = Similarity.compactIvfIndex(s, s"$root/ivf_inc",
        s"$root/ivf_inc_c", "vec_id", "embedding")
      val ivcDomain = emb.select(col("vec_id")).unionByName(
        emb.filter(col("vec_id") < 10)
          .select((col("vec_id") + lit(2000000L)).as("vec_id")))
      val ivcOk = ivcDomain
        .join(incAsg.select(col("vec_id"), col("cluster").as("f")),
          Seq("vec_id"), "left")
        .join(ivfCompact.assignments
          .select(col("vec_id"), col("cluster").as("l")),
          Seq("vec_id"), "left")
        .select(lit("ivf_compact").as("store"), col("vec_id").as("id"),
          (col("f") <=> col("l")).as("ok"))
      Seq("ivf_index" -> ivfOk, "ivf_append" -> incOk,
        "ivf_compact" -> ivcOk)
      }

      // ---- minhash_append / embsig_append (r18, the ivf_append
      // shape for the sketch members): a shifted batch folded into a
      // SEPARATE store copy through the append path — the loaded
      // appended rows must equal the batch signed fresh with the
      // store's own meta (one shared signing expression; a drifted
      // load path, a meta mismatch, or a lost append row flips ok /
      // drops a group). Separate store paths: the round-trip
      // sections above must not see appended rows ----
      def mhIncChain(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val mhaStore0 = Dedup.saveMinhashSignatures(mhSlice, "doc_id",
        "text", s"$root/mh_inc")
      val mhaDom = docs.filter(col("doc_id") >= 200 && col("doc_id") < 250)
      val mhaStore1 = Dedup.appendToMinhashSignatures(mhaStore0,
        s"$root/mh_inc",
        mhaDom.select((col("doc_id") + lit(3000000L)).as("doc_id"),
          col("text")),
        "doc_id", "text")
      val mhaFresh = Dedup.minhashSignatures(
        mhaDom.select((col("doc_id") + lit(3000000L)).as("doc_id"),
          col("text")),
        "doc_id", "text", mhaStore1.numHashes, mhaStore1.shingleSize)
      val mhaOk = mhaDom.select(col("doc_id"))
        .join(mhaFresh.select((col("id") - lit(3000000L)).as("doc_id"),
          col("sig").as("f")), Seq("doc_id"), "left")
        .join(mhaStore1.signatures.filter(col("id") >= 3000000L)
          .select((col("id") - lit(3000000L)).as("doc_id"),
            col("sig").as("l")), Seq("doc_id"), "left")
        .select(lit("minhash_append").as("store"), col("doc_id").as("id"),
          (col("f") <=> col("l")).as("ok"))
      // minhash_compact (r19, the x214 shape): the append-fragmented
      // mh_inc tree rewritten blue/green — identical signature row
      // per raw id (originals AND appended), meta sidecar verbatim
      val mhCompact = Dedup.compactMinhashSignatures(s, s"$root/mh_inc",
        s"$root/mh_inc_c")
      val mhcDomain = docs.filter(col("doc_id") < 200).select(col("doc_id"))
        .unionByName(docs
          .filter(col("doc_id") >= 200 && col("doc_id") < 250)
          .select((col("doc_id") + lit(3000000L)).as("doc_id")))
      val mhcMeta = mhCompact.numHashes == mhaStore1.numHashes &&
        mhCompact.shingleSize == mhaStore1.shingleSize
      val mhcOk = mhcDomain
        .join(mhaStore1.signatures.select(col("id").as("doc_id"),
          col("sig").as("f")), Seq("doc_id"), "left")
        .join(mhCompact.signatures.select(col("id").as("doc_id"),
          col("sig").as("l")), Seq("doc_id"), "left")
        .select(lit("minhash_compact").as("store"), col("doc_id").as("id"),
          (col("f") <=> col("l") && lit(mhcMeta)).as("ok"))
      Seq("minhash_append" -> mhaOk, "minhash_compact" -> mhcOk)
      }

      // ---- embsig_append + embsig_compact: same chain shape for
      // the embedding store copy ----
      def embIncChain(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val emaStore0 = Dedup.saveEmbeddingSignatures(emb, "vec_id",
        "embedding", s"$root/emb_inc", numBits = 48, bands = 8)
      val emaDom = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
      val emaStore1 = Dedup.appendToEmbeddingSignatures(emaStore0,
        s"$root/emb_inc",
        emaDom.select((col("vec_id") + lit(3000000L)).as("vec_id"),
          col("embedding")),
        "vec_id", "embedding")
      val emaFresh = Dedup.embeddingSignatures(
        emaDom.select((col("vec_id") + lit(3000000L)).as("vec_id"),
          col("embedding")),
        "vec_id", "embedding", emaStore1.numBits, emaStore1.bands,
        emaStore1.seed)
      val emaOk = emaDom.select(col("vec_id"))
        .join(emaFresh.select((col("id") - lit(3000000L)).as("vec_id"),
          col("sig").as("f")), Seq("vec_id"), "left")
        .join(emaStore1.signatures.filter(col("id") >= 3000000L)
          .select((col("id") - lit(3000000L)).as("vec_id"),
            col("sig").as("l")), Seq("vec_id"), "left")
        .select(lit("embsig_append").as("store"), col("vec_id").as("id"),
          (col("f") <=> col("l")).as("ok"))
      // embsig_compact (r19, the x214 shape): the append-fragmented
      // emb_inc tree rewritten blue/green — the compacted store must
      // hold the identical signature row per raw id (originals AND
      // appended), meta sidecar verbatim (compaction never
      // re-sizes). The pre-compaction handle still reads the
      // fragmented root — blue/green means both stay valid.
      val embCompact = Dedup.compactEmbeddingSignatures(s,
        s"$root/emb_inc", s"$root/emb_inc_c")
      val emcDomain = emb.select(col("vec_id")).unionByName(
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
          .select((col("vec_id") + lit(3000000L)).as("vec_id")))
      val emcMeta = embCompact.numBits == emaStore1.numBits &&
        embCompact.bands == emaStore1.bands &&
        embCompact.seed == emaStore1.seed
      val emcOk = emcDomain
        .join(emaStore1.signatures.select(col("id").as("vec_id"),
          col("sig").as("f")), Seq("vec_id"), "left")
        .join(embCompact.signatures.select(col("id").as("vec_id"),
          col("sig").as("l")), Seq("vec_id"), "left")
        .select(lit("embsig_compact").as("store"), col("vec_id").as("id"),
          (col("f") <=> col("l") && lit(emcMeta)).as("ok"))
      Seq("embsig_append" -> emaOk, "embsig_compact" -> emcOk)
      }

      // ---- pq_model: x64's memoized codebooks, saved + re-read ----
      def pqChain(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val pq = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 4, k = 8, iters = 1)
      Similarity.savePqModel(s, pq, s"$root/pq")
      val pqFresh = (for {
        sub <- pq.codebooks.indices
        c <- pq.codebooks(sub).indices
      } yield (sub, c, pq.codebooks(sub)(c).toSeq))
        .toDF("subspace", "code", "centroid")
      val pqLoaded = s.read.parquet(s"$root/pq/codebooks")
      val pqOk = s.range(0, 32).select(col("id"))
        .join(pqFresh.select(
          (col("subspace").cast("long") * 8 + col("code")).as("id"),
          col("centroid").as("f")), Seq("id"), "left")
        .join(pqLoaded.select(
          (col("subspace").cast("long") * 8 + col("code")).as("id"),
          col("centroid").as("l")), Seq("id"), "left")
        .select(lit("pq_model").as("store"), col("id"),
          (col("f") <=> col("l")).as("ok"))
      Seq("pq_model" -> pqOk)
      }

      val frames = graft.ops.Concurrency.awaitAll(s, "x208-stores")(Seq(
        () => bpeChain(), () => embSigChain(), () => logregChain(),
        () => minhashChain(), () => ivfChain(), () => mhIncChain(),
        () => embIncChain(), () => pqChain())).flatten.toMap
      // the original fixed union order — output identical to the
      // sequential build (and totally ordered by the orderBy anyway)
      Seq("bpe_rules", "embedding_sig", "embsig_append", "ivf_index",
          "ivf_append", "logreg_model", "minhash_sig", "minhash_append",
          "pq_model", "minhash_compact", "embsig_compact", "ivf_compact")
        .map(frames(_))
        .map(_.select(okCols: _*)).reduce(_.unionByName(_))
        .orderBy(col("store"), col("id"))
    },
    Some("""SELECT 'bpe_rules' AS store, CAST(r AS BIGINT) AS id, true AS ok
        FROM range(1, 9) t(r)
      UNION ALL
      SELECT 'embedding_sig', vec_id, true FROM embeddings WHERE vec_id < 100
      UNION ALL
      SELECT 'embsig_append', vec_id, true FROM embeddings
        WHERE vec_id >= 100 AND vec_id < 150
      UNION ALL
      SELECT 'embsig_compact', vec_id, true FROM embeddings
      UNION ALL
      SELECT 'embsig_compact', vec_id + 3000000, true FROM embeddings
        WHERE vec_id >= 100 AND vec_id < 150
      UNION ALL
      SELECT 'minhash_compact', doc_id, true FROM documents
        WHERE doc_id < 200
      UNION ALL
      SELECT 'minhash_compact', doc_id + 3000000, true FROM documents
        WHERE doc_id >= 200 AND doc_id < 250
      UNION ALL
      SELECT 'ivf_append', vec_id, true FROM embeddings WHERE vec_id < 10
      UNION ALL
      SELECT 'ivf_compact', vec_id, true FROM embeddings
      UNION ALL
      SELECT 'ivf_compact', vec_id + 2000000, true FROM embeddings
        WHERE vec_id < 10
      UNION ALL
      SELECT 'ivf_index', vec_id * 5 + r, true
        FROM embeddings, range(1, 6) t(r) WHERE vec_id < 20
      UNION ALL
      SELECT 'logreg_model', doc_id, true FROM documents
        WHERE doc_id >= 100 AND doc_id < 300
      UNION ALL
      SELECT 'minhash_append', doc_id, true FROM documents
        WHERE doc_id >= 200 AND doc_id < 250
      UNION ALL
      SELECT 'minhash_sig', doc_id, true FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT 'pq_model', r, true FROM range(0, 32) t(r)
      ORDER BY store, id"""))

  /** Token reversal — the x209 family's replayable "novel content"
    * generator; [[revTextSql]] is its DuckDB replay (the equality
    * argument is in x209's scaladoc). */
  private def rev(c: org.apache.spark.sql.Column) = concat_ws(" ",
    reverse(split(c, graft.ops.TextAnalysis.WhitespaceClass)))

  private val revTextSql =
    """array_to_string(list_reverse(string_split_regex(text, '\s+')), ' ')"""

  /** One x209-family intake slice: the `keep` docs with non-NULL text
    * (the reversed form diverges on NULLs, r17 rule — gated on both
    * sides), ids shifted by `shift`, `text` as the text column. */
  private def intakeSlice(docs: org.apache.spark.sql.DataFrame,
      keep: org.apache.spark.sql.Column, shift: Long,
      text: org.apache.spark.sql.Column = col("text")) =
    docs.filter(keep && col("text").isNotNull)
      .select((col("doc_id") + lit(shift)).as("doc_id"), text)

  /** Token-reversed docs `lo <= doc_id < hi` as an [[intakeSlice]];
    * [[reversedSliceSql]] is its DuckDB replay. */
  private def reversedSlice(docs: org.apache.spark.sql.DataFrame,
      lo: Int, hi: Int, shift: Long) =
    intakeSlice(docs, col("doc_id") >= lo && col("doc_id") < hi, shift,
      rev(col("text")).as("text"))

  private def reversedSliceSql(shift: Int, lo: Int, hi: Int): String =
    s"""SELECT doc_id + $shift,
          $revTextSql
        FROM documents
        WHERE doc_id >= $lo AND doc_id < $hi AND text IS NOT NULL"""

  /** The x209 intake: exact replicas of docs 0..100 (+10⁶ ids) and
    * token-reversed docs 300..400 (+2·10⁶); [[x209IntakeSql]] is the
    * DuckDB replay (the body of an `intake` CTE). */
  private def x209Intake(docs: org.apache.spark.sql.DataFrame) =
    intakeSlice(docs, col("doc_id") < 100, 1000000L)
      .unionByName(reversedSlice(docs, 300, 400, 2000000L))

  private val x209IntakeSql =
    s"""SELECT doc_id + 1000000 AS id, text FROM documents
        WHERE doc_id < 100 AND text IS NOT NULL
        UNION ALL
        ${reversedSliceSql(2000000, 300, 400)}"""

  /** The x209-family flag prefix: corpus digest keepers `cd`, the x209
    * intake, and the intake digests `ib`. */
  private def x209IntakeCtesSql(cd: String, intake: String,
      ib: String): String =
    s"""$cd AS MATERIALIZED (
        SELECT md5(text) AS digest, min(doc_id) AS keeper
        FROM documents GROUP BY md5(text)),
      $intake AS MATERIALIZED (
        $x209IntakeSql),
      $ib AS MATERIALIZED (SELECT id, md5(text) AS digest FROM $intake)"""

  /** Flag `intake` against the digest `store` and anti-join the flagged
    * ids out: (flagged, admitted). flagged feeds TWO subplans (the
    * output union AND the admission anti-join, with divergent pruning
    * — no exchange reuse): checkpoint it or the ledger join + keeper
    * aggregate execute twice (the CLAUDE.md N-subplans rule; flagged
    * is batch-bounded, so the checkpoint is tiny). */
  private def flagAndAdmit(store: Dedup.DigestStore,
      intake: org.apache.spark.sql.DataFrame) = {
    val flagged = Dedup.incrementalExactDuplicates(
      store, intake, "doc_id", "text").localCheckpoint(true)
    (flagged, intake.join(
      flagged.select(col("batch_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti"))
  }

  /** Day-2 intake admission pipeline, end-to-end through PERSISTED
    * day-0 artifacts — the production composition the incremental
    * stores exist for (the reference's whole incrementality story is
    * monthly appends, udac_capstone_emr.py:155; at 100 TB each day's
    * intake passes the digest ledger first, then the trained quality
    * model — never retraining, never re-scanning corpus text):
    *
    *   1. day-0: corpus digest ledger persisted
    *      ([[graft.ops.Dedup.saveDigestStore]] — the EXACT member of
    *      the incremental store trio, new r17) + quality model
    *      trained once and persisted
    *      ([[graft.ops.Classifier.saveLogRegModel]]);
    *   2. intake: 100 exact replicas of corpus docs (shifted ids)
    *      + 100 token-REVERSED corpus docs (genuinely novel content
    *      from the corpus's own vocabulary — no synthetic-text
    *      generator to replay);
    *   3. [[graft.ops.Dedup.incrementalExactDuplicates]] against the
    *      LOADED ledger flags every doc whose content the corpus or
    *      an earlier intake doc holds (replicas — including any whose
    *      original has a real exact-dup partner in the corpus, sf0.1
    *      has 8 such pairs — plus any reversed doc that happens to
    *      reproduce existing content, e.g. a token-palindrome);
    *   4. survivors are scored through the LOADED model
    *      ([[graft.ops.Classifier.logRegApply]]) — one broadcast
    *      weight join, the daily admission decision's input.
    *
    * HASH-GREEN with NO data premise (unlike the sketch-store
    * carriers): every stage is exact — md5 equality, min-id keepers,
    * and the x97/x207 order-pinned logreg replay — so the oracle
    * replays the ENTIRE pipeline including the 2-round training loop
    * and the reversed-text construction (Spark `concat_ws(" ",
    * reverse(split(text, WhitespaceClass)))` ≡ DuckDB
    * `array_to_string(list_reverse(string_split_regex(text, '\s+')),
    * ' ')` — the two splits agree on all empty-segment edges, the
    * r12 rule, so the constructed strings and their md5s are
    * bit-identical). A drifted digest, a batch-keeper tie-break
    * flip, a label leak, or a broken loaded-model apply all break
    * the hash. */
  private val x209IncrementalIntake = GraftQuery(
    "x209_incremental_intake",
    (s, dir) => {
      val root = storeRootFor(dir)
      val docs = Tables.documents(s, dir)
      val ledger = Dedup.saveDigestStore(docs, "doc_id", "text",
        s"$root/x209_digests")
      val lrStore = graft.ops.Classifier.saveLogRegModel(
        graft.ops.Classifier.logRegTrain(
          docs.withColumn("is_target", col("source") === "src0")
            .filter(col("doc_id") < 250),
          "doc_id", "text", "is_target"),
        s"$root/x209_model")
      // text IS NOT NULL on BOTH intake slices (r17 review): the
      // reversed construction diverges on NULLs — Spark concat_ws
      // over a null array yields '' while DuckDB array_to_string
      // keeps NULL — so regenerated testdata with null texts would
      // hash-red with no named cause; gate them out of the intake on
      // both sides instead (today's corpora have none)
      val (flagged, admitted) = flagAndAdmit(ledger, x209Intake(docs))
      val scored = graft.ops.Classifier.logRegApply(
        lrStore, admitted, "doc_id", "text")
      flagged
        .select(col("batch_id").as("doc_id"),
          lit("duplicate").as("status"), col("dup_id"),
          lit(null).cast("double").as("score"))
        .unionByName(scored.select(col("doc_id"),
          lit("admitted").as("status"),
          lit(null).cast("bigint").as("dup_id"), col("score")))
        .orderBy(col("doc_id"), col("dup_id"))
    },
    Some(s"""WITH ${x209IntakeCtesSql("cd", "intake", "ib")},
      corpus_hits AS (
        SELECT ib.id, cd.keeper AS dup_id, 'corpus' AS dup_in
        FROM ib JOIN cd ON ib.digest = cd.digest),
      kb AS (SELECT digest, min(id) AS k FROM ib GROUP BY digest),
      batch_hits AS (
        SELECT ib.id, kb.k AS dup_id, 'batch' AS dup_in
        FROM ib JOIN kb ON ib.digest = kb.digest WHERE ib.id > kb.k),
      flagged AS MATERIALIZED (
        SELECT * FROM corpus_hits UNION ALL SELECT * FROM batch_hits),
      admitted AS MATERIALIZED (
        SELECT id, text FROM intake
        WHERE id NOT IN (SELECT id FROM flagged)),
      $logRegTrainSql,
      anorm AS MATERIALIZED (
        SELECT id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s
        FROM admitted WHERE text IS NOT NULL),
      gapply AS MATERIALIZED (
        SELECT id,
          unnest(list_transform(range(1, length(s)),
            i -> (ascii(substr(s, CAST(i AS INT), 1)) * 31
                  + ascii(substr(s, CAST(i AS INT) + 1, 1))) % 64)) AS b
        FROM anorm WHERE length(s) >= 2),
      fapply AS MATERIALIZED (
        SELECT id, b,
          CAST(count(*) AS DOUBLE)
            / CAST(sum(count(*)) OVER (PARTITION BY id) AS DOUBLE) AS x
        FROM gapply GROUP BY id, b),
      scored AS MATERIALIZED (
        SELECT f.id,
          round(1.0 / (1.0 + exp(-(round(list_sum(list_transform(
            list_sort(list(struct_pack(k := f.b,
              v := COALESCE(w2.w * f.x, 0.0)))),
            s -> struct_extract(s, 'v'))), 9)))), 6) AS score
        FROM fapply f LEFT JOIN w2 ON f.b = w2.b
        GROUP BY f.id)
      SELECT id AS doc_id, 'duplicate' AS status, dup_id,
        CAST(NULL AS DOUBLE) AS score FROM flagged
      UNION ALL
      SELECT id, 'admitted', CAST(NULL AS BIGINT), score FROM scored
      ORDER BY doc_id, dup_id"""))

  private val intakeDay3Sql =
    s"""WITH ${x209IntakeCtesSql("cd0", "i2", "ib2")},
      ch2 AS (SELECT ib2.id FROM ib2 JOIN cd0 USING (digest)),
      kb2 AS (SELECT digest, min(id) AS k FROM ib2 GROUP BY digest),
      bh2 AS (SELECT ib2.id FROM ib2 JOIN kb2 USING (digest)
        WHERE ib2.id > kb2.k),
      fl2 AS MATERIALIZED (SELECT id FROM ch2 UNION SELECT id FROM bh2),
      app2 AS MATERIALIZED (
        SELECT digest, min(id) AS keeper FROM ib2
        WHERE id NOT IN (SELECT id FROM fl2)
          AND digest NOT IN (SELECT digest FROM cd0 WHERE digest IS NOT NULL)
        GROUP BY digest),
      led2 AS MATERIALIZED (
        SELECT digest, keeper FROM cd0
        UNION ALL SELECT digest, keeper FROM app2),
      i3 AS MATERIALIZED (
        SELECT doc_id + 3000000 AS id,
          $revTextSql
          AS text
        FROM documents
        WHERE doc_id >= 300 AND doc_id < 400 AND text IS NOT NULL
        UNION ALL
        SELECT doc_id + 4000000, text FROM documents
        WHERE doc_id >= 100 AND doc_id < 150 AND text IS NOT NULL
        UNION ALL
        ${reversedSliceSql(5000000, 400, 500)}),
      ib3 AS MATERIALIZED (SELECT id, md5(text) AS digest FROM i3),
      ch3 AS (SELECT ib3.id, led2.keeper AS dup_id
        FROM ib3 JOIN led2 USING (digest)),
      kb3 AS (SELECT digest, min(id) AS k FROM ib3 GROUP BY digest),
      bh3 AS (SELECT ib3.id, kb3.k AS dup_id
        FROM ib3 JOIN kb3 USING (digest) WHERE ib3.id > kb3.k),
      fl3 AS MATERIALIZED (
        SELECT * FROM ch3 UNION ALL SELECT * FROM bh3)
      SELECT id AS doc_id, 'duplicate' AS status, dup_id FROM fl3
      UNION ALL
      SELECT id, 'admitted', CAST(NULL AS BIGINT) FROM i3
      WHERE id NOT IN (SELECT id FROM fl3)
      ORDER BY doc_id, dup_id"""

  /** The x210/x214 three-day history over the digest ledger `store`
    * under the store root: day-0 save, the x209 intake flagged,
    * admitted and APPENDED on day 2, then the day-3 intake (x210's
    * scaladoc names its three slices) flagged through
    * `day3(path, ledger2)` — x210 probes the appended ledger, x214 its
    * compaction. [[intakeDay3Sql]] is the one oracle of both. */
  private def intakeDay3(s: org.apache.spark.sql.SparkSession, dir: String,
      store: String)(
      day3: (String, Dedup.DigestStore) => Dedup.DigestStore) = {
    val path = s"${storeRootFor(dir)}/$store"
    val docs = Tables.documents(s, dir)
    // day-0 save is mode("overwrite"), the appends below re-apply on
    // top — a re-invocation replays the identical 3-day history
    val ledger0 = Dedup.saveDigestStore(docs, "doc_id", "text", path)
    // day-2: the x209 intake construction (NULL-text gating on both
    // sides — the reversed form diverges on NULLs, r17 rule)
    val (_, admitted2) = flagAndAdmit(ledger0, x209Intake(docs))
    val ledger3 = day3(path, Dedup.appendToDigestStore(ledger0, path,
      admitted2, "doc_id", "text"))
    val intake3 = reversedSlice(docs, 300, 400, 3000000L)
      .unionByName(intakeSlice(docs,
        col("doc_id") >= 100 && col("doc_id") < 150, 4000000L))
      .unionByName(reversedSlice(docs, 400, 500, 5000000L))
    val (flagged3, admitted3) = flagAndAdmit(ledger3, intake3)
    flagged3
      .select(col("batch_id").as("doc_id"),
        lit("duplicate").as("status"), col("dup_id"))
      .unionByName(admitted3.select(col("doc_id"),
        lit("admitted").as("status"),
        lit(null).cast("bigint").as("dup_id")))
      .orderBy(col("doc_id"), col("dup_id"))
  }

  /** Day-3 intake through an APPENDED digest ledger — the maintenance
    * composition the r17 verdict named as the one functional gap:
    * without [[graft.ops.Dedup.appendToDigestStore]], day-2 admitted
    * content never joins the ledger and day 3 re-admits it unless the
    * caller re-runs the full-corpus save (exactly the rescan the
    * ledger exists to avoid; the reference's incrementality story is
    * appends, udac_capstone_emr.py:155, spark_elt_emr.py:82-83).
    *
    *   1. day-0: corpus ledger persisted (x209's step, own root);
    *   2. day-2: the x209 intake (corpus replicas + token-reversed
    *      novel content) flagged against the loaded ledger; admission
    *      anti-join; the ADMITTED survivors folded into the ledger
    *      via the append path — cost ∝ batch, the corpus text is
    *      never rescanned;
    *   3. day-3 intake: REPLICAS OF DAY-2 ADMITTED CONTENT (the same
    *      reversed construction under +3·10⁶ ids — these must flag as
    *      `corpus` dups with the day-2 keeper through the UPDATED
    *      ledger; a broken or invisible append re-admits them and the
    *      hash breaks), fresh corpus replicas (docs 100..150, +4·10⁶
    *      — the day-0 entries must survive the append), and genuinely
    *      new reversed docs (400..500, +5·10⁶ — admission must still
    *      work on a grown ledger).
    *
    * HASH-GREEN with NO data premise (the x209 algebra plus one more
    * materialized round): md5 equality, min-id keepers and the
    * append's anti-join + min-id fold are all exactly replayable;
    * token-palindromes, real corpus exact-dup pairs, and duplicate
    * reversed content all fall out of the same algebra on both
    * sides. */
  private val x210IncrementalIntakeDay3 = GraftQuery(
    "x210_incremental_intake_day3",
    (s, dir) => intakeDay3(s, dir, "x210_digests")((_, ledger2) => ledger2),
    Some(intakeDay3Sql))

  /** One admission-stream run per (tag, session, sfDir) — the
    * settledStream memo discipline for the foreachBatch carriers
    * x211/x215/x216/x218 (their output is a parquet DIRECTORY, not a
    * memory-sink table, so the shared helper doesn't apply). `run`
    * gets the per-session store root plus fresh output and checkpoint
    * dirs and drives its gate over an
    * [[graft.streaming.EventStreams.orderedIntake]] (one id-ordered
    * micro-batch per staged batch, each probing the stores the
    * PREVIOUS batch appended to); the memo returns the output dir.
    * `run` must not call [[admissionRun]] itself (a recursive update
    * of the same ConcurrentHashMap); [[storeRootFor]] is a separate
    * map. */
  private val admissionRuns = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), String]()
  private def admissionRun(tag: String, s: org.apache.spark.sql.SparkSession,
      dir: String)(run: (String, String, String) => Any): String =
    admissionRuns.computeIfAbsent((tag, graft.SessionKeys.of(s), dir), _ => {
      val out = graft.TempDirs.createCleaned(s"graft_${tag}_out")
      run(storeRootFor(dir), out, graft.TempDirs.createCleaned(s"graft_${tag}_ck"))
      out
    })

  /** x211's run: day-0 digest ledger, then the x209 intake as three
    * id-ordered batches through
    * [[graft.streaming.EventStreams.runIncrementalAdmission]]. */
  private def x211OutDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    admissionRun("x211", s, dir) { (root, out, ck) =>
      val docs = Tables.documents(s, dir)
      Dedup.saveDigestStore(docs, "doc_id", "text", s"$root/x211_digests")
      graft.streaming.EventStreams.runIncrementalAdmission(
        graft.streaming.EventStreams.orderedIntake(s, "graft_x211",
          Seq(intakeSlice(docs, col("doc_id") < 100, 1000000L),
            reversedSlice(docs, 300, 350, 2000000L),
            reversedSlice(docs, 350, 400, 2000000L))),
        s"$root/x211_digests", out, ck, "doc_id", "text")
    }

  /** The x209 admission gate AS A STRUCTURED STREAM (r17 verdict #3):
    * three id-ordered micro-batches pass the persisted digest ledger
    * one at a time; each batch's admitted survivors are APPENDED
    * before the next batch probes, so intake duplicates that straddle
    * batches flag `corpus` through the just-appended entry with the
    * SAME keeper the batch pipeline would assign (the min-id keeper —
    * which is what makes (doc_id, status, min dup_id) independent of
    * the batch split and exactly SQL-replayable: the oracle is the
    * x209 flag algebra with the flag rows reduced to min(dup_id) per
    * doc). A broken cross-batch append admits the later copy and
    * breaks the hash; a broken stream-static reload (stale ledger
    * listing) does the same. */
  private val x211StreamingAdmission = GraftQuery(
    "x211_streaming_admission",
    (s, dir) => s.read.parquet(x211OutDir(s, dir))
      .orderBy(col("doc_id")),
    Some(s"""WITH ${x209IntakeCtesSql("cd", "intake", "ib")},
      ch AS (SELECT ib.id, cd.keeper AS dup_id FROM ib JOIN cd USING (digest)),
      kb AS (SELECT digest, min(id) AS k FROM ib GROUP BY digest),
      bh AS (SELECT ib.id, kb.k AS dup_id
        FROM ib JOIN kb USING (digest) WHERE ib.id > kb.k),
      fl AS MATERIALIZED (
        SELECT id, min(dup_id) AS dup_id
        FROM (SELECT * FROM ch UNION ALL SELECT * FROM bh) t GROUP BY id)
      SELECT id AS doc_id, 'duplicate' AS status, dup_id FROM fl
      UNION ALL
      SELECT id, 'admitted', CAST(NULL AS BIGINT) FROM intake
      WHERE id NOT IN (SELECT id FROM fl)
      ORDER BY doc_id"""))

  /** Probe THROUGH an appended embedding signature store — the
    * day-3 semantics for the sketch member (x210 proves it for the
    * digest ledger; x208's `embsig_append` proves appended ROWS equal
    * fresh signing; this proves the PROBE sees appended content):
    * day-0 store over the corpus, day-2 append of 100 corpus
    * replicas (+10⁶ ids — new ids, duplicate content: the
    * revision-heavy intake case), day-3 probe of fresh replicas
    * (+2·10⁶). Identical vectors sign identically, so each probe doc
    * shares every band bucket with BOTH its corpus original and the
    * day-2 appended copy — exactly two verified rows per probe id at
    * cosine 1.0, both `corpus` provenance. A lost append, a stale
    * handle reload, or a width/seed drift between append and probe
    * kills the appended row and breaks the hash.
    *
    * Replica-union known answer (the x206/x208 premise, OpsSpec-
    * pinned: no distinct corpus pair reaches 0.95 and no two corpus
    * embeddings are bit-identical), so the oracle is two literal
    * rows per probed id. */
  private val x212EmbeddingAppendProbe = GraftQuery(
    "x212_embedding_append_probe",
    (s, dir) => {
      val root = storeRootFor(dir)
      val emb = Tables.embeddings(s, dir)
      val store0 = Dedup.saveEmbeddingSignatures(emb, "vec_id",
        "embedding", s"$root/x212_embsig", numBits = 48, bands = 8)
      val day2 = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding"))
      val store1 = Dedup.appendToEmbeddingSignatures(store0,
        s"$root/x212_embsig", day2, "vec_id", "embedding")
      // verification vectors must cover every store id (originals +
      // the appended copies)
      val corpusVecs = emb.select(col("vec_id"), col("embedding"))
        .unionByName(day2)
      val probe = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + lit(2000000L)).as("vec_id"),
          col("embedding"))
      Dedup.incrementalEmbeddingNearDuplicates(store1, corpusVecs,
          probe, "vec_id", "embedding", threshold = 0.95)
        .select((col("batch_id") - lit(2000000L)).as("vec_id"),
          col("dup_id"), col("cosine"), col("dup_in"))
        .orderBy(col("vec_id"), col("dup_id"))
    },
    Some("""SELECT vec_id, vec_id AS dup_id,
        CAST(1.0 AS DOUBLE) AS cosine, 'corpus' AS dup_in
      FROM embeddings WHERE vec_id < 100
      UNION ALL
      SELECT vec_id, vec_id + 1000000, CAST(1.0 AS DOUBLE), 'corpus'
      FROM embeddings WHERE vec_id < 100
      ORDER BY vec_id, dup_id"""))

  /** DuckDB sorted-trigram-set key `gk` (the x42 gram-key form) per
    * `id` over the token lists `t` of `from` — a CTE body. */
  private def gramKeySql(id: String, from: String): String =
    s"""SELECT $id, list_sort(list_distinct(CASE WHEN len(t) < 3
          THEN [array_to_string(t, ' ')]
          ELSE list_transform(range(1, len(t) - 1),
            i -> array_to_string(t[i:i+2], ' ')) END)) AS gk
        FROM $from"""

  /** The corpus gram keys `g` (over tokens `tok`, NULL texts dropped)
    * that the x213/x215 oracles match intake keys against. */
  private val corpusGramKeysSql =
    s"""tok AS MATERIALIZED (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL),
      g AS MATERIALIZED (
        ${gramKeySql("doc_id", "tok")})"""

  /** Probe THROUGH an appended MINHASH signature store — x212's
    * symmetry for the TEXT sketch member (r18 verdict #2), closing
    * the store-trio probe matrix (digest x210, embedding x212,
    * minhash x213): day-0 store over the corpus, day-2 append of 100
    * exact text replicas (+10⁶ ids), day-3 probe of fresh replicas
    * (+2·10⁶) through the reloaded handle at threshold 1.0 with
    * EXACT verification ([[graft.ops.Dedup.
    * incrementalVerifiedTextDuplicates]] — the estimate stays
    * rows-only per the r16 rule; exact Jaccard 1.0 ⇔ identical gram
    * SETS is the x42 full-semantics replay, no planted-answer
    * premise). Identical texts sign identically, so each probe doc
    * shares every band bucket with its corpus original, every real
    * corpus exact-dup of it, AND the day-2 appended copy — a lost
    * append, stale handle reload, or width/shingle drift between
    * append and probe kills the appended rows and breaks the hash.
    * The oracle groups the sorted trigram list: probe rows join every
    * store doc with an equal gram set ('corpus', including the +10⁶
    * appended ids), and probe-internal equal-set pairs emit once
    * ('batch'). */
  private val x213MinhashAppendProbe = GraftQuery(
    "x213_minhash_append_probe",
    (s, dir) => {
      val root = storeRootFor(dir)
      val docs = Tables.documents(s, dir)
      val store0 = Dedup.saveMinhashSignatures(docs, "doc_id", "text",
        s"$root/x213_minhash")
      val day2 = intakeSlice(docs, col("doc_id") < 100, 1000000L)
      val store1 = Dedup.appendToMinhashSignatures(store0,
        s"$root/x213_minhash", day2, "doc_id", "text")
      // verification texts must cover every store id (originals + the
      // appended copies) — the x212 corpusVecs rule
      val corpusTexts = docs.select(col("doc_id"), col("text"))
        .unionByName(day2)
      val probe = intakeSlice(docs, col("doc_id") < 100, 2000000L)
      Dedup.incrementalVerifiedTextDuplicates(store1, corpusTexts, probe,
          "doc_id", "text", threshold = 1.0)
        .select(col("batch_id").as("doc_id"), col("dup_id"),
          col("jaccard"), col("dup_in"))
        .orderBy(col("doc_id"), col("dup_id"))
    },
    Some(s"""WITH $corpusGramKeysSql,
      store AS MATERIALIZED (
        SELECT doc_id AS id, gk FROM g
        UNION ALL
        SELECT doc_id + 1000000, gk FROM g WHERE doc_id < 100),
      probe AS MATERIALIZED (
        SELECT doc_id + 2000000 AS id, gk FROM g WHERE doc_id < 100)
      SELECT p.id AS doc_id, s.id AS dup_id,
        CAST(1.0 AS DOUBLE) AS jaccard, 'corpus' AS dup_in
      FROM probe p JOIN store s ON p.gk = s.gk
      UNION ALL
      SELECT a.id, b.id, CAST(1.0 AS DOUBLE), 'batch'
      FROM probe a JOIN probe b ON a.gk = b.gk AND a.id < b.id
      ORDER BY doc_id, dup_id"""))

  /** x215's run ([[admissionRun]] for the SKETCH member): day-0 =
    * minhash signature store over the corpus + the corpus TEXT store
    * seeded, then three id-ordered batches through
    * [[graft.streaming.EventStreams.runIncrementalNearDupAdmission]] —
    * each batch's admitted docs join BOTH stores before the next
    * batch probes. */
  private def x215OutDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    admissionRun("x215", s, dir) { (root, out, ck) =>
      val docs = Tables.documents(s, dir)
      Dedup.saveMinhashSignatures(docs, "doc_id", "text",
        s"$root/x215_minhash")
      // seed the corpus TEXT store (the verification side the stream
      // itself grows); overwrite = a re-invocation replays day-0
      docs.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$root/x215_corpus")
      val b0 = intakeSlice(docs, col("doc_id") < 100, 1000000L)
      val b1 = reversedSlice(docs, 300, 400, 2000000L)
      val b2 = reversedSlice(docs, 300, 400, 3000000L)
        .unionByName(reversedSlice(docs, 400, 500, 4000000L))
      graft.streaming.EventStreams.runIncrementalNearDupAdmission(
        graft.streaming.EventStreams.orderedIntake(s, "graft_x215",
          Seq(b0, b1, b2)),
        s"$root/x215_minhash", s"$root/x215_corpus", out, ck,
        "doc_id", "text", threshold = 1.0)
    }

  /** NEAR-DUP admission as a structured stream — x211's shape for the
    * SKETCH member of the store trio, and the full production loop:
    * each micro-batch probes the minhash signature store with EXACT
    * gram-set verification, and its admitted docs join BOTH the
    * corpus text store and the signature store before the next batch
    * probes. At threshold 1.0, verified Jaccard 1.0 ⇔ identical gram
    * SETS — an equivalence relation — so the output is
    * batching-invariant: admitted = each class's minimum id unless
    * the class has a corpus member; flagged docs carry
    * dup_id = COALESCE(min corpus id in class, min intake id in
    * class), for any ID-ORDERED split of the intake into micro-batches
    * (the x211 precondition — this carrier stages its batches in id
    * order; a larger-id class member arriving EARLY would be admitted
    * and diverge from the class-minimum oracle, r19 advisor). The
    * three batches exercise all the cross-batch paths: b0 = corpus
    * replicas (flag through day-0 signatures), b1 = token-reversed
    * novel content (admitted, APPENDED), b2 = copies of b1's content
    * (+3·10⁶ — must flag `corpus` with b1's admitted keeper THROUGH
    * THE APPENDED store; a lost append or stale reload admits them
    * and breaks the hash) plus fresh reversed docs (+4·10⁶, admission
    * must still work on the grown store). The oracle is the class
    * algebra in SQL (the x42 gram-key form + the x211 reduction) —
    * no planted-answer premise; palindromes and real corpus dups
    * fall out of the same algebra on both sides. */
  private val x215StreamingNearDupAdmission = GraftQuery(
    "x215_streaming_neardup_admission",
    (s, dir) => s.read.parquet(x215OutDir(s, dir))
      .orderBy(col("doc_id")),
    Some(s"""WITH $corpusGramKeysSql,
      intake AS MATERIALIZED (
        $x209IntakeSql
        UNION ALL
        ${reversedSliceSql(3000000, 300, 400)}
        UNION ALL
        ${reversedSliceSql(4000000, 400, 500)}),
      itok AS MATERIALIZED (
        SELECT id, string_split_regex(lower(text), '\\s+') AS t FROM intake),
      ig AS MATERIALIZED (
        ${gramKeySql("id", "itok")}),
      cmin AS MATERIALIZED (SELECT gk, min(doc_id) AS k FROM g GROUP BY gk),
      imin AS MATERIALIZED (SELECT gk, min(id) AS k FROM ig GROUP BY gk),
      lab AS MATERIALIZED (
        SELECT ig.id, c.k AS ck, i.k AS ik
        FROM ig LEFT JOIN cmin c ON ig.gk = c.gk
                JOIN imin i ON ig.gk = i.gk)
      SELECT id AS doc_id, 'duplicate' AS status,
        COALESCE(ck, ik) AS dup_id
      FROM lab WHERE NOT (ck IS NULL AND id = ik)
      UNION ALL
      SELECT id, 'admitted', CAST(NULL AS BIGINT)
      FROM lab WHERE ck IS NULL AND id = ik
      ORDER BY doc_id"""))

  /** x216's run ([[admissionRun]] for the EMBEDDING member): day-0 =
    * signature store + corpus VECTOR store seeded, then three
    * id-ordered batches through [[graft.streaming.EventStreams
    * .runIncrementalEmbeddingAdmission]]. */
  private def x216OutDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    admissionRun("x216", s, dir) { (root, out, ck) =>
      val emb = Tables.embeddings(s, dir)
      Dedup.saveEmbeddingSignatures(emb, "vec_id", "embedding",
        s"$root/x216_embsig", numBits = 48, bands = 8)
      emb.select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$root/x216_corpus")
      // negation = replayable "novel vector" generator: cos(-v, w) =
      // -cos(v, w), and the corpus premise pins |cos| < 0.95 on every
      // distinct pair (OpsSpec; measured min/max -0.56/0.60 at sf0.1)
      def neg(c: org.apache.spark.sql.Column) = transform(c, x => -x)
      val b0 = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding"))
      val b1 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)
        .select((col("vec_id") + lit(2000000L)).as("vec_id"),
          neg(col("embedding")).as("embedding"))
      val b2 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)
        .select((col("vec_id") + lit(3000000L)).as("vec_id"),
          neg(col("embedding")).as("embedding"))
        .unionByName(emb
          .filter(col("vec_id") >= 350 && col("vec_id") < 400)
          .select((col("vec_id") + lit(4000000L)).as("vec_id"),
            neg(col("embedding")).as("embedding")))
      graft.streaming.EventStreams.runIncrementalEmbeddingAdmission(
        graft.streaming.EventStreams.orderedIntake(s, "graft_x216",
          Seq(b0, b1, b2)),
        s"$root/x216_embsig", s"$root/x216_corpus", out, ck,
        "vec_id", "embedding", threshold = 0.95)
    }

  /** EMBEDDING admission as a structured stream — completing the
    * streaming admission trio (digest x211, text sketch x215, this):
    * each micro-batch probes the persisted embedding signature store
    * with exact cosine verification and its admitted vectors join
    * BOTH the corpus vector store and the signature store before the
    * next batch probes. Replica-union + NEGATION known answer: the
    * corpus premise (OpsSpec-pinned, measured min/max pairwise cosine
    * −0.56/0.60 at sf0.1) puts every distinct pair strictly inside
    * |cos| < 0.95, so flagging at 0.95 induces exact equivalence
    * classes — b0 corpus replicas flag with their original as keeper,
    * b1 negated vectors are novel and admitted (cos(−v, w) = −cos(v,
    * w) > −0.95), b2's copies of b1 content must flag `corpus` with
    * b1's admitted keeper THROUGH THE APPENDED store (a lost append
    * or stale reload admits them and breaks the hash), and fresh
    * negated vectors still admit on the grown store. The oracle is
    * four literal slices. */
  private val x216StreamingEmbeddingAdmission = GraftQuery(
    "x216_streaming_embedding_admission",
    (s, dir) => s.read.parquet(x216OutDir(s, dir))
      .orderBy(col("vec_id")),
    Some("""SELECT vec_id + 1000000 AS vec_id, 'duplicate' AS status,
        vec_id AS dup_id
      FROM embeddings WHERE vec_id < 100
      UNION ALL
      SELECT vec_id + 2000000, 'admitted', CAST(NULL AS BIGINT)
      FROM embeddings WHERE vec_id >= 300 AND vec_id < 350
      UNION ALL
      SELECT vec_id + 3000000, 'duplicate', vec_id + 2000000
      FROM embeddings WHERE vec_id >= 300 AND vec_id < 350
      UNION ALL
      SELECT vec_id + 4000000, 'admitted', CAST(NULL AS BIGINT)
      FROM embeddings WHERE vec_id >= 350 AND vec_id < 400
      ORDER BY vec_id"""))

  /** x210's day-3 admission THROUGH A COMPACTED LEDGER — the
    * maintenance pass's correctness carrier (r18 verdict #1's "done"
    * bar): day-0 save, day-2 probe + admission + append (the x210
    * history verbatim), then [[graft.ops.Dedup.compactDigestStore]]
    * rewrites the append-fragmented tree to a fresh root (blue/green)
    * and day 3 probes through the COMPACTED handle. The output — and
    * so the oracle — is exactly x210's: compaction is a row-identity
    * layout rewrite, and a compaction that dropped, duplicated or
    * corrupted any digest row would flip an admission status and
    * break the hash. PlanSpec pins that the day-3 probe's executed
    * plan scans the compacted root, not the fragmented one. */
  private val x214CompactedLedgerProbe = GraftQuery(
    "x214_compacted_ledger_probe",
    // monthly maintenance: rewrite the fragmented tree blue/green;
    // day 3 reads ONLY the compacted root
    (s, dir) => intakeDay3(s, dir, "x214_digests")((path, _) =>
      Dedup.compactDigestStore(s, path, s"${path}_compact")),
    Some(intakeDay3Sql))

  /** One MID-THRESHOLD near-dup admission run per (session, sfDir) —
    * x215's harness at the production-realistic threshold 0.7 (r19
    * verdict #3, the x201 gap-class: both sketch gates documented the
    * greedy mid-threshold regime as valid rows-only territory, but no
    * driver query ever executed it — it ran only in EventStreamsSpec
    * at threshold 1.0). Batches: b0 = exact replicas (flag at 1.0 ≥
    * 0.7); b1 = token-REVERSED docs (novel → ADMITTED and appended to
    * both stores); b2 = LAST-TOKEN-TRUNCATED reversals of the same
    * docs — trigram jaccard (t−4)/(t−2) against b1's admitted
    * content, the MID regime: long docs flag THROUGH THE APPENDED
    * STORE at a non-exact similarity (the path no threshold-1.0
    * carrier can reach), short docs admit — plus fresh reversals on
    * the grown store. (A first cut truncated the CORPUS docs
    * directly: every sf's docs are long enough that all 400 rows
    * flagged at ≥0.7 and nothing was ever admitted — the
    * greedy/append path never ran.) */
  private def x218OutDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    admissionRun("x218", s, dir) { (root, out, ck) =>
      val docs = Tables.documents(s, dir)
      Dedup.saveMinhashSignatures(docs, "doc_id", "text",
        s"$root/x218_minhash")
      docs.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$root/x218_corpus")
      def truncRev(c: org.apache.spark.sql.Column) = {
        val toks = reverse(split(c, graft.ops.TextAnalysis.WhitespaceClass))
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 1, lit(1))))
      }
      val b0 = intakeSlice(docs, col("doc_id") < 100, 1000000L)
      val b1 = reversedSlice(docs, 300, 400, 2000000L)
      val b2 = intakeSlice(docs, col("doc_id") >= 300 && col("doc_id") < 400,
          3000000L, truncRev(col("text")).as("text"))
        .unionByName(reversedSlice(docs, 400, 500, 4000000L))
      graft.streaming.EventStreams.runIncrementalNearDupAdmission(
        graft.streaming.EventStreams.orderedIntake(s, "graft_x218",
          Seq(b0, b1, b2)),
        s"$root/x218_minhash", s"$root/x218_corpus", out, ck,
        "doc_id", "text", threshold = 0.7)
    }

  /** MID-THRESHOLD streaming near-dup admission — the greedy ONLINE
    * regime under the driver (r19 verdict #3). At 0.7 similarity is
    * not transitive, so the admitted set depends on the batch split:
    * the outputs are valid online-dedup decisions with NO SQL oracle
    * (rows-only; TwinLedger: twin chain → x215, the threshold-1.0
    * equivalence-class regime of the SAME gate, hash-green; contract
    * test pins flags ⊆ the exact batch-mode ≥0.7 pair set, statuses
    * partition the intake, stores grow by exactly the admitted set). */
  private val x218StreamingNearDupMidThreshold = GraftQuery(
    "x218_streaming_neardup_midthreshold",
    (s, dir) => s.read.parquet(x218OutDir(s, dir))
      .orderBy(col("doc_id"), col("dup_id")),
    None)

  /** STORE-AWARE right-to-erasure (r19 verdict #1): x141's
    * [[graft.ops.Privacy.erase]] purges FRAMES, but the admission
    * pipelines persist a subject's content in up to three places —
    * the corpus text dir, the digest ledger (where a purged id can
    * survive as the dedup KEEPER), and the signature store. This
    * carrier runs the full lifecycle: seed all three trees over
    * corpus ∪ replicas (replicas of docs < 100 at +10⁶ guarantee
    * re-election targets), erase a subject set spanning every case —
    * keeper-with-surviving-holder (< 50: replica remains → keeper
    * re-elects to it), content-fully-forgotten ([50,100): original
    * AND replica erased), and corpus-structure-decided ([100,150):
    * re-election falls to the corpus' own real duplicate classes) —
    * then proves, in ONE hash-green output: (a) zero residue per
    * subject per store (the x141 silence ≠ success table, fanned
    * across store roots — a zero-filled left join, so an unpurged
    * store would show its residue); (b) the post-erasure ledger slice
    * over subject-held content: re-elected keepers present, forgotten
    * rows ABSENT (a surviving row appears on the Spark side only and
    * breaks the hash); (c) re-intake: copies of forgotten content are
    * ADMITTED (the ledger forgot it — the compliance point: content
    * must not keep flagging against a purged id), copies of surviving
    * content flag with the RE-ELECTED keeper. Oracle = exact md5/id
    * algebra end-to-end; no planted-answer premise (real corpus dup
    * classes ride through the same algebra on both sides). */
  private val x217StoreErasure = GraftQuery(
    "x217_store_erasure",
    (s, dir) => {
      val root = storeRootFor(dir)
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      base.unionByName(base.filter(col("doc_id") < 100)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
        .write.mode("overwrite").parquet(s"$root/x217_corpus")
      val corpusDf = s.read.parquet(s"$root/x217_corpus")
      Dedup.saveDigestStore(corpusDf, "doc_id", "text",
        s"$root/x217_digests")
      Dedup.saveMinhashSignatures(corpusDf, "doc_id", "text",
        s"$root/x217_minhash")
      // subjects keep their NULL-text ids: they hold nothing anywhere,
      // and the audit must still report them (zero) by the left join
      val subjects = docs.filter(col("doc_id") < 150).select(col("doc_id"))
        .unionByName(docs
          .filter(col("doc_id") >= 50 && col("doc_id") < 100)
          .select((col("doc_id") + lit(1000000L)).as("doc_id")))
      val audit = Privacy.eraseFromStores(s, subjects, "doc_id",
        "doc_id", "text",
        (s"$root/x217_corpus", s"$root/x217_corpus_clean"),
        Some((s"$root/x217_digests", s"$root/x217_digests_clean")),
        Some((s"$root/x217_minhash", s"$root/x217_minhash_clean")))
      val ledger1 = Dedup.loadDigestStore(s, s"$root/x217_digests_clean")
      val intake = base
        .filter(col("doc_id") >= 50 && col("doc_id") < 100)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") < 50)
          .select((col("doc_id") + lit(3000000L)).as("doc_id"), col("text")))
      val flagged = Dedup.incrementalExactDuplicates(ledger1, intake,
        "doc_id", "text").localCheckpoint(true)
      val admitted = intake.join(
        flagged.select(col("batch_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val subjHashes = corpusDf.join(subjects, Seq("doc_id"), "leftsemi")
        .select(md5(col("text")).as("content_hash")).distinct()
      val ledgerSlice = ledger1.digests
        .join(subjHashes, Seq("content_hash"), "leftsemi")
      audit.select(lit("audit").as("part"),
          concat_ws(":", col("store"), col("subject_id")).as("k"),
          col("n_residual").cast("string").as("v"))
        .unionByName(ledgerSlice.select(lit("ledger").as("part"),
          col("content_hash").as("k"),
          col("keeper_id").cast("string").as("v")))
        .unionByName(flagged.select(lit("status").as("part"),
          col("batch_id").cast("string").as("k"),
          concat_ws(":", lit("duplicate"), col("dup_id")).as("v")))
        .unionByName(admitted.select(lit("status").as("part"),
          col("doc_id").cast("string").as("k"),
          lit("admitted").as("v")))
        .orderBy(col("part"), col("k"), col("v"))
    },
    Some("""WITH corpus AS MATERIALIZED (
        SELECT doc_id AS id, text FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
        WHERE doc_id < 100 AND text IS NOT NULL),
      subj AS MATERIALIZED (
        SELECT doc_id AS s FROM documents WHERE doc_id < 150
        UNION ALL
        SELECT doc_id + 1000000 FROM documents
        WHERE doc_id >= 50 AND doc_id < 100),
      led0 AS MATERIALIZED (
        SELECT md5(text) AS h, min(id) AS k FROM corpus GROUP BY 1),
      rem AS MATERIALIZED (
        SELECT id, text FROM corpus WHERE id NOT IN (SELECT s FROM subj)),
      rem_min AS MATERIALIZED (
        SELECT md5(text) AS h, min(id) AS k FROM rem GROUP BY 1),
      led1 AS MATERIALIZED (
        SELECT l.h, l.k FROM led0 l WHERE l.k NOT IN (SELECT s FROM subj)
        UNION ALL
        SELECT l.h, r.k FROM led0 l JOIN rem_min r USING (h)
        WHERE l.k IN (SELECT s FROM subj)),
      subj_h AS MATERIALIZED (
        SELECT DISTINCT md5(c.text) AS h FROM corpus c
        JOIN subj ON c.id = subj.s),
      intake AS MATERIALIZED (
        SELECT doc_id + 2000000 AS id, text FROM documents
        WHERE doc_id >= 50 AND doc_id < 100 AND text IS NOT NULL
        UNION ALL
        SELECT doc_id + 3000000, text FROM documents
        WHERE doc_id < 50 AND text IS NOT NULL),
      ib AS MATERIALIZED (SELECT id, md5(text) AS h FROM intake),
      ch AS (SELECT ib.id, led1.k AS dup_id FROM ib JOIN led1 USING (h)),
      kb AS (SELECT h, min(id) AS k FROM ib GROUP BY h),
      bh AS (SELECT ib.id, kb.k AS dup_id FROM ib JOIN kb USING (h)
        WHERE ib.id > kb.k),
      fl AS MATERIALIZED (SELECT * FROM ch UNION ALL SELECT * FROM bh)
      SELECT 'audit' AS part, 'corpus:' || CAST(s AS VARCHAR) AS k,
        '0' AS v FROM subj
      UNION ALL
      SELECT 'audit', 'digests:' || CAST(s AS VARCHAR), '0' FROM subj
      UNION ALL
      SELECT 'audit', 'signatures:' || CAST(s AS VARCHAR), '0' FROM subj
      UNION ALL
      SELECT 'ledger', h, CAST(k AS VARCHAR) FROM led1
      WHERE h IN (SELECT h FROM subj_h)
      UNION ALL
      SELECT 'status', CAST(id AS VARCHAR),
        'duplicate:' || CAST(dup_id AS VARCHAR) FROM fl
      UNION ALL
      SELECT 'status', CAST(id AS VARCHAR), 'admitted' FROM intake
      WHERE id NOT IN (SELECT id FROM fl)
      ORDER BY part, k, v"""))

  override def queries: Seq[GraftQuery] = Seq(
    x1DedupExact, x2Fingerprint, x3TextTokens, x4TextQuality, x5LangId,
    x6SimTopK, x7EmbeddingPairs, x8MinhashPairs, x9SimhashPairs,
    x10NgramJaccard, x11Centroids, x12AnnLsh, x13MediaFeatures,
    x14AsofJoin, x15ApproxDistinct, x16StreamingHourly, x17AnnIvf,
    x18DedupKeepFirst, x19ArrayFuncs, x20CurationPipeline,
    x21Containment, x22EmbeddingNearDup, x23BatchTopK, x24BatchTopKLsh,
    x25VocabTopK, x26LengthQuantiles, x27Sessions, x28DupClusters,
    x29SemanticDedup, x30StratifiedSample, x31BigramLogprob,
    x32TfidfTerms, x33BatchTopKIvf, x34SemanticDedupLsh,
    x35ContainmentExact, x36Decontaminate, x37DecontaminateExact,
    x38RepetitionStats, x39PiiScrub, x40SequencePacking, x41CorpusPrep,
    x42TextDedupFuzzy, x43TextDedupExact, x44ChunkFill, x45NgramNovelty,
    x46CorpusChecks, x47DecontaminateBloom, x48Zorder, x49DedupIncremental,
    x50PackChunks, x51DedupIncrementalExact, x52QuantizeInt8,
    x53SlidingWindows, x54Kmeans, x55ClusterSample, x56CorpusDrift,
    x57DupSpans, x58EncodingChecks, x59PqEncode, x60SourceOverlap,
    x61WinsorizedStats, x62MixtureSample, x63FreqSketch, x64IvfPqTopK,
    x65SemdedupClusters, x66IntervalJoin, x67ImageNearDup, x68HeavyHitters,
    x69BpeTrain, x70BpeEncode, x71AudioNearDup, x72StreamingSessions,
    x73CorpusDiff, x74WeightedSample, x75MixtureSchedule,
    x76Bm25TopK, x77TokenBudget, x78PageRank, x79StreamingDedup,
    x80CharEntropy, x81WeightedSamplePerGroup, x82Collocations, x83Funnel,
    x84DistinctiveTerms, x85CohortRetention, x86FunnelWithin, x87WeeklyChurn,
    x88RobustOutliers, x89RollingUniquesHll, x90RollingUniquesExact,
    x91EventTransitions, x92PercentileNormalize, x93SourceCap,
    x94DsirWeights, x95ContaminationVerify, x96SegmentDedup,
    x97QualityClassifier, x98ClusterSplit, x99ClusterSplitLsh,
    x100CurationCapped, x101KeySkew, x102ColumnProfile,
    x103StreamingCuration, x104EmbeddingOutliers, x105RebalanceMixture,
    x106QualityClassifierScaled, x107LabelPropagation,
    x108RandomProjection, x109KcenterCoreset, x110PcaPowerIteration,
    x111PcaScaled, x112HardNegatives, x113HardNegativesLsh,
    x114CanonicalSelection, x115ApproxQuantiles, x116UpsampleMixture,
    x117EpochShuffle, x118CanonicalSelectionLsh, x119PaddingStats,
    x120CentroidSimilarity, x121AnnRecall, x122MaxsimRetrieval,
    x123StructureStats, x124MatchedSplit, x125ParagraphDedup,
    x126IntraDocDedup, x127SourceDupMatrix, x128KnnLabelTransfer,
    x129PerplexityBuckets, x130ClusterHistogram, x131TokenizerFertility,
    x132FilterAttribution, x133RrfFusion, x134KeywordScreen,
    x135CdcChunking, x136TruncationRecall, x137ProfileMerge,
    x138SmallCellSuppression, x139LangConfusion, x140TimeDecay,
    x141Erasure, x142NoisyCounts, x143AbLift, x144DedupRecall,
    x145ZipfSlope, x146ReleasePipeline, x147EntityResolution,
    x148BloomJoin, x149Scd2History, x150RollupReport, x151PivotMatrix,
    x152Calibration, x153CohensKappa, x154BucketedBatches,
    x155TouchAttribution, x156UnicodeNormalize, x157CompressionRatio,
    x158ResampleFfill, x159MaskPlan, x160EwmaDaily,
    x161PrefixFilterJoin, x162Burstiness, x163MetadataStats,
    x164DimensionStats, x165SessionPaths, x166ClassifierAuc, x167Hits,
    x168KfoldAssign, x169KneserNey, x170VolumeTrend, x171RetrievalEval,
    x172TriangleStats, x173BranchingEntropy, x174ChiSquare,
    x175AudienceOverlap, x176AudienceOverlapHll, x177MarkovAttribution,
    x178IsotonicCalibration, x179BootstrapCi, x180GoldenRecord,
    x181EpisodeSupport, x182CorpusDatasheet, x183PsiDrift,
    x184CovarianceMatrix, x185KnLogprob, x186SourceConcentration,
    x187AssociationRules, x188RobustTrend, x189MutualInformation,
    x190TemporalFolds, x191EvasionAudit, x192CurationV2, x193Stickiness,
    x194CharWindowDedup, x195KeywordScreenAuto, x196PhraseScreen,
    x197AnchorWindowDedup, x198AnchorWindowRemoval, x199AnchorDocDedup,
    x200AnchorCuration, x201EmbeddingNearDupAuto, x202BatchTopKIvfSharded,
    x203SemdedupTwoLevel, x204EmbeddingNearDupWide,
    x205SemdedupTwoLevelDeep, x206EmbeddingNearDupIncremental,
    x207ClassifierApplySplit, x208PersistedStoreRoundtrip,
    x209IncrementalIntake, x210IncrementalIntakeDay3,
    x211StreamingAdmission, x212EmbeddingAppendProbe,
    x213MinhashAppendProbe, x214CompactedLedgerProbe,
    x215StreamingNearDupAdmission, x216StreamingEmbeddingAdmission,
    x217StoreErasure, x218StreamingNearDupMidThreshold)

  /** Index-backed batch ANN: every query probes its nprobe nearest
    * IVF clusters (index memoized; built once per session+input).
    * Approximate by construction → rows-only; nprobe=k == exact is
    * spec-asserted. */
  private val x33BatchTopKIvf = GraftQuery(
    "x33_batch_topk_ivf",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
      Similarity.ivfBatchTopK(index, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", topK = 5, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    },
    None)

  /** Passage-containment candidates via winnowing fingerprints
    * (rolling-hash k-grams, MOSS min-sampling) — sketch-based,
    * rows-only; the winnowing guarantee is spec-asserted. */
  private val x21Containment = GraftQuery(
    "x21_containment",
    (s, dir) => Dedup.containmentCandidates(
      Tables.documents(s, dir), "doc_id", "text",
      minShared = 5, k = 12, maxDocFreq = 10)
      .orderBy(col("id_a"), col("id_b")),
    None)

  /** The north-star composition, end-to-end and fully oracle-checked:
    * exact dedup (keep-first) → quality scoring → language filter →
    * per-source acceptance stats. The oracle replays the composite
    * quality formula and the stopword-vote argmax in SQL, reusing the
    * conventions proven by x4/x5/x18. */
  private val x20CurationPipeline = GraftQuery(
    "x20_curation_pipeline",
    (s, dir) => {
      val deduped = Dedup.exactKeepFirst(Tables.documents(s, dir), "doc_id", "text")
      val scored = TextAnalysis.qualityScore(deduped)
      val withLang = TextAnalysis.withLanguage(scored)
      withLang
        .withColumn("accepted",
          (col("quality_score") >= 0.5 && col("detected_lang") === "en").cast("int"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("accepted")).as("n_accepted"),
          round(avg(col("quality_score")), 4).as("avg_quality"))
        .orderBy(col("source"))
    },
    Some {
      val stopArms = graft.ops.Stopwords.all.toSeq.sortBy(_._1).map { case (lang, words) =>
        val list = words.map("'" + _ + "'").mkString(",")
        s"printf('%03d', len(list_intersect(t, [$list]))) || '$lang'"
      }.mkString(",\n          ")
      s"""WITH survivors AS (
        SELECT * FROM documents
        WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))),
      metrics AS (
        SELECT *,
          ${qualityMetricsSql("survivors")},
          greatest(
          $stopArms) AS vote
        FROM scored),
      flagged AS (
        SELECT *,
          CASE WHEN quality_score >= 0.5 AND
            (CASE WHEN CAST(substr(vote, 1, 3) AS INT) > 0 THEN substr(vote, 4)
                  ELSE 'und' END) = 'en'
          THEN 1 ELSE 0 END AS accepted
        FROM quality)
      SELECT source, count(*) AS n_docs,
             CAST(sum(accepted) AS BIGINT) AS n_accepted,
             round(avg(quality_score), 4) AS avg_quality
      FROM flagged GROUP BY source ORDER BY source"""
    })

  /** The dedup operator's own output (keep-first semantics), oracle-
    * checked: the surviving rows are exactly those whose doc_id is the
    * group minimum of their content hash. */
  private val x18DedupKeepFirst = GraftQuery(
    "x18_dedup_keep_first",
    (s, dir) => Dedup.exactKeepFirst(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
      WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
      ORDER BY doc_id"""))

  /** Array-function battery over tokenized text: size, distinct,
    * sort, slice, containment, set ops — the list-manipulation surface
    * an LLM pipeline leans on. */
  private val x19ArrayFuncs = GraftQuery(
    "x19_array_funcs",
    (s, dir) => {
      val toks = split(col("text"), " ")
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_unique"),
          element_at(array_sort(array_distinct(toks)), 1).as("first_token_sorted"),
          concat_ws("|", slice(toks, 1, 3)).as("first3"),
          array_contains(toks, "spark").cast("boolean").as("mentions_spark"),
          size(array_intersect(toks, lit(Array("data", "table", "query")))).as("schema_words"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
        list_sort(list_distinct(string_split(text, ' ')))[1] AS first_token_sorted,
        array_to_string(string_split(text, ' ')[1:3], '|') AS first3,
        list_contains(string_split(text, ' '), 'spark') AS mentions_spark,
        CAST(len(list_intersect(string_split(text, ' '), ['data','table','query'])) AS INT)
          AS schema_words
      FROM documents ORDER BY doc_id"""))

  /** IVF-style ANN: deterministic Lloyd-clustered inverted file,
    * nprobe-bounded exact search (spec asserts nprobe=k == brute
    * force; rows-only here). */
  private val x17AnnIvf = GraftQuery(
    "x17_ann_ivf",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val index = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
      Similarity.ivfTopK(index, query, topK = 10, nprobe = 3)
    },
    None)
}
