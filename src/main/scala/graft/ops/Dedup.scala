package graft.ops

import graft.functions.{Sketches, VectorMath}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline, each
  * designed around its 100 TB shuffle profile:
  *
  *   - exact: hash-groupBy on a content digest — one shuffle keyed by
  *     a 128-bit hash (uniform, no skew), map-side partial dedup;
  *   - MinHash+LSH: signatures in a map-only projection, then a
  *     shuffle per *band* keyed by (band, slice-hash). Candidate pairs
  *     only ever materialize within a bucket, so the quadratic blowup
  *     is bounded by bucket size, never by corpus size;
  *   - SimHash: one 64-bit signature, banded into 16-bit chunks —
  *     same bounded-bucket join, cheaper signatures, catches
  *     small-edit near-dups;
  *   - n-gram Jaccard: exact verification, run only on LSH candidate
  *     pairs (never all-pairs);
  *   - embedding cosine: hyperplane-LSH buckets then exact cosine on
  *     candidates.
  */
object Dedup {

  /** Exact dedup: groups rows by content digest, keeps the smallest id
    * as canonical. Output: one row per distinct content with its
    * keeper id and multiplicity. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup, keep-first semantics: the deduplicated dataset
    * itself (smallest id per distinct content survives).
    *
    * Deliberately NOT a `row_number() over (partition by hash)`
    * window: that funnels every copy of one content through a single
    * task's sort, and at LLM-corpus scale ubiquitous boilerplate (an
    * empty page, a license header) has 10⁷+ copies. The min-id
    * aggregate reduces map-side — each input partition contributes at
    * most one row per distinct content to the shuffle — and the
    * semi-join back is keyed on (hash, id), which is near-unique and
    * therefore skew-free no matter how hot a content is. NULL text
    * hashes to a sentinel so the null group keeps its first row too
    * (equi-join would otherwise drop it).
    *
    * Contract: `idCol` must be non-null and unique (the universal
    * shape of a corpus id). Rows with a NULL id never win the min
    * aggregate and are dropped; duplicated (content, id) pairs would
    * both survive the equality join. */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = coalesce(md5(col(textCol)), lit("__null__"))
    val keepers = df.select(h.as("__h"), col(idCol).as(idCol))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
    df.withColumn("__h", h)
      .join(keepers.hint("shuffle_hash"), Seq("__h", idCol), "left_semi")
      .drop("__h")
  }

  /** MinHash+LSH candidate pairs: shingle → minhash signature →
    * band → bucket-join. Returns (id_a, id_b, est_jaccard) for pairs
    * sharing ≥1 band bucket, with the signature-estimated Jaccard.
    *
    * numHashes = bands × rowsPerBand; the (bands, rowsPerBand) pair
    * sets the S-curve threshold ≈ (1/bands)^(1/rowsPerBand).
    */
  /** Memo of persisted candidate tables keyed by session + input +
    * sketch parameters:
    * repeated dedup passes over the same corpus (candidate generation,
    * threshold sweep, exact verification) reuse one materialized
    * candidate list instead of re-running the banding pipeline per
    * call. Entries are tiny (id pairs + estimate). */
  private val candidateMemo =
    new graft.BoundedMemo[((String, String), String, Int, Int, Int, Int), DataFrame](
      16, "minhash-candidates", _.unpersist(blocking = false), _.unpersist(blocking = true))

  /** Default per-(band, bucket) membership bound for the banded LSH
    * pair generators — the quadratic escape hatch at 100 TB: one
    * boilerplate-heavy bucket of n members emits n²/2 candidate
    * pairs, and boilerplate is exactly the regime dedup targets.
    * 1000 members (≤ ~500k pairs per degenerate bucket) is far above
    * anything a healthy banding produces; buckets beyond it switch
    * to linear star pairing (see [[cappedBucketPairs]]). */
  val DefaultMaxBucket = 1000

  /** Sentinel for `numBits` parameters: size the signature from the
    * corpus via [[lshBitsFor]] (one cheap count) instead of a
    * caller-fixed width — the r13 verdict's ask that production
    * callers get the measured quadratic defense BY DEFAULT. Pass an
    * explicit positive `numBits` to override (the bench carriers do,
    * so their outputs stay bit-identical across corpus sizes). */
  val AutoBits = 0

  /** Per-band chunk-width ceiling — the WIDE regime's named expiry.
    * 48-bit chunks give 2.8e14 buckets per band; at the default
    * targetBucket=100 the sizing rule only wants more past ~2.8e16
    * vectors, orders of magnitude beyond a 100 TB embedding corpus
    * (1e11 rows at 1 KB/row). Kept below 64 so the bit-slice mask
    * arithmetic of the packed path and the probes never touches the
    * Long sign bit. */
  val MaxChunkBits = 48

  /** Seed stride between bands in the wide regime:
    * [[graft.functions.Sketches.hyperplaneSignature]] derives plane j
    * from `seed + j`, so bands spaced ≫ [[MaxChunkBits]] apart in
    * seed space can never share a hyperplane — the wide per-band
    * signatures stay as independent as the packed form's disjoint
    * bit-slices. */
  private[ops] val WideBandSeedStride = 1000003L

  /** LSH signature width for a corpus size — the r13 ×10 rehearsal's
    * sizing rule as code (see [[embeddingNearDuplicates]]): bucket
    * space per band is FIXED at 2^(numBits/bands), so in-bucket work
    * Σ C(bucket, 2) goes quadratic when the corpus outgrows it.
    * bitsPerBand ≈ log2(corpus / targetBucket) keeps the EXPECTED
    * bucket at `targetBucket` members as the corpus grows (measured
    * ×10: 6-bit chunks 1212 s CPU / 12.4 GB shuffle, 8-bit chunks
    * 76 s / 3.9 GB); [[DefaultMaxBucket]] stays the backstop for
    * skew the expectation can't see. Returns `bands × bitsPerBand`.
    *
    * r15: the one-Long saturation clamp (bitsPerBand ≤ 64/bands,
    * which froze the bucket space at ~6.5M vectors for 4 bands and
    * ~25.6k for 8 — the ×30-measured 10.4× quadratic resumption) is
    * GONE: past 64 total bits the banding switches to the WIDE
    * per-band-signature form ([[lshBandChunks]]), so the returned
    * width keeps growing and expected buckets stay at `targetBucket`
    * until [[MaxChunkBits]] (~2.8e16 vectors at the default target).
    * Widths ≤ 64 resolve exactly as before — every existing carrier
    * and the AutoBits resolution at test SFs are bit-identical. */
  def lshBitsFor(corpus: Long, bands: Int, targetBucket: Int = 100): Int = {
    require(corpus > 0, s"corpus must be positive, got $corpus")
    require(bands >= 1 && bands <= 64, s"bands must be in [1,64], got $bands")
    require(targetBucket >= 2, s"targetBucket must be >= 2, got $targetBucket")
    val perBand = math.ceil(
      math.log(corpus.toDouble / targetBucket) / math.log(2.0)).toInt
    bands * math.min(MaxChunkBits, math.max(1, perBand))
  }

  /** Per-call suffix for [[cappedBucketPairs]]' CollectMetrics
    * observation names (an observation name may appear only once per
    * query plan). */
  private val bucketObsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Candidate pairs from shared (band, bucket) membership, with the
    * quadratic path bounded: buckets of ≤ `cap` members emit ALL
    * in-bucket pairs (the normal LSH regime); buckets beyond `cap`
    * emit STAR pairs — every member against the bucket's minimum id
    * — O(n) instead of O(n²). The star preserves exactly the
    * bucket-level reachability connected-components dedup consumes
    * (every member still linked into one component); what it trades
    * is pair-level completeness inside degenerate buckets: a
    * non-hub pair that would only have meet in an oversized bucket is
    * not emitted, and post-verification (est-Jaccard / Hamming
    * threshold) can therefore split clusters the uncapped plan would
    * have joined via a non-hub edge. That is the deliberate cost
    * ceiling — a boilerplate mega-bucket stays linear instead of
    * emitting n²/2 pairs.
    *
    * Plan shape: the per-bucket stats (count + min id) come from a
    * map-side-combinable `groupBy(keys).agg` — NOT a whole-frame
    * window. A window must shuffle AND SORT every banded row before
    * emitting anything (no partial aggregation), which a same-VM
    * control measured at +58% wall on the x34 carrier
    * (7.94→12.56 s); the groupBy partial-aggregates to a
    * |buckets|-sized table that joins back on the bucket keys. The
    * banded frame shuffles on `keys` once for that stats join, and
    * the small-bucket self-join's two identical sides collapse into
    * a ReusedExchange of the same subtree. Shuffle joins throughout,
    * never broadcast — a broadcast build would evaluate the
    * signature lineage single-threaded on the driver (measured
    * 10×+). `banded` must carry an `id` column plus `keys`. */
  private[ops] def cappedBucketPairs(banded: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    require(cap >= 2, s"maxBucket must be >= 2, got $cap")
    val stats = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bn"), min(col("id")).as("__bmin"))
      // cap-engagement observability (the "no silent caps" rule + the
      // r12 scale-rehearsal ask): bucket count, how many buckets
      // tripped the star-pair cap, and the largest bucket ride the
      // stats aggregate as a CollectMetrics observation — zero extra
      // jobs, harvested by any QueryExecutionListener (the
      // buckets/capped_buckets/max_bucket columns of
      // SCALE_REHEARSAL_r18.json). Name unique per CALL (two distinct
      // CollectMetrics nodes sharing a name in one plan is an
      // analysis error; the counter never collides across memoized
      // frames reused in one query).
      // coalesce: an EMPTY stats aggregate emits NULL sum/max, which
      // unboxing-NPEs inside a harvesting listener where Spark's bus
      // swallows it (the CorpusQuality "empty relation can never NULL
      // past the gate" rule applied to observations)
      .observe(s"graft.capped_buckets.${bucketObsId.incrementAndGet()}",
        count(lit(1)).as("buckets"),
        coalesce(sum(when(col("__bn") > cap, 1L).otherwise(0L)), lit(0L))
          .as("capped_buckets"),
        coalesce(max(col("__bn")), lit(0L)).as("max_bucket"))
    val stat = banded.hint("shuffle_hash")
      .join(stats.hint("shuffle_hash"), keys)
    val small = stat.filter(col("__bn") <= cap)
    val a = small.select(keys.map(col) :+ col("id").as("id_a"): _*)
    val b = small.select(keys.map(col) :+ col("id").as("id_b"): _*)
    val allPairs = a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val starPairs = stat
      .filter(col("__bn") > cap && col("id") =!= col("__bmin"))
      .select(col("__bmin").as("id_a"), col("id").as("id_b"))
    allPairs.unionByName(starPairs).distinct()
  }

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val key = (graft.PlanKeys.scoped(df),
      s"$idCol/$textCol", numHashes, bands, shingleSize, maxBucket)
    candidateMemo.getOrBuild(key)(minhashCandidatesUncached(
      df, idCol, textCol, numHashes, bands, shingleSize, maxBucket))
  }

  /** MinHash signature table (id, sig) — the persistable SIGNATURE
    * STORE incremental dedup reads instead of re-shingling the
    * corpus: write this once per corpus snapshot (ideally bucketed,
    * see [[incrementalMinhashNearDuplicates]]) and each day's delta
    * dedups against it at signature cost, not text cost.
    *
    * Two deliberate exchanges around the signature projection:
    *  - Parallelism.ensure BEFORE: a small input (one file locally,
    *    coarse splits on a cluster) would run the CPU-heavy sketch
    *    on too few tasks — but only exchange when actually needed
    *    (a many-split corpus scan skips the RoundRobin);
    *  - repartition(id) AFTER: materializes the signature at the
    *    shuffle boundary. Without it, whole-stage codegen defers the
    *    column into the Generate's per-output-row loop and
    *    re-evaluates the sketch once per band (measured 32×).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, shingleSize: Int = 3): DataFrame =
    Parallelism.ensure(df).select(
      col(idCol).as("id"),
      Sketches.minhashNgrams(
        TextAnalysis.tokens(col(textCol)), shingleSize, numHashes).as("sig"))
      .repartition(col("id"))

  /** LSH banding over a signature table: band b = hash of signature
    * slots [b*r, (b+1)*r). Explodes the band INDEX, not an array of
    * band hashes: a generator whose input embeds `sig` re-evaluates
    * the full signature per band (GenerateExec does no
    * common-subexpression elimination — a measured 32× slowdown),
    * while this shape evaluates the signature once per row in the
    * generate's child and computes each bucket from the carried
    * column. */
  private def bandedOf(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket",
        xxhash64(col("band"),
          slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))))
      .drop("sig")

  /** Estimated Jaccard of the `sig_a`/`sig_b` minhash columns: the
    * share of agreeing slots, rounded to 4. */
  private def estJaccard(numHashes: Int): Column =
    round(aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / numHashes, 4)

  private def minhashCandidatesUncached(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleSize: Int, maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sig = minhashSignatures(df, idCol, textCol, numHashes, shingleSize)
    val banded = bandedOf(sig, bands, rowsPerBand)
    // bucket self-join with the quadratic path bounded (shuffle join
    // + ReusedExchange + star pairing beyond maxBucket — see
    // cappedBucketPairs); distinct over bare id pairs (a pair may
    // collide in several bands) — the wide signature arrays only
    // join back afterwards.
    val pairs = cappedBucketPairs(banded, Seq("band", "bucket"), maxBucket)
    // Rejoin the signatures with SHUFFLE joins: broadcast would either
    // single-thread the signature computation on the driver (if the
    // sig side is built) or re-execute the banding subtree per nested
    // broadcast (if the pair side is). Shuffled, every exchange in the
    // plan executes exactly once, in parallel.
    pairs.hint("shuffle_hash")
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("est_jaccard", estJaccard(numHashes))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      // the candidate list is O(|near-dup pairs|) — tiny relative to
      // the corpus. Persisting it stops downstream threshold filters
      // and verification joins from re-executing the banding pipeline
      // (each BroadcastExchange otherwise re-runs the whole subtree),
      // and keeps Catalyst from pushing filters into the join
      // condition where the zip_with estimate would re-evaluate per
      // probe.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** MinHash near-duplicates: candidates whose estimated Jaccard
    * clears the threshold. */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 32,
      shingleSize: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashCandidates(df, idCol, textCol, numHashes, bands, shingleSize, maxBucket)
      .filter(col("est_jaccard") >= threshold)

  /** Incremental near-dup detection: dedup a new BATCH against an
    * already-deduped corpus whose [[minhashSignatures]] table was
    * persisted — the daily-delta pattern. The corpus TEXT is never
    * touched: only the slim signature store (id + numHashes ints) is
    * scanned, banded with the same seeded hashes, and joined against
    * the batch's buckets; shingling — the dominant cost — runs over
    * the delta only.
    *
    * Output: (batch_id, dup_id, est_jaccard, dup_in) where `dup_in`
    * says whether the match is against the corpus store or another
    * batch doc (batch-internal pairs are emitted once, smaller id as
    * batch_id). A batch doc re-ingested under an id the store already
    * holds compares against its own stored version and can surface as
    * (X, X, corpus) — the new-vs-old revision check.
    * Determinism contract: identical seeds ⇒ the result
    * equals the FULL-corpus [[minhashNearDuplicates]] over
    * store ∪ batch, restricted to pairs touching the batch
    * (spec-asserted in OpsSpec).
    *
    * Scale shape: the store-side banding is a map-only projection
    * over the signature parquet; the bucket join is shuffle-hash on
    * (band, bucket) — write the store bucketed by those keys
    * (Spark's `bucketBy`) and the corpus side of the join is
    * co-located, leaving ONE shuffle of the (tiny) banded batch.
    * Broadcasting the batch's bucket keys for a semi-join prune is
    * deliberately NOT done here: at 10⁶ batch docs × bands that key
    * set is no longer broadcastable, and the bucketed-store layout
    * achieves the same scan economy robustly. */
  def incrementalMinhashNearDuplicates(corpusSigs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // loud guard against a store written with a different width: a
    // 64-wide store probed at numHashes=128 would silently hash
    // truncated band slices and zip nulls into the estimate — most
    // real duplicates would fall below threshold with no error. One
    // row from one split; negligible against the join that follows.
    storedWidth(corpusSigs).foreach(w => require(w == numHashes,
      s"signature store width $w != numHashes $numHashes — " +
        "rebuild the store or pass the width it was written with"))
    bandedIncrementalProbe(
      minhashSignatures(batch, idCol, textCol, numHashes, shingleSize),
      corpusSigs, bandedOf(_, bands, r), "bucket", "sig",
      corpusSigs.select(col("id").as("dup_id"), col("sig").as("sig_b")),
      "est_jaccard", threshold)(_.withColumn("est_jaccard", estJaccard(numHashes)))
  }

  /** The `sig` array width of a signature store's first row (None
    * for an empty store): one row from one split. */
  private def storedWidth(corpusSigs: DataFrame): Option[Int] =
    corpusSigs.select(size(col("sig")).as("w")).limit(1).collect()
      .headOption.map(_.getInt(0))

  /** The banded incremental probe both raw-frame sketch probes share.
    * `batchSig` is the batch's (id, sig, …) signature frame — bounded
    * (a day's intake), so it is checkpointed once: it feeds its own
    * banding, the batch-internal pairs and two `payload` rejoins.
    * `band` turns an (id, sig) frame into (id, band, `key`) rows and
    * bands the batch and the store alike. Candidates are the batch ×
    * corpus bucket pairs (orientation fixed: batch on the left;
    * batch_id == dup_id is KEPT — a revised doc re-ingested under its
    * existing id compares against its stored version, the new-vs-old
    * revision check) and the batch-internal ones (each unordered pair
    * once), bare ids through the `distinct` (a pair may collide in
    * several bands). [[verifiedPairs]] scores each against the side it
    * came from: the batch's own `payload`, or `corpusPayload`
    * (dup_id, `payload`_b). */
  private def bandedIncrementalProbe(batchSig: DataFrame,
      corpusSigs: DataFrame, band: DataFrame => DataFrame, key: String,
      payload: String, corpusPayload: DataFrame, scoreCol: String,
      threshold: Double)(score: DataFrame => DataFrame): DataFrame = {
    val b = batchSig.localCheckpoint(true)
    val batchBanded = band(b.select(col("id"), col("sig")))
    val bAside = batchBanded.select(col("band"), col(key), col("id").as("batch_id"))
    def cands(side: DataFrame, in: String, keep: Option[Column]): DataFrame = {
      val joined = bAside.hint("shuffle_hash")
        .join(side.select(col("band"), col(key), col("id").as("dup_id"))
          .hint("shuffle_hash"), Seq("band", key))
      keep.fold(joined)(k => joined.filter(k))
        .select(col("batch_id"), col("dup_id")).distinct()
        .withColumn("dup_in", lit(in))
    }
    def verified(cand: DataFrame, bSide: DataFrame): DataFrame =
      verifiedPairs(cand, b.select(col("id").as("batch_id"),
        col(payload).as(s"${payload}_a")), bSide, scoreCol, threshold)(score)
    verified(cands(band(corpusSigs.select(col("id"), col("sig"))), "corpus", None),
      corpusPayload)
      .unionByName(verified(
        cands(batchBanded, "batch", Some(col("batch_id") < col("dup_id"))),
        b.select(col("id").as("dup_id"), col(payload).as(s"${payload}_b"))))
  }

  /** Verify candidate (batch_id, dup_id, dup_in) pairs: `aSide` is
    * (batch_id, a) over the batch and `bSide` (dup_id, b) over the
    * side the candidates CAME FROM — resolving per provenance, since a
    * single union lookup would fan out and mis-score any id present
    * in both the store and the batch. `score` adds `scoreCol`; pairs
    * below `threshold` drop. */
  private def verifiedPairs(cand: DataFrame, aSide: DataFrame,
      bSide: DataFrame, scoreCol: String, threshold: Double)(
      score: DataFrame => DataFrame): DataFrame =
    score(cand.hint("shuffle_hash")
        .join(aSide.hint("shuffle_hash"), "batch_id")
        .join(bSide.hint("shuffle_hash"), "dup_id"))
      .filter(col(scoreCol) >= threshold)
      .select(col("batch_id"), col("dup_id"), col(scoreCol), col("dup_in"))

  /** A persisted [[minhashSignatures]] store handle — the
    * [[EmbeddingSignatureStore]] shape for the TEXT family: the
    * signature frame plus the (numHashes, shingleSize) it was WRITTEN
    * with, so a probe through the handle cannot shingle or slice
    * differently from the store. The width mismatch fails loudly at
    * probe time either way; a SHINGLE mismatch is the silent one —
    * different grams hash to different minhashes, estimates sag, and
    * real duplicates vanish below threshold with no error — which is
    * exactly what resolving both parameters from the handle prevents.
    * Banding stays a probe-time choice (the stored sig is the full
    * hash array; any bands dividing numHashes slices it validly). */
  final case class MinhashSignatureStore(
      signatures: DataFrame, numHashes: Int, shingleSize: Int)

  /** Persist a signature store for incremental TEXT dedup — the
    * [[saveEmbeddingSignatures]] twin (r16 symmetry: the embedding
    * family gained parquet persistence in r15/r16 while the OLDEST
    * incrementality path, x49's minhash store, lived only in-session).
    * Signatures land as parquet (bucket the production copy by the
    * banding keys when the store outgrows one shuffle) with a one-row
    * (num_hashes, shingle_size) meta sidecar. At 100 TB this is the
    * daily-delta contract: shingling — the dominant per-doc cost —
    * runs over each day's batch only, the corpus is a map-only
    * signature scan. */
  def saveMinhashSignatures(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 128,
      shingleSize: Int = 3): MinhashSignatureStore = {
    minhashSignatures(df, idCol, textCol, numHashes, shingleSize)
      .write.mode("overwrite").parquet(s"$path/signatures")
    Layout.writeMeta(df.sparkSession, path, (numHashes, shingleSize),
      "num_hashes", "shingle_size")
    loadMinhashSignatures(df.sparkSession, path)
  }

  /** Load a [[saveMinhashSignatures]]-persisted store: meta eagerly
    * (one row), the signature frame lazily. */
  def loadMinhashSignatures(spark: org.apache.spark.sql.SparkSession,
      path: String): MinhashSignatureStore = {
    val m = Layout.readMeta(spark, path)
    MinhashSignatureStore(spark.read.parquet(s"$path/signatures"),
      m.getAs[Int]("num_hashes"), m.getAs[Int]("shingle_size"))
  }

  /** Fold a day's ADMITTED batch into a persisted minhash signature
    * store WITHOUT re-shingling the corpus — the maintenance half of
    * [[incrementalMinhashNearDuplicates]] (the
    * [[graft.ops.Similarity.appendToIvfIndex]] pattern for the TEXT
    * sketch member of the store trio; r17 verdict #1). The batch is
    * signed with the STORE's own (numHashes, shingleSize) from the
    * meta sidecar — one shared resolution point, so an append can
    * never sign differently from what it appends to — and the rows
    * land under `mode("append")`.
    *
    * Contract (the IVF-append shape): appended ids must be NEW —
    * the admission anti-join's survivors. Re-appending an id the
    * store already holds duplicates its signature row, and every
    * later probe's verification join fans out on it (duplicate
    * output rows, no error); dedup upstream. Cost ∝ batch: the
    * corpus signatures are untouched — no scan, no rewrite. Returns
    * the reloaded handle (the pre-append handle's lazy frame holds
    * a stale file listing). */
  def appendToMinhashSignatures(store: MinhashSignatureStore,
      path: String, batch: DataFrame, idCol: String,
      textCol: String): MinhashSignatureStore = {
    minhashSignatures(batch, idCol, textCol, store.numHashes,
        store.shingleSize)
      .write.mode("append").parquet(s"$path/signatures")
    loadMinhashSignatures(batch.sparkSession, path)
  }

  /** Compact an append-accumulated minhash signature store
    * ([[compactDigestStore]]'s twin for the TEXT sketch member): the
    * signature frame is rewritten size-targeted via
    * [[graft.ops.Layout.compact]], the one-row meta sidecar is
    * re-written verbatim (same (num_hashes, shingle_size) — a
    * compaction never re-sizes; re-sizing is a rebuild,
    * [[saveMinhashSignatures]]). Blue/green: `outPath` must be a
    * fresh root; the returned handle reads the compacted tree and
    * probes through it are row-identical to the fragmented store. */
  def compactMinhashSignatures(spark: org.apache.spark.sql.SparkSession,
      path: String, outPath: String,
      targetFileBytes: Long = 128L << 20): MinhashSignatureStore = {
    Layout.rewriteStore(spark, path, outPath, "signatures")(
      Layout.compact(spark, _, _, targetFileBytes))
    loadMinhashSignatures(spark, outPath)
  }

  /** [[incrementalMinhashNearDuplicates]] through a persisted store
    * handle: numHashes and shingleSize resolve from the store's meta,
    * so the probe can't disagree with what was written. */
  def incrementalMinhashNearDuplicates(store: MinhashSignatureStore,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int): DataFrame =
    incrementalMinhashNearDuplicates(store.signatures, batch, idCol,
      textCol, threshold, store.numHashes, bands, store.shingleSize)

  /** Incremental TEXT near-dup probe with EXACT n-gram-Jaccard
    * verification — [[incrementalEmbeddingNearDuplicates]]'s shape
    * for the text member (candidates from the persisted signature
    * store, verification against the corpus TEXTS on surviving
    * candidate ids only): LSH band buckets over the store bound the
    * candidate set, exact Jaccard over hashed distinct-gram sets
    * verifies (the [[ngramJaccardNearDuplicates]] verification
    * algebra — counts identical to string grams up to a 2⁻⁶⁴
    * xxhash64 collision). Output (batch_id, dup_id, jaccard, dup_in),
    * the incremental trio's shared shape with the EXACT score.
    *
    * Recall: a batch doc and a store doc with IDENTICAL gram sets
    * sign identically and share every band bucket, so threshold-1.0
    * probes have recall exactly 1 (the x213 carrier's oracle premise,
    * the x42 argument applied through the store); at mid thresholds
    * recall is the LSH band bound, same as the estimate probe.
    *
    * Scale shape: the estimate probe's one banded-delta shuffle (the
    * store side stays a map-only signature scan), then shingling over
    * the DELTA plus the candidate-HIT corpus docs only — a leftsemi
    * against the candidate ids keeps the gram build off the rest of
    * the corpus (the x10 degree rule: distinct-gram arrays build once
    * per doc, never once per pair side). Candidates and batch grams
    * are checkpointed: both feed multiple joins (N-subplans rule) and
    * both are bounded by the day's intake. */
  def incrementalVerifiedTextDuplicates(store: MinhashSignatureStore,
      corpusTexts: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double, bands: Int = 32): DataFrame = {
    def grams(t: Column): Column = array_distinct(transform(
      TextAnalysis.wordNgrams(t, store.shingleSize), g => xxhash64(g)))
    // every bucket-coincident pair (estimate filter at 0 — the exact
    // verification below decides); bounded by the delta, feeds the
    // corpus leftsemi AND both verify branches
    val candsRaw = incrementalMinhashNearDuplicates(store, batch, idCol,
        textCol, threshold = 0.0, bands = bands)
      .select(col("batch_id"), col("dup_id"), col("dup_in"))
    val cands = candsRaw.localCheckpoint(true)
    // the eager checkpoint above truncated the minhash probe's
    // internal batch-signature checkpoint OUT of every plan this
    // function returns — release it NOW or its blocks orphan until GC
    // (one per micro-batch on the admission stream; r19 advisor,
    // medium). The caller's `batch` leaves are excepted: its own
    // checkpoint blocks, if any, are not this operator's to free.
    graft.Persistence.releaseExcept(candsRaw, batch)
    val batchGrams = batch
      .select(col(idCol).as("id"), grams(col(textCol)).as("g"))
      .localCheckpoint(true) // bounded delta; feeds both verify branches
    val corpusGrams = corpusTexts
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .join(cands.filter(col("dup_in") === "corpus")
        .select(col("dup_id").as("id")).distinct(), Seq("id"), "leftsemi")
      .select(col("id"), grams(col("t")).as("g"))
    // gram_b resolves per PROVENANCE ([[verifiedPairs]])
    def verified(c: DataFrame, bSide: DataFrame): DataFrame =
      verifiedPairs(c, batchGrams.select(col("id").as("batch_id"),
          col("g").as("ga")),
        bSide.select(col("id").as("dup_id"), col("g").as("gb")),
        "jaccard", threshold)(_
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
        // |a∪b| = |a|+|b|−|a∩b| — never materialize a union array
        .withColumn("jaccard", round(col("inter").cast("double")
          / (size(col("ga")) + size(col("gb")) - col("inter")), 4)))
    verified(cands.filter(col("dup_in") === "corpus"), corpusGrams)
      .unionByName(
        verified(cands.filter(col("dup_in") === "batch"), batchGrams))
  }

  /** A persisted content-digest ledger — the EXACT member of the
    * incremental-dedup store trio ([[MinhashSignatureStore]] and
    * [[EmbeddingSignatureStore]] are the sketch members): one
    * (content_hash, keeper_id) row per distinct corpus content,
    * [[exact]]'s output persisted. At 100 TB this is the FIRST gate
    * every day's intake passes — an md5 join against the ledger costs
    * one shuffle of the batch digests (bucket the production store by
    * content_hash for co-location), never touches corpus text, and —
    * unlike the sketch stores — is exactly SQL-replayable, which is
    * what lets the x209 composite carrier run the whole admission
    * pipeline hash-green. No meta sidecar: the ledger has no sizing
    * parameters to mismatch (uniform 128-bit keys at any scale). */
  final case class DigestStore(digests: DataFrame)

  /** Persist the corpus digest ledger (the reference's md5 surrogate
    * key family, spark_elt_emr.py:64, here keyed on CONTENT). */
  def saveDigestStore(df: DataFrame, idCol: String, textCol: String,
      path: String): DigestStore = {
    exact(df, idCol, textCol)
      .select(col("content_hash"), col("keeper_id"))
      .write.mode("overwrite").parquet(s"$path/digests")
    loadDigestStore(df.sparkSession, path)
  }

  /** Load a [[saveDigestStore]]-persisted ledger (lazily — probes
    * scan it once per batch join; keyed-unique by construction since
    * [[exact]] groups by the digest and [[appendToDigestStore]]
    * anti-joins before writing). */
  def loadDigestStore(spark: org.apache.spark.sql.SparkSession,
      path: String): DigestStore =
    DigestStore(spark.read.parquet(s"$path/digests"))

  /** Fold a day's ADMITTED batch into the persisted digest ledger
    * WITHOUT the full-corpus [[exact]] recompute — the maintenance
    * half of [[incrementalExactDuplicates]] (r17 verdict #1: the
    * probe alone leaves day-2 admitted content invisible on day 3,
    * so the caller had to re-save the whole ledger — exactly the
    * corpus rescan the ledger exists to avoid; the reference's
    * incrementality story is appends, udac_capstone_emr.py:155).
    *
    * Semantics: one (content_hash, keeper_id = min batch id) row per
    * DISTINCT NEW content in the batch. The anti-join against the
    * current ledger preserves the keyed-unique invariant even on a
    * misused call (rows that were never admission-filtered); under
    * the normal pipeline — append exactly the
    * admission-anti-joined survivors — it matches no rows and the
    * append degenerates to a pure write. NULL-text rows never enter
    * the ledger (a NULL digest joins nothing and NULL keys would
    * accumulate one row per append; gate emptiness upstream).
    *
    * Scale shape: cost ∝ batch plus one map-only scan of the
    * ledger's 32-byte digests (the anti-join side — AQE broadcasts
    * the checkpointed batch aggregate, the ledger streams; this is
    * the same scan every day's probe already pays, never a
    * corpus-TEXT rescan). The new rows are localCheckpointed before
    * the append so the ledger read completes before any file lands
    * under the path being written. Returns the reloaded handle —
    * the pre-append handle's lazy frame would see a stale file
    * listing. */
  def appendToDigestStore(store: DigestStore, path: String,
      batch: DataFrame, idCol: String, textCol: String): DigestStore = {
    val newRows = batch
      .select(md5(col(textCol)).as("content_hash"),
        col(idCol).as("keeper_id"))
      .filter(col("content_hash").isNotNull)
      .groupBy(col("content_hash"))
      .agg(min(col("keeper_id")).as("keeper_id"))
      .join(store.digests.select(col("content_hash")), Seq("content_hash"),
        "left_anti")
      .localCheckpoint(true)
    newRows.write.mode("append").parquet(s"$path/digests")
    // the write was the checkpoint's last consumer (the returned
    // handle re-reads from disk): release the blocks deterministically
    // — a per-micro-batch caller would otherwise accumulate them
    // until GC (graft.Persistence scaladoc)
    graft.Persistence.release(newRows)
    loadDigestStore(batch.sparkSession, path)
  }

  /** Compact an append-accumulated digest ledger into size-targeted
    * parquet — the append story's second half (r18 verdict #1):
    * [[appendToDigestStore]] lands at least one new file per call and
    * the streaming admission gate appends once per MICRO-BATCH, so at
    * production cadence the ledger tree accumulates small files
    * without bound and every batch's `loadDigestStore` re-lists the
    * whole tree — per-batch listing cost grows with APPEND COUNT, not
    * ledger size (the reference's monthly lifecycle implies periodic
    * maintenance, udac_capstone_emr.py:155). One
    * [[graft.ops.Layout.compact]] rewrite: row set identical
    * (OpsSpec-asserted, and keyed-uniqueness is a row-set property so
    * it survives any rewrite), file count = ceil(bytes/target).
    *
    * BLUE/GREEN by construction: the rewrite lands under `outPath`
    * (must differ from `path` — compacting in place would overwrite
    * the files the rewrite is still reading) and the OLD tree stays
    * valid until the caller swaps pointers and deletes it. Probes
    * through the returned handle ≡ probes through the fragmented
    * store (same rows; x214 carries it hash-green). Cost: one
    * map-only scan + round-robin exchange of the 32-byte digest rows
    * — ∝ ledger, so schedule it at the reference's monthly cadence,
    * not per append. */
  def compactDigestStore(spark: org.apache.spark.sql.SparkSession,
      path: String, outPath: String,
      targetFileBytes: Long = 128L << 20): DigestStore = {
    Layout.rewriteStore(spark, path, outPath, "digests", sidecar = None)(
      Layout.compact(spark, _, _, targetFileBytes))
    loadDigestStore(spark, outPath)
  }

  /** Incremental EXACT dedup against a persisted digest ledger: flag
    * every batch doc whose content the corpus — or an earlier batch
    * doc — already holds. Output (batch_id, dup_id, dup_in), the
    * incremental trio's shared shape minus the score column (an
    * exact match needs no estimate): 'corpus' rows point at the
    * ledger's keeper id, batch-internal digest groups keep their min
    * id and flag the rest against it ('batch'). A batch doc whose
    * content is in the corpus AND an earlier batch doc carries both
    * rows — admission is an anti-join on flagged batch ids, so the
    * multiplicity is harmless and the provenance stays complete. A
    * NULL-text batch doc is never flagged (null digests don't join);
    * gate nulls upstream if emptiness matters.
    *
    * Scale shape: one md5 projection over the batch (checkpointed —
    * it feeds the store join, the keeper aggregate, and the keeper
    * join; a day's intake is bounded), one join against the ledger,
    * one batch-sized min aggregate. The ledger join is deliberately
    * UNHINTED: the checkpointed batch carries accurate size stats,
    * so AQE broadcasts the (tiny) batch digest side and the ledger
    * STREAMS — never shuffles — while a 10⁶-row intake falls back to
    * a shuffle join on its own (the hinted shuffle-hash form first
    * measured at CPU parity with the full recompute,
    * SCALE_REHEARSAL_r17_incremental.json: forcing the 50k-row
    * ledger through an exchange against a 1k-row batch threw away
    * exactly the asymmetry the ledger exists for). Corpus cost is the
    * ledger scan alone — which is the real 100 TB win: the full
    * recompute rescans corpus TEXT, the probe scans 32-byte digests. */
  def incrementalExactDuplicates(store: DigestStore, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val b = batch
      .select(col(idCol).as("batch_id"), md5(col(textCol)).as("digest"))
      .localCheckpoint(true)
    val corpusHits = b
      .join(store.digests.select(col("content_hash").as("digest"),
        col("keeper_id").as("dup_id")), "digest")
      .select(col("batch_id"), col("dup_id"), lit("corpus").as("dup_in"))
    val keepers = b.groupBy(col("digest")).agg(min(col("batch_id")).as("dup_id"))
    val batchHits = b.join(keepers, "digest")
      .filter(col("batch_id") > col("dup_id"))
      .select(col("batch_id"), col("dup_id"), lit("batch").as("dup_in"))
    corpusHits.unionByName(batchHits)
  }

  /** SimHash near-duplicates: 64-bit signature, banded into four
    * 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at least one chunk
    * equal), exact hamming check on candidates. */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // exchanges before/after the sketch projection — see
    // minhashCandidates (conditional parallelism + stop deferred
    // re-evaluation)
    val sig = Parallelism.ensure(df)
      .select(col(idCol).as("id"),
        Sketches.simhash64(TextAnalysis.tokens(col(textCol))).as("sig"))
    hamming64Pairs(sig, maxHamming, maxBucket)
  }

  /** Shared tail of every 64-bit-signature dedup (SimHash text,
    * dHash images, audio fingerprints — `Multimodal` delegates
    * here): band a (id, sig) frame into 4×16-bit chunks, form
    * candidates only inside shared (band, chunk) buckets, verify
    * exact Hamming. Pigeonhole: Hamming ≤ 3 ⇒ some band intact ⇒
    * guaranteed candidate; 4..maxHamming pairs surface unless the
    * flipped bits straddle all four bands. The repartition
    * materializes the (possibly expensive — decode-bearing)
    * signature projection at an exchange both join sides reuse; the
    * bucket join is shuffle-hash, never broadcast. The chunk index
    * is exploded and chunks computed from the carried column (see
    * minhashCandidates for why the generator input must not embed
    * the signature expression). */
  private[ops] def hamming64Pairs(sigFrame: DataFrame,
      maxHamming: Int, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sig = sigFrame.repartition(col("id"))
    val banded = sig
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("chunk", expr("shiftright(sig, band * 16) & 65535"))
      .drop("sig")
    // bucket self-join with the quadratic path bounded (see
    // cappedBucketPairs); bare id pairs through the distinct, the
    // (one-long) signatures rejoin once per surviving pair
    cappedBucketPairs(banded, Seq("band", "chunk"), maxBucket)
      .hint("shuffle_hash")
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Memo for the verify-side hashed-gram tables below — the gram
    * arrays of the CANDIDATE docs are identical across every verify
    * threshold over the same corpus (x10 at 0.2, x42/x118 at 0.7 all
    * share one), so one shingle pass serves the session. */
  private val gramsMemo =
    new graft.BoundedMemo[((String, String), String, Int), DataFrame](
      16, "verify-grams", _.unpersist(blocking = false), _.unpersist(blocking = true))

  /** Exact n-gram Jaccard, verified on MinHash-LSH candidates only —
    * the scale-safe way to get exact similarities: the all-pairs
    * quadratic never happens. */
  def ngramJaccardNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleSize: Int = 3): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, shingleSize = shingleSize)
      .select("id_a", "id_b")
    // Distinct-gram arrays are built ONCE PER CANDIDATE DOC, not once
    // per pair SIDE: near-dups cluster, so a doc in a k-clique sits
    // in k−1 candidate pairs, and shingling it per pair multiplies
    // the dominant cost by its pair degree (the r13 ×10 scale
    // rehearsal measured verification at 843 s CPU of the family's
    // 1292 s, flat 8.8 ms per pair, avg pair degree ≈ 8). A leftsemi
    // against the candidate ids keeps the gram build off
    // non-candidate docs entirely, and the grams hash to xxhash64
    // LONGS before the intersect: same inter/union COUNTS (two
    // distinct grams of one doc pair colliding at 64 bits ≈
    // |grams|²/2⁶⁴ ≈ 1e-14 — below any boundary this threshold
    // could see) at ~4× less compare work and ~2.5× less shuffle
    // than ~20-char gram strings (the x45 hashed-gram rule applied
    // to verification). |a∪b| = |a|+|b|−|a∩b| on distinct arrays —
    // no union ARRAY is ever built.
    //
    // The single build is enforced by PERSISTING the gram table (the
    // "frame consumed by N subplans" rule): a bare repartition is NOT
    // enough — AQE drops the user exchange as redundant against the
    // semi-join's requirement, leaving the shingle projection to
    // re-execute once per pair side (read off the executed plan, r13;
    // PlanSpec pins the InMemoryTableScan shape). The memo extends
    // the same guarantee across verify thresholds: grams don't depend
    // on the threshold, so x10/x42/x118 share one table.
    val grams = gramsMemo.getOrBuild(
        (graft.PlanKeys.scoped(df), s"$idCol/$textCol", shingleSize)) {
      val ids = cands.select(col("id_a").as("gid"))
        .unionByName(cands.select(col("id_b").as("gid"))).distinct()
      df.select(col(idCol).as("gid"), col(textCol).as("t"))
        .join(ids, Seq("gid"), "leftsemi")
        .select(col("gid"),
          array_distinct(transform(
            TextAnalysis.wordNgrams(col("t"), shingleSize),
            g => xxhash64(g))).as("g"))
        .repartition(col("gid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // shuffle joins for the same exchange-reuse reasons as the
    // signature rejoin in minhashCandidates
    cands.hint("shuffle_hash")
      .join(grams.select(col("gid").as("id_a"), col("g").as("grams_a"))
        .hint("shuffle_hash"), "id_a")
      .join(grams.select(col("gid").as("id_b"), col("g").as("grams_b"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("inter", size(array_intersect(col("grams_a"), col("grams_b"))))
      .withColumn("uni", size(col("grams_a")) + size(col("grams_b")) - col("inter"))
      .withColumn("jaccard",
        round(when(col("uni") > 0, col("inter").cast("double") / col("uni")).otherwise(0.0), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/AllPairs family, Bayardo 2007 "Scaling Up All Pairs
    * Similarity Search" / Xiao 2008 PPJoin) — every pair of documents
    * whose distinct word-`shingleSize`-gram Jaccard (the x43/x10 set
    * definition) meets `thresholdTenths/10`, with a COMPLETENESS
    * GUARANTEE the MinHash paths trade away: order each document's
    * shingles by ascending global frequency (rarest first,
    * ties by shingle), take the prefix of length
    * `|s| − ⌈t·|s|⌉ + 1`; any pair with J ≥ t must share a prefix
    * token, so joining on prefix tokens alone misses nothing.
    * Verification computes exact Jaccard on the candidates via the
    * integer test `10·|a∩b| ≥ thresholdTenths·(|a|+|b|−|a∩b|)` — no
    * float threshold boundary anywhere (the threshold is passed in
    * TENTHS for exactly this reason; ⌈t·|s|⌉ is the integer
    * `(thresholdTenths·|s| + 9) div 10`).
    *
    * Scale shape (r18): identical gram SETS collapse to one
    * representative FIRST — exact copies are free, the machinery
    * below runs once per distinct content — then one (token → df)
    * two-phase count, one sorted collect per distinct set (bounded
    * by doc length), prefix explode (a FRACTION (1−t) of each set's
    * tokens), a shuffle-hash self-join on the prefix token, bare id
    * pairs through the distinct, one array rejoin for verification,
    * and a members expansion back to doc pairs (bit-identical
    * output; see the in-body comment for the ×100 measurement and
    * the named expiry).
    * Rare-first ordering is the whole trick: a token of global
    * frequency d can generate at most C(d,2) candidate pairs, and
    * frequent tokens only enter a prefix when a doc has nothing
    * rarer — the length filter `|b| ≥ ⌈t·|a|⌉` prunes the rest. No
    * sketch, no recall knob, no bucket cap needed for correctness.
    *
    * Shingles travel as xxhash64 LONGS end-to-end (r13: the ×10
    * scale rehearsal measured 1144 s CPU / 9.0 GB shuffle, dominated
    * by ~20-char gram strings riding the df-count, the per-doc
    * sorted arrays, the prefix self-join key and the verify
    * intersect). OUTPUT-INVARIANT: the completeness theorem needs
    * only SOME consistent total order over the tokens — (df, hash)
    * is as valid as (df, string), it changes which candidates form
    * but never which pairs VERIFY — and the verify counts |a∩b|,
    * |a|, |b| are identical unless two distinct grams of one
    * compared doc pair collide at 64 bits (≈|grams|²/2⁶⁴ ≈ 1e-14 —
    * no integer-threshold boundary can see it). The x161 oracle
    * replays the STRING ordering and agrees on the verified output
    * for exactly this reason.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      thresholdTenths: Int = 7, shingleSize: Int = 3): DataFrame = {
    require(thresholdTenths >= 1 && thresholdTenths <= 9,
      s"thresholdTenths must be in [1,9], got $thresholdTenths")
    // EXACT-COPY COLLAPSE (r18 — the ×100 rehearsal finding): Jaccard
    // is a function of the gram SET alone, so docs with identical
    // sets are interchangeable — group them, run the whole
    // prefix-filter machinery once per DISTINCT set, and expand rep
    // pairs to doc pairs afterward. Output is bit-identical (every
    // cross pair inherits its rep pair's jaccard, identical-set pairs
    // are exactly the J = 1.0 ≥ t rows), but the pair-mass the
    // verification join ships arrays for drops from Σ C(F_docs, 2) to
    // Σ C(F_distinct, 2) per near-dup family: at ×100 (ScaleData's
    // ~60-copy families, half exact copies) the doc-level form
    // overflowed 76 GB of shuffle spill and died; the collapsed form
    // completes (SCALE_REHEARSAL_r18.json). NAMED EXPIRY: the remaining
    // rep-pair mass Σ C(F_distinct, 2) is the operator's inherent
    // output-adjacent cost — exact all-pairs over a corpus whose
    // NEAR-dup (distinct-content) families keep growing is
    // quadratic in the answer itself; production runs x43 exact +
    // x42/x8 sketch dedup FIRST and reserves this operator for the
    // post-dedup verification sweep.
    val gsets = Parallelism.ensure(df)
      .select(col(idCol).as("id"),
        sort_array(array_distinct(transform(
          TextAnalysis.wordNgrams(col(textCol), shingleSize),
          g => xxhash64(g)))).as("g"))
      .filter(size(col("g")) > 0) // gram-less docs never pair (no tokens)
    // one row per distinct gram set: representative = min id (the
    // keep-first convention); checkpointed — feeds the rep pipeline,
    // the within-group pairs and both expansion sides (N-subplans rule)
    val groups = gsets.groupBy(col("g"))
      .agg(min(col("id")).as("rid"),
        collect_list(col("id")).as("members"),
        count(lit(1)).as("nm"))
      .localCheckpoint(true)
    val toks = groups
      .select(col("rid").as("id"), explode(col("g")).as("w"))
      .localCheckpoint(true) // feeds df-count AND the sorted collect
    val dfreq = toks.groupBy(col("w")).agg(count(lit(1)).as("d"))
    val sorted = toks.hint("shuffle_hash")
      .join(dfreq.hint("shuffle_hash"), "w")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("d"), col("w")))).as("tw"))
      .select(col("id"),
        transform(col("tw"), s => s.getField("w")).as("toks"),
        size(col("tw")).as("sz"))
      .localCheckpoint(true) // feeds the prefix explode AND both verify rejoins
    // prefix length |s| - ceil(t*|s|) + 1, all-integer
    val p = col("sz") - floor((col("sz") * thresholdTenths + 9) / 10) + 1
    val pre = sorted.select(col("id"), col("sz"),
      explode(slice(col("toks"), lit(1), p.cast("int"))).as("w"))
    val cands = pre.as("a").hint("shuffle_hash")
      .join(pre.as("b").hint("shuffle_hash"),
        col("a.w") === col("b.w") && col("a.id") < col("b.id")
          // length filter: J >= t forces t*|a| <= |b| (and symmetric)
          && col("b.sz") * 10 >= col("a.sz") * thresholdTenths
          && col("a.sz") * 10 >= col("b.sz") * thresholdTenths)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val repPairs = cands.hint("shuffle_hash")
      .join(sorted.select(col("id").as("id_a"), col("toks").as("ta"),
        col("sz").as("sza")).hint("shuffle_hash"), "id_a")
      .join(sorted.select(col("id").as("id_b"), col("toks").as("tb"),
        col("sz").as("szb")).hint("shuffle_hash"), "id_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * thresholdTenths)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
    // expand rep pairs to doc pairs: groups partition the docs, so
    // each unordered doc pair appears in exactly one (rep_a, rep_b)
    // row (normalized by least/greatest — member ids interleave
    // across groups even though rid_a < rid_b)
    val mem = groups.select(col("rid"), col("members"))
    // hint ONLY the mem sides (the r10 winners-attribution rule): mem
    // is one row per distinct content and must be the BUILD side;
    // hinting repPairs too would let the planner build the pair
    // stream instead and OOM at scale (r18 advice)
    val cross = repPairs
      .join(mem.select(col("rid").as("id_a"), col("members").as("ma"))
        .hint("shuffle_hash"), "id_a")
      .join(mem.select(col("rid").as("id_b"), col("members").as("mb"))
        .hint("shuffle_hash"), "id_b")
      .select(explode(col("ma")).as("a"), col("mb"), col("jaccard"))
      .select(col("a"), explode(col("mb")).as("b"), col("jaccard"))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("jaccard"))
    // identical-set pairs: J = 1.0 exactly, ≥ any threshold — the
    // self-join form keys the (inherently quadratic) family expansion
    // by group so it distributes across groups
    val memx = groups.filter(col("nm") > 1)
      .select(col("rid"), explode(col("members")).as("m"))
    val within = memx.select(col("rid"), col("m").as("id_a"))
      .hint("shuffle_hash")
      .join(memx.select(col("rid"), col("m").as("id_b"))
        .hint("shuffle_hash"), Seq("rid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** Containment candidates via winnowing fingerprints (MOSS scheme):
    * documents sharing ≥ `minShared` fingerprints — the detector for
    * copied PASSAGES (quotes, boilerplate, partial plagiarism) that
    * whole-document resemblance sketches miss. Any shared substring of
    * length ≥ window + k − 1 chars is guaranteed to surface at least
    * one common fingerprint.
    *
    * Shuffle profile: explode to (fingerprint, id) — a few dozen rows
    * per doc — self-join on the fingerprint value, count per pair.
    * Hot fingerprints (ubiquitous boilerplate) fan out quadratically
    * within their group, so fingerprints seen in more than
    * `maxDocFreq` documents are dropped before the join — they carry
    * no discriminating signal anyway (classic stop-fingerprint
    * removal), and the cap bounds each group's fanout at
    * maxDocFreq² regardless of corpus size.
    */
  def containmentCandidates(df: DataFrame, idCol: String, textCol: String,
      minShared: Int = 2, k: Int = 8, window: Int = 4,
      maxDocFreq: Int = 20): DataFrame = {
    // per-doc dedup happens INSIDE the row (array_distinct before the
    // explode) — a (id, fp) `.distinct()` after exploding would be a
    // full shuffle for what is a purely row-local property.
    // The fingerprint arrays are CHECKPOINTED before the explode: the
    // frame has TWO consumers (the df-cap aggregate and the join
    // back), and the former repartition(id) materialization point
    // did NOT make them share — the join side's pushed
    // isnotnull(id) filter reaches its scan while the aggregate
    // side's doesn't, so the two exchange subtrees never canonicalize
    // equal and the corpus was read and winnowed TWICE (read off the
    // executed plan, r13 — the same AQE/pushdown lesson as the x10
    // gram table). The checkpoint settles the (id, fp-array) rows —
    // far smaller than the text they replace — so the sketch pass
    // runs exactly once at any corpus size, and the explode above it
    // cannot re-evaluate the winnowing per output row (the x135
    // Generate trap) because the arrays are already bytes.
    val allFps = Parallelism.ensure(df)
      .select(col(idCol).as("id"),
        array_distinct(
          Sketches.winnowingFingerprint(col(textCol), k, window)).as("fps"))
      .localCheckpoint(true)
      .select(col("id"), explode(col("fps")).as("fp"))
    val rare = allFps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("fp")
    val fps = allFps.join(rare.hint("shuffle_hash"), Seq("fp"))
    val a = fps.select(col("fp"), col("id").as("id_a"))
    val b = fps.select(col("fp"), col("id").as("id_b"))
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** Cross-corpus containment — the DECONTAMINATION operator: which
    * training documents share passages with an evaluation set (the
    * train/test-overlap check every LLM data pipeline runs before
    * training). Same winnowing scheme as [[containmentCandidates]],
    * but across two tables: any shared substring of length ≥
    * window + k − 1 chars between a train doc and an eval doc
    * surfaces at least one common fingerprint.
    *
    * Shuffle profile at 100 TB: the train TEXT never shuffles — the
    * slim (id, fp-array) frame (a few dozen 8-byte fingerprints per
    * doc, ~2% of the text it replaces) crosses exactly ONE exchange,
    * which earns its cost twice (r13 plan read): it materializes the
    * arrays so the explode can't re-evaluate the winnowing per
    * output row (the x135 Generate trap), and its train_id hash
    * partitioning already satisfies the final (train_id, eval_id)
    * aggregate's clustering, so the pair count finalizes with no
    * second exchange. The EVAL side is bounded by nature (benchmarks
    * are ~10⁴–10⁶ docs), so its fingerprint set BROADCASTS: one
    * scan, one slim exchange, one broadcast-hash join, one
    * exchange-free aggregate. Fingerprints
    * shared by more than `maxEvalDocFreq` eval docs are dropped
    * first (stop-fingerprint removal, computed on the cheap bounded
    * side) — ubiquitous boilerplate carries no contamination signal
    * and would otherwise fan every matching train row out to the
    * whole eval set. */
  def crossContainmentCandidates(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String,
      minShared: Int = 2, k: Int = 8, window: Int = 4,
      maxEvalDocFreq: Int = 20): DataFrame = {
    // materialize-then-explode, see containmentCandidates (the
    // Generate re-evaluation trap)
    def fps(df: DataFrame, as: String) =
      Parallelism.ensure(df)
        .select(col(idCol).as(as),
          array_distinct(
            Sketches.winnowingFingerprint(col(textCol), k, window)).as("fps"))
        .repartition(col(as))
        .select(col(as), explode(col("fps")).as("fp"))
    // stop-fingerprint cap on the bounded side. The CHECKPOINT sits
    // on evalFps ITSELF, not on the capped result: evalFps feeds two
    // subplans (probe rows + the doc-frequency aggregate), and a
    // checkpoint one level up still ran the winnowing twice inside
    // its own build job (divergent pushed filters break exchange
    // reuse between the two branches — the r13 x36 plan lesson).
    // Settled here, the eval fingerprints compute exactly once in
    // parallel, and the BroadcastExchange's child lineage (the cap
    // join over checkpointed rows) carries no expensive custom
    // Expression (repo rule: never leave one under a broadcast).
    val evalFps = fps(eval, "eval_id").localCheckpoint(true)
    val rareEvalFps = evalFps
      .join(evalFps.groupBy(col("fp")).agg(count(lit(1)).as("edf"))
        .filter(col("edf") <= maxEvalDocFreq).select("fp"), Seq("fp"))
    fps(train, "train_id")
      .join(broadcast(rareEvalFps), Seq("fp"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** Edit-distance contamination VERIFY — the exact second stage
    * after a sketch decontamination sweep ([[crossContainmentCandidates]]
    * / [[bloomDecontaminate]] surface candidates; this confirms or
    * clears them): candidate (train, eval) pairs come from shared
    * distinct word trigrams (SQL-replayable, so the whole verdict
    * is oracle-checkable), then each candidate gets a normalized
    * Levenshtein similarity 1 − lev/max(len) and a contaminated
    * flag at `simThreshold`. N-gram overlap alone over-flags
    * (shared boilerplate phrases ≠ a copied document); edit
    * distance is the near-verbatim test eval-decontamination
    * actually wants, but is O(len²) per pair — only ever run it
    * BEHIND a candidate prefilter, never all-pairs.
    *
    * The flag compares the ROUNDED similarity on both engines —
    * comparing unrounded would let a boundary-straddling pair flip
    * between engine and oracle.
    *
    * Scale shape: the eval side is bounded by contract (an eval
    * suite, not a corpus) — gram build is map-only, the candidate
    * join broadcasts eval, and the Levenshtein projection runs only
    * on pairs that passed the `minShared` gram gate. */
  def editDistanceContamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, minShared: Int = 2,
      simThreshold: Double = 0.8): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    def grams(d: DataFrame, idAs: String, textAs: String) =
      d.select(col(idCol).as(idAs), col(textCol).as(textAs),
        array_distinct(TextAnalysis.wordNgrams(col(textCol), 3))
          .as(s"__g_$idAs"))
    // re-spread the streamed side of the nested-loop join (a 1-file
    // scan would serialize every pair onto one task)
    val tr = Parallelism.ensure(grams(train, "train_id", "__t_text"))
    val ev = grams(eval, "eval_id", "__e_text")
    tr.crossJoin(broadcast(ev))
      .withColumn("shared_ngrams",
        size(array_intersect(col("__g_train_id"), col("__g_eval_id"))))
      .filter(col("shared_ngrams") >= minShared)
      .withColumn("edit_sim", round(
        lit(1.0) - levenshtein(col("__t_text"), col("__e_text")).cast("double")
          / greatest(length(col("__t_text")), length(col("__e_text"))),
        4))
      .withColumn("contaminated", col("edit_sim") >= simThreshold)
      .select(col("train_id"), col("eval_id"), col("shared_ngrams"),
        col("edit_sim"), col("contaminated"))
  }

  /** Bloom-filter decontamination: flags train docs sharing winnowed
    * fingerprints with the eval set, with the eval side compressed
    * into a Bloom filter instead of a broadcast join table.
    *
    * This is the cheapest possible 100 TB shape for "does this doc
    * touch the eval set at all": the bounded eval side builds one
    * Bloom filter (distributed aggregate, ~10 bits/fingerprint at
    * fpp 1%, so even 10⁸ eval fingerprints fit in ~120 MB; typical
    * eval suites are orders less), and the train corpus is then a
    * PURE MAP — fingerprints stay inside the row as an array, the
    * membership count is `size(filter(fps, might_contain))`, no
    * explode, no join, no shuffle of the big side at all. Compared to
    * [[crossContainmentCandidates]] it trades per-eval-doc pair
    * attribution (and an fpp sliver of false positives — NEVER false
    * negatives) for a plan with zero exchanges on the train side;
    * use it as the cheap first-pass filter and the join variant for
    * attribution on the survivors.
    *
    * Same stop-fingerprint cap as the join variant: fingerprints in
    * more than `maxEvalDocFreq` eval docs are boilerplate, not
    * contamination signal, and are dropped before the filter is
    * built (so they can't inflate `matched_fingerprints`).
    *
    * Output: (train_id, matched_fingerprints) for train docs whose
    * distinct-fingerprint overlap with the eval union is ≥
    * `minMatched`. Exact-twin discipline: x37's word-trigram
    * intersection pins the shared-passage semantics this
    * approximates.
    *
    * The train side is one codegen'd projection per row: winnowing
    * runs once, the membership test folds over the in-row fingerprint
    * array, and the filter rides the plan as a binary literal
    * (task-broadcast). */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String,
      minMatched: Int = 2, k: Int = 8, window: Int = 4,
      maxEvalDocFreq: Int = 20, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val bytes = buildEvalBloom(eval, idCol, textCol, k, window,
        maxEvalDocFreq, fpp).getOrElse {
      return train.select(col(idCol).as("train_id"),
        lit(0L).as("matched_fingerprints")).filter(lit(false))
    }
    val mightContain: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      f => ColumnBridge.column(BloomFilterMightContain(
        Literal(bytes, BinaryType), ColumnBridge.expression(f)))
    train.filter(col(textCol).isNotNull)
      .select(col(idCol).as("train_id"),
        size(filter(array_distinct(
          Sketches.winnowingFingerprint(col(textCol), k, window)),
          mightContain)).cast("long").as("matched_fingerprints"))
      .filter(col("matched_fingerprints") >= minMatched)
  }

  /** The serialized eval-side Bloom filter of [[bloomDecontaminate]];
    * `None` when the capped fingerprint set is empty. */
  private def buildEvalBloom(eval: DataFrame, idCol: String, textCol: String,
      k: Int, window: Int, maxEvalDocFreq: Int,
      fpp: Double): Option[Array[Byte]] = {
    // bounded side: winnowed fingerprints, stop-capped, distinct.
    // materialize-then-explode as everywhere (Generate re-eval trap).
    val evalFps = Parallelism.ensure(eval)
      .select(col(idCol).as("eval_id"),
        array_distinct(
          Sketches.winnowingFingerprint(col(textCol), k, window)).as("fps"))
      .repartition(col("eval_id"))
      .select(col("eval_id"), explode(col("fps")).as("fp"))
      .localCheckpoint(true) // feeds the doc-freq agg AND the filter build
    // materialized: the capped set feeds TWO jobs (the sizing count
    // and the filter build) — without the checkpoint the doc-freq
    // join/aggregate/distinct would re-execute for each
    val cappedFps = evalFps
      .join(evalFps.groupBy(col("fp")).agg(count(lit(1)).as("edf"))
        .filter(col("edf") <= maxEvalDocFreq).select("fp"), Seq("fp"))
      .select("fp").distinct()
      .localCheckpoint(true)
    // the count is a cheap job on the bounded side and sizes the
    // filter exactly; stat.bloomFilter aggregates distributed and
    // only the merged ~n*10-bit filter ever reaches the driver
    val nFps = cappedFps.count()
    if (nFps == 0L) None
    else {
      val bloom = cappedFps.stat.bloomFilter("fp", nFps, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      Some(bos.toByteArray)
    }
  }

  /** Duplicate-cluster formation: connected components over a
    * candidate-pair edge list, the step that turns pairwise near-dup
    * findings into keep-one-per-group decisions (pairs alone can't —
    * A≈B and B≈C must collapse to ONE cluster {A,B,C} even when A
    * and C never formed a pair).
    *
    * Algorithm: min-label propagation with pointer jumping — every
    * node starts labeled with its own id; each round every node takes
    * the min of its own and its neighbors' labels (one hop), then
    * follows its new label one more hop (label-of-label, the
    * hash-to-min shortcut). Propagation alone needs O(component
    * diameter) rounds — a long chain of pairwise near-dups (version
    * histories, boilerplate drift) stalls it; the shortcut compounds
    * the hop distance each round, so convergence is O(log diameter).
    * Each round is two shuffle joins + one aggregate, no driver-side
    * graph; the driver-side loop only checks a convergence COUNT per
    * round — no data is collected.
    *
    * Returns (id, cluster_id) for every id appearing in `pairs`,
    * cluster_id = the smallest id in the component. */
  /** Memo for [[duplicateClusters]] label tables: the cluster
    * labels of one near-dup pair list are consumed by several
    * pipeline stages in a session (survivor anti-join, leakage-safe
    * split, cluster stats) — one pointer-jumping run per (pairs,
    * maxIters), not one per consumer. Labels are O(|clustered
    * docs|) rows. */
  private val clusterMemo =
    new graft.BoundedMemo[((String, String), String, Int), DataFrame](
      16, "dup-cluster-labels", _.unpersist(blocking = false), _.unpersist(blocking = true))

  /** `maxIters` default raised 20 → 40 (r14): the ×30 rehearsal
    * measured a 15-round convergence on x34's threshold-0.3 regime
    * (star-pair hub chains deepen with corpus scale), leaving only a
    * 25% margin to the loud non-convergence throw. Rounds beyond
    * convergence never run (the loop exits at changed == 0), so the
    * higher ceiling costs nothing on shallow graphs. */
  def duplicateClusters(pairs: DataFrame, idACol: String, idBCol: String,
      maxIters: Int = 40): DataFrame = {
    clusterMemo.getOrBuild((graft.PlanKeys.scoped(pairs), s"$idACol/$idBCol", maxIters))(
      duplicateClustersUncached(pairs, idACol, idBCol, maxIters))
  }

  private def duplicateClustersUncached(pairs: DataFrame, idACol: String,
      idBCol: String, maxIters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // The cached edge layout is sized by the EDGE LIST (~1M 16-byte
    // rows ≈ 16 MB per partition), not the core count: every round
    // re-scans this cache, and a core-count width would pin every
    // round's map stages at ~defaultParallelism tasks over tiny data.
    // The hash-on-src layout also hands the seed aggregate its
    // clustering for free. The count memoizes and forces the shared
    // upstream pair build before anything here materializes.
    //
    // The rounds run on the caller's session and set no conf. AQE
    // sizes their shuffles from the bytes each exchange carries:
    // partitions coalesce down to the 1 MB minimum partition size, so
    // a round over an O(|clustered docs|) frame of a few MB runs as a
    // few tasks at any core count, and rounds at corpus scale still go
    // wide.
    val pairRows = graft.CorpusCounts.of(pairs)
    val edgeWidth = math.max(1L, (2L * pairRows + 999999L) / 1000000L).toInt
    val edges = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .repartition(edgeWidth, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint, not persist: each round's plan references the
    // previous round's — cached-but-unchecked lineage GROWS
    // exponentially across iterations until plan construction itself
    // OOMs. An eager local checkpoint truncates the lineage, so every
    // round plans against a constant-size scan. (On a cluster with a
    // fault-tolerance requirement, a reliable `checkpoint()` to the
    // checkpoint dir is the same call.)
    // seed with min(self, neighbors) — the first propagation round
    // folded into the initialization aggregate (one round saved)
    // unpersist in finally: the non-convergence throw below must not
    // leave the edge list pinned for the session lifetime
    try {
      edges.count()
      var labels = edges.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("cluster_id"))
        .select(col("src").as("id"), col("cluster_id"))
        .localCheckpoint(true)
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        // the self row carries its previous label in `own` (neighbors
        // carry null), so ONE aggregation yields both the new label
        // (min over all candidates) and the previous one (min over the
        // single non-null own) — the convergence check then needs no
        // join back against the previous round
        val neighborLabels = edges
          .join(labels.select(col("id").as("dst"), col("cluster_id").as("cand")), "dst")
          .select(col("src").as("id"), col("cand"),
            lit(null).cast(edges.schema("src").dataType).as("own"))
        val prop = neighborLabels
          .union(labels.select(col("id"), col("cluster_id").as("cand"),
            col("cluster_id").as("own")))
          .groupBy(col("id"))
          .agg(min(col("cand")).as("m"), min(col("own")).as("prev"))
        // pointer jump: adopt m(m(id)). A label is always the id of a
        // node in the same component, so the inner join is total, and
        // m is monotone (m(x) ≤ x) so the hop only improves. The two
        // sides scan the SAME aggregate — one computation via
        // exchange reuse, no extra checkpoint.
        val nextPlan = prop.as("p")
          .join(prop.select(col("id").as("mid"), col("m").as("mm")),
            col("p.m") === col("mid"))
          .select(col("p.id").as("id"), col("mm").as("cluster_id"),
            col("p.prev").as("prev"))
        // ONE job per round, not two: the convergence count rides the
        // checkpoint's materialization in an accumulator instead of a
        // separate count() job over the checkpointed table. Task
        // retries can only OVER-count an accumulator, and over-count
        // merely schedules one more (no-op) round — never a premature
        // stop — so the fold is convergence-safe.
        val acc = pairs.sparkSession.sparkContext
          .longAccumulator(s"graft.cc.changed.$iter")
        val improvedAt = nextPlan.schema.fieldNames.length
        val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
          org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(nextPlan.schema))
        val next = nextPlan
          .withColumn("__improved", col("cluster_id") < col("prev"))
          .mapPartitions { it =>
            it.map { r =>
              if (r.getBoolean(improvedAt)) acc.add(1L)
              org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2))
            }
          }(enc)
          .localCheckpoint(true)
        changed = acc.value
        labels = next.select(col("id"), col("cluster_id"))
        iter += 1
      }
      System.err.println(s"[cc] converged=${changed == 0} rounds=$iter")
      // no silent caps: a component whose diameter exceeds maxIters
      // would come back SPLIT (several cluster_ids for one true
      // component) — surface it instead of returning wrong clusters
      if (changed > 0)
        throw new IllegalStateException(
          s"duplicateClusters did not converge in $maxIters rounds " +
            s"($changed labels still improving) — raise maxIters; near-dup " +
            "components are normally shallow, so this signals pathological input")
      labels
    } finally edges.unpersist()
  }

  /** Semantic dedup end-to-end, the composition a real corpus runs:
    * LSH-bucketed near-dup pairs ([[embeddingNearDuplicates]]) →
    * connected components ([[duplicateClusters]]) → keep each
    * cluster's minimum id. Returns the surviving rows of `df`.
    *
    * This is the SCALE path: the edge list only ever materializes
    * inside shared signature buckets (never all-pairs), components
    * collapse in O(diameter) shuffle rounds, and the survivor filter
    * is one anti-join — every stage is bounded at 100 TB. Candidate
    * precision is 1.0 (exact cosine verifies each pair), so with the
    * LSH edge set ⊆ the exact edge set, LSH clusters REFINE exact
    * clusters — every exact survivor also survives here (a cluster
    * minimum stays minimal in any sub-cluster containing it); the
    * only error mode is keeping an occasional extra near-dup whose
    * every linking pair the sketch missed (recall-bounded,
    * spec-asserted).
    *
    * `numBits` defaults to [[AutoBits]]: the signature width grows
    * with the corpus via [[lshBitsFor]] (the r13 ×10-measured
    * quadratic defense); pass it explicitly to pin a width. */
  def semanticDedupSurvivors(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numBits: Int = AutoBits, bands: Int = 8,
      maxIters: Int = 40): DataFrame =
    survivorsFromPairs(df, idCol,
      embeddingNearDuplicates(df, idCol, vecCol, threshold, numBits, bands), maxIters)

  /** Cluster count for a corpus size — the SemDeDup analog of
    * [[lshBitsFor]]: per-cluster all-pairs work is Σ|cluster|² ≈
    * corpus × targetCluster at k ≈ corpus/targetCluster, i.e. LINEAR
    * in the corpus only when k grows with it; a fixed k is the same
    * quadratic the ×10/×30 rehearsal measured on fixed LSH bucket
    * space. Clamped to [1, [[MaxAutoK]]] — the named expiry:
    * [[Similarity.kmeansAssign]] inlines one struct literal per
    * centroid into the plan (`greatest` over k arms), so a flat k
    * beyond a few hundred needs hierarchical composition (cluster,
    * then re-cluster within), not a bigger k. Past the clamp the
    * composition IS implemented: [[clusterPlanFor]] resolves
    * [[AutoK]] to the two-level form ([[semanticClusterDedupTwoLevel]])
    * instead of clamping — this flat resolver remains for the
    * below-clamp leg and the spec-pinned sizing table. */
  def kForCorpus(corpus: Long, targetCluster: Int = 1000): Int = {
    require(corpus > 0, s"corpus must be positive, got $corpus")
    require(targetCluster >= 2, s"targetCluster must be >= 2, got $targetCluster")
    math.min(MaxAutoK,
      math.max(1, math.ceil(corpus.toDouble / targetCluster).toInt))
  }

  /** Flat-k expiry for [[kForCorpus]] (≈ 256k vectors at the default
    * target): the per-centroid plan literals, not memory, are the
    * binding constraint. Past it [[clusterPlanFor]] composes two
    * Lloyd levels instead of clamping — see [[TwoLevelK]]. */
  val MaxAutoK = 256

  /** Sentinel for `k` parameters: size via [[kForCorpus]] from one
    * corpus count. Same contract shape as [[AutoBits]]. */
  val AutoK = 0

  /** Resolved shape of an [[AutoK]] clustering: flat below the plan-
    * literal clamp, two-level Lloyd beyond it. */
  sealed trait ClusterPlan
  /** One flat Lloyd clustering of `k` ≤ [[MaxAutoK]] clusters. */
  final case class FlatK(k: Int) extends ClusterPlan
  /** Two-level Lloyd: k₁ top clusters (plan literals) × k₂
    * sub-clusters each (broadcast data) ≈ the unclamped cluster
    * count, so Σ|leaf|² stays ≈ corpus × targetCluster — the r14
    * verdict's "beyond the clamp" path made real instead of a
    * scaladoc aspiration. */
  final case class TwoLevelK(k1: Int, k2: Int) extends ClusterPlan

  /** [[AutoK]] resolution WITHOUT the silent clamp: below
    * [[MaxAutoK]] the flat form (identical to [[kForCorpus]]); above
    * it, two Lloyd levels sized k₁ ≈ √k so both stay under the
    * plan-literal limit — the quadratic does NOT resume at n²/256.
    * Named expiry of the two-level form: clamp² ≈ 65k leaves (≈ 65M
    * docs at the default target) — the require below throws loudly
    * there; a third level is the composition beyond (the
    * [[graft.ops.Similarity.hierarchicalKmeansAssign]] machinery is
    * depth-agnostic, only this resolver caps at two). */
  def clusterPlanFor(corpus: Long, targetCluster: Int = 1000): ClusterPlan = {
    require(corpus > 0, s"corpus must be positive, got $corpus")
    require(targetCluster >= 2, s"targetCluster must be >= 2, got $targetCluster")
    val raw = math.ceil(corpus.toDouble / targetCluster).toLong
    if (raw <= MaxAutoK) FlatK(math.max(1L, raw).toInt)
    else {
      require(raw <= MaxAutoK.toLong * MaxAutoK,
        s"clusterPlanFor: $raw clusters exceeds the two-level expiry " +
          s"${MaxAutoK.toLong * MaxAutoK} (≈65M docs at target " +
          s"$targetCluster) — compose a third level")
      val k1 = math.ceil(math.sqrt(raw.toDouble)).toInt
      val k2 = math.ceil(raw.toDouble / k1).toInt
      TwoLevelK(k1, k2)
    }
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means
    * partitions the embedding space FIRST, then exact-cosine pairs
    * form only WITHIN a cluster — the published alternative to
    * [[semanticDedupSurvivors]]' hyperplane-LSH bucketing. At scale k
    * grows with the corpus so cluster populations stay bounded and
    * the per-cluster all-pairs cost is Σ|cluster|² ≪ n², with NO
    * recall loss inside a cluster (LSH banding can miss a true pair;
    * a cluster-scoped join cannot). Cross-cluster near-dups are the
    * paper's accepted miss mode. `k` defaults to [[AutoK]]: resolved
    * via [[clusterPlanFor]] from one memoized count — flat below the
    * plan-literal clamp (identical to [[kForCorpus]], which the spec
    * pins), TWO-LEVEL Lloyd beyond it
    * ([[semanticClusterDedupTwoLevel]]) so the Σ|cluster|² quadratic
    * does NOT resume past [[MaxAutoK]]. Explicit k overrides and
    * stays flat, which the x65 carrier uses to stay replay-exact.
    *
    * Shape: replay-exact Lloyd ([[Similarity.kmeansAssign]], map-only
    * after training) → one shuffle-hash self-join keyed by cluster id
    * (corpus-sized sides — never broadcast) → exact cosine ≥
    * threshold → [[survivorsFromPairs]] (components + one anti-join).
    * The cluster key is data-dependent; a hot cluster means k is too
    * small for the corpus, not a salting problem. */
  def semanticClusterDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int = AutoK, iters: Int = 2, threshold: Double = 0.95,
      maxIters: Int = 40, targetCluster: Int = 1000): DataFrame = {
    require(k == AutoK || k > 0,
      s"k must be AutoK ($AutoK) or positive, got $k")
    if (k > 0)
      survivorsFromPairs(df, idCol,
        clusterScopedPairs(df, idCol, vecCol, k, iters, threshold), maxIters)
    else {
      // memoized per (session, plan): a derived frame's count is a
      // full job, and only the first auto-sized call should pay it
      val corpus = graft.CorpusCounts.of(df)
      clusterPlanFor(corpus, targetCluster) match {
        case FlatK(kk) =>
          System.err.println(s"[dedup] kForCorpus auto-sizing: " +
            s"corpus=$corpus -> k=$kk (flat)")
          survivorsFromPairs(df, idCol,
            clusterScopedPairs(df, idCol, vecCol, kk, iters, threshold), maxIters)
        case TwoLevelK(k1, k2) =>
          System.err.println(s"[dedup] kForCorpus auto-sizing: " +
            s"corpus=$corpus -> two-level k1=$k1 k2=$k2 " +
            s"(${k1.toLong * k2} leaves)")
          semanticClusterDedupTwoLevel(
            df, idCol, vecCol, k1, k2, iters, threshold, maxIters)
      }
    }
  }

  /** SemDeDup past the flat clamp: identical pair semantics
    * (exact-cosine pairs WITHIN a cluster, keep-minimum survivors)
    * with the cluster labels coming from the two-level Lloyd
    * ([[Similarity.hierarchicalKmeansAssign]]) — k₁·k₂ leaf clusters
    * from k₁ plan literals plus one broadcast join, so the per-leaf
    * all-pairs stays Σ|leaf|² ≈ corpus × target. Engaged
    * automatically by [[AutoK]] above [[MaxAutoK]]; public with
    * explicit levels so the equivalence is testable (k₁ = 1 is
    * EXACTLY the flat path — spec-pinned). */
  def semanticClusterDedupTwoLevel(df: DataFrame, idCol: String,
      vecCol: String, k1: Int, k2: Int, iters: Int = 2,
      threshold: Double = 0.95, maxIters: Int = 40): DataFrame = {
    // checkpoint the label table: the pair kernel consumes it under
    // BOTH self-join sides, and unlike the flat path's codegen'd
    // plan-literal `greatest`, the two-level argmax is an interpreted
    // k₂-element fold — re-evaluating it per side doubled the
    // dominant cost (x205 measured 37.7 s CPU at k₂=55 before this;
    // the PERF.md "frame consumed by N subplans" rule). Two longs per
    // row — ~1 GB at the 65M-doc two-level expiry.
    val assigned = Similarity.hierarchicalKmeansAssign(
      df, idCol, vecCol, k1, k2, iters)
      .select(col(idCol).as("id"), col("cluster"))
      .localCheckpoint(true)
    survivorsFromPairs(df, idCol,
      pairsWithinAssignments(df, idCol, vecCol, assigned, threshold), maxIters)
  }

  /** [[semanticClusterDedup]]'s pair stage, public for plan audits
    * and caller-composed survivor algebra: exact-cosine near-dup
    * pairs formed WITHIN k-means clusters only — one shuffle-hash
    * self-join keyed by cluster id. */
  def clusterScopedPairs(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val assigned = Similarity.kmeansAssign(df, idCol, vecCol, k, iters)
      .select(col(idCol).as("id"), col("cluster"))
    pairsWithinAssignments(df, idCol, vecCol, assigned, threshold)
  }

  /** Shared pair kernel of the flat and two-level SemDeDup paths:
    * given (id, cluster) labels, exact-cosine pairs within a label —
    * ONE definition so the x65-pinned within-cluster semantics cannot
    * drift between the paths. */
  private def pairsWithinAssignments(df: DataFrame, idCol: String,
      vecCol: String, assigned: DataFrame, threshold: Double): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(assigned, "id")
    val a = keyed.select(col("cluster"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val b = keyed.select(col("cluster"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorMath.cosineSimilarity(col("vec_a"), col("vec_b")), 4)
        >= threshold)
      .select("id_a", "id_b")
  }

  /** Survivors of `df` given a near-dup PAIR table (id_a, id_b, ...):
    * connected components over the pairs, drop every non-minimum
    * cluster member, one anti-join. The shared tail of
    * [[semanticDedupSurvivors]] / [[textDedupSurvivors]] — public so
    * caller-provided pair sources (a persisted candidate table, a
    * bounded exact twin) reuse the same survivor algebra. */
  def survivorsFromPairs(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 40): DataFrame = {
    val drops = duplicateClusters(pairs, "id_a", "id_b", maxIters)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Quality-aware canonical selection: given near-dup cluster
    * labels and a per-row score, keep each cluster's HIGHEST-scoring
    * member (ties toward the smallest id) — the "keep the most
    * complete / highest-quality copy" refinement of the
    * keep-cluster-minimum survivor algebra above (real pipelines
    * keep the best duplicate, not the first: crawls re-fetch pages
    * as truncated or boilerplate-injected variants, and min-id keeps
    * whichever happened to be crawled first). Rows absent from
    * `clusters` are singletons and always survive.
    *
    * Deterministic: the winner is a pure (score DESC, id ASC)
    * row_number over the cluster — integer or pre-rounded scores
    * make the selection exactly replayable.
    *
    * Scale shape: one left join on the id (near-dup labels are a
    * small fraction of the corpus — broadcast when bounded), then
    * ONE shuffle on the cluster label where rank ≤ 1 plans as
    * WindowGroupLimit: map tasks pre-prune to their local best
    * before the exchange, so the shuffle carries ~one row per
    * (cluster, map task), not the corpus. */
  def keepBestPerCluster(df: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame, clusterIdCol: String = "id",
      clusterLabelCol: String = "cluster_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lbl = clusters.select(col(clusterIdCol).as("__cid"),
      col(clusterLabelCol).as("__cl"))
    val w = Window.partitionBy(col("__lbl"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.join(lbl, df(idCol) === col("__cid"), "left")
      .withColumn("__lbl", coalesce(col("__cl"), col(idCol)))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__cid", "__cl", "__lbl", "__rk")
  }

  /** Fuzzy TEXT dedup end-to-end (the SlimPajama/Dolma pipeline):
    * MinHash-LSH candidates → exact n-gram-Jaccard verification →
    * connected components → keep each cluster's minimum id. Returns
    * the surviving rows of `df`. The text twin of
    * [[semanticDedupSurvivors]], with the same survivor algebra:
    * pair precision is exact (every edge is a verified Jaccard ≥
    * threshold), so the LSH edge set ⊆ the all-pairs exact edge set
    * and every exact survivor also survives here; the only error
    * mode is an occasional extra kept near-dup whose every linking
    * pair the sketch missed (recall-bounded, spec-asserted).
    *
    * 100 TB shape: candidates only materialize inside LSH band
    * buckets, verification joins text for O(|candidates|) rows,
    * components collapse in O(log diameter) checkpointed rounds, and
    * the survivor filter is one anti-join. */
  def textDedupSurvivors(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleSize: Int = 3,
      maxIters: Int = 40): DataFrame =
    survivorsFromPairs(df, idCol,
      ngramJaccardNearDuplicates(df, idCol, textCol, threshold, shingleSize), maxIters)

  /** Embedding-cosine near-duplicates: hyperplane-LSH buckets bound
    * the candidate set, exact cosine verifies. Multi-probe via
    * `bands` signature splits keeps recall high. */
  /** Cross-document duplicated n-gram SPANS — the span-level exact
    * substring dedup signal ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022, which removes repeated
    * ≥50-token substrings; the n-gram-positions formulation replaces
    * their suffix array with joins Spark can run): per document, the
    * token positions covered by any word n-gram that also appears in
    * ANOTHER document, merged into maximal spans (gaps-and-islands
    * over gram start positions — adjacent/overlapping intervals
    * coalesce). Output per doc: n_tokens, dup_tokens, dup_spans,
    * dup_ratio — curation either drops high-ratio docs or clips the
    * spans themselves.
    *
    * Scale shape: index-exploded grams (the slice runs on the carried
    * token array, x31's rule), checkpointed once (they feed the
    * document-frequency aggregate AND the position semi-join); the df
    * table is corpus-sized so the join shuffles on the gram key (x32
    * rule); islands need one window partitioned by the near-unique
    * doc id. `hashGrams` swaps the 8-word string key for its xxhash64
    * — the shuffle carries 8 bytes per gram instead of ~50 chars
    * (false merges need a 64-bit collision AND >1 doc sharing it —
    * negligible; spec-asserted equal to the text-keyed run). The
    * registered query keys by TEXT so the ANSI oracle can replay it.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, hashGrams: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT checkpointed (r20 opt, measured): the frame has two
    // consumers (the gram build and the slim (id, n_tokens) join
    // side), so the corpus IS tokenized twice — but materializing
    // the token arrays showed no same-VM profile win over the
    // re-tokenize (warm CPU read BETTER without it: ~5–8 s vs
    // ~11–15 s checkpointed, and the arrays are the corpus
    // re-encoded, not a slim derivation — their block-store
    // footprint grows with the corpus). The r13 materialize-once
    // rule is for frames SMALLER than what they replace.
    val base = Parallelism.ensure(df)
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).cast("long").as("n_tokens"))
    val gramKey =
      if (hashGrams) xxhash64(concat_ws(" ", slice(col("toks"), col("p") + 1, lit(n))))
      else concat_ws(" ", slice(col("toks"), col("p") + 1, lit(n)))
    val grams = base.filter(col("n_tokens") >= n)
      .select(col("id"), col("toks"),
        explode(sequence(lit(0), (col("n_tokens") - n).cast("int"))).as("p"))
      .select(col("id"), col("p"), gramKey.as("g"))
      .localCheckpoint(true)
    val dupGrams = grams.groupBy(col("g"))
      .agg(countDistinct(col("id")).as("df")).filter(col("df") >= 2)
      .select(col("g"))
    val dupPos = grams.hint("shuffle_hash")
      .join(dupGrams.hint("shuffle_hash"), Seq("g"), "leftsemi")
    val w = Window.partitionBy(col("id")).orderBy(col("p"))
    val islands = dupPos
      .withColumn("__brk",
        when(col("p") - lag(col("p"), 1).over(w) > n, 1).otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(w))
    val perDoc = islands.groupBy(col("id"), col("__island"))
      .agg((max(col("p")) - min(col("p")) + n).cast("long").as("__covered"))
      .groupBy(col("id"))
      .agg(sum(col("__covered")).as("dup_tokens"),
        count(lit(1)).as("dup_spans"))
    base.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 4).as("dup_ratio"))
  }

  /** Cluster-aware train/holdout split — the leakage-safe version of
    * [[graft.ops.Sampling.hashSplit]]: a plain per-document hash
    * split puts two near-duplicates on opposite sides of the
    * train/eval boundary and the eval set silently stops measuring
    * generalization. Here the split keys on the CLUSTER id (the
    * connected-component representative of the near-dup graph), so
    * every member of a duplicate cluster lands on the same side by
    * construction. Singletons (docs in no pair) key on their own id.
    *
    * The split hash is the shared arithmetic Knuth hash — membership
    * is a pure function of the cluster structure, stable across
    * relayout and re-ingestion, and SQL-replayable.
    *
    * Scale shape: [[duplicateClusters]] (pointer-jumping CC, O(log
    * diameter) rounds) + one left join from the corpus to the
    * cluster table (near-dup clusters are a small fraction of a real
    * corpus — the join's build side is |clustered docs|, not |docs|)
    * + a map-only hash projection. */
  def splitByCluster(df: DataFrame, idCol: String, clusters: DataFrame,
      holdoutPct: Int): DataFrame = {
    require(holdoutPct >= 0 && holdoutPct <= 100, "holdoutPct in [0, 100]")
    val key = coalesce(col("cluster_id"), col(idCol))
    val h = pmod(
      pmod(key, lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    df.join(clusters.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("cluster_id", key)
      .withColumn("split",
        when(pmod(h, lit(100)) < holdoutPct, lit("holdout"))
          .otherwise(lit("train")))
  }

  /** [[splitByCluster]] fed straight from a near-dup pair list. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      idACol: String, idBCol: String, holdoutPct: Int): DataFrame =
    splitByCluster(df, idCol, duplicateClusters(pairs, idACol, idBCol),
      holdoutPct)

  /** Segment-level exact dedup WITH reconstruction (the operator
    * shape of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499 — their suffix-array
    * exact-substring dedup, here at fixed word-window granularity,
    * which is the distributable form: a suffix array is a global
    * sequential structure, non-overlapping n-token windows shard):
    * split every document into consecutive `n`-token segments, keep
    * only the FIRST corpus-wide occurrence of each distinct segment
    * (first = smallest (doc id, position) — a total order, so the
    * keep-set is deterministic and layout-independent), and
    * re-assemble each document from its surviving segments in
    * position order. Documents whose every segment was seen earlier
    * vanish — that is the contract (fully-duplicated docs contribute
    * zero novel text); exact-dedup them first if emptiness matters.
    *
    * Scale shape: tokenization + segment slicing are map-only over
    * the scan; the first-occurrence winner per segment is a
    * map-side-combinable min(struct(id, pos)) aggregate keyed by the
    * segment (uniform text key — no skew beyond genuine boilerplate,
    * which is exactly what collapses); the winner rows ARE the kept
    * rows — no join back at all (the min struct is the surviving
    * (id, pos), and the segment text is the group key), so the whole
    * operator is two shuffles: the winner aggregate and the doc-id
    * reconstruction. (r9 verdict: the former join-back formulation
    * claimed exchange reuse the planner never delivered — Catalyst
    * folded the post-join id/idx filters into the join keys, forcing
    * a three-key re-exchange of BOTH sides; the join selected
    * exactly the winner rows the aggregate already held.) Nothing is
    * ever all-pairs; memory is bounded by segments-per-task. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n > 0, "segment length must be positive")
    // split on raw whitespace, KEEPING case: exact dedup must not
    // conflate case-variant segments
    val base = Parallelism.ensure(df)
      .select(col(idCol).as("id"), split(col(textCol), graft.ops.TextAnalysis.WhitespaceClass).as("toks"))
      .filter(size(col("toks")) > 0)
    val nSegs = greatest(
      ceil(size(col("toks")).cast("double") / n).cast("int"), lit(1))
    // explode the segment INDEX and slice from the carried token
    // array (never explode a computed segment array — the Generate
    // re-evaluates the whole slicing expression per output row)
    val segs = base
      .select(col("id"), col("toks"),
        explode(sequence(lit(0), nSegs - 1)).as("seg_idx"))
      .select(col("id"), col("seg_idx"),
        concat_ws(" ", slice(col("toks"), col("seg_idx") * n + 1, lit(n)))
          .as("seg"))
    // first (id, seg_idx) per distinct segment — (id, seg_idx) is
    // unique per row, so the min struct IS the surviving row
    val kept = segs.groupBy(col("seg"))
      .agg(min(struct(col("id"), col("seg_idx"))).as("__w"))
      .select(col("__w.id").as("id"), col("__w.seg_idx").as("seg_idx"),
        col("seg"))
    kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_segments_kept"),
        // collect_list order is nondeterministic — array_sort on the
        // (seg_idx, seg) struct pins position order before the join
        array_join(
          transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s.getField("seg")),
          " ").as("clean_text"))
      .select(col("id").as(idCol), col("n_segments_kept"), col("clean_text"))
  }

  /** CHARACTER-granular exact-substring dedup WITH reconstruction —
    * [[segmentDedup]]'s keep-first rule at the granularity Lee et
    * al. 2021 (arXiv:2107.06499) actually operate at: consecutive
    * `n`-CHAR windows (code points, not bytes — Spark `substring` /
    * DuckDB `substring` agree on code-point positions), first
    * corpus-wide occurrence of each distinct window wins (first =
    * smallest (doc id, position), a total order), documents
    * re-assembled by CONCATENATING surviving windows in position
    * order. Documents whose every window was seen earlier vanish —
    * the x96 contract.
    *
    * Relation to the family: [[segmentDedup]] (x96) is the same rule
    * at word-window granularity — whitespace-normalizing, so spacing
    * variants share segments; char windows are the STRICTEST exact
    * form (byte-faithful up to code points: a document differing
    * only in whitespace shares nothing — normalize first if spacing
    * invariance is wanted). [[paragraphDedup]] (x125) drops by
    * doc-frequency at paragraph granularity; [[cdcChunks]] (x135)
    * cuts content-defined variable windows for shift-robust sharing
    * (an insertion re-aligns CDC chunks but shifts every fixed
    * window after it — fixed windows trade shift robustness for the
    * exact replayable position algebra; [[anchorWindowProfile]]
    * (x197) closes that hole with content-anchored exact windows).
    * A true suffix-array dedup
    * (duplicates at EVERY alignment) is the non-distributable limit
    * of n→arbitrary-offset; fixed offsets are the shardable form.
    *
    * Scale shape: window slicing is map-only (the window INDEX
    * explodes; the substring slices from the carried text column —
    * never explode a computed window array, the Generate would
    * re-evaluate it per row); first-occurrence winners are a
    * map-side-combinable min(struct(id, idx, seg)) keyed by the md5
    * of the window (128-bit so collisions stay impossible at 10¹²
    * windows where xxhash64 birthday-collides). (id, idx) is unique
    * per row, so the min struct IS the surviving row and carries its
    * own window text — no join back at all; the whole operator is
    * two shuffles, the winner aggregate (duplicated windows collapse
    * map-side, so the exchange carries ≤ the deduplicated corpus)
    * and the doc-id reconstruction. (r9 verdict: the former
    * join-back formulation claimed exchange reuse the planner never
    * delivered — Catalyst folded the post-join id/idx filters into
    * the join keys, forcing a three-key re-exchange of BOTH sides;
    * the join selected exactly the winner rows the aggregate already
    * held.) Nothing is all-pairs; memory is bounded by
    * windows-per-task. */
  def charWindowDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 40): DataFrame = {
    require(n > 0, "window length must be positive")
    val base = Parallelism.ensure(df)
      .select(col(idCol).as("id"), col(textCol).as("txt"))
      .filter(length(col("txt")) > 0)
    val nWins = ceil(length(col("txt")).cast("double") / n).cast("int")
    val wins = base
      .select(col("id"), col("txt"),
        explode(sequence(lit(0), nWins - 1)).as("win_idx"))
      .select(col("id"), col("win_idx"),
        col("txt").substr(col("win_idx") * n + 1, lit(n)).as("seg"))
      .withColumn("__h", md5(col("seg")))
    val kept = wins.groupBy(col("__h"))
      .agg(min(struct(col("id"), col("win_idx"), col("seg"))).as("__w"))
      .select(col("__w.id").as("id"), col("__w.win_idx").as("win_idx"),
        col("__w.seg").as("seg"))
    kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("win_idx"), col("seg")))),
            s => s.getField("seg")),
          "").as("clean_text"))
      .select(col("id").as(idCol), col("n_windows_kept"), col("clean_text"))
  }

  /** Shift-robust EXACT duplicate-content profile at char
    * granularity — closes [[charWindowDedup]]'s alignment hole: x194's
    * fixed `n`-char grid only catches ALIGNED duplication (a single
    * inserted character shifts every later window and the duplicate
    * survives). A staggered second grid at offset n/2 would NOT fix
    * this — grid windows of two copies share content only when the
    * relative shift is a multiple of the grid step, and an insertion
    * shifts by 1 — so this operator anchors windows to CONTENT
    * instead: every position whose trailing `window`-char rolling
    * hash ≡ 0 (mod `mod`) (the [[cdcChunks]] boundary predicate,
    * same native expression) starts an `n`-char verification window,
    * and the window's full text is verified EXACTLY via its md5.
    * Anchors move with the content, so an insertion early in a
    * document leaves every later anchor+window pair intact and the
    * duplication is caught at any alignment. Recall is
    * anchor-conditioned — the deterministic channel needs an anchor
    * whose k-gram AND window both sit inside the shared run, ≈
    * 1 − (1 − 1/mod)^(L − n − window + 1) for run length L, plus a
    * small (1/mod)² boundary-straddling coincidence channel.
    * MEASURED (OpsSpec recall harness, defaults n=40/window=8/mod=16,
    * 64 planted unaligned runs per length): L=47 → 0.03 (coincidence
    * only), L=48 → 0.05, L=64 → 0.77, L=80 → 0.86, L=96 → 0.97 — the
    * "runs ≳ window + n + mod" expectation holds from L ≈ n + window
    * + mod upward and short runs are small-but-nonzero, not zero.
    * Every HIT is exact, never fuzzy — the [[cdcChunks]]
    * shift-robustness with x194's exact-equality verdict.
    *
    * Output per doc (docs with ≥1 anchored window): `n_windows`,
    * `n_dup_windows` (windows whose exact content occurred EARLIER —
    * first = smallest (id, pos), the x194 total order), and `dup_doc`
    * = 1 when a strict majority of the doc's windows were seen
    * before. Deterministic: integer rolling-hash arithmetic (base-31
    * over ASCII < 2^53), md5 equality, integer counts — replays
    * hash-green with the same substring/row_number algebra as x194.
    *
    * Scale shape: the anchor scan is the O(len) native expression,
    * materialized at an exchange before the Generate (the cdcChunks
    * rule); emitted window text is ~n/mod × corpus (2.5× at the
    * defaults) but exists only INSIDE the map stage — the winner
    * aggregate and the join back both move (id, pos, md5) rows
    * (~28 bytes per window), never text; both are keyed by the
    * uniform 128-bit hash, map-side combinable, skew-free. Unlike
    * x194 the join back is NOT redundant here: non-winner rows must
    * be attributed to their documents, so the per-row winner verdict
    * is a projection (never a filter — nothing for Catalyst to fold
    * into the join keys).
    *
    * Arithmetic caveat (r10 advice, bound corrected r12): "exact
    * base-31 integer arithmetic" holds without wrap-around only
    * while the full window hash max(cp)·(31^window − 1)/30 fits a
    * signed Long — `window <= 12` on ASCII/Latin-1 (255·(31^12−1)/30
    * ≈ 6.7e18 < 2^63; window 13 is ≈ 2.1e20 and already wraps) and
    * `window <= 10` on BMP text (65535·(31^10−1)/30 ≈ 1.8e18;
    * window 11 ≈ 5.6e19 wraps). Wrapped results stay deterministic
    * AND oracle-replayable only when `mod` is a power of two (wrap
    * mod 2^64 commutes with mod 2^k) — so larger windows require a
    * power-of-two mod, and a DuckDB full-window-sum replay (which
    * would itself overflow BIGINT) must not be written for them.
    * The guard enforces the BMP envelope (the documented oracle
    * parity surface, see the ASCII/BMP caveat above). The ASCII
    * precondition itself is runtime-detectable: x46's
    * `text_ascii_only` corpus check ([[graft.quality.CorpusQuality]])
    * fails by name on a non-ASCII corpus before any anchor oracle
    * can mystery-mismatch. */
  def anchorWindowProfile(df: DataFrame, idCol: String, textCol: String,
      n: Int = 40, window: Int = 8, mod: Int = 16): DataFrame = {
    requireAnchorParams(n, window, mod)
    val wins = anchoredWindows(df, idCol, textCol, n, window, mod)
    val winners = wins.groupBy(col("__h"))
      .agg(min(struct(col("id"), col("pos"))).as("__w"))
    // hint ONLY the winners side: the build-side hash map must hold
    // the deduplicated windows (|winners| ≤ |wins|, and ≪ on the
    // dup-heavy corpora this operator exists for), never the full
    // window stream
    val verdicts = wins
      .join(winners.hint("shuffle_hash"), Seq("__h"))
      .select(col("id"),
        when(col("id") === col("__w.id") && col("pos") === col("__w.pos"),
          0L).otherwise(1L).as("__dup"))
    verdicts.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("__dup")).as("n_dup_windows"))
      .select(col("id").as(idCol), col("n_windows"), col("n_dup_windows"),
        when(col("n_dup_windows") * 2 > col("n_windows"), 1)
          .otherwise(0).cast("int").as("dup_doc"))
  }

  /** Parameter contract shared by the anchor-window family — see
    * [[anchorWindowProfile]]'s arithmetic caveat for the window-14+
    * power-of-two-mod rule. */
  private def requireAnchorParams(n: Int, window: Int, mod: Int): Unit = {
    require(n > window, "verification window n must exceed the anchor k-gram")
    require(window >= 2 && window <= 16, "window must be in [2,16]")
    require(mod >= 2, "mod must be >= 2")
    require(window <= 10 || Integer.bitCount(mod) == 1,
      "window >= 11 can wrap the Long window hash (BMP envelope): " +
        "mod must be a power of two")
  }

  /** The anchor-window family's shared (id, pos, md5) stream:
    * content-defined anchor positions (the [[cdcChunks]] boundary
    * predicate, [[graft.functions.CdcBoundaries]]) whose `n`-char
    * verification window fits the document, hashed. An anchor is a
    * boundary position b (1-based end of the matching k-gram) with
    * b + n <= len; the forced end-of-text boundary can never fit, so
    * it drops out without special-casing. Checkpointed: the triple
    * feeds a winner aggregate AND an attribution join in every
    * consumer ([[anchorWindowProfile]], [[anchorWindowDedup]]) —
    * without the materialization only the repartition exchange is
    * reused and the Generate + per-window substr/md5 (the dominant
    * map cost, ~n/mod × corpus hashed) would execute once per
    * consumer. The checkpointed rows are the narrow (id, pos, md5)
    * triple, never text. */
  private def anchoredWindows(df: DataFrame, idCol: String,
      textCol: String, n: Int, window: Int, mod: Int): DataFrame = {
    val s = col(textCol)
    val bounds = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      column(graft.functions.CdcBoundaries(expression(s), window, mod))
    }
    Parallelism.ensure(df)
      .filter(length(s) > 0)
      .select(col(idCol).as("id"), s.as("__s"), bounds.as("__bounds"))
      .repartition(col("id"))
      .select(col("id"), col("__s"),
        explode(filter(col("__bounds"),
          b => b + n <= length(col("__s")))).as("pos"))
      .select(col("id"), col("pos"),
        md5(col("__s").substr(col("pos") + 1, lit(n))).as("__h"))
      .localCheckpoint(true)
  }

  /** Shift-robust exact dedup WITH reconstruction — the removal
    * [[anchorWindowProfile]] (x197) only *detects*: every anchored
    * `n`-char window whose exact content occurred EARLIER in the
    * corpus (first = smallest (id, pos), the x194 total order) is a
    * duplicate SPAN `[pos, pos+n)`; per document the duplicate spans
    * are merged (overlapping/adjacent spans union — anchors sit
    * ~mod chars apart, windows n chars wide, so duplicated runs
    * merge into one interval) and CUT from the text, and the
    * remainder is reconstructed by concatenating the inter-span gaps
    * in position order. This is Lee et al. 2021 (arXiv:2107.06499)
    * exact-substring cleanup at ANY alignment: a 1-char insertion
    * defeats [[charWindowDedup]]'s fixed grid (shifts ≢ 0 mod n
    * share no grid window) but leaves every later content-defined
    * anchor+window pair intact, so the duplicated run is cut from
    * the later copy while the first occurrence — whose windows are
    * never duplicates — reconstructs byte-exact. Recall is
    * anchor-conditioned (see [[anchorWindowProfile]]'s measured
    * curve); every cut is exact-match-verified, never fuzzy.
    *
    * Output: one row per non-empty-text input doc — (idCol,
    * n_dup_spans, chars_removed, clean_text). Docs with no anchors
    * or no duplicated windows pass through byte-exact (clean_text =
    * text, 0 spans). Unlike the fixed-grid operators a doc can never
    * empty out completely: the chars before its first anchor
    * (≥ window of them) are never inside a span. Doc-level drops at
    * any alignment: [[dedupByAnchorProfile]].
    *
    * Deterministic and oracle-replayable: integer anchor arithmetic
    * (x135), md5 window identity, integer interval algebra,
    * substring reconstruction — the x198 oracle replays the interval
    * merge as a gaps-and-islands window (break when pos − lag(pos) >
    * n — identical to this fold's merge-when `p <= last.en`, since
    * sorted same-length spans keep last.en = prev_p + n) and the
    * reconstruction as an indexed list_transform. ASCII/BMP parity
    * caveat as x197/x135.
    *
    * Scale shape: the anchor scan + window hashing is the shared
    * checkpointed narrow stream ([[anchoredWindows]] — corpus text
    * never shuffles); winner aggregate and attribution join are
    * keyed by the uniform 128-bit hash, map-side combinable,
    * build-side hinted on the DEDUPLICATED winners only (the r10
    * OOM-at-scale lesson); the span merge is ONE groupBy(id) whose
    * sorted positions array is bounded by windows-per-doc (≤ len
    * ints — same order as the doc's own text cell), merged by a
    * single codegen'd fold, no gaps-and-islands window shuffle+sort;
    * reconstruction is one equi-join back to the docs (dup docs
    * only on the build side) and a map-only projection. */
  def anchorWindowDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 40, window: Int = 8, mod: Int = 16): DataFrame = {
    requireAnchorParams(n, window, mod)
    val wins = anchoredWindows(df, idCol, textCol, n, window, mod)
    val winners = wins.groupBy(col("__h"))
      .agg(min(struct(col("id"), col("pos"))).as("__w"))
    // non-winner rows are the duplicate spans; the verdict is a
    // non-equi residual on the __h equi-join — no cross-side
    // EQUALITY for Catalyst to fold into the join keys (the x96
    // lesson), so both sides exchange on __h alone
    val dups = wins
      .join(winners.hint("shuffle_hash"), Seq("__h"))
      .filter(!(col("id") === col("__w.id") && col("pos") === col("__w.pos")))
      .select(col("id"), col("pos"))
    // merge sorted spans [p, p+n) per doc: p <= last.en extends
    // (sorted + equal length => the running end IS prev_p + n and
    // p + n >= last.en, so the extension is always p + n)
    val spanStruct = (st: Column, en: Column) =>
      struct(st.as("st"), en.as("en"))
    val merged = dups.groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(col("id"),
        aggregate(
          slice(col("__ps"), lit(2), greatest(size(col("__ps")) - 1, lit(0))),
          array(spanStruct(element_at(col("__ps"), 1),
            element_at(col("__ps"), 1) + n)),
          (acc, p) => {
            val last = element_at(acc, size(acc))
            when(p <= last.getField("en"),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(spanStruct(last.getField("st"), p + n))))
              .otherwise(concat(acc, array(spanStruct(p, p + n))))
          }).as("ivs"))
    val docs = Parallelism.ensure(df)
      .filter(length(col(textCol)) > 0)
      .select(col(idCol).as("id"), col(textCol).as("__s"))
    val ivs = col("ivs")
    def prevEnd(i: Column): Column =
      when(i === 0, lit(0)).otherwise(element_at(ivs, i).getField("en"))
    val gaps = transform(ivs, (iv, i) =>
      col("__s").substr(prevEnd(i) + 1, iv.getField("st") - prevEnd(i)))
    val tail = col("__s").substr(
      element_at(ivs, size(ivs)).getField("en") + 1, length(col("__s")))
    docs.join(merged.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(size(ivs), lit(0)).cast("long").as("n_dup_spans"),
        coalesce(
          aggregate(ivs, lit(0),
            (a, iv) => a + (iv.getField("en") - iv.getField("st"))),
          lit(0)).cast("long").as("chars_removed"),
        when(ivs.isNull, col("__s"))
          .otherwise(concat(array_join(gaps, ""), tail)).as("clean_text"))
  }

  /** Doc-LEVEL shift-robust keep-first dedup: drop every document a
    * strict MAJORITY of whose anchored windows were seen earlier in
    * the corpus ([[anchorWindowProfile]]'s `dup_doc` verdict — the
    * x194 (id, pos) total order, so the first occurrence of any
    * duplicated content is never flagged and survives byte-identical
    * with ALL its original columns). The coarse complement of
    * [[anchorWindowDedup]]'s span cutting: use this when a
    * mostly-duplicated document should vanish whole (the x1/x114
    * doc-drop shape, but robust to the 1-char-insertion shifts that
    * defeat exact/grid keys), span cutting when partial novel
    * content must survive.
    *
    * Scale shape: the profile's (see there), plus one left-anti join
    * against the flagged ids — build side is the flagged-doc id list
    * only. */
  def dedupByAnchorProfile(df: DataFrame, idCol: String, textCol: String,
      n: Int = 40, window: Int = 8, mod: Int = 16): DataFrame = {
    val flagged = anchorWindowProfile(df, idCol, textCol, n, window, mod)
      .filter(col("dup_doc") === 1)
      .select(col(idCol))
    df.join(flagged.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Paragraph-level exact dedup across the corpus — the Dolma /
    * CCNet line-dedup granularity (Dolma: Soldaini et al. 2024,
    * arXiv:2402.00159 §4, paragraph dedup via Bloom filter; CCNet:
    * Wenzek et al. 2020, arXiv:1911.00359 §3.1, per-paragraph hash
    * dedup): split each document on `delimiter`, DROP every
    * paragraph whose exact content appears in more than `maxDocFreq`
    * DISTINCT documents (boilerplate headers / footers / cookie
    * banners — all copies go, unlike [[segmentDedup]]'s
    * keep-first-occurrence rule), and re-assemble the survivors in
    * position order. Documents whose every paragraph is corpus-
    * boilerplate vanish — the x96 contract. In-document repeats are
    * kept when the paragraph clears the doc-frequency test (df
    * counts distinct docs, not occurrences).
    *
    * Output: (idCol, n_paragraphs_kept, clean_text).
    *
    * Determinism contract: membership is a pure (paragraph, corpus)
    * predicate — no ordering, no floats — and reconstruction pins
    * position order via the sorted (para_idx, para) struct fold, so
    * the x125 oracle replays it hash-green.
    *
    * Scale shape: splitting is map-only over the scan; the
    * doc-frequency is a two-phase count-distinct aggregate keyed by
    * the md5 of the paragraph (16 bytes shuffled per paragraph, not
    * the text; boilerplate is the only skewed key and it aggregates,
    * never joins wide); survivors are one semi-join on the same hash
    * key (exchange reuse against the aggregate), and reconstruction
    * is one shuffle on the doc id. The checkpoint materializes the
    * exploded paragraphs once for the frequency aggregate and the
    * join back. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int = 1, delimiter: String = "\n\n"): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val paras = Parallelism.ensure(df)
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delimiter)))
          .as(Seq("para_idx", "para")))
      .filter(length(trim(col("para"))) > 0)
      .withColumn("__ph", md5(col("para")))
      .localCheckpoint(true) // feeds the df agg AND the join back
    val keep = paras.groupBy(col("__ph"))
      .agg(countDistinct(col("id")).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select(col("__ph"))
    paras.hint("shuffle_hash")
      .join(keep.hint("shuffle_hash"), Seq("__ph"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_paragraphs_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("para_idx"), col("para")))),
            s => s.getField("para")),
          delimiter).as("clean_text"))
      .select(col("id").as(idCol), col("n_paragraphs_kept"), col("clean_text"))
  }

  /** Duplicate-cluster size histogram — the dedup REPORT: how many
    * clusters of each size, and how many documents they hold. The
    * first number a curation run publishes ("38% of the crawl sits
    * in duplicate clusters; the largest is 40k copies") and the
    * canary for banding pathologies (a mega-cluster shows up here
    * before it shows up as a blown shuffle). Input is any
    * [[duplicateClusters]]-shaped (id, cluster_id) frame; singletons
    * (ids absent from the pair list) are not represented — derive
    * them as corpus − Σ n_docs.
    *
    * Scale shape: two map-side-combinable counts (cluster sizes,
    * then the histogram on ≤ max-size keys). Deterministic: pure
    * integer counts. */
  def clusterSizeHistogram(clusters: DataFrame,
      clusterIdCol: String = "cluster_id"): DataFrame =
    clusters.groupBy(col(clusterIdCol))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (col("cluster_size") * count(lit(1))).as("n_docs"))

  /** IN-DOCUMENT exact dedup: drop repeated segments WITHIN each
    * document, keeping the first in-doc occurrence — the cleaner
    * behind Gopher's duplicate-line-fraction gate (Rae et al. 2021,
    * arXiv:2112.11446, Table A1 repetition filters): crawled pages
    * repeat nav bars, cookie banners and footers inside one page,
    * and repetition is the classic LM degeneration amplifier. The
    * corpus-wide complement is [[paragraphDedup]] (cross-doc
    * df-threshold) / [[segmentDedup]] (corpus first-occurrence).
    *
    * Output: input columns + (n_segments, n_dropped, clean_text).
    *
    * Scale shape: ENTIRELY in-row — split, first-occurrence filter
    * (`array_position == index`) and re-join are one codegen'd
    * higher-order-function projection; zero shuffle, zero state,
    * rides the scan at any corpus size. Deterministic: pure string
    * positions, no floats, no hashing — replayed term-for-term by
    * the x126 oracle's indexed list_filter. */
  def intraDocDedup(df: DataFrame, textCol: String,
      delimiter: String = "\n\n"): DataFrame = {
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val paras = split(col(textCol),
      java.util.regex.Pattern.quote(delimiter))
    // Spark's filter-lambda index is 0-based, array_position 1-based
    val kept = filter(paras, (p, i) => array_position(paras, p) === i + 1)
    df.withColumn("n_segments", size(paras).cast("long"))
      .withColumn("n_dropped", (size(paras) - size(kept)).cast("long"))
      .withColumn("clean_text", array_join(kept, delimiter))
  }

  /** Cross-group duplication attribution: project a near-dup pair
    * list onto group labels (source, domain, crawl snapshot) and
    * count pairs per unordered group pair — "who mirrors whom", the
    * matrix a mixture designer reads before capping or merging
    * sources, and the pair-level complement of x60/x120's
    * content-overlap matrices. Diagonal rows (label_a == label_b)
    * are intra-group duplication.
    *
    * Scale shape: two equi-joins of the (slim) pair list against the
    * (id, label) projection, then a map-side-combinable count on
    * ≤ |labels|² keys. Feed it [[minhashCandidates]] /
    * [[embeddingNearDuplicates]] output at corpus scale; the x127
    * carrier pins semantics with the bounded exact trigram pairs. */
  def duplicationMatrix(pairs: DataFrame, idACol: String, idBCol: String,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val la = labels.select(col(idCol).as(idACol), col(labelCol).as("__la"))
    val lb = labels.select(col(idCol).as(idBCol), col(labelCol).as("__lb"))
    pairs.select(col(idACol), col(idBCol))
      .join(la, idACol).join(lb, idBCol)
      .select(least(col("__la"), col("__lb")).as("label_a"),
        greatest(col("__la"), col("__lb")).as("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Memo for [[embeddingNearDuplicates]] pair tables — the near-dup
    * edge list is the shared artifact of a curation session (x22
    * surfaces it, x34's dedup consumes it, x99's leakage-safe split
    * consumes it again); one banding+verify pass per (input, params),
    * not one per consumer. */
  private val embPairMemo =
    new graft.BoundedMemo[((String, String), String, Double, Int, Int, Int), DataFrame](
      16, "embedding-near-dup", _.unpersist(blocking = false), _.unpersist(blocking = true))

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH buckets
    * bound the candidate set, exact cosine verifies.
    *
    * SIZING RULE (r13 ×10 rehearsal-measured): in-bucket work is
    * Σ C(bucket, 2), and bucket space is FIXED at 2^(numBits/bands)
    * per band — it cannot absorb a growing corpus, so at constant
    * parameters the candidate stage goes ~quadratic (27.9M in-bucket
    * pairs at a ×10 corpus vs 276k at ×1 with 6-bit chunks: 1212 s
    * CPU / 12.4 GB shuffle). Size bitsPerBand ≈ log2(corpus /
    * targetBucket), GROWING with the corpus (8-bit chunks at ×10:
    * 76 s / 3.9 GB, at a stricter-band recall cost) — and keep
    * `maxBucket` as the backstop for skew the sizing can't predict
    * (cap 100 at ×10: 16 s / 40 MB via O(n) star pairs — the
    * reachability-preserving recall trade in [[cappedBucketPairs]]).
    *
    * The sizing rule is the DEFAULT here (r14): `numBits =`
    * [[AutoBits]] resolves via [[lshBitsFor]] from one corpus count,
    * so a caller who never read this paragraph still gets a bucket
    * space that grows with their corpus. An explicit `numBits` pins
    * the width (the bench carriers do, keeping their outputs
    * bit-identical across rounds). r15: widths past one Long engage
    * the WIDE per-band-signature banding ([[lshSignature]]) — the
    * bucket space keeps growing to 2^[[MaxChunkBits]] per band
    * instead of freezing at 64 total bits, so the sizing defense
    * holds to ~2.8e16 vectors and the `maxBucket` cap returns to
    * being a skew backstop, not the only post-6.5M bound. */
  def embeddingNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numBits: Int = AutoBits, bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // resolve BEFORE the memo lookup so an [[AutoBits]] call and the
    // equivalent explicit call share one pair table
    val bits = resolvedNumBits(df, numBits, bands)
    val key = (graft.PlanKeys.scoped(df),
      s"$idCol/$vecCol", threshold, bits, bands, maxBucket)
    embPairMemo.getOrBuild(key)(embeddingNearDuplicatesUncached(
      df, idCol, vecCol, threshold, bits, bands, maxBucket))
  }

  /** `numBits` resolution for the hyperplane-LSH entry points: an
    * explicit positive width passes through untouched; [[AutoBits]]
    * sizes via [[lshBitsFor]] from ONE corpus count — at the r13
    * rehearsal's ×10 corpus (20k vectors, 8 bands) that picks the
    * measured 8-bit-chunk defense (76 s vs 1212 s CPU) without the
    * caller knowing the sizing rule exists. The count is metadata-fast
    * on a plain parquet scan but a FULL job on a derived frame (r14
    * advice), so it memoizes per (session, plan) via
    * [[graft.CorpusCounts]] — repeated auto-sized calls over the same
    * frame count once. Only the documented [[AutoBits]] sentinel
    * triggers sizing; a negative width is a caller bug and fails the
    * same require the explicit-width contract would. */
  private[ops] def resolvedNumBits(df: DataFrame, numBits: Int,
      bands: Int): Int = {
    require(numBits == AutoBits || numBits > 0,
      s"numBits must be AutoBits ($AutoBits) or positive, got $numBits")
    if (numBits > 0) numBits
    else {
      val corpus = graft.CorpusCounts.of(df)
      val sized = lshBitsFor(corpus, bands)
      System.err.println(s"[dedup] lshBitsFor auto-sizing: corpus=$corpus " +
        s"bands=$bands -> numBits=$sized (${sized / bands}-bit chunks)")
      sized
    }
  }

  /** Hyperplane-LSH signature column for `numBits` total bits over
    * `bands` bands, in whichever regime the width demands:
    *
    *   - `numBits ≤ 64` (PACKED): one Long signature, bands are
    *     bit-slices — the historical form, expression-identical to
    *     what every carrier has always planned;
    *   - `numBits > 64` (WIDE): an array of `bands` independent
    *     per-band signatures of `numBits / bands` bits each, seeded
    *     `seed + band ×` [[WideBandSeedStride]] — bucket space per
    *     band is 2^(numBits/bands) up to 2^[[MaxChunkBits]], so the
    *     sizing rule keeps holding where one Long saturated. Total
    *     hyperplane dot products are `numBits` in both regimes: the
    *     wide form costs the same projection work, it just stops
    *     cramming all bands into 64 bits. */
  private[graft] def lshSignature(vec: Column, numBits: Int, bands: Int,
      seed: Long = 42L): Column = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(numBits % bands == 0, "bands must divide numBits")
    val bitsPerBand = numBits / bands
    require(bitsPerBand <= MaxChunkBits || numBits <= 64,
      s"bitsPerBand $bitsPerBand exceeds MaxChunkBits $MaxChunkBits")
    if (numBits <= 64) Sketches.hyperplaneSignature(vec, numBits, seed)
    else array((0 until bands).map(b =>
      Sketches.hyperplaneSignature(vec, bitsPerBand,
        seed + b * WideBandSeedStride)): _*)
  }

  /** Explode a [[lshSignature]]-carrying frame into (…, band, chunk)
    * rows — the packed bit-slice and wide element forms produce the
    * same downstream schema, so [[cappedBucketPairs]] and every
    * banded self-join are regime-agnostic. `sigd` must carry a `sig`
    * column (dropped on return); all other columns pass through. */
  private[graft] def lshBandChunks(sigd: DataFrame, numBits: Int,
      bands: Int): DataFrame = {
    // today's callers validate upstream, but a future internal caller
    // passing a non-dividing width would silently band WRONG bit
    // slices in the packed regime instead of failing like
    // lshSignature does (r15 advice)
    require(bands >= 1 && numBits % bands == 0,
      s"bands ($bands) must divide numBits ($numBits)")
    require(sigd.columns.contains("sig"),
      s"lshBandChunks input must carry a 'sig' column, got ${sigd.columns.mkString(",")}")
    val bitsPerBand = numBits / bands
    val exploded = sigd.withColumn("band",
      explode(sequence(lit(0), lit(bands - 1))))
    val chunked =
      if (numBits <= 64) {
        val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
        exploded.withColumn("chunk",
          expr(s"shiftright(sig, band * $bitsPerBand) & $mask"))
      } else exploded.withColumn("chunk",
        element_at(col("sig"), col("band") + 1))
    chunked.drop("sig")
  }

  private def embeddingNearDuplicatesUncached(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, numBits: Int, bands: Int,
      maxBucket: Int): DataFrame = {
    require(numBits % bands == 0, "bands must divide numBits")
    // exchanges before/after the sketch projection — see
    // minhashCandidates (conditional parallelism + stop deferred
    // re-evaluation)
    val sig = Parallelism.ensure(df)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        lshSignature(col(vecCol), numBits, bands).as("sig"))
      .repartition(col("id"))
    // explode the band index, compute chunks from the carried column
    // (see minhashCandidates)
    val banded = lshBandChunks(sig.select(col("id"), col("sig")),
      numBits, bands)
    // bucket self-join with the quadratic path bounded (see
    // cappedBucketPairs); dedup BARE id pairs (a pair may collide in
    // several bands) — dragging the vectors through the distinct
    // would shuffle |candidates| × 2×dims floats (measured 5× the
    // whole query's cost); ids alone shuffle two longs, the vectors
    // rejoin once per surviving pair
    val pairs = cappedBucketPairs(banded, Seq("band", "chunk"), maxBucket)
    // r21 size-gated build side (guide §3.1): when the (id, vec) side
    // PROVABLY fits under the broadcast threshold, broadcast it — the
    // pair side then streams with no exchange at all, and the widest
    // exchange in this plan ((id_a, id_b, vec_a) re-keyed on id_b)
    // disappears. The broadcast builds straight off the SOURCE
    // projection so it never re-executes the signature subtree.
    // Over the threshold the r10 rule stands unchanged: shuffle_hash
    // both sides so the planner can never build the full pair stream.
    val bcast = Joins.vectorSideBroadcastable(df, vecCol)
    def vecSide(idAs: String, vecAs: String): DataFrame =
      if (bcast)
        broadcast(df.select(col(idCol).as(idAs), col(vecCol).as(vecAs)))
      else sig.select(col("id").as(idAs), col("vec").as(vecAs))
        .hint("shuffle_hash")
    (if (bcast) pairs else pairs.hint("shuffle_hash"))
      .join(vecSide("id_a", "vec_a"), "id_a")
      .join(vecSide("id_b", "vec_b"), "id_b")
      .withColumn("cosine", round(VectorMath.cosineSimilarity(col("vec_a"), col("vec_b")), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      // the verified edge list is O(|near-dup pairs|) — tiny relative
      // to the corpus; persisting stops each downstream consumer
      // (dedup survivors, cluster split, threshold sweeps) from
      // re-running the banding+verify pipeline
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Hyperplane-LSH signature table (id, sig) — the persistable
    * SIGNATURE STORE incremental embedding dedup reads instead of
    * re-signing the corpus ([[minhashSignatures]]' shape for the
    * embedding family): write this once per corpus snapshot and each
    * day's delta dedups against it at banding cost — the numBits×dims
    * hyperplane projections (the dominant per-vector cost) run over
    * the delta only. Same two deliberate exchanges as
    * [[minhashSignatures]]: Parallelism.ensure BEFORE the sketch (a
    * one-file input would single-thread the projection), repartition
    * (id) AFTER (materializes the signature at the shuffle so a
    * downstream Generate can't re-evaluate it per band). `numBits`
    * follows the [[AutoBits]]/[[lshBitsFor]] sizing contract — resolve
    * it against the CORPUS the store describes, not a delta; the wide
    * regime (>64 bits) lands as array<long>, packed as one long, and
    * [[incrementalEmbeddingNearDuplicates]] guards the regime at
    * probe time. */
  def embeddingSignatures(df: DataFrame, idCol: String, vecCol: String,
      numBits: Int = AutoBits, bands: Int = 4, seed: Long = 42L): DataFrame = {
    val bits = resolvedNumBits(df, numBits, bands)
    Parallelism.ensure(df)
      .select(col(idCol).as("id"),
        lshSignature(col(vecCol), bits, bands, seed).as("sig"))
      .repartition(col("id"))
  }

  /** A persisted [[embeddingSignatures]] store handle: the signature
    * frame plus the width/banding/seed it was WRITTEN with — probes
    * resolve their parameters from here, so a store and its readers
    * cannot silently disagree (the
    * [[incrementalMinhashNearDuplicates]] width-guard lesson, made
    * structural). */
  final case class EmbeddingSignatureStore(
      signatures: DataFrame, numBits: Int, bands: Int, seed: Long)

  /** Persist a signature store for incremental embedding dedup:
    * signatures land as parquet (bucket the production copy by the
    * banding keys with Spark's `bucketBy` when the store outgrows one
    * shuffle), and the (num_bits, bands, seed) meta rides alongside
    * as one small parquet — the [[graft.ops.Similarity.saveIvfIndex]]
    * sidecar shape. [[AutoBits]] resolves against THIS frame before
    * writing, so the recorded width is the resolved one and every
    * later probe inherits it from [[loadEmbeddingSignatures]]. */
  def saveEmbeddingSignatures(df: DataFrame, idCol: String, vecCol: String,
      path: String, numBits: Int = AutoBits, bands: Int = 4,
      seed: Long = 42L): EmbeddingSignatureStore = {
    val bits = resolvedNumBits(df, numBits, bands)
    embeddingSignatures(df, idCol, vecCol, bits, bands, seed)
      .write.mode("overwrite").parquet(s"$path/signatures")
    Layout.writeMeta(df.sparkSession, path, (bits, bands, seed),
      "num_bits", "bands", "seed")
    loadEmbeddingSignatures(df.sparkSession, path)
  }

  /** Load a [[saveEmbeddingSignatures]]-persisted store: meta eagerly
    * (one row), the signature frame lazily (probes scan it map-only
    * at banding time). */
  def loadEmbeddingSignatures(spark: org.apache.spark.sql.SparkSession,
      path: String): EmbeddingSignatureStore = {
    val m = Layout.readMeta(spark, path)
    EmbeddingSignatureStore(spark.read.parquet(s"$path/signatures"),
      m.getAs[Int]("num_bits"), m.getAs[Int]("bands"), m.getAs[Long]("seed"))
  }

  /** Fold a day's ADMITTED batch into a persisted embedding signature
    * store — the EMBEDDING sketch member's maintenance path
    * ([[appendToMinhashSignatures]]'s twin; r17 verdict #1). The
    * batch is signed with the STORE's (numBits, bands, seed) from
    * the meta sidecar — [[AutoBits]] never re-resolves on append:
    * re-sizing the bucket space means re-signing the corpus, which
    * is a REBUILD decision ([[saveEmbeddingSignatures]]), not an
    * append (the appendToIvfIndex centroid-drift rule; a skewed
    * grown corpus under a stale width is the caller's re-size
    * signal). Same contract: appended ids must be new; cost ∝
    * batch, corpus signatures untouched; returns the reloaded
    * handle. */
  def appendToEmbeddingSignatures(store: EmbeddingSignatureStore,
      path: String, batch: DataFrame, idCol: String,
      vecCol: String): EmbeddingSignatureStore = {
    embeddingSignatures(batch, idCol, vecCol, store.numBits,
        store.bands, store.seed)
      .write.mode("append").parquet(s"$path/signatures")
    loadEmbeddingSignatures(batch.sparkSession, path)
  }

  /** Compact an append-accumulated embedding signature store
    * ([[compactDigestStore]]'s twin for the EMBEDDING sketch member):
    * size-targeted signature rewrite + verbatim meta re-write (the
    * (num_bits, bands, seed) sidecar travels unchanged — compaction
    * never re-signs; a width change is a rebuild,
    * [[saveEmbeddingSignatures]]). Blue/green: `outPath` must be a
    * fresh root. */
  def compactEmbeddingSignatures(spark: org.apache.spark.sql.SparkSession,
      path: String, outPath: String,
      targetFileBytes: Long = 128L << 20): EmbeddingSignatureStore = {
    Layout.rewriteStore(spark, path, outPath, "signatures")(
      Layout.compact(spark, _, _, targetFileBytes))
    loadEmbeddingSignatures(spark, outPath)
  }

  /** Incremental embedding near-dup detection: dedup a new BATCH of
    * vectors against an already-deduped corpus whose
    * [[embeddingSignatures]] store was persisted — the daily-delta
    * pattern ([[incrementalMinhashNearDuplicates]]'s shape for the
    * embedding family; at 100 TB the reference's whole
    * incrementality story is monthly appends, udac_capstone_emr.py:155,
    * and before this the embedding path re-signed the FULL corpus per
    * run). The corpus VECTORS are touched once, by the verification
    * join on surviving candidate ids only — the hyperplane
    * projections run over the delta alone.
    *
    * Output: (batch_id, dup_id, cosine, dup_in) with dup_in ∈
    * {corpus, batch}; batch-internal pairs emitted once (smaller id
    * as batch_id); a batch id the store already holds compares
    * against its own stored signature and can surface as (X, X,
    * corpus) — the new-vs-old revision check.
    *
    * Determinism contract (OpsSpec-asserted): identical (numBits,
    * bands, seed) ⇒ the result equals the full
    * [[embeddingNearDuplicates]] over corpus ∪ batch at an uncapped
    * bucket bound, restricted to pairs touching the batch.
    *
    * Scale shape: store-side banding is a map-only projection over
    * the signature parquet — bucket the store by (band, chunk) and
    * the corpus side of the candidate join is co-located, leaving ONE
    * shuffle of the banded delta; candidate id pairs travel BARE
    * through the distinct (two longs, not 2×dims floats — the x22
    * shuffle rule), vectors rejoin once per surviving candidate.
    * Deliberately NO maxBucket star-capping here: star pairs preserve
    * reachability for a SELF-join's connected components, but a
    * batch-vs-corpus probe wants every individual edge, and the
    * store's [[lshBitsFor]]-sized bucket space is the load-bearing
    * bound — a skewed daily delta means the width is stale; re-size
    * and re-sign. */
  def incrementalEmbeddingNearDuplicates(corpusSigs: DataFrame,
      corpusVecs: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, numBits: Int, bands: Int = 4,
      threshold: Double = 0.95, seed: Long = 42L): DataFrame = {
    require(numBits > 0,
      s"numBits must be the explicit positive width the store was " +
        s"written with, got $numBits")
    require(bands >= 1 && numBits % bands == 0, "bands must divide numBits")
    // loud regime/width guard (the minhash store-width rule): a store
    // written in the other regime — or a wide store banded differently
    // — would silently bucket nothing in common with the batch and
    // most real duplicates would vanish with no error.
    //
    // BLIND SPOT (r16 review): two PACKED widths are indistinguishable
    // from the frame alone — a store written at numBits=32 probed at
    // 48 (or under a different seed) passes every check here and
    // silently buckets nothing in common. The frame can't carry that
    // information; the [[EmbeddingSignatureStore]] HANDLE can and
    // does — production callers go through [[saveEmbeddingSignatures]]
    // /[[loadEmbeddingSignatures]] and the store-handle overload,
    // where width/bands/seed resolve from the meta sidecar and the
    // mismatch is unrepresentable. This raw-frame overload is the
    // composition primitive underneath it.
    import org.apache.spark.sql.types.{ArrayType, LongType}
    corpusSigs.schema("sig").dataType match {
      case LongType =>
        require(numBits <= 64,
          s"wide probe (numBits=$numBits) against a PACKED (long) store — " +
            "rebuild the store or pass the width it was written with")
      case ArrayType(LongType, _) =>
        require(numBits > 64,
          s"packed probe (numBits=$numBits) against a WIDE (array<long>) " +
            "store — rebuild the store or pass the width it was written with")
        storedWidth(corpusSigs).foreach(w => require(w == bands,
          s"wide store carries $w band signatures != bands $bands — " +
            "rebuild the store or pass the banding it was written with"))
      case other => throw new IllegalArgumentException(
        s"signature store 'sig' column must be long or array<long>, got $other")
    }
    bandedIncrementalProbe(
      Parallelism.ensure(batch).select(col(idCol).as("id"), col(vecCol).as("vec"),
        lshSignature(col(vecCol), numBits, bands, seed).as("sig")),
      corpusSigs, lshBandChunks(_, numBits, bands), "chunk", "vec",
      corpusVecs.select(col(idCol).as("dup_id"), col(vecCol).as("vec_b")),
      "cosine", threshold)(_.withColumn("cosine",
        round(VectorMath.cosineSimilarity(col("vec_a"), col("vec_b")), 4)))
  }

  /** [[incrementalEmbeddingNearDuplicates]] against a store HANDLE:
    * width, banding and seed resolve from the store's own meta — the
    * mismatch class the guards above catch is unrepresentable through
    * this entry point. */
  def incrementalEmbeddingNearDuplicates(store: EmbeddingSignatureStore,
      corpusVecs: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame =
    incrementalEmbeddingNearDuplicates(store.signatures, corpusVecs, batch,
      idCol, vecCol, store.numBits, store.bands, threshold, store.seed)

  /** Content-defined chunking (the rsync/LBFS rolling-hash family;
    * FastCDC is the production variant): a chunk boundary falls
    * AFTER every position whose trailing `window`-char polynomial
    * hash is ≡ 0 (mod `mod`), plus a forced boundary at end-of-text.
    * Because the boundary predicate looks only at a fixed local
    * window, an insertion early in a document shifts at most one
    * chunk — every later chunk re-aligns and dedups against the old
    * version, which is the whole point vs fixed-size blocks.
    *
    * Kept STATELESS on purpose: production CDC adds min/max chunk
    * sizes, but a min-size makes each boundary depend on the
    * previous one (a sequential scan, and not replayable as set
    * algebra); the pure predicate keeps the operator one codegen'd
    * map pass and exactly replayable. Hash arithmetic is exact
    * integer (base-31 Horner over ASCII codes, max value
    * 255·Σ31^j ≈ 5.6e13 < 2^53), so boundaries are deterministic on
    * any engine.
    *
    * Returns one row per chunk: (id, chunk_idx, chunk_len,
    * chunk_hash md5). Scale: the expensive part (per-position window
    * hash) is per-row array math with zero shuffle; downstream
    * chunk-hash aggregation shuffles uniform 128-bit keys — the
    * [[exact]] dedup profile at chunk granularity. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, mod: Int = 16): DataFrame = {
    require(window >= 2 && window <= 16, "window must be in [2,16]")
    require(mod >= 2, "mod must be >= 2")
    val s = col(textCol)
    // boundary scan as a native rolling-hash expression
    // (graft.functions.CdcBoundaries): O(1) per position in one tight
    // JVM loop vs the O(len·window) interpreted-HOF formulation it
    // replaced (21 s CPU → sub-second at sf0.1); includes the forced
    // end-of-text boundary
    val bounds = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      column(graft.functions.CdcBoundaries(expression(s), window, mod))
    }
    // materialize the boundary scan at an exchange BEFORE the
    // Generate: posexplode re-evaluates its child once per OUTPUT
    // row, so feeding it the raw `bounds` expression would re-run
    // the rolling-hash pass ~n_chunks times per doc (measured 46.5 s
    // → 1.5 s at sf0.1 back when the scan was the interpreted HOF) —
    // the PERF.md "never let an expensive expression feed a
    // Generate" rule
    val withBounds = Parallelism.ensure(df)
      .select(col(idCol).as("id"), s.as("__s"), bounds.as("__bounds"))
      .repartition(col("id"))
    val chunks = zip_with(
      concat(array(lit(0)),
        slice(col("__bounds"), lit(1), size(col("__bounds")) - 1)),
      col("__bounds"),
      (st, en) => struct(st.as("st"), en.as("en")))
    withBounds.select(col("id"), col("__s"),
        posexplode(chunks).as(Seq("__k", "__c")))
      .select(col("id"), (col("__k") + 1).as("chunk_idx"),
        (col("__c.en") - col("__c.st")).as("chunk_len"),
        md5(col("__s").substr(col("__c.st") + 1,
          col("__c.en") - col("__c.st")).cast("binary")).as("chunk_hash"))
  }

  /** Dedup-candidate recall: the fraction of TRUE near-dup pairs
    * (an exact-verified pair table) that a candidate generator (LSH
    * bands, embedding buckets) actually surfaces — the dedup-family
    * analog of [[Similarity.annRecall]], and the number that decides
    * a numHashes/bands setting ("measure, don't guess"). Pairs are
    * normalized to (min,max) order and deduped on both sides, so
    * either orientation counts once. One shuffle-hash join on bare
    * id pairs + a single-row aggregate. */
  def pairRecall(exactPairs: DataFrame, candidatePairs: DataFrame,
      idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    def norm(df: DataFrame) = df.select(
      least(col(idACol), col(idBCol)).as("pa"),
      greatest(col(idACol), col(idBCol)).as("pb")).distinct()
    norm(exactPairs).hint("shuffle_hash")
      .join(norm(candidatePairs).withColumn("__hit", lit(1))
        .hint("shuffle_hash"), Seq("pa", "pb"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_found"))
      .select(col("n_true"), col("n_found"),
        round(col("n_found").cast("double") / col("n_true"), 4).as("recall"))
  }

  /** Per-document CDC dedup profile: chunk with [[cdcChunks]], then
    * count each document's chunks and how many of them are SHARED
    * (their hash occurs in ≥2 distinct documents corpus-wide) — the
    * storage-dedup ratio table. One uniform-key shuffle for the
    * chunk-hash doc counts, one shuffle-hash join back. */
  def cdcDedupProfile(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, mod: Int = 16): DataFrame = {
    // both consumers (the doc-count aggregate and the join probe)
    // ReusedExchange the id-keyed BOUNDS exchange inside cdcChunks —
    // the expensive boundary scan runs once; only the cheap md5
    // chunk expansion re-executes per consumer (verified in
    // PLANS.md: one `ReusedExchange [id, __s, __bounds]`, two
    // Generate nodes over it)
    val chunks = cdcChunks(df, idCol, textCol, window, mod)
      .repartition(col("chunk_hash"))
    val docCounts = chunks.groupBy(col("chunk_hash"))
      .agg(count_distinct(col("id")).as("__nd"))
    chunks.hint("shuffle_hash")
      .join(docCounts.hint("shuffle_hash"), "chunk_hash")
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        max(col("chunk_len")).as("max_chunk_len"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
  }

  /** Survivorship "golden record" per duplicate group — the
    * FIELD-level merge the row-level selectors can't express:
    * [[keepBestPerCluster]]/x114 keep one member row wholesale; real MDM
    * survivorship composes the golden row field by field (freshest
    * address from one duplicate, the non-null phone from another).
    * Per `keyCol` group this emits: member count, the stable
    * `golden_id` (min id), the argmax-by-quality member
    * (`best_id`/`best_quality` — ties to the SMALLEST id via the
    * max-struct trick), and for each requested column its modal
    * (plurality) value with ties broken toward the smallest value
    * (deterministic, the labelPropagation vote rule; a NULL level
    * participates in the vote but loses ties to any non-null).
    *
    * Deterministic: counts, min/max over exact values, no floats at
    * all. Scale shape: ONE shuffle on the group key for the core
    * aggregate; each modal column adds one two-phase
    * (key, value) count (map-side combinable — a hot value
    * collapses before the exchange) plus a max-count filter join on
    * the key — all |groups|-bounded after the first aggregate. No
    * windows, no collects. */
  def goldenRecord(df: DataFrame, keyCol: String, idCol: String,
      qualityCol: String, modalCols: Seq[String]): DataFrame = {
    require(modalCols.nonEmpty, "modalCols must be non-empty")
    val base = df.select((Seq(col(keyCol).as("__k"),
      col(idCol).cast("long").as("__id"),
      col(qualityCol).cast("long").as("__q")) ++ modalCols.map(col)): _*)
      .localCheckpoint(true) // 1 + |modalCols| aggregate consumers
    val core = base.groupBy(col("__k"))
      .agg(count(lit(1)).as("n_members"),
        min(col("__id")).as("golden_id"),
        max(struct(col("__q"), (-col("__id")).as("neg"))).as("__w"))
      .select(col("__k"), col("n_members"), col("golden_id"),
        (-col("__w.neg")).as("best_id"), col("__w.__q").as("best_quality"))
    val out = modalCols.foldLeft(core) { (acc, mc) =>
      val cnts = base.groupBy(col("__k"), col(mc))
        .agg(count(lit(1)).as("__cnt"))
      val mx = cnts.groupBy(col("__k")).agg(max(col("__cnt")).as("__mx"))
        .select(col("__k").as("__mk"), col("__mx"))
      val modal = cnts.join(mx, col("__k") === col("__mk"))
        .filter(col("__cnt") === col("__mx"))
        .groupBy(col("__k")).agg(min(col(mc)).as(s"modal_$mc"))
        .select(col("__k").as("__jk"), col(s"modal_$mc"))
      acc.join(modal, col("__k") === col("__jk")).drop("__jk")
    }
    out.withColumnRenamed("__k", keyCol)
  }
}
