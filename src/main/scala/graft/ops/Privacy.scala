package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Disclosure-control operators for releasing aggregates over a
  * training/analytics corpus: small-cell suppression is the standard
  * k-anonymity-style gate (census/health-data practice) — an
  * aggregate cell whose population is below `k` re-identifies its
  * members and must be withheld from the release.
  *
  * Scale shape: one map-side-combinable count per cell (the only
  * full-data shuffle, keyed by the release dimensions), then
  * |cells|-sized algebra — the release table never re-scans raw
  * rows. At 100 TB the cell table is the small side by construction
  * (a release with more cells than rows has no cells to suppress).
  */
object Privacy {

  private def cells(df: DataFrame, dims: Seq[Column]): DataFrame =
    df.groupBy(dims: _*).agg(count(lit(1)).as("n"))

  /** Suppression accounting per `reportCol` (one of the release
    * dimensions): how many cells the release withholds and how many
    * underlying rows that hides — the table a data-release review
    * actually reads. Integer counts only. */
  def suppressionReport(df: DataFrame, dims: Seq[Column],
      reportCol: String, k: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    cells(df, dims)
      .groupBy(col(reportCol))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_suppressed"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_suppressed"),
        sum(when(col("n") >= k, col("n")).otherwise(0L)).as("rows_released"))
  }

  /** Right-to-erasure (GDPR art. 17 / CCPA deletion) propagation:
    * drop every row belonging to a subject in `subjects`. A plain
    * anti-join — shuffles on the subject key (Spark broadcasts a
    * small subject list on its own; a billion-subject purge list
    * correctly falls back to a shuffled anti-join). */
  def erase(df: DataFrame, idCol: String,
      subjects: DataFrame, subjectIdCol: String): DataFrame =
    df.join(subjects.select(col(subjectIdCol).as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Erasure audit: residual row count per subject — the proof table
    * a deletion job publishes (all zeros after [[erase]]). Subjects
    * with no residue still appear, count 0 (left join), so silence
    * can never be mistaken for success. */
  def erasureAudit(df: DataFrame, idCol: String,
      subjects: DataFrame, subjectIdCol: String): DataFrame =
    subjects.select(col(subjectIdCol).as("subject_id")).distinct()
      .join(df.select(col(idCol).as("subject_id"),
          lit(1L).as("__one")),
        Seq("subject_id"), "left")
      .groupBy(col("subject_id"))
      .agg(sum(coalesce(col("__one"), lit(0L))).as("n_residual"))

  // ------------------------------------------------------------------
  // Store-aware erasure (r19 verdict #1): [[erase]]/[[erasureAudit]]
  // purge and audit FRAMES, but the admission pipelines persist a
  // subject's content in up to three PLACES per family — the corpus
  // text/vector dirs the streaming gates grow, the signature stores,
  // and the digest ledger (where a purged id can survive as the dedup
  // KEEPER, so future replicas of purged content still flag against a
  // purged subject). Erasure that misses a store is a compliance bug
  // by the x141 "silence ≠ success" standard; the functions below
  // reach every store shape the engine maintains, all blue/green
  // (the compaction discipline — an in-place rewrite is
  // read-under-overwrite and is refused loudly).
  // ------------------------------------------------------------------

  /** Purge a subject set from a FLAT parquet store (the corpus
    * text/vector dirs the admission streams grow,
    * EventStreams.runIncrementalNearDupAdmission /
    * runIncrementalEmbeddingAdmission): one anti-join rewrite of the
    * tree to a fresh root. The caller swaps pointers and deletes the
    * old tree — exactly the [[graft.ops.Layout.compact]] blue/green
    * lifecycle, and an erasure rewrite IS a filtered compaction: the
    * output lands round-robin over the input's split count, so small
    * append files consolidate for free.
    *
    * Scale: one scan + write of the store; a bounded subject list
    * broadcasts (map-only filter), a billion-subject purge falls back
    * to a shuffled anti-join on its own. Physical deletion, not
    * tombstones — at GDPR stakes the bytes must leave the disk, which
    * is why this is a rewrite and why it shares compaction's
    * schedule-it-batched economics (collect erasure requests, purge
    * once per maintenance window). */
  def eraseFromParquetStore(spark: SparkSession, inDir: String,
      outDir: String, idCol: String, subjects: DataFrame,
      subjectIdCol: String): Unit = {
    Layout.requireFreshRoot(spark, inDir, outDir)
    erase(spark.read.parquet(inDir), idCol, subjects, subjectIdCol)
      .write.mode("overwrite").parquet(outDir)
  }

  /** Purge a subject set from a persisted DIGEST LEDGER
    * ([[graft.ops.Dedup.DigestStore]]) with KEEPER RE-ELECTION: a
    * ledger row whose keeper is erased must not survive as the dedup
    * representative — but its CONTENT may still have non-erased
    * holders, in which case the row's keeper is re-elected to the
    * minimum remaining holder's id; content whose only holders were
    * erased is dropped entirely, so the ledger FORGETS it and a
    * future re-intake of that content is ADMITTED (the x217 carrier's
    * proof obligation — a ledger that remembers purged content keeps
    * flagging new copies against a purged id forever).
    *
    * `remainingCorpus` is the post-purge corpus content (e.g. the
    * store [[eraseFromParquetStore]] just rewrote); subjects are
    * anti-joined from it AGAIN here (belt and braces — a caller
    * passing the pre-purge corpus must still never re-elect an erased
    * subject as keeper). Keyed-uniqueness is preserved: retained and
    * re-elected rows partition the ledger's hashes.
    *
    * Scale: affected rows ∝ |subjects| (one ledger scan to split
    * retained/affected); re-election pays ONE corpus content scan
    * (md5 projection) joined against the affected hashes — the same
    * scan a full ledger rebuild would pay, but only the affected
    * hashes shuffle. Blue/green to `outPath`; returns the reloaded
    * handle. */
  def eraseFromDigestStore(spark: SparkSession, path: String,
      outPath: String, subjects: DataFrame, subjectIdCol: String,
      remainingCorpus: DataFrame, idCol: String,
      textCol: String): Dedup.DigestStore = {
    Layout.rewriteStore(spark, path, outPath, "digests", sidecar = None) {
      (in, out) =>
        val ledger = spark.read.parquet(in)
        val subj = subjects.select(col(subjectIdCol).as("keeper_id")).distinct()
        val retained = ledger.join(subj, Seq("keeper_id"), "left_anti")
        val affected = ledger.join(subj, Seq("keeper_id"), "leftsemi")
          .select(col("content_hash"))
        val reElected = erase(remainingCorpus, idCol, subjects, subjectIdCol)
          .select(md5(col(textCol)).as("content_hash"),
            col(idCol).as("keeper_id"))
          .join(affected, Seq("content_hash"), "leftsemi")
          .groupBy(col("content_hash"))
          .agg(min(col("keeper_id")).as("keeper_id"))
        retained.select(col("content_hash"), col("keeper_id"))
          .unionByName(reElected)
          .write.mode("overwrite").parquet(out)
    }
    Dedup.loadDigestStore(spark, outPath)
  }

  /** Purge a subject set from a persisted minhash signature store:
    * anti-join rewrite of the signature frame, meta sidecar verbatim
    * (erasure never re-sizes — the compaction rule). Blue/green;
    * returns the reloaded handle. */
  def eraseFromMinhashSignatures(spark: SparkSession, path: String,
      outPath: String, subjects: DataFrame,
      subjectIdCol: String): Dedup.MinhashSignatureStore = {
    eraseSignatureTree(spark, path, outPath, subjects, subjectIdCol)
    Dedup.loadMinhashSignatures(spark, outPath)
  }

  /** Purge a subject set from a persisted embedding signature store —
    * [[eraseFromMinhashSignatures]] for the embedding member. */
  def eraseFromEmbeddingSignatures(spark: SparkSession, path: String,
      outPath: String, subjects: DataFrame,
      subjectIdCol: String): Dedup.EmbeddingSignatureStore = {
    eraseSignatureTree(spark, path, outPath, subjects, subjectIdCol)
    Dedup.loadEmbeddingSignatures(spark, outPath)
  }

  /** Shared signature-tree rewrite: both sketch stores are
    * (signatures keyed by `id`, one-row meta) — drop subject rows,
    * carry meta verbatim ([[Layout.rewriteStore]]). */
  private def eraseSignatureTree(spark: SparkSession, path: String,
      outPath: String, subjects: DataFrame, subjectIdCol: String): Unit =
    Layout.rewriteStore(spark, path, outPath, "signatures")((in, out) =>
      erase(spark.read.parquet(in), "id", subjects, subjectIdCol)
        .write.mode("overwrite").parquet(out))

  /** Per-STORE erasure audit — [[erasureAudit]] fanned across every
    * store root a family maintains: one (store, subject_id,
    * n_residual) row per subject per store, zero-filled (left join),
    * so a store the audit forgot to purge reports its residue and a
    * subject with no rows anywhere still appears — silence ≠ success
    * across the whole tree set (the x141 rule, extended to the stores
    * the engine itself grows). `stores` = (name, frame, idColumn);
    * for a digest ledger pass the KEEPER column — a purged subject
    * surviving as keeper is residue.
    *
    * Scale: one counting scan per store (the audit is the proof table
    * a deletion job publishes; run it from the REWRITTEN roots). */
  def storeResidueAudit(subjects: DataFrame, subjectIdCol: String,
      stores: Seq[(String, DataFrame, String)]): DataFrame = {
    require(stores.nonEmpty, "storeResidueAudit needs at least one store")
    stores.map { case (name, frame, idCol) =>
      erasureAudit(frame, idCol, subjects, subjectIdCol)
        .select(lit(name).as("store"), col("subject_id"), col("n_residual"))
    }.reduce(_ unionByName _)
  }

  /** One-call erasure across every store tree a TEXT admission family
    * maintains (the r19 verdict's `eraseFromStores`): purge the
    * corpus text dir, re-elect or drop digest-ledger keepers against
    * the purged corpus, rewrite the minhash signature store, and
    * return the [[storeResidueAudit]] over the REWRITTEN roots (all
    * zeros on success — the caller publishes it, then swaps pointers
    * and deletes the old trees). Every rewrite is blue/green via the
    * `(inPath, outPath)` pairs; pass None to skip a store the family
    * doesn't maintain. */
  def eraseFromStores(spark: SparkSession, subjects: DataFrame,
      subjectIdCol: String, idCol: String, textCol: String,
      corpusTexts: (String, String),
      digestStore: Option[(String, String)] = None,
      minhashStore: Option[(String, String)] = None): DataFrame = {
    eraseFromParquetStore(spark, corpusTexts._1, corpusTexts._2,
      idCol, subjects, subjectIdCol)
    val remaining = spark.read.parquet(corpusTexts._2)
    val audited = Seq(("corpus", remaining, idCol)) ++
      digestStore.map { case (in, out) =>
        ("digests", eraseFromDigestStore(spark, in, out, subjects,
          subjectIdCol, remaining, idCol, textCol).digests, "keeper_id")
      } ++
      minhashStore.map { case (in, out) =>
        ("signatures", eraseFromMinhashSignatures(spark, in, out,
          subjects, subjectIdCol).signatures, "id")
      }
    storeResidueAudit(subjects, subjectIdCol, audited)
  }

  /** Differentially-private cell counts: Laplace(1/ε) noise on each
    * cell of a count release (sensitivity 1). The noise stream is
    * SEEDED — u is the Knuth multiplicative scramble of the cell's
    * rank (the [[graft.ops.Sampling]] replayable-hash mechanism), so
    * tests and the oracle replay it bit-exactly; production swaps the
    * seeded u for secure randomness, keeping the same inverse-CDF
    * transform `−(1/ε)·sign(u−½)·ln(1−2|u−½|)`.
    *
    * Determinism contract: u is exact integer arithmetic over the
    * deterministic cell rank; ln is libm, so the noise is pinned with
    * round(…, 9) before the add (the x97 rule) and the release
    * rounds to 4. The true count rides along for audit/test — a real
    * release drops it.
    *
    * Scale: one map-side-combinable cell count; the rank window runs
    * over |cells| rows (bounded by the release design, not the
    * corpus). */
  def noisyCounts(df: DataFrame, dims: Seq[String], epsilon: Double,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(epsilon > 0, "epsilon must be positive")
    val w = Window.orderBy(dims.map(d => col(d).asc): _*)
    val rank = row_number().over(w).cast("long")
    val h = pmod(pmod(rank + seed, lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val uc = u - lit(0.5)
    val noise = round(
      (lit(-1.0) / epsilon) * signum(uc) * log(lit(1.0) - lit(2.0) * abs(uc)),
      9)
    cells(df, dims.map(col))
      .withColumn("noise", noise)
      .withColumn("noisy_n", round(col("n") + col("noise"), 4))
  }
}
