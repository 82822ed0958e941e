package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived-corpus generator for the scale rehearsal (r12 verdict #1:
  * "the 100 TB claims are the only class still argued from plan
  * shapes instead of measured"). Writes a DETERMINISTIC ~factor×
  * replication+perturbation of an sf-dir's documents / embeddings /
  * events under `outDir`, copying the relational tables through
  * unchanged so every registered query still runs against the
  * directory. `/root/testdata` is never written.
  *
  * Replica 0 is the source data verbatim; replicas r >= 1 derive
  * every row from `xxhash64(id, r)` — no RNG state, no wall clock —
  * so two runs produce byte-identical corpora and a rehearsal result
  * is reproducible. The per-replica mix is calibrated to stress the
  * dedup/ANN scale paths the rehearsal measures:
  *
  *  - ~30% EXACT copies (new ids): cross-replica duplicate families
  *    of size ~0.3·factor — exact/anchored dedup and the CC paths
  *    see realistic mega-clusters, not independent rows;
  *  - ~30% NEAR-duplicates (a replica-tagged token spliced at a
  *    content-derived word boundary): the 1-token-insertion shift
  *    that defeats fixed grids — anchor/minhash recall load;
  *  - ~40% NOVEL (every 5th token rewritten from a content hash plus
  *    a replica-unique tail): grows distinct-content mass so shingle
  *    df tables, LSH band buckets and IVF cells scale with the
  *    corpus instead of collapsing onto replica-0 keys.
  *
  * Embeddings follow the same mix in vector space (copy / small
  * perturbation ~1% per dim / large ~50% per dim); events replicate
  * onto disjoint user-id ranges with value jitter (group COUNTS
  * scale, per-group sizes stay — the behavior-analytics scale shape).
  * All text stays ASCII (the x46 gate) and n_chars stays consistent
  * with the rewritten text, so the corpus-quality gate is green on
  * the derived corpus too.
  *
  * Usage: sbt "Test/runMain graft.ScaleData [srcDir] [outDir] [factor]"
  * Default: /root/testdata/sf0.1 -> /tmp/graft_scale/x10 at 10×.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_scale/x10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    require(!outDir.startsWith("/root/testdata") && !outDir.startsWith("/root/reference"),
      s"refusing to write into $outDir")
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    writeAll(spark, srcDir, outDir, factor)
    spark.stop()
  }

  def writeAll(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    // relational tables pass through unchanged — the rehearsal scales
    // the LLM-pipeline tables; TPC-H families have their own SF axis
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      System.err.println(s"[scaledata] copied $t")
    }
    val docs = scaleDocuments(
      spark.read.parquet(s"$srcDir/documents.parquet"), factor)
    // 32 output files: the scans behind the non-equi/BNLJ plans
    // inherit the file split count (the x43 Parallelism lesson) — a
    // 1-file 10× corpus would serialize exactly the paths under test
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    System.err.println(s"[scaledata] documents ×$factor written")
    val emb = scaleEmbeddings(
      spark.read.parquet(s"$srcDir/embeddings.parquet"), factor)
    emb.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    System.err.println(s"[scaledata] embeddings ×$factor written")
    // events goes through Tables.events: the source file is
    // TIMESTAMP(NANOS), which a raw read rejects; the derived corpus
    // is written at micros (Tables.events normalizes either way)
    val ev = scaleEvents(Tables.events(spark, srcDir), factor)
    ev.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
    System.err.println(s"[scaledata] events ×$factor written")
  }

  /** Disjoint id spaces per replica: source ids stay < 1e6 at any SF
    * this rehearsal touches, so `id + r·1e6` never collides —
    * CHECKED per scaled table by [[requireDisjointIds]] (r13 advice:
    * a larger source corpus would otherwise silently alias replica
    * id spaces and corrupt the duplicate-family structure the
    * rehearsal measures). */
  private val IdStride = 1000000L

  /** One cheap max() per scaled table: fail loudly instead of letting
    * replica r's ids alias replica r+1's. */
  private def requireDisjointIds(src: DataFrame, idCol: String): Unit = {
    val mx = src.agg(coalesce(max(col(idCol)), lit(0L))).collect()(0).getLong(0)
    require(mx < IdStride,
      s"$idCol max $mx >= replica stride $IdStride — scaled replicas would " +
        "collide; raise IdStride for this corpus before rehearsing")
  }

  private[graft] def scaleDocuments(src: DataFrame, factor: Int): DataFrame = {
    requireDisjointIds(src, "doc_id")
    val replicated = src
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("__h", xxhash64(col("doc_id"), col("__r")))
      .withColumn("__mode",
        when(col("__r") === 0, lit(-1)).otherwise(pmod(col("__h"), lit(10))))
    val toks = split(col("text"), " ")
    val n = size(toks)
    // near-dup: splice one replica-tagged token at a content-derived
    // word boundary — a shift, not an overwrite, so anchors must
    // re-align to catch it
    val spliceAt = pmod(col("__h"), greatest(n, lit(1)).cast("bigint")).cast("int")
    val nearText = concat_ws(" ",
      concat(slice(toks, lit(1), spliceAt),
        array(concat(lit("rtag"), col("__r").cast("string"))),
        slice(toks, spliceAt + 1, greatest(n - spliceAt, lit(0)))))
    // novel: every 5th token (phase from the hash) rewritten from a
    // content hash, plus a replica-unique tail — mostly-new shingles
    val novelText = concat(
      concat_ws(" ", transform(toks, (t, i) =>
        when(pmod(i, lit(5)) === pmod(col("__h"), lit(5)),
          concat(lit("nv"),
            pmod(xxhash64(t, col("__h")), lit(99991)).cast("string")))
          .otherwise(t))),
      lit(" tail"), col("__r").cast("string"),
      lit("doc"), col("doc_id").cast("string"))
    val newText =
      when(col("__mode") < 3, col("text")) // replica 0 + exact copies
        .when(col("__mode") < 6, nearText)
        .otherwise(novelText)
    replicated
      .withColumn("doc_id", col("doc_id") + col("__r") * IdStride)
      .withColumn("text", newText)
      .withColumn("n_chars", length(col("text")))
      .drop("__r", "__h", "__mode")
  }

  private[graft] def scaleEmbeddings(src: DataFrame, factor: Int): DataFrame = {
    requireDisjointIds(src, "vec_id")
    val replicated = src
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("__h", xxhash64(col("vec_id"), col("__r")))
      .withColumn("__mode",
        when(col("__r") === 0, lit(-1)).otherwise(pmod(col("__h"), lit(10))))
    // per-dim deterministic delta in [-eps, eps]: near keeps the
    // vector inside its ANN cell (dup-detection load), novel re-draws
    // far enough to land in new cells (index-growth load)
    def perturbed(eps: Double) = transform(col("embedding"), (x, i) =>
      (x + (pmod(xxhash64(col("vec_id"), col("__r"), i), lit(2001)) - 1000)
        .cast("double") / 1000.0 * eps).cast("float"))
    replicated
      .withColumn("embedding",
        when(col("__mode") < 3, col("embedding"))
          .when(col("__mode") < 6, perturbed(0.01))
          .otherwise(perturbed(0.5)))
      .withColumn("vec_id", col("vec_id") + col("__r") * IdStride)
      .drop("__r", "__h", "__mode")
  }

  private[graft] def scaleEvents(src: DataFrame, factor: Int): DataFrame = {
    // both strided id spaces must be collision-free, not just event_id
    requireDisjointIds(src, "event_id")
    requireDisjointIds(src, "user_id")
    val replicated = src
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("__h", xxhash64(col("event_id"), col("__r")))
    replicated
      .withColumn("event_id", col("event_id") + col("__r") * IdStride)
      // disjoint user populations per replica: user COUNT scales
      // linearly, per-user session/funnel shapes stay realistic
      .withColumn("user_id", col("user_id") + col("__r") * IdStride)
      .withColumn("value",
        col("value") * (lit(1.0) +
          (pmod(col("__h"), lit(201)) - 100).cast("double") / 1000.0))
      .drop("__r", "__h")
  }
}
