package graft.ops

import graft.SparkTestSession
import graft.functions.{Sketches, VectorMath}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about database engines and query optimization"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "spark catalyst optimizer rewrites logical plans into physical plans")
  ).toDF("doc_id", "text")

  test("exact dedup: groups copies, keeps smallest id") {
    val d = Dedup.exact(docs, "doc_id", "text")
    assert(d.count() == 4) // 5 docs, one exact dup
    val dupGroup = d.filter(col("n_copies") === 2).head()
    assert(dupGroup.getAs[Long]("keeper_id") == 1L)
    assert(Dedup.exactKeepFirst(docs, "doc_id", "text").count() == 4)
  }

  test("minhash estimates jaccard: near-dups high, unrelated low") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("est_jaccard"))).toMap
    // exact dup pair → every signature slot equal
    assert(cands((1L, 4L)) == 1.0)
    // near-dup (one word differs) → high estimate
    assert(cands((1L, 2L)) > 0.5)
    // unrelated pairs either never become candidates or score low
    cands.filterKeys { case (a, b) => Set(a, b).contains(3L) }
      .values.foreach(j => assert(j < 0.3))
  }

  test("minhash near-dup threshold keeps only real near-dups") {
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("paragraph dedup: boilerplate dropped from ALL docs, survivors reconstruct in order") {
    val corpus = Seq(
      (1L, "alpha one\n\nBOILER PLATE\n\nalpha two"),
      (2L, "beta one\n\nBOILER PLATE\n\nbeta two"),
      (3L, "BOILER PLATE"), // all-boilerplate doc must vanish
      (4L, "gamma solo\n\ngamma solo") // in-doc repeat: df=1, both kept
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(corpus, "doc_id", "text", maxDocFreq = 1)
      .orderBy(col("doc_id")).as[(Long, Long, String)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 4L), s"docs: ${got.toSeq}")
    assert(got(0) == ((1L, 2L, "alpha one\n\nalpha two")))
    assert(got(1) == ((2L, 2L, "beta one\n\nbeta two")))
    // df counts DISTINCT docs: the in-doc repeat survives twice, in order
    assert(got(2) == ((4L, 2L, "gamma solo\n\ngamma solo")))
    // threshold at the doc-frequency: df=3 boilerplate survives at
    // maxDocFreq=3, and full documents round-trip unchanged
    val loose = Dedup.paragraphDedup(corpus, "doc_id", "text", maxDocFreq = 3)
      .orderBy(col("doc_id")).as[(Long, Long, String)].collect()
    assert(loose.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(loose(0)._3 == "alpha one\n\nBOILER PLATE\n\nalpha two")
    assert(loose(2)._3 == "BOILER PLATE")
  }

  test("cluster size histogram: hand-computed sizes, doc mass adds up") {
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 10L), // size 3
      (4L, 20L), (5L, 20L), // size 2
      (6L, 30L), (7L, 30L), // size 2
      (8L, 40L)) // size 1 (a cluster row, not a corpus singleton)
      .toDF("id", "cluster_id")
    val got = Dedup.clusterSizeHistogram(clusters)
      .orderBy(col("cluster_size")).as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 1L, 1L), (2L, 2L, 4L), (3L, 1L, 3L)),
      s"got ${got.toSeq}")
    // doc mass conservation
    assert(got.map(_._3).sum == 8L)
  }

  test("tokenizer fertility: hand-computed on a one-merge BPE") {
    // corpus: 'ab' x3, 'cd' x1 → the single merge fuses (a,b); 'ab'
    // segments to 1 subword, 'cd' stays 2
    val docs = Seq((1L, "g1", "ab ab"), (2L, "g2", "ab cd"))
      .toDF("id", "grp", "text")
    val got = TextAnalysis.tokenizerFertility(docs, "grp", "text", numMerges = 1)
      .orderBy(col("grp")).as[(String, Long, Long, Double, Double)].collect()
    // g1: 2 words, 2 subwords, 4 chars → 2.0 chars/token, 1.0 tok/word
    assert(got(0) == (("g1", 2L, 2L, 2.0, 1.0)), s"got ${got.toSeq}")
    // g2: 2 words, 1+2=3 subwords, 4 chars → 1.3333, 1.5
    assert(got(1) == (("g2", 2L, 3L, 1.3333, 1.5)), s"got ${got.toSeq}")
  }

  test("perplexity buckets: per-group terciles follow the score order, relayout-stable") {
    val docs = (1L to 9L).map { i =>
      // graded repetitiveness: low ids repeat one common phrase (high
      // in-corpus bigram probability), high ids add rarer material
      val common = Seq.fill(10)("the data lake").mkString(" ")
      val rare = (1L to i).map(j => s"xq${i}z$j").mkString(" ")
      (i, "g1", s"$common $rare")
    }.toDF("id", "grp", "text")
    val got = TextAnalysis.perplexityBuckets(docs, "id", "text", "grp")
      .orderBy(col("id")).as[(Long, String, Double, String)].collect()
    assert(got.length == 9)
    // buckets partition the group into terciles
    val byBucket = got.groupBy(_._4).view.mapValues(_.length).toMap
    assert(byBucket == Map("head" -> 3, "middle" -> 3, "tail" -> 3), s"$byBucket")
    // labels are a pure function of the score ORDER: the top third by
    // mean_logprob is head, the bottom third tail
    val ranked = got.sortBy(-_._3)
    assert(ranked.take(3).forall(_._4 == "head"), s"${ranked.toSeq}")
    assert(ranked.takeRight(3).forall(_._4 == "tail"), s"${ranked.toSeq}")
    val again = TextAnalysis.perplexityBuckets(docs.repartition(4),
      "id", "text", "grp")
      .orderBy(col("id")).as[(Long, String, Double, String)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("knn label transfer: cluster labels recovered, majority vote, tie toward smallest label") {
    // seeds: two clean clusters along +x (label 7) and +y (label 3)
    val seeds = Seq(
      (1L, 7, Array(1f, 0f, 0f)), (2L, 7, Array(0.95f, 0.05f, 0f)),
      (3L, 7, Array(0.9f, 0.1f, 0f)),
      (4L, 3, Array(0f, 1f, 0f)), (5L, 3, Array(0.05f, 0.95f, 0f)),
      (6L, 3, Array(0.1f, 0.9f, 0f)))
      .toDF("id", "label", "vec")
    val corpus = Seq(
      (100L, 0, Array(0.98f, 0.02f, 0f)), // x-cluster
      (101L, 0, Array(0.02f, 0.98f, 0f)), // y-cluster
      (102L, 0, Array(0.7f, 0.7f, 0f)))   // equidistant-ish
      .toDF("id", "label", "vec")
    val got = Similarity.knnLabelTransfer(corpus, seeds, "id", "label", "vec", k = 3)
      .orderBy(col("id")).as[(Long, Int, Long)].collect()
    assert(got(0) == ((100L, 7, 3L)), s"got ${got.toSeq}")
    assert(got(1) == ((101L, 3, 3L)))
    // k=6 on the diagonal vector: 3 votes each — tie breaks to the
    // SMALLEST label (3), the documented total order
    val tied = Similarity.knnLabelTransfer(corpus, seeds, "id", "label", "vec", k = 6)
      .filter(col("id") === 102L).as[(Long, Int, Long)].collect()
    assert(tied.head == ((102L, 3, 3L)), s"got ${tied.toSeq}")
    // relayout-stable (rounded cosine + id tie-breaks everywhere)
    val again = Similarity.knnLabelTransfer(corpus.repartition(5),
      seeds.repartition(2), "id", "label", "vec", k = 3)
      .orderBy(col("id")).as[(Long, Int, Long)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("intra-doc dedup: first in-doc occurrence kept in order, cross-doc repeats untouched") {
    val corpus = Seq(
      (1L, "nav\n\nbody one\n\nnav\n\nbody two\n\nnav"),
      (2L, "nav\n\nother content"), // cross-doc repeat of "nav" is NOT dropped
      (3L, "unique only")
    ).toDF("doc_id", "text")
    val got = Dedup.intraDocDedup(corpus, "text")
      .select(col("doc_id"), col("n_segments"), col("n_dropped"), col("clean_text"))
      .orderBy(col("doc_id")).as[(Long, Long, Long, String)].collect()
    assert(got(0) == ((1L, 5L, 2L, "nav\n\nbody one\n\nbody two")))
    assert(got(1) == ((2L, 2L, 0L, "nav\n\nother content")))
    assert(got(2) == ((3L, 1L, 0L, "unique only")))
    // pure per-row function: relayout changes nothing
    val again = Dedup.intraDocDedup(corpus.repartition(3), "text")
      .select(col("doc_id"), col("n_segments"), col("n_dropped"), col("clean_text"))
      .orderBy(col("doc_id")).as[(Long, Long, Long, String)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("duplication matrix: unordered label pairs, diagonal = intra-group, counts exact") {
    val labels = Seq((1L, "src_b"), (2L, "src_a"), (3L, "src_a"),
      (4L, "src_c"), (5L, "src_b")).toDF("id", "grp")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicationMatrix(pairs, "id_a", "id_b",
      labels, "id", "grp")
      .orderBy(col("label_a"), col("label_b"))
      .as[(String, String, Long)].collect()
    // (1,2)+(3,1) → a/b twice; (2,3) → a/a intra; (4,5) → b/c
    assert(got.toSeq == Seq(("src_a", "src_a", 1L), ("src_a", "src_b", 2L),
      ("src_b", "src_c", 1L)), s"got ${got.toSeq}")
  }

  test("lshBitsFor: the measured sizing rule as code") {
    // the r13 rehearsal's demonstrated defense configuration: 20k
    // vectors at 8 bands / target 100 sizes to 8-bit chunks = 64 bits
    // (the x34.4 probe phase: 1212 -> 76 s CPU vs fixed 6-bit chunks)
    assert(Dedup.lshBitsFor(20000L, bands = 8) == 64)
    assert(Dedup.lshBitsFor(2000L, bands = 8) == 40)
    // grows with the corpus, never below bands; r15: keeps growing
    // PAST one Long (the wide per-band regime) instead of freezing
    // at 64 total bits — 8-band saturation at a 25.6k corpus was the
    // ×30-measured 10.4× quadratic resumption
    val widths = Seq(100L, 10000L, 1000000L, 100000000L, 10000000000L)
      .map(n => Dedup.lshBitsFor(n, bands = 8))
    assert(widths == widths.sorted, s"non-monotone: $widths")
    assert(widths.forall(w => w >= 8 && w <= 8 * Dedup.MaxChunkBits),
      s"out of range: $widths")
    assert(widths.last > 64, s"wide regime never engaged: $widths")
    // past the old Long clamp the chunk width is exactly the sizing
    // rule's ask: 1M/100 -> 14-bit chunks at 8 bands = 112 bits
    assert(Dedup.lshBitsFor(1000000L, bands = 8) == 112)
    // the wide regime's own named expiry: MaxChunkBits-bit chunks
    // (~2.8e16 vectors at the default target before it binds)
    assert(Dedup.lshBitsFor(Long.MaxValue / 2, bands = 4) ==
      4 * Dedup.MaxChunkBits)
    // a tiny corpus still yields a valid banding
    assert(Dedup.lshBitsFor(10L, bands = 4) == 4)
    // contract violations are loud
    intercept[IllegalArgumentException](Dedup.lshBitsFor(0L, 8))
    intercept[IllegalArgumentException](Dedup.lshBitsFor(100L, 0))
    intercept[IllegalArgumentException](Dedup.lshBitsFor(100L, 8, targetBucket = 1))
  }

  test("band-bucket cap: planted mega-bucket goes linear, reachability kept, normal pairs unchanged") {
    // 30 identical docs — ONE degenerate bucket in every band (the
    // boilerplate regime) — alongside the normal near-dup fixtures
    val boiler = (100L until 130L).map(id => (id,
      "standard legal boilerplate footer text repeated verbatim across the crawl"))
    val mixed = (docs.as[(Long, String)].collect().toSeq ++ boiler)
      .toDF("doc_id", "text")
    graft.BoundedMemo.clearAll()
    val capped = Dedup.minhashCandidates(mixed, "doc_id", "text", maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // beyond the cap the bucket emits STAR pairs: 29 hub edges, not
    // the C(30,2)=435 an uncapped all-pairs join would produce
    val mega = capped.filter { case (a, b) => a >= 100L && b >= 100L }
    assert(mega == (101L until 130L).map(b => (100L, b)).toSet,
      s"mega-bucket pairs not linear/star: ${mega.size}")
    // reachability preserved: the whole mega-cluster still dedups to
    // ONE survivor through the survivor algebra
    val survivors = Dedup.survivorsFromPairs(mixed, "doc_id",
      Dedup.minhashCandidates(mixed, "doc_id", "text", maxBucket = 10)
        .filter(col("est_jaccard") >= 0.8)
        .select("id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.count(_ >= 100L) == 1, s"mega-cluster survivors: $survivors")
    // pairs in healthy (below-cap) buckets are untouched by the cap
    assert(capped.contains((1L, 4L)) && capped.contains((1L, 2L)))
    graft.BoundedMemo.clearAll()
    val uncapped = Dedup.minhashCandidates(mixed, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.filter { case (a, b) => a < 100L && b < 100L }
      == capped.filter { case (a, b) => a < 100L && b < 100L })
    assert(uncapped.count { case (a, b) => a >= 100L && b >= 100L } == 435)
    graft.BoundedMemo.clearAll()
  }

  test("hard negatives lsh: membership cap is a no-op above bucket sizes, valid output below") {
    val vecs = (0L until 40L).map { id =>
      (id, (id % 4).toInt,
        Array.tabulate(8)(i => math.sin(id * 2.7 + i * 1.3).toFloat)) }
    val df = vecs.toDF("id", "label", "vec")
    def run(bands: Int, cap: Int) =
      Similarity.hardNegativesLsh(df, "id", "label", "vec", k = 4,
        numBits = 16, bands = bands, maxBucket = cap)
        .orderBy(col("anchor_id"), col("rank"))
        .as[(Long, Int, Long, Double)].collect().toSeq
    // cap above every bucket size (1-bit chunks put ~n/2 per bucket):
    // identical output to the default — the cap is pure guard
    assert(run(16, cap = 40) == run(16, cap = 1000))
    // binding cap: output stays well-formed — cross-label negatives,
    // consecutive ranks from 1 per anchor, cosine descending
    val labels = vecs.map(v => v._1 -> v._2).toMap
    val sub = run(4, cap = 5)
    assert(sub.nonEmpty)
    sub.foreach { case (a, _, n, _) => assert(labels(a) != labels(n)) }
    sub.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2) == (1 to sorted.length))
      assert(sorted.map(_._4) == sorted.map(_._4).sortBy(-(_: Double)))
    }
  }

  test("incremental exact dedup: ledger round-trips disk; corpus/batch provenance; nulls never flag") {
    // the EXACT member of the incremental store trio (r17): md5
    // ledger persisted, batch flagged against corpus keepers and
    // earlier batch docs. Fixture covers: a corpus-internal exact-dup
    // group (ledger keeper = min id), a batch doc duplicating it, a
    // batch-internal dup group, a doc that is BOTH (content in corpus
    // and in an earlier batch doc → two rows), and a null text (never
    // flagged — null digests don't join).
    val corpus = Seq((1L, "a b"), (2L, "c d"), (3L, "a b"))
      .toDF("doc_id", "text")
    val dir = graft.TempDirs.createCleaned("digest_store_spec")
    val ledger = Dedup.saveDigestStore(corpus, "doc_id", "text", dir)
    val batch = Seq(
      (10L, "a b"),            // corpus dup -> keeper 1 (not 3)
      (11L, "x y"),            // novel, keeps
      (12L, "x y"),            // batch dup of 11
      (13L, "c d"),            // corpus dup -> 2
      (14L, "a b"),            // corpus dup -> 1 AND batch dup of 10
      (15L, null.asInstanceOf[String])) // null text: never flagged
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExactDuplicates(ledger, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      (10L, 1L, "corpus"),
      (13L, 2L, "corpus"),
      (14L, 1L, "corpus"), (14L, 10L, "batch"),
      (12L, 11L, "batch")), s"got $out")
    // a fresh load reads DISK, not the in-session frame — the probe
    // through it must reproduce the save-time answer exactly
    val reloaded = Dedup.loadDigestStore(spark, dir.toString)
    val again = Dedup.incrementalExactDuplicates(reloaded, batch,
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(again == out, "loaded-handle probe must equal in-session")
  }

  test("appendToDigestStore: admitted batch folds in ∝ batch; keyed-unique; day-3 flags through the update") {
    // the maintenance half (r17 verdict #1): day-2 admitted content
    // must flag as `corpus` on day 3 through the UPDATED ledger,
    // without a full-corpus re-save
    val corpus = Seq((1L, "a b"), (2L, "c d"), (3L, "a b"))
      .toDF("doc_id", "text")
    val dir = graft.TempDirs.createCleaned("digest_append_spec")
    val store0 = Dedup.saveDigestStore(corpus, "doc_id", "text", dir)
    val n0 = store0.digests.count()
    assert(n0 == 2L) // "a b" (keeper 1), "c d" (keeper 2)
    // day-2 batch: one corpus dup (never appended), one novel group
    // (keeper admitted), one null text (never enters the ledger)
    val batch2 = Seq((10L, "a b"), (11L, "x y"), (12L, "x y"),
      (13L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val flagged2 = Dedup.incrementalExactDuplicates(store0, batch2,
      "doc_id", "text")
    val admitted2 = batch2.join(
      flagged2.select(col("batch_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val store1 = Dedup.appendToDigestStore(store0, dir, admitted2,
      "doc_id", "text")
    // exactly ONE new row ("x y" -> 11); the null-text admit never lands
    val rows1 = store1.digests.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows1.size == 3 && rows1.exists(_._2 == 11L),
      s"ledger must grow by exactly the novel digest: $rows1")
    // idempotence / keyed-unique on a MISUSED call: re-appending the
    // same rows (already in the ledger now) is a no-op
    val store2 = Dedup.appendToDigestStore(store1, dir, admitted2,
      "doc_id", "text")
    assert(store2.digests.count() == 3L, "re-append must be a no-op")
    assert(store2.digests.groupBy(col("content_hash")).count()
      .filter(col("count") > 1).count() == 0L,
      "ledger must stay keyed-unique after appends")
    // day-3: replicas of day-2 ADMITTED content flag as corpus dups
    // with the day-2 keeper; day-0 entries still answer
    val batch3 = Seq((20L, "x y"), (21L, "a b"), (22L, "p q"))
      .toDF("doc_id", "text")
    val out3 = Dedup.incrementalExactDuplicates(store2, batch3,
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out3 == Set((20L, 11L, "corpus"), (21L, 1L, "corpus")),
      s"day-3 must flag through the appended ledger: $out3")
  }

  test("compactDigestStore: row-identical, probe-identical, fewer files, blue/green only") {
    // the append story's second half (r18 verdict #1): appends land
    // one+ file per call and every probe re-lists the tree — the
    // compaction rewrite must change the LAYOUT and nothing else
    val corpus = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val dir = graft.TempDirs.createCleaned("digest_compact_spec")
    var store = Dedup.saveDigestStore(corpus, "doc_id", "text", dir)
    // accumulate appends (each lands its own file(s))
    (0 until 5).foreach { i =>
      val b = Seq((100L + i, s"novel $i")).toDF("doc_id", "text")
      store = Dedup.appendToDigestStore(store, dir, b, "doc_id", "text")
    }
    def files(p: String): Int = {
      val d = new java.io.File(s"$p/digests")
      d.listFiles().count(f => f.getName.endsWith(".parquet"))
    }
    val preFiles = files(dir)
    assert(preFiles >= 6, s"appends must have fragmented the tree: $preFiles")
    val preRows = store.digests.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Seq((200L, "a b"), (201L, "novel 3"), (202L, "fresh"))
      .toDF("doc_id", "text")
    val preProbe = Dedup.incrementalExactDuplicates(store, batch,
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val out = graft.TempDirs.createCleaned("digest_compact_spec_out")
    val compacted = Dedup.compactDigestStore(spark, dir, out)
    assert(files(out) == 1, "7 tiny appends must compact to one file")
    val postRows = compacted.digests.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(postRows == preRows, "compaction must be row-identity")
    val postProbe = Dedup.incrementalExactDuplicates(compacted, batch,
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(postProbe == preProbe, "probe through the compacted handle must not move")
    // in-place compaction is a read-under-overwrite: refuse loudly
    intercept[IllegalArgumentException] {
      Dedup.compactDigestStore(spark, dir, dir)
    }
  }

  test("compact sketch stores: meta verbatim, signatures row-identical") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about database engines"))
      .toDF("doc_id", "text")
    val mhDir = graft.TempDirs.createCleaned("mh_compact_spec")
    var mh = Dedup.saveMinhashSignatures(corpus, "doc_id", "text", mhDir,
      numHashes = 32, shingleSize = 3)
    mh = Dedup.appendToMinhashSignatures(mh, mhDir,
      Seq((10L, "a fresh admitted document")).toDF("doc_id", "text"),
      "doc_id", "text")
    val mhOut = graft.TempDirs.createCleaned("mh_compact_spec_out")
    val mhC = Dedup.compactMinhashSignatures(spark, mhDir, mhOut)
    assert(mhC.numHashes == 32 && mhC.shingleSize == 3,
      "meta must travel verbatim — compaction never re-sizes")
    def sigRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    assert(sigRows(mhC.signatures) == sigRows(mh.signatures))

    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val esDir = graft.TempDirs.createCleaned("es_compact_spec")
    var es = Dedup.saveEmbeddingSignatures(emb, "vec_id", "embedding",
      esDir, numBits = 16, bands = 4)
    es = Dedup.appendToEmbeddingSignatures(es, esDir,
      Seq((10L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val esOut = graft.TempDirs.createCleaned("es_compact_spec_out")
    val esC = Dedup.compactEmbeddingSignatures(spark, esDir, esOut)
    assert(esC.numBits == 16 && esC.bands == 4 && esC.seed == es.seed)
    def esRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(esRows(esC.signatures) == esRows(es.signatures))
    // probe through the compacted handle ≡ through the fragmented one
    val probe = Seq((20L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val vecs = emb.unionByName(
      Seq((10L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    def hits(st: Dedup.EmbeddingSignatureStore) =
      Dedup.incrementalEmbeddingNearDuplicates(st, vecs, probe,
        "vec_id", "embedding", threshold = 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits(esC) == hits(es) && hits(esC) == Set((20L, 1L), (20L, 10L)))
  }

  test("store meta sidecar: zero or two rows fail loudly and name the path") {
    // every store with sizing parameters reads its one-row meta through
    // Layout.readMeta; a partial (empty) or mixed (two-row) sidecar
    // must refuse the load, never size probes from an arbitrary row
    val corpus = Seq((1L, "the quick brown fox"), (2L, "a database engine"))
      .toDF("doc_id", "text")
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val stores: Seq[(String, (String => Any, String => Any))] = Seq(
      "minhash" -> ((d: String) => Dedup.saveMinhashSignatures(corpus,
          "doc_id", "text", d, numHashes = 32),
        (d: String) => Dedup.loadMinhashSignatures(spark, d)),
      "embedding" -> ((d: String) => Dedup.saveEmbeddingSignatures(emb,
          "vec_id", "embedding", d, numBits = 16, bands = 4),
        (d: String) => Dedup.loadEmbeddingSignatures(spark, d)),
      "logreg" -> ((d: String) => Classifier.saveLogRegModel(
          Classifier.LogRegModel(Seq((0, 0.5)).toDF("b", "w"), 4, 0.5, 1), d),
        (d: String) => Classifier.loadLogRegModel(spark, d)))
    for ((name, (save, load)) <- stores; rows <- Seq(0, 2)) {
      val dir = graft.TempDirs.createCleaned(s"meta_${name}_$rows")
      save(dir)
      val meta = spark.read.parquet(s"$dir/meta").collect().toSeq
      val bad = Seq.fill(rows)(meta.head)
      spark.createDataFrame(java.util.Arrays.asList(bad: _*),
          spark.read.parquet(s"$dir/meta").schema)
        .write.mode("overwrite").parquet(s"$dir/meta_bad")
      spark.read.parquet(s"$dir/meta_bad").write.mode("overwrite")
        .parquet(s"$dir/meta")
      val e = intercept[IllegalArgumentException](load(dir))
      assert(e.getMessage.contains(s"$dir/meta") &&
        e.getMessage.contains(s"got $rows"), s"$name/$rows: ${e.getMessage}")
    }
  }

  test("incrementalVerifiedTextDuplicates: exact jaccard through the store, per-provenance") {
    // corpus: 1 and 3 exact dups, 2 near-dup of 1, 4 unrelated
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "the quick brown fox jumps over the lazy dog near the ocean"),
      (3L, "the quick brown fox jumps over the lazy dog near the river"),
      (4L, "spark catalyst optimizer rewrites logical plans"))
      .toDF("doc_id", "text")
    val dir = graft.TempDirs.createCleaned("verified_probe_spec")
    val store = Dedup.saveMinhashSignatures(corpus, "doc_id", "text", dir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river"),
      (11L, "the quick brown fox jumps over the lazy dog near the river"),
      (12L, "entirely novel delta document about watermark semantics"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalVerifiedTextDuplicates(store, corpus, batch,
      "doc_id", "text", threshold = 1.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    // threshold-1.0 recall is exactly 1 on identical texts: 10 and 11
    // hit BOTH corpus copies (1 and 3) at jaccard 1.0, plus each other
    // once ('batch', smaller id first); the near-dup 2 verifies < 1.0
    // and is filtered; 12 matches nothing
    assert(out == Set(
      (10L, 1L, 1.0, "corpus"), (10L, 3L, 1.0, "corpus"),
      (11L, 1L, 1.0, "corpus"), (11L, 3L, 1.0, "corpus"),
      (10L, 11L, 1.0, "batch")), s"got $out")
    // mid threshold: the exact score is the brute-force trigram
    // jaccard, not the minhash estimate
    val mid = Dedup.incrementalVerifiedTextDuplicates(store, corpus, batch,
      "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // doc 2 differs from the probe in the last token: 9 shared grams
    // of 10/10 distinct grams -> J = 9/11
    assert(mid((10L, 2L)) == math.rint(9.0 / 11.0 * 10000) / 10000)
  }

  test("incremental minhash == full run restricted to batch-touching pairs") {
    val corpus = docs.filter(col("doc_id").isin(1L, 3L, 5L))
    val batch = Seq(
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (6L, "entirely novel delta document about streaming watermark semantics"))
      .toDF("doc_id", "text")
    val store = Dedup.minhashSignatures(corpus, "doc_id", "text")
    val inc = Dedup.incrementalMinhashNearDuplicates(store, batch, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    // orientation + provenance: corpus matches keep the batch doc on
    // the left and are tagged; batch-internal pairs ordered min-first
    inc.foreach { case (b, d, _, src) =>
      assert(Set(2L, 4L, 6L).contains(b), s"batch_id must be from the batch: $b")
      if (src == "corpus") assert(Set(1L, 3L, 5L).contains(d), s"bad corpus dup: $d")
      else { assert(Set(2L, 4L, 6L).contains(d) && b < d, s"bad batch pair: ($b,$d)") }
    }
    // equivalence with the full-corpus run, restricted to pairs that
    // touch the batch (same seeds => identical candidates + estimates)
    graft.BoundedMemo.clearAll()
    val full = Dedup.minhashNearDuplicates(docs.unionByName(
      batch.filter(col("doc_id") === 6L)), "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => Set(a, b).exists(Set(2L, 4L, 6L).contains) }
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    val incNorm = inc
      .map { case (a, b, j, _) => (math.min(a, b), math.max(a, b), j) }.toSet
    assert(incNorm == full,
      s"incremental $incNorm must equal batch-restricted full run $full")
    assert(inc.exists { case (b, d, _, src) => b == 4L && d == 1L && src == "corpus" },
      s"exact dup of a corpus doc must surface, got ${inc.toSeq}")
    assert(!inc.exists { case (b, d, _, _) => b == 6L || d == 6L },
      s"novel doc must not pair, got ${inc.toSeq}")
  }

  test("incremental minhash: re-ingested id compares against its stored version, no row fanout") {
    val corpus = docs.filter(col("doc_id").isin(1L, 3L))
    val store = Dedup.minhashSignatures(corpus, "doc_id", "text")
    // id 1 re-ingested with a one-word revision
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashNearDuplicates(store, batch, "doc_id", "text",
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // the new-vs-old revision pair surfaces exactly once — an id on
    // both sides must not fan the signature rejoin out
    assert(out.count { case (b, d, src) => b == 1L && d == 1L && src == "corpus" } == 1,
      s"revision pair must appear exactly once, got ${out.toSeq}")
    assert(out.length == 1, s"no other pairs expected, got ${out.toSeq}")
  }

  test("incremental minhash: mismatched store width fails loudly") {
    val store64 = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 64)
    val batch = docs.filter(col("doc_id") === 2L)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalMinhashNearDuplicates(store64, batch, "doc_id", "text",
        numHashes = 128)
    }
    assert(e.getMessage.contains("store width"), e.getMessage)
  }

  test("incremental embedding == full run restricted to batch-touching pairs") {
    // mirrors the x206 carrier exactly: corpus = vec_id >= 100 held as
    // a signature store, batch = vec_id < 100 signed fresh. Identical
    // (numBits, bands, seed) must reproduce the FULL recompute's pair
    // set over corpus ∪ batch (uncapped buckets), restricted to pairs
    // touching the batch — the x49 contract for the embedding family.
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val corpus = emb.filter(col("vec_id") >= 100)
    val batch = emb.filter(col("vec_id") < 100)
    val store = Dedup.embeddingSignatures(corpus, "vec_id", "embedding",
      numBits = 48, bands = 8)
    val inc = Dedup.incrementalEmbeddingNearDuplicates(store, corpus, batch,
      "vec_id", "embedding", numBits = 48, bands = 8, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3)))
    // orientation + provenance (ids are disjoint here, so no revision rows)
    inc.foreach { case (b, d, _, src) =>
      assert(b < 100, s"batch_id must be from the batch: $b")
      if (src == "corpus") assert(d >= 100, s"bad corpus dup: $d")
      else assert(d < 100 && b < d, s"bad batch pair: ($b,$d)")
    }
    graft.BoundedMemo.clearAll()
    val full = Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding",
      threshold = 0.4, numBits = 48, bands = 8, maxBucket = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 100 || b < 100 }
      .map { case (a, b, c) => (math.min(a, b), math.max(a, b), c) }.toSet
    val incNorm = inc
      .map { case (a, b, c, _) => (math.min(a, b), math.max(a, b), c) }.toSet
    assert(incNorm == full,
      s"incremental must equal batch-restricted full run: " +
        s"extra=${(incNorm diff full).take(3)} missing=${(full diff incNorm).take(3)}")
    assert(inc.nonEmpty, "fixture regime must produce at least one pair")
  }

  test("incremental embedding: revision row surfaces once; regime/width guards fail loudly") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val corpus = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val store = Dedup.embeddingSignatures(corpus, "vec_id", "embedding",
      numBits = 48, bands = 8)
    // id 100 re-ingested unchanged: compares against its own stored
    // signature exactly once, cosine 1.0, tagged corpus
    val out = Dedup.incrementalEmbeddingNearDuplicates(store, corpus,
      emb.filter(col("vec_id") === 100), "vec_id", "embedding",
      numBits = 48, bands = 8, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3)))
    assert(out.count { case (b, d, c, src) =>
      b == 100L && d == 100L && c == 1.0 && src == "corpus" } == 1,
      s"revision pair must appear exactly once at cosine 1.0, got ${out.toSeq}")
    // packed store probed wide / wide store probed packed: loud, not
    // silently-empty buckets (the minhash store-width rule)
    val batch = emb.filter(col("vec_id") < 5)
    val ePacked = intercept[IllegalArgumentException] {
      Dedup.incrementalEmbeddingNearDuplicates(store, corpus,
        batch, "vec_id", "embedding", numBits = 80, bands = 8)
    }
    assert(ePacked.getMessage.contains("PACKED"), ePacked.getMessage)
    val wide = Dedup.embeddingSignatures(corpus, "vec_id", "embedding",
      numBits = 80, bands = 8)
    val eWide = intercept[IllegalArgumentException] {
      Dedup.incrementalEmbeddingNearDuplicates(wide, corpus, batch,
        "vec_id", "embedding", numBits = 48, bands = 8)
    }
    assert(eWide.getMessage.contains("WIDE"), eWide.getMessage)
    // wide store banded differently: the one-row band-count guard
    val eBands = intercept[IllegalArgumentException] {
      Dedup.incrementalEmbeddingNearDuplicates(wide, corpus, batch,
        "vec_id", "embedding", numBits = 80, bands = 4)
    }
    assert(eBands.getMessage.contains("band signatures"), eBands.getMessage)
  }

  test("embedding signature store: save -> load -> identical probes; meta travels") {
    // the loadIvfIndex-shaped persistence path: width/banding/seed ride
    // a meta sidecar, so a probe through the loaded HANDLE cannot
    // disagree with what the store was written with
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val corpus = emb.filter(col("vec_id") >= 100)
    val batch = emb.filter(col("vec_id") < 100)
    val dir = graft.TempDirs.createCleaned("graft_sigstore")
    val written = Dedup.saveEmbeddingSignatures(corpus, "vec_id", "embedding",
      dir, numBits = 48, bands = 8)
    assert(written.numBits == 48 && written.bands == 8 && written.seed == 42L)
    val loaded = Dedup.loadEmbeddingSignatures(spark, dir)
    assert(loaded.numBits == 48 && loaded.bands == 8 && loaded.seed == 42L)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    val viaLoaded = norm(Dedup.incrementalEmbeddingNearDuplicates(
      loaded, corpus, batch, "vec_id", "embedding", threshold = 0.4))
    val viaFrame = norm(Dedup.incrementalEmbeddingNearDuplicates(
      Dedup.embeddingSignatures(corpus, "vec_id", "embedding",
        numBits = 48, bands = 8),
      corpus, batch, "vec_id", "embedding", numBits = 48, bands = 8,
      threshold = 0.4))
    assert(viaLoaded == viaFrame,
      s"persisted-store probe must equal in-memory probe: " +
        s"${(viaLoaded diff viaFrame).take(3)} vs ${(viaFrame diff viaLoaded).take(3)}")
  }

  test("minhash signature store: save -> load -> identical probes; shingle size travels") {
    // the saveEmbeddingSignatures shape for the TEXT family: a probe
    // through the loaded handle resolves numHashes AND shingleSize
    // from the meta sidecar — a shingle mismatch is the silent killer
    // (different grams, sagging estimates, vanished duplicates)
    val corpusDocs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val corpus = corpusDocs.filter(col("doc_id") >= 100)
    val batch = corpusDocs.filter(col("doc_id") < 100)
    val dir = graft.TempDirs.createCleaned("graft_mhstore")
    val written = Dedup.saveMinhashSignatures(corpus, "doc_id", "text",
      dir, numHashes = 64, shingleSize = 4)
    assert(written.numHashes == 64 && written.shingleSize == 4)
    val loaded = Dedup.loadMinhashSignatures(spark, dir)
    assert(loaded.numHashes == 64 && loaded.shingleSize == 4)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    val viaLoaded = norm(Dedup.incrementalMinhashNearDuplicates(
      loaded, batch, "doc_id", "text", threshold = 0.5, bands = 16))
    val viaFrame = norm(Dedup.incrementalMinhashNearDuplicates(
      Dedup.minhashSignatures(corpus, "doc_id", "text",
        numHashes = 64, shingleSize = 4),
      batch, "doc_id", "text", threshold = 0.5, numHashes = 64,
      bands = 16, shingleSize = 4))
    assert(viaLoaded.nonEmpty,
      "the testdata batch/corpus split must surface near-dup matches — " +
        "an empty result would make this equality vacuous")
    assert(viaLoaded == viaFrame,
      s"persisted-store probe must equal in-memory probe: " +
        s"${(viaLoaded diff viaFrame).take(3)} vs ${(viaFrame diff viaLoaded).take(3)}")
    // the width guard the handle makes unrepresentable still fires on
    // the raw-frame form: probing the 64-wide store at 128 is loud
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalMinhashNearDuplicates(
        loaded.signatures, batch, "doc_id", "text", threshold = 0.5,
        numHashes = 128, bands = 32, shingleSize = 4).collect()
    }
    assert(e.getMessage.contains("signature store width"))
  }

  test("appendToMinhashSignatures / appendToEmbeddingSignatures: batch signed with the store's meta, corpus untouched") {
    // the sketch members' maintenance paths (r17 verdict #1, the
    // appendToIvfIndex shape): after an append, the loaded store must
    // equal save-over-(corpus ∪ batch) row-for-row — one shared
    // signing expression, parameters resolved from the meta sidecar,
    // so the appended rows cannot drift from the saved ones
    val corpusDocs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val corpus = corpusDocs.filter(col("doc_id") >= 100 && col("doc_id") < 160)
    val dBatch = corpusDocs.filter(col("doc_id") < 20)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    val mhDir = graft.TempDirs.createCleaned("graft_mh_append")
    val mh0 = Dedup.saveMinhashSignatures(corpus, "doc_id", "text",
      mhDir, numHashes = 64, shingleSize = 4)
    val mh1 = Dedup.appendToMinhashSignatures(mh0, mhDir, dBatch,
      "doc_id", "text")
    assert(mh1.numHashes == 64 && mh1.shingleSize == 4,
      "reloaded handle must carry the original meta")
    def mhNorm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    val mhWant = mhNorm(Dedup.minhashSignatures(
      corpus.select(col("doc_id"), col("text")).unionByName(dBatch),
      "doc_id", "text", numHashes = 64, shingleSize = 4))
    assert(mhNorm(mh1.signatures) == mhWant,
      "appended minhash store must equal a fresh save over corpus ∪ batch")
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val vCorpus = emb.filter(col("vec_id") >= 100)
      .select(col("vec_id"), col("embedding"))
    val vBatch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    val emDir = graft.TempDirs.createCleaned("graft_emb_append")
    val em0 = Dedup.saveEmbeddingSignatures(vCorpus, "vec_id", "embedding",
      emDir, numBits = 48, bands = 8)
    val em1 = Dedup.appendToEmbeddingSignatures(em0, emDir, vBatch,
      "vec_id", "embedding")
    assert(em1.numBits == 48 && em1.bands == 8 && em1.seed == 42L)
    def emNorm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emWant = emNorm(Dedup.embeddingSignatures(
      vCorpus.unionByName(vBatch), "vec_id", "embedding",
      numBits = 48, bands = 8))
    assert(emNorm(em1.signatures) == emWant,
      "appended embedding store must equal a fresh save over corpus ∪ batch")
    // probe equivalence through the APPENDED store: a replica of an
    // appended batch vector must find it at cosine 1.0
    val probe = Dedup.incrementalEmbeddingNearDuplicates(em1,
      vCorpus.unionByName(vBatch),
      emb.filter(col("vec_id") === 5)
        .select((col("vec_id") + lit(2000000L)).as("vec_id"),
          col("embedding")),
      "vec_id", "embedding", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(probe.contains((2000005L, 1000005L, 1.0)),
      s"replica must find the appended vector at cosine 1.0: ${probe.toSeq}")
  }

  test("approx distinct: HLL estimate within rsd of the exact column beside it") {
    // x15's self-twin contract: the exact count rides in the SAME
    // output row; nothing previously asserted the estimate tracks it
    // (surfaced by the TwinLedger audit). 5×rsd is generous — HLL++ at
    // rsd 0.02 sits well inside it at these cardinalities.
    val rows = graft.Tables.events(spark, graft.SparkTestSession.sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        count_distinct(col("user_id")).as("exact_users"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, approx, exact) =>
      assert(math.abs(approx - exact) <= math.max(1L, (0.10 * exact).toLong),
        s"$t: approx $approx strays from exact $exact beyond 5x rsd")
    }
  }

  test("simhash: identical docs collide; near-dup signatures are close") {
    // banding (4×16 bits) guarantees candidate recall only for
    // hamming ≤ 3 — the exact-dup pair must surface through it
    val pairs = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Int]("hamming").toLong)).toMap
    assert(pairs((1L, 4L)) == 0L)
    // signature property: one changed token out of 14 moves far fewer
    // bits than unrelated text (~32 expected at random)
    val sigs = docs.select(col("doc_id"),
      Sketches.simhash64(TextAnalysis.tokens(col("text"))).as("sig"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)))
    assert(hamming(sigs(1L), sigs(4L)) == 0)
  }

  test("ngram jaccard verifies LSH candidates exactly") {
    val pairs = Dedup.ngramJaccardNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
  }

  test("sketch expressions are deterministic across evaluations") {
    val sig1 = docs.select(Sketches.minhashSignature(TextAnalysis.tokens(col("text"))))
      .collect().map(_.getSeq[Long](0))
    val sig2 = docs.select(Sketches.minhashSignature(TextAnalysis.tokens(col("text"))))
      .collect().map(_.getSeq[Long](0))
    assert(sig1.toSeq.map(_.toSeq) == sig2.toSeq.map(_.toSeq))
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),  // near 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),  // opposite
    (4L, Array(1.0f, 0.0f, 0.0f, 0.0f))    // duplicate of 0
  ).toDF("vec_id", "embedding")

  test("cosine similarity: exact values via built-in higher-order fns") {
    val sims = vecs.select(col("vec_id"),
      round(VectorMath.cosineSimilarity(col("embedding"),
        lit(Array(1.0, 0.0, 0.0, 0.0))), 4).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(sims(0L) == 1.0 && sims(4L) == 1.0)
    assert(sims(2L) == 0.0 && sims(3L) == -1.0)
    assert(sims(1L) > 0.99)
  }

  test("brute-force top-k ranks by cosine with id tiebreak") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Array(1.0f, 0.0f, 0.0f, 0.0f), k = 3)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq == Seq(0L, 4L, 1L)) // ties 0/4 break by id
  }

  test("embedding near-dups: finds planted duplicate + near pair") {
    val pairs = Dedup.embeddingNearDuplicates(vecs, "vec_id", "embedding",
      threshold = 0.95, numBits = 8, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 4L)))
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 4L)))
  }

  test("wide-band LSH (numBits > 64): regime routing, precision, recall") {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // routing: ≤ 64 bits stays the packed Long (the historical plan
    // every carrier pins); wider widths band per-band signatures
    assert(vecs.select(Dedup.lshSignature(col("embedding"), 48, 8).as("s"))
      .schema("s").dataType == LongType)
    assert(vecs.select(Dedup.lshSignature(col("embedding"), 80, 8).as("s"))
      .schema("s").dataType.isInstanceOf[ArrayType])
    // banding is regime-agnostic downstream: same (…, band, chunk)
    // schema, chunks land in the sized bucket space [0, 2^(bits/bands))
    val chunks = Dedup.lshBandChunks(vecs.select(col("vec_id").as("id"),
      Dedup.lshSignature(col("embedding"), 80, 8).as("sig")), 80, 8)
    assert(chunks.columns.toSeq == Seq("id", "band", "chunk"))
    assert(chunks.schema("chunk").dataType == LongType)
    val rng = chunks.agg(min(col("chunk")), max(col("chunk")),
      countDistinct(col("band"))).head()
    assert(rng.getLong(0) >= 0L && rng.getLong(1) < (1L << 10))
    assert(rng.getLong(2) == 8L)
    // end-to-end through the wide regime. The fixture makes recall
    // DETERMINISTIC at any width: vectors 0/1/4 agree in sign with
    // every Rademacher plane (|0.99·r0| > |0.1·r1|), so their
    // signatures are identical in every band — all three near-dup
    // pairs MUST surface; exact cosine verification makes precision
    // 1.0 by construction (asserted against the brute-force set).
    val pairs = Dedup.embeddingNearDuplicates(vecs, "vec_id", "embedding",
      threshold = 0.95, numBits = 80, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Set((0L, 1L), (0L, 4L), (1L, 4L))
    assert(pairs == exact, s"wide regime pairs $pairs != exact $exact")
    // contract violations are loud: 50-bit chunks exceed MaxChunkBits
    intercept[IllegalArgumentException](
      Dedup.lshSignature(col("embedding"), 100, 2))
  }

  test("lsh ANN includes exact matches and respects k") {
    val top = Similarity.lshTopK(vecs, "vec_id", "embedding",
      Array(1.0f, 0.0f, 0.0f, 0.0f), k = 3, numBits = 8, maxSigHamming = 4)
      .as[(Long, Double)].collect()
    assert(top.nonEmpty && top.length <= 3)
    assert(top.head._1 == 0L && top.head._2 == 1.0)
  }

  test("driver-side signature matches the expression's") {
    val fromExpr = vecs.filter(col("vec_id") === 0)
      .select(Sketches.hyperplaneSignature(col("embedding"), 8)).head().getLong(0)
    val fromDriver = Similarity.signatureOf(Array(1.0f, 0.0f, 0.0f, 0.0f), 8, 42L)
    assert(fromExpr == fromDriver)
  }

  test("language id: stopword voting on handcrafted sentences") {
    val samples = Seq(
      ("en", "the cat is on the mat and it is happy with this"),
      ("de", "der hund ist nicht mit der katze und das ist gut"),
      ("es", "el perro es de la casa y es por el parque"),
      ("fr", "le chien est dans les jardins pour le plaisir du jour"),
      ("und", "xylophone zebra quartz")
    ).toDF("expected", "text")
    val out = TextAnalysis.withLanguage(samples)
      .select("expected", "detected_lang").as[(String, String)].collect()
    out.foreach { case (exp, got) => assert(got == exp, s"expected $exp got $got") }
  }

  test("quality metrics on crafted text") {
    val t = Seq((1L, "The cat! 123 456 789 012 345 678 901 234")).toDF("doc_id", "text")
    val m = TextAnalysis.qualityScore(t).head()
    assert(m.getAs[Double]("digit_ratio") > 0.5)
    assert(m.getAs[Double]("alpha_ratio") < 0.3)
    assert(m.getAs[Double]("quality_score") < 0.5)
    val good = Seq((2L, "The database engine optimizes the query plan with the statistics it has collected for the tables")).toDF("doc_id", "text")
    assert(TextAnalysis.qualityScore(good).head().getAs[Double]("quality_score") > 0.7)
  }

  test("fingerprint is token-order-insensitive") {
    val t = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"), (3L, "alpha beta delta"))
      .toDF("doc_id", "text")
    val fps = t.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("cross-containment: planted train/eval overlap surfaces; eval boilerplate capped") {
    val passage = "the quick brown fox jumps over the lazy dog again and again tonight"
    val boiler = "copyright notice all rights reserved by the benchmark suite"
    val evalDocs = Seq(
      (1L, s"eval question one $passage end"),
      (2L, s"eval question two nothing shared here whatsoever $boiler"),
      (3L, s"eval question three utterly distinct vocabulary choices $boiler"))
      .toDF("doc_id", "text")
    val train = Seq(
      (10L, s"some training text containing $passage verbatim inside"),
      (11L, "unrelated corpus entry with its own disjoint material"))
      .toDF("doc_id", "text")
    // winnowing guarantee, cross-table: a shared substring of length
    // >= window + k - 1 chars must surface at least one common
    // fingerprint — the planted passage is far longer
    val hits = Dedup.crossContainmentCandidates(train, evalDocs, "doc_id", "text",
      minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((10L, 1L)), s"planted overlap must surface, got $hits")
    assert(!hits.exists(_._1 == 11L), s"disjoint train doc must not pair, got $hits")
    // stop-fingerprint cap: boilerplate shared by >maxEvalDocFreq eval
    // docs is dropped from the probe set, so a train doc that only
    // matches boilerplate surfaces nothing...
    val trainBoiler = Seq((20L, s"entry that copied the boilerplate $boiler tail"))
      .toDF("doc_id", "text")
    val capped = Dedup.crossContainmentCandidates(trainBoiler, evalDocs,
      "doc_id", "text", minShared = 1, maxEvalDocFreq = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.isEmpty, s"boilerplate-only matches must be capped, got $capped")
    // ...while the default cap keeps them (positive control)
    val uncapped = Dedup.crossContainmentCandidates(trainBoiler, evalDocs,
      "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((20L, 2L), (20L, 3L)).subsetOf(uncapped), s"got $uncapped")
  }

  test("bloom decontamination: no false negatives vs the join variant; counts exact at tiny fpp") {
    val passage = "the quick brown fox jumps over the lazy dog again and again tonight"
    val evalDocs = Seq(
      (1L, s"eval question one $passage end"),
      (2L, "eval question two nothing shared here whatsoever"))
      .toDF("doc_id", "text")
    val train = Seq(
      (10L, s"some training text containing $passage verbatim inside"),
      (11L, "unrelated corpus entry with its own disjoint material"))
      .toDF("doc_id", "text")
    val flagged = Dedup.bloomDecontaminate(train, evalDocs, "doc_id", "text",
      minMatched = 1, fpp = 1e-6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // superset guarantee: every train doc the JOIN variant pairs must
    // be flagged by the bloom pass (bloom has no false negatives)
    val joinIds = Dedup.crossContainmentCandidates(train, evalDocs, "doc_id", "text",
      minShared = 1).select("train_id").as[Long].collect().toSet
    assert(joinIds.subsetOf(flagged.keySet),
      s"join-variant ids $joinIds must all be bloom-flagged, got ${flagged.keySet}")
    assert(flagged.contains(10L), s"planted overlap must flag, got $flagged")
    // at fpp 1e-6 on this tiny corpus, counts are exact: compare the
    // per-doc matched count against a hand-computed intersection of
    // winnowed fingerprint sets
    def fpSet(text: String): Set[Long] = {
      val df = Seq((0L, text)).toDF("id", "t")
      df.select(explode(array_distinct(
        Sketches.winnowingFingerprint(col("t"), 8, 4))).as("fp"))
        .as[Long].collect().toSet
    }
    val evalUnion = evalDocs.as[(Long, String)].collect().map(r => fpSet(r._2))
      .foldLeft(Set.empty[Long])(_ ++ _)
    val trainRows = train.as[(Long, String)].collect().toMap
    flagged.foreach { case (id, n) =>
      assert(n == (fpSet(trainRows(id)) & evalUnion).size.toLong,
        s"doc $id matched-count must equal the exact fp intersection")
    }
    // disjoint doc: may only appear via fp collisions — none at 1e-6
    assert(!flagged.contains(11L), s"disjoint doc flagged: $flagged")
    // eval-side stop cap applies before the filter is built
    val boiler = "copyright notice all rights reserved by the benchmark suite"
    val eval3 = Seq((1L, s"q one $boiler"), (2L, s"q two $boiler"), (3L, s"q three $boiler"))
      .toDF("doc_id", "text")
    val trainBoiler = Seq((20L, s"entry that copied the boilerplate $boiler tail"))
      .toDF("doc_id", "text")
    assert(Dedup.bloomDecontaminate(trainBoiler, eval3, "doc_id", "text",
      minMatched = 1, maxEvalDocFreq = 1, fpp = 1e-6).count() == 0L)
    // empty eval set (everything capped away) → empty result, schema intact
    val none = Dedup.bloomDecontaminate(train, evalDocs.filter(lit(false)),
      "doc_id", "text")
    assert(none.columns.toSeq == Seq("train_id", "matched_fingerprints"))
    assert(none.count() == 0L)
  }

  test("repetition stats match hand-computed values") {
    val docs = Seq((1L, "a a a b"), (2L, "w x y z"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_tokens") == 4L)
    assert(r1.getAs[Double]("distinct_ratio") == 0.5)
    assert(r1.getAs[Double]("top_token_ratio") == 0.75)
    // bigrams of [a a a b]: "a a","a a","a b" -> 1 - 2/3
    assert(r1.getAs[Double]("dup_bigram_ratio") == 0.3333)
    val r2 = out(2L)
    assert(r2.getAs[Double]("distinct_ratio") == 1.0)
    assert(r2.getAs[Double]("top_token_ratio") == 0.25)
    assert(r2.getAs[Double]("dup_bigram_ratio") == 0.0)
    // single-token doc: one whole-doc "bigram", well-defined ratios
    val r3 = out(3L)
    assert(r3.getAs[Long]("n_tokens") == 1L)
    assert(r3.getAs[Double]("dup_bigram_ratio") == 0.0)
  }

  test("corpus quality suite: green on testdata, catches planted violations") {
    import graft.quality.CorpusQuality
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    def failures(d: org.apache.spark.sql.DataFrame) =
      CorpusQuality.suite(d, emb).filter(col("passed") === 0).count()
    assert(failures(docs) == 0L)
    // plant from LITERAL rows (limit() without order guarantees
    // neither determinism nor containment): a duplicated doc_id, a
    // NULL doc_id, and a bad-lang + inconsistent-n_chars row
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, "alpha beta", "en", "srcA", 10L),
      org.apache.spark.sql.Row(1L, "gamma delta", "en", "srcA", 11L),
      org.apache.spark.sql.Row(null, "epsilon", "en", "srcB", 7L),
      org.apache.spark.sql.Row(9001L, "abc", "xx", "srcX", 99L),
      // the r11-verdict ASCII gate: a BMP non-ASCII doc and an
      // ASTRAL-plane doc (surrogate pair in UTF-16) must both trip
      // text_ascii_only — the named precondition of the anchor/CDC
      // oracle replays. n_chars are code-point counts (Spark length
      // counts code points, not UTF-16 units) so no other check fires
      org.apache.spark.sql.Row(9002L, "café", "fr", "srcY", 4L),
      org.apache.spark.sql.Row(9003L, "ok 😀", "en", "srcY", 4L))
    val corrupt = spark.createDataFrame(rows, docs.schema)
    val out = CorpusQuality.suite(corrupt, emb).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out("documents_nonempty") == ((6L, 1)))
    assert(out("doc_id_unique") == ((1L, 0))) // the NULL id is NOT a dup
    assert(out("doc_id_not_null") == ((1L, 0)))
    assert(out("lang_known") == ((1L, 0)))
    assert(out("n_chars_consistent") == ((1L, 0))) // only the 9001 row lies
    assert(out("text_ascii_only") == ((2L, 0))) // BMP + astral both counted
    assert(failures(corrupt) == 5L)
    // an EMPTY corpus must fail the gate, never NULL past it
    val empty = CorpusQuality.suite(docs.filter(lit(false)), emb).collect()
    empty.foreach(r => assert(!r.isNullAt(1) && !r.isNullAt(2), r.toString))
    assert(failures(docs.filter(lit(false))) == 1L)
  }

  test("ngram novelty matches hand-computed df fractions") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 trigrams: {"a b c" (df 2), "b c d" (df 1)}
    assert(out(1L).getAs[Long]("n_grams") == 2L)
    assert(out(1L).getAs[Double]("novelty_ratio") == 0.5)
    assert(out(1L).getAs[Double]("mean_inv_df") == 0.75)
    // doc 3 shares nothing
    assert(out(3L).getAs[Double]("novelty_ratio") == 1.0)
    assert(out(3L).getAs[Double]("mean_inv_df") == 1.0)
  }

  test("pii scrub replaces emails, ips and phone runs with typed tags") {
    val df = Seq((1L,
      "mail me at john.doe+spam@mail.example.org or call +1 (555) 010-4477 from 192.168.0.12 ok"))
      .toDF("doc_id", "text")
    val s = df.select(TextAnalysis.scrubPii(col("text"))).collect().head.getString(0)
    assert(s == "mail me at <EMAIL> or call <PHONE> from <IP> ok", s)
    // clean text passes through untouched
    val clean = "no personal identifiers in this sentence at all"
    val c = Seq((1L, clean)).toDF("doc_id", "text")
      .select(TextAnalysis.scrubPii(col("text"))).collect().head.getString(0)
    assert(c == clean)
  }

  test("sequence packing: two-phase prefix sum == naive global window; layout-invariant") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val out = Packing.chunkAssignments(docs, "doc_id", "text", budget = 512)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // reference: the naive single-partition window prefix sum
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .withColumn("start", coalesce(sum(col("n")).over(w), lit(0L)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == ref.size)
    ref.foreach { case (id, (n, start)) =>
      val (n2, s2, sc, ec) = out(id)
      assert(n2 == n && s2 == start, s"doc $id: ($n2,$s2) vs ($n,$start)")
      assert(sc == start / 512 && ec == (start + math.max(n, 1) - 1) / 512)
    }
    // layout invariance: a differently-partitioned input yields
    // identical global offsets (range boundaries don't matter)
    val shuffled = Packing.chunkAssignments(
      docs.repartition(7, col("doc_id")), "doc_id", "text", budget = 512)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shuffled == out.map { case (k, v) => k -> v._2 })
    val corpusTokens = ref.values.map(_._1).sum
    // no-gap invariant: exact occupancy fills every chunk but the
    // last to the budget, and clipped slices conserve the total
    val occ = Packing.chunkOccupancy(
      Packing.chunkAssignments(docs, "doc_id", "text", budget = 512), budget = 512)
      .collect()
    val lastChunk = occ.map(_.getLong(0)).max
    occ.filter(_.getLong(0) != lastChunk).foreach { r =>
      assert(r.getLong(2) == 512L, s"chunk ${r.getLong(0)} holds ${r.getLong(2)}")
    }
    assert(occ.map(_.getLong(2)).sum == corpusTokens)
  }

  test("packed chunks: exact budget fill, stream-order text, lossless reconstruction") {
    val fix = Seq(
      (1L, "a b c"),        // 3 tokens
      (2L, "d e f g h i"),  // 6 tokens — spans chunks 0 and 1
      (3L, "j"),            // 1 token
      (4L, "k l m n"))      // 4 tokens — spans chunks 2 and 3
      .toDF("doc_id", "text")
    val chunks = Packing.packedChunks(fix, "doc_id", "text", budget = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // stream = a b c | d e f g h i | j | k l m n  (14 tokens, 4 chunks)
    assert(chunks.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(chunks.map(_._4).toSeq == Seq("a b c d", "e f g h", "i j k l", "m n"),
      s"got ${chunks.map(_._4).toSeq}")
    // every chunk but the last holds exactly the budget
    chunks.dropRight(1).foreach { case (c, _, n, _) => assert(n == 4L, s"chunk $c: $n") }
    assert(chunks.last._3 == 2L)
    // doc spans count once per chunk they touch
    assert(chunks.map(_._2).toSeq == Seq(2L, 1L, 3L, 1L))
    // lossless: concatenating all chunks reproduces the full stream
    assert(chunks.map(_._4).mkString(" ") == "a b c d e f g h i j k l m n")
    // corpus-scale reconstruction against the raw token stream
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val packed = Packing.packedChunks(docs, "doc_id", "text", budget = 512)
      .orderBy(col("chunk")).select("text").as[String].collect().mkString(" ")
    val stream = docs.orderBy(col("doc_id"))
      .select(concat_ws(" ", TextAnalysis.tokens(col("text"))).as("t"))
      .as[String].collect().mkString(" ")
    assert(packed == stream, "packed chunks must reconstruct the token stream")
  }

  test("sliding windows: full coverage, stride overlap, short docs one window") {
    val fix = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b"))                            // shorter than the window
      .toDF("doc_id", "text")
    val w = Packing.slidingWindows(fix, "doc_id", "text", window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = w.filter(_._1 == 1L).sortBy(_._2)
    // starts every `stride`: 0, 3, 6 — consecutive windows share
    // window - stride = 1 token
    assert(d1.map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"), s"got ${d1.toSeq}")
    assert(d1.map(_._4).toSeq == Seq(4, 4, 4))
    // coverage: every token appears in at least one window
    val covered = d1.flatMap(_._3.split(" ")).toSet
    assert((1 to 10).forall(i => covered.contains(s"t$i")))
    // a doc shorter than the window yields exactly one (short) window
    val d2 = w.filter(_._1 == 2L)
    assert(d2.toSeq == Seq((2L, 0, "a b", 2)), s"got ${d2.toSeq}")
    // stride > window is rejected (coverage would gap)
    intercept[IllegalArgumentException] {
      Packing.slidingWindows(fix, "doc_id", "text", window = 4, stride = 5)
    }
  }

  test("int8 quantization: range-bounded, error <= scale/2, cosine preserved, zero-safe") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
      .filter(col("vec_id") < 50)
    val rows = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .withColumn("deq", Similarity.dequantize(col("qvec"), col("scale")))
      .join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
      .collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val q = r.getSeq[Int](r.fieldIndex("qvec")).toSeq
      val deq = r.getSeq[Double](r.fieldIndex("deq")).toSeq
      val v = r.getSeq[Float](r.fieldIndex("embedding")).toSeq.map(_.toDouble)
      assert(q.forall(x => x >= -127 && x <= 127), s"q out of int8 range: $q")
      // element error bound through the dequantize helper:
      // |deq - v| <= scale/2 (+ double eps)
      deq.zip(v).foreach { case (di, vi) =>
        assert(math.abs(di - vi) <= scale / 2 + 1e-9,
          s"error ${math.abs(di - vi)} exceeds scale/2 ${scale / 2}")
      }
      // cosine between original and dequantized survives quantization
      def cos(a: Seq[Double], b: Seq[Double]) = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      if (v.exists(_ != 0.0))
        assert(cos(v, deq) > 0.999, "cosine must survive int8")
    }
    // zero vector: scale 0, all-zero qvec, no division blowup
    val z = Similarity.quantizeInt8(
      Seq((9L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding").head()
    assert(z.getAs[Double]("scale") == 0.0)
    assert(z.getSeq[Int](z.fieldIndex("qvec")).toSeq == Seq(0, 0, 0))
  }

  test("multimodal: deterministic stub features, frame sampling, blob pruning") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val feats = Multimodal.extractFeatures(media, dims = 8).collect()
    assert(feats.length == 30 && feats.forall(_.feature.length == 8))
    // determinism
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 30), dims = 8).collect()
    assert(feats.map(_.feature.toSeq).toSeq == again.map(_.feature.toSeq).toSeq)
    // frame sampling only for video rows
    val frames = Multimodal.sampleFrames(media, n = 4)
    assert(frames.select("media_id").distinct().count() == 10) // 30/3 videos
    // a metadata-only aggregate never touches content: check the
    // executed plan prunes the blob
    val dir = graft.TempDirs.createCleaned("graft_media")
    media.write.mode("overwrite").parquet(dir)
    val summary = spark.read.parquet(dir)
      .groupBy(col("kind"), col("format")).agg(avg(col("width")))
    val readSchema = summary.queryExecution.executedPlan.toString()
    assert(!readSchema.contains("content"), "blob column must be pruned from the scan")
    assert(summary.count() == 3)
  }

  test("video codec: MJPEG-AVI round-trip, true frame dimensions, truncation and corrupt fallback") {
    import java.awt.image.BufferedImage
    // 5 real 48×32 JPEG frames with distinct content, in a real AVI
    val jpegs = (0 until 5).map { f =>
      val img = new BufferedImage(48, 32, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 48)
        img.setRGB(x, y, ((f * 50) << 16) | ((x * 255 / 47) << 8) | (y * 255 / 31))
      Multimodal.ImageCodec.encodeJpeg(img)
    }
    val avi = Multimodal.VideoCodec.encodeAvi(jpegs, 48, 32, fps = 10)
    val got = Multimodal.VideoCodec.frames(avi)
    assert(got.isDefined && got.get.length == 5,
      s"round-trip lost frames: ${got.map(_.length)}")
    // every extracted payload is the EXACT jpeg that went in, and
    // decodes to the true dimensions
    got.get.zip(jpegs).foreach { case (out, in) =>
      assert(out.toSeq == in.toSeq, "frame payload altered by container")
      val img = Multimodal.ImageCodec.decode(out)
      assert(img.exists(i => i.getWidth == 48 && i.getHeight == 32),
        "extracted frame must decode at true dimensions")
    }
    // truncation mid-frame: the intact prefix still parses
    val truncated = Multimodal.VideoCodec.frames(
      avi.take(avi.length - jpegs.last.length / 2))
    assert(truncated.isDefined && truncated.get.length >= 3,
      s"truncated container lost its intact prefix: ${truncated.map(_.length)}")
    // non-AVI bytes: None (callers fall back to the stub)
    assert(Multimodal.VideoCodec.frames(Array.fill(64)(7.toByte)).isEmpty)
    assert(Multimodal.VideoCodec.frames(Array.empty[Byte]).isEmpty)
    assert(Multimodal.VideoCodec.frames(null).isEmpty)
    // sampleFrames surfaces REAL decodable frames for AVI rows and
    // still stub-slices corrupt video rows instead of dropping them
    val rows = Seq(
      Multimodal.MediaRow(1L, "video", "avi", 48, 32, 500L, avi),
      Multimodal.MediaRow(2L, "video", "mp4", 48, 32, 500L,
        Array.fill(64)(9.toByte))).toDS()
    val sampled = Multimodal.sampleFrames(rows, n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2))).toSeq
    val aviFrames = sampled.filter(_._1 == 1L)
    assert(aviFrames.length == 3)
    assert(aviFrames.forall { case (_, _, b) =>
      Multimodal.ImageCodec.decode(b).exists(_.getWidth == 48) })
    assert(sampled.count(_._1 == 2L) == 3, "corrupt video must stub-slice")
    // feature extraction: AVI videos get REAL pixel features — a
    // luminance histogram sums to ~1; the stub's hash features don't
    val feats = Multimodal.extractFeatures(rows, dims = 8)
      .collect().map(f => f.media_id -> f.feature).toMap
    assert(math.abs(feats(1L).map(_.toDouble).sum - 1.0) < 1e-3,
      s"real video features must be a pixel histogram: ${feats(1L).toSeq}")
  }

  test("imageio codec: real PNG decode, true dimensions, real resize round-trip") {
    import java.awt.image.BufferedImage
    // a real 100×60 gradient PNG, built and decoded by the JDK codec
    val img = new BufferedImage(100, 60, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 60; x <- 0 until 100)
      img.setRGB(x, y, ((x * 255 / 99) << 16) | ((y * 255 / 59) << 8))
    val png = Multimodal.ImageCodec.encodePng(img)
    val media = Seq(Multimodal.MediaRow(1L, "image", "png", 100, 60, 0L, png)).toDS()
    // resize: re-encoded bytes are a REAL PNG whose decoded dimensions
    // are the scaled ones (50 wide, aspect-kept 30 high)
    val decoded = Multimodal.ImageCodec.decode(Multimodal.ImageCodec.encodePng(
      Multimodal.ImageCodec.resizeTo(Multimodal.ImageCodec.decode(png).get, 50)))
    assert(decoded.isDefined)
    assert(decoded.get.getWidth == 50 && decoded.get.getHeight == 30)
    // features: a normalized luminance histogram over real pixels
    val feats = Multimodal.extractFeatures(media, dims = 8).collect().head.feature
    assert(feats.length == 8)
    assert(math.abs(feats.map(_.toDouble).sum - 1.0) < 1e-5)
    // ...and identical to the driver-side computation on the same image
    val expected = Multimodal.ImageCodec.features(
      Multimodal.ImageCodec.decode(png).get, 8)
    assert(feats.toSeq == expected.toSeq)
    // corrupt image bytes never fail the task: stub fallback kicks in
    val corrupt = Seq(Multimodal.MediaRow(3L, "image", "png", 64, 64, 0L,
      Array.tabulate[Byte](64)(_.toByte))).toDS()
    val cf = Multimodal.extractFeatures(corrupt, dims = 8).collect().head
    assert(cf.feature.length == 8)
  }

  test("audio codec: real WAV decode, sample-derived features, corrupt fallback") {
    // a 440 Hz 0.5-amplitude mono sine at 8 kHz, encoded and decoded
    // by the JDK's own javax.sound.sampled machinery
    val sr = 8000f
    val n = 8000
    val samples = Array.tabulate(n)(t => 0.5 * math.sin(2 * math.Pi * 440 * t / sr))
    val wav = Multimodal.AudioCodec.encodeWav(samples, sr)
    val pcm = Multimodal.AudioCodec.decode(wav)
    assert(pcm.isDefined)
    assert(pcm.get.samples.length == n && pcm.get.sampleRate == sr)
    // decoded samples match the encoded ones to 16-bit quantization
    assert(samples.indices.forall(i =>
      math.abs(pcm.get.samples(i) - samples(i)) < 1.5 / 32768))
    val feats = Multimodal.AudioCodec.features(pcm.get, 8)
    assert(feats.length == 8)
    // RMS of a 0.5-amplitude sine = 0.5/√2; ZCR of a 440 Hz tone at
    // 8 kHz = 2·440/8000; peak = 0.5 — all properties of the decoded
    // SAMPLES, unreachable by any byte-hash stub
    assert(math.abs(feats(0) - 0.5 / math.sqrt(2)) < 1e-3)
    assert(math.abs(feats(1) - 2 * 440 / 8000.0) < 5e-3)
    assert(math.abs(feats(2) - 0.5) < 1e-2)
    assert(math.abs(feats.drop(3).map(_.toDouble).sum - 1.0) < 1e-5)
    assert(math.abs(Multimodal.AudioCodec.durationMs(pcm.get) - 1000L) <= 1)
    // the distributed path produces the same features as driver-side math
    val media = Seq(Multimodal.MediaRow(1L, "audio", "wav", 0, 0, 1000L, wav)).toDS()
    val distributed = Multimodal.extractFeatures(media, dims = 8).collect().head.feature
    assert(distributed.toSeq == feats.toSeq)
    // synthetic audio rows are REAL WAVs: decodable, duration matches metadata
    val synth = Multimodal.syntheticMedia(spark, 30).filter(_.kind == "audio").collect()
    assert(synth.nonEmpty)
    synth.foreach { r =>
      val p = Multimodal.AudioCodec.decode(r.content)
      assert(p.isDefined, s"media ${r.media_id} should decode as WAV")
      assert(Multimodal.AudioCodec.durationMs(p.get) == r.duration_ms)
    }
    // corrupt bytes fall back to the stub instead of failing the task
    val junk = Array.tabulate[Byte](64)(_.toByte)
    val corrupt = Seq(Multimodal.MediaRow(2L, "audio", "wav", 0, 0, 0L, junk)).toDS()
    val cf = Multimodal.extractFeatures(corrupt, dims = 8).collect().head
    assert(cf.feature.toSeq == Multimodal.FakeCodec.features(junk, 8).toSeq)
  }

  test("typed VectorAvg centroids match the posexplode formulation") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val typed = Similarity.centroidsTyped(emb, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val exploded = Similarity.centroidsExploded(emb, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(typed.keySet == exploded.keySet)
    typed.foreach { case (k, v) => assert(v == exploded(k), s"label $k differs") }
  }

  test("IVF: full-probe equals brute force; low-probe finds planted cluster") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val index = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(index.assignments.count() == emb.count())
    assert(index.assignments.select("cluster").distinct().count() <= 8)
    assert(index.centroids.length == 8)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // probing every cluster is exhaustive -> identical to brute force
    val full = Similarity.ivfTopK(index, query, topK = 5, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(full == brute)
    // one-probe search still finds the query vector itself (cosine 1.0)
    val one = Similarity.ivfTopK(index, query, topK = 5, nprobe = 1)
      .as[(Long, Double)].collect()
    assert(one.head._1 == 0L && one.head._2 == 1.0)
  }

  test("batch top-k: exact path agrees with single-query brute force") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val batch = Similarity.batchTopK(
      emb.filter(col("vec_id") < 3), emb,
      "vec_id", "vec_id", "embedding", "embedding", k = 5)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq
      }
    for (qid <- 0L to 2L) {
      val query = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, k = 5)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == brute, s"query $qid: batch ${batch(qid)} vs brute $brute")
    }
  }

  test("lsh batch top-k: every query recovers itself at rank 1; k respected") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val out = Similarity.lshBatchTopK(
      emb.filter(col("vec_id") < 10), emb,
      "vec_id", "vec_id", "embedding", "embedding", k = 5)
      .collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == (0L until 10L).toSet)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length <= 5)
      // a query vector present in the corpus has an identical
      // signature — it always shares every band bucket with itself
      val first = rows.minBy(_.getAs[Int]("rank"))
      assert(first.getAs[Long]("neighbor_id") == q && first.getAs[Double]("cosine") == 1.0,
        s"query $q should find itself first: ${rows.toSeq}")
    }
  }

  test("embedding near-dup LSH: subset of exact pairs, usable recall") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val exact = {
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      a.join(b, col("id_a") < col("id_b"))
        .filter(VectorMath.cosineSimilarity(col("vec_a"), col("vec_b")) >= 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    assert(exact.nonEmpty)
    val lsh = Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding",
      threshold = 0.4, numBits = 32, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact cosine verifies every candidate -> precision is 1.0
    assert(lsh.subsetOf(exact), s"false positives: ${lsh diff exact}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("x201 default-path near-dup: precision-exact and twin-consistent with explicit x22") {
    // the driver carrier for the PRODUCTION defaults (AutoBits width,
    // default bands/cap): rows-only at the driver, so the contract
    // lives here — (1) precision 1.0 vs the exact pair set (the
    // verify filter is exact cosine, auto width or not), (2) pairs
    // shared with the explicit x22 form carry the identical exact
    // cosine (candidates differ by sketch width, verified values
    // can't), (3) the survivor algebra over the auto pairs removes
    // only ids that appear in a verified pair
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val exact = {
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(VectorMath.cosineSimilarity(col("vec_a"), col("vec_b")), 4)
            .as("cosine"))
        .filter(col("cosine") >= 0.4)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    }
    val autoPairs = Dedup.embeddingNearDuplicates(
      emb, "vec_id", "embedding", threshold = 0.4)
    val auto = autoPairs.as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(auto.nonEmpty)
    assert(auto.keySet.subsetOf(exact.keySet),
      s"false positives under the defaults: ${auto.keySet diff exact.keySet}")
    auto.foreach { case (k, cos) =>
      assert(cos == exact(k), s"verified cosine for $k drifted: $cos vs ${exact(k)}")
    }
    val x22Form = Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding",
      threshold = 0.4, numBits = 48, bands = 8)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    (auto.keySet intersect x22Form.keySet).foreach { k =>
      assert(auto(k) == x22Form(k),
        s"shared pair $k must carry identical exact cosine on both widths")
    }
    val ids = emb.select(col("vec_id")).as[Long].collect().toSet
    val surv = Dedup.survivorsFromPairs(emb, "vec_id", autoPairs)
      .select("vec_id").as[Long].collect().toSet
    val removed = ids diff surv
    val paired = auto.keySet.flatMap(k => Set(k._1, k._2))
    assert(removed.subsetOf(paired),
      s"survivor algebra removed ids with no verified pair: ${removed diff paired}")
  }

  test("CorpusCounts: memoized per input files, overwrite re-counts, empty floors at 1") {
    // the r14-advice memo all auto-sizing sentinels share: a re-read
    // of unchanged files serves the memo, and an overwrite under the
    // same PATH changes the files in the key, so it re-counts with no
    // clear call
    val dir = graft.TempDirs.createCleaned("graft_cc_spec") + "/t.parquet"
    spark.range(10).toDF("id").write.mode("overwrite").parquet(dir)
    assert(graft.CorpusCounts.of(spark.read.parquet(dir)) == 10L)
    val (again, err) = graft.MemosSpec.stderrOf(graft.CorpusCounts.of(spark.read.parquet(dir)))
    assert(again == 10L && err.contains("[memo] corpus-count hit key="),
      s"a re-read of unchanged files must serve the memoized count:\n$err")
    spark.range(20).toDF("id").write.mode("overwrite").parquet(dir)
    assert(graft.CorpusCounts.of(spark.read.parquet(dir)) == 20L,
      "an overwrite must re-count")
    // sizing formulas divide/log by the count — empty frames floor at 1
    import spark.implicits._
    assert(graft.CorpusCounts.of(Seq.empty[Long].toDF("id")) == 1L)
  }

  test("AutoBits sizes the LSH width from the corpus — the measured defense by default") {
    // at the r13 ×10 rehearsal corpus (20k vectors, 8 bands) the
    // sizing rule picks the 8-bit-chunk defense that measured 76 s
    // CPU vs the fixed 6-bit path's 1212 s — production callers now
    // get it without hand-wiring lshBitsFor (the r13 verdict nit)
    assert(Dedup.lshBitsFor(20000L, 8) == 64,
      "rehearsal corpus must auto-size to 8-bit chunks")
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    // explicit widths pass through resolution untouched
    assert(Dedup.resolvedNumBits(emb, 48, 8) == 48)
    val sized = Dedup.lshBitsFor(emb.count(), 8)
    assert(Dedup.resolvedNumBits(emb, Dedup.AutoBits, 8) == sized)
    // the auto path returns exactly the equivalent explicit call's
    // pairs (and shares its memo entry — resolution precedes lookup)
    val auto = Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding",
      threshold = 0.4, numBits = Dedup.AutoBits, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val explicit = Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding",
      threshold = 0.4, numBits = sized, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto == explicit, "auto-sized pairs must equal explicit-width pairs")
  }

  test("AutoK sizes SemDeDup's cluster count from the corpus (k grows or the join is quadratic)") {
    // k ≈ corpus/target keeps Σ|cluster|² linear in the corpus; the
    // flat-k clamp is the named expiry (per-centroid plan literals)
    assert(Dedup.kForCorpus(2000L) == 2)
    assert(Dedup.kForCorpus(60000L) == 60)
    assert(Dedup.kForCorpus(1000000L) == Dedup.MaxAutoK,
      "past the expiry the clamp holds and callers compose hierarchically")
    assert(Dedup.kForCorpus(10L) == 1, "a tiny corpus is one all-pairs cluster")
    intercept[IllegalArgumentException](Dedup.kForCorpus(0L))
    intercept[IllegalArgumentException](Dedup.kForCorpus(100L, targetCluster = 1))
    // the auto path returns exactly the equivalent explicit call's
    // survivors (x65 pins the explicit form; this pins the default)
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val sizedK = Dedup.kForCorpus(emb.count())
    val auto = Dedup.semanticClusterDedup(emb, "vec_id", "embedding",
      k = Dedup.AutoK, iters = 2, threshold = 0.3)
      .select("vec_id").as[Long].collect().toSet
    val explicit = Dedup.semanticClusterDedup(emb, "vec_id", "embedding",
      k = sizedK, iters = 2, threshold = 0.3)
      .select("vec_id").as[Long].collect().toSet
    assert(auto == explicit, "auto-sized survivors must equal explicit-k survivors")
  }

  test("clusterPlanFor: flat below the clamp, two-level beyond, loud at the two-level expiry") {
    // below the clamp the resolution is EXACTLY kForCorpus (the x65
    // family's pinned sizing) — no behavior change for existing users
    assert(Dedup.clusterPlanFor(2000L) == Dedup.FlatK(2))
    assert(Dedup.clusterPlanFor(256000L) == Dedup.FlatK(Dedup.MaxAutoK),
      "the clamp boundary itself stays flat")
    // one past the boundary: the quadratic must NOT resume at n²/256 —
    // two levels sized k1 ≈ √raw keep every level under the clamp
    Dedup.clusterPlanFor(256001L) match {
      case Dedup.TwoLevelK(k1, k2) =>
        assert(k1 <= Dedup.MaxAutoK && k2 <= Dedup.MaxAutoK)
        assert(k1.toLong * k2 >= 257, "leaves must cover the unclamped count")
      case other => fail(s"expected TwoLevelK past the clamp, got $other")
    }
    assert(Dedup.clusterPlanFor(2000L, targetCluster = 5) ==
      Dedup.TwoLevelK(20, 20), "the target knob moves the boundary (spec economy)")
    // the named two-level expiry throws loudly instead of quietly
    // reverting to a quadratic
    intercept[IllegalArgumentException](
      Dedup.clusterPlanFor(100000000L, targetCluster = 2))
    intercept[IllegalArgumentException](Dedup.clusterPlanFor(0L))
  }

  test("hierarchical k-means degenerates EXACTLY to flat at k1=1 (the composition is sound)") {
    // one top cluster makes the sub-training init (k lowest-id
    // vectors), cosine rounding, tie direction and centroid rounding
    // identical to the flat trainer — so the broadcast-data fold
    // argmax and the plan-literal greatest argmax must agree
    // bit-for-bit on every (id, cluster, cosine) row
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val flat = Similarity.kmeansAssign(emb, "vec_id", "embedding",
      k = 4, iters = 2)
      .as[(Long, Int, Double)].collect().toSet
    val hier = Similarity.hierarchicalKmeansAssign(emb, "vec_id", "embedding",
      k1 = 1, k2 = 4, iters = 2)
      .as[(Long, Int, Double)].collect().toSet
    assert(hier == flat,
      s"degenerate two-level must equal flat: ${(hier diff flat).take(3)} vs ${(flat diff hier).take(3)}")
    // and the survivor algebra downstream agrees too (the r14 verdict's
    // "flat and hierarchical survivors agree below the clamp")
    val flatSurv = Dedup.semanticClusterDedup(emb, "vec_id", "embedding",
      k = 2, iters = 2, threshold = 0.3)
      .select("vec_id").as[Long].collect().toSet
    val hierSurv = Dedup.semanticClusterDedupTwoLevel(emb, "vec_id", "embedding",
      k1 = 1, k2 = 2, iters = 2, threshold = 0.3)
      .select("vec_id").as[Long].collect().toSet
    assert(hierSurv == flatSurv)
  }

  test("logreg model: train+apply equals the fused path; save -> load -> identical scores") {
    // the signature-store discipline applied to the MODEL: logRegTrain
    // + logRegApply share logRegFeatures/logRegTrainOn with the fused
    // logRegScores, so scoring the TRAINING corpus through the split
    // path must reproduce the fused scores bit-for-bit; and a model
    // probed through the persisted handle resolves numBuckets/eta/
    // iters from the meta sidecar (a numBuckets mismatch is the
    // shingle-mismatch class: silent bucket drift, sagging scores)
    val corpus = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
      .withColumn("is_target", col("source") === "src0")
    val fused = graft.ops.Classifier.logRegScores(
      corpus, "doc_id", "text", "is_target", numBuckets = 32, iters = 2)
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    val model = graft.ops.Classifier.logRegTrain(
      corpus, "doc_id", "text", "is_target", numBuckets = 32, iters = 2)
    val split = graft.ops.Classifier.logRegApply(model, corpus, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(split.nonEmpty && split == fused,
      s"split path drifted from fused: ${(split.toSet diff fused.toSet).take(3)}")
    val dir = graft.TempDirs.createCleaned("graft_lrmodel")
    val written = graft.ops.Classifier.saveLogRegModel(model, dir)
    assert(written.numBuckets == 32 && written.eta == 0.5 && written.iters == 2)
    val loaded = graft.ops.Classifier.loadLogRegModel(spark, dir)
    assert(loaded.numBuckets == 32 && loaded.eta == 0.5 && loaded.iters == 2)
    val viaLoaded = graft.ops.Classifier.logRegApply(loaded, corpus, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(viaLoaded == fused, "persisted-model scores must equal in-session")
  }

  test("replica-union oracle premise: max DISTINCT-pair cosine sits far below 0.95") {
    // the known-answer oracles of x201/x204/x205/x206/x34 rest on ONE
    // data premise: no distinct embedding pair reaches the production
    // 0.95 threshold, so the only verified pairs on a replica union
    // are the planted ones (measured 0.479/0.513/0.601 at
    // sf0.001/0.01/0.1 when the carriers were written). If the driver
    // ever regenerates testdata with closer vectors, those carriers
    // would hash-red mysteriously — this spec fails FIRST with the
    // named reason. Brute-force all pairs at the test SF (500 vectors
    // → 125k pairs, trivial).
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val maxCos = a.join(b, col("ia") < col("ib"))
      .agg(max(VectorMath.cosineSimilarity(col("va"), col("vb"))))
      .head().getDouble(0)
    assert(maxCos < 0.7,
      s"max distinct-pair cosine $maxCos is creeping toward the 0.95 " +
        "known-answer threshold — the replica-union oracles " +
        "(x201/x204/x205/x206/x34) assume only planted replicas verify; " +
        "re-derive their oracles before trusting a hash-red on them")
    // x208's embedding_sig ok-condition (n === 1: exactly one corpus
    // hit per replica at cosine 1.0) additionally assumes no two
    // DISTINCT corpus embeddings are bit-identical — a strictly
    // stronger premise than maxCos < 0.7 guards only if that guard
    // ever loosens, and the failure mode (n = 2 → hash-red with no
    // named cause) deserves its own named assertion (r17 advice).
    val dupVecPairs = a.join(b, col("ia") < col("ib") &&
        col("va") === col("vb")).count()
    assert(dupVecPairs == 0L,
      s"$dupVecPairs distinct embedding pairs are bit-identical — " +
        "x208's embedding_sig probe (n === 1 corpus hit per replica) " +
        "would hash-red; re-derive its ok-condition for regenerated " +
        "testdata before trusting that failure")
    // x216's NEGATION construction additionally needs the LOWER tail:
    // cos(-v, w) = -cos(v, w), so a negated corpus vector is novel at
    // 0.95 only while no distinct pair sits at or below -0.95
    // (measured min -0.508/-0.549/-0.557 at sf0.001/0.01/0.1 when the
    // carrier was written). Same failure mode, same named reason.
    val minCos = a.join(b, col("ia") < col("ib"))
      .agg(min(VectorMath.cosineSimilarity(col("va"), col("vb"))))
      .head().getDouble(0)
    assert(minCos > -0.7,
      s"min distinct-pair cosine $minCos is creeping toward the -0.95 " +
        "negation bound — x216's streaming embedding admission assumes " +
        "negated corpus vectors are novel; re-derive its oracle before " +
        "trusting a hash-red on it")
  }

  test("replica-union oracle premise: distinct trigram counts sit far below the round-up boundary") {
    // the TEXT-side twin of the cosine premise above (r16 advice):
    // the x42/x118 threshold-1.0 known answers rest on round(J, 4)
    // never rounding a NON-identical gram-set pair up to 1.0. For
    // distinct sets, J <= (U-1)/U, which reaches the 0.99995
    // round-up boundary only at union size U >= 20000 — so
    // max-per-doc distinct trigrams < 5000 (U < 10000 for any pair)
    // keeps every non-identical pair at J <= 0.9999, with 2x slack
    // before the bound even bends. The corpus sits ~100 today; if
    // regenerated testdata ships long documents, this fails FIRST
    // with the named reason instead of x42/x118 hash-redding
    // mysteriously. Same gram definition as the operator
    // (array_distinct over TextAnalysis.wordNgrams).
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val maxGrams = docs.select(size(array_distinct(
        TextAnalysis.wordNgrams(col("text"), 3))).as("n"))
      .agg(max(col("n"))).head().getInt(0)
    assert(maxGrams < 5000,
      s"max per-doc distinct trigram count $maxGrams is creeping toward " +
        "the 20000-union round(J,4)=1.0 boundary — the x42/x118 " +
        "threshold-1.0 oracles assume only identical gram sets verify; " +
        "re-derive their oracles before trusting a hash-red on them")
  }

  test("mid-threshold AutoBits recall floor: the >=0.9 near-dup band through the full operator (r16 verdict #4)") {
    // the six r16 conversions pin the hash-green embedding carriers
    // at threshold-0.95/1.0 replica known answers; the MID-threshold
    // regime production sweeps actually run stayed fixture-pinned
    // only. SCALE_PROBE_r17_x22recall.json measured it through the
    // full operator (AutoBits banding + bucket cap + verify) at x10:
    // recall over ALL >=0.4 exact pairs is structurally partial
    // (0.41 — barely-0.4 pairs sit where band collision probability
    // is low by design; LSH at threshold t is a near-dup sieve, not
    // a mid-similarity enumerator), but the >=0.9 near-dup band —
    // what the operator exists to find — measured 1451/1451. This
    // pins that floor at spec scale on the same ScaleData mix (x4 =
    // 2000 vectors, ~30% exact copies + ~30% eps-0.01 near-dups per
    // replica), against brute-force exact pairs.
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val big = graft.ScaleData.scaleEmbeddings(
      emb.select(col("vec_id"), col("embedding"), col("label")), 4)
      .select(col("vec_id"), col("embedding"))
      .persist()
    val a = big.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = big.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val hi = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos",
        round(VectorMath.cosineSimilarity(col("va"), col("vb")), 4))
      .filter(col("cos") >= 0.9)
      .select(col("id_a"), col("id_b")).persist()
    val nHi = hi.count()
    assert(nHi > 100, s"fixture must plant a real near-dup band, got $nHi")
    val lsh = Dedup.embeddingNearDuplicates(big, "vec_id", "embedding",
      threshold = 0.4, numBits = Dedup.AutoBits, bands = 8)
      .select(col("id_a"), col("id_b"))
    val hits = hi.join(lsh, Seq("id_a", "id_b"), "leftsemi").count()
    val recall = hits.toDouble / nHi
    assert(recall >= 0.98,
      s"near-dup-band recall $recall ($hits/$nHi) fell below the 0.98 " +
        "floor (probe measured 1.0 at x10) — a banding, sizing, or " +
        "cap regression in the mid-threshold regime")
    big.unpersist(blocking = false); hi.unpersist(blocking = false)
  }

  test("two-level argmax survives a top cluster SHORTER than k2 (ANSI element_at skew)") {
    // a skewed corpus where one top Lloyd cluster captures fewer than
    // k2 members gets an init sub-array of min(k2, |cluster|) — the
    // codegen'd argmax builds one arm per MAX sub count across tops,
    // and element_at is ANSI-strict in Spark 4 (out-of-bounds THROWS),
    // so before the size-gate fix every row of the short cluster
    // crashed the job (r16 review finding). Fixture: 8 vectors near
    // e1 and 2 near e2 (ids 0/1 seed the two top inits), k2 = 3 —
    // the e2 cluster's array is 2 long, forcing arm j = 2 OOB.
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0.01f, 0f, 0f), 2L -> Array(1f, 0.02f, 0f, 0f),
      3L -> Array(1f, 0.03f, 0f, 0f), 4L -> Array(1f, 0.04f, 0f, 0f),
      5L -> Array(1f, 0.05f, 0f, 0f), 6L -> Array(1f, 0.06f, 0f, 0f),
      7L -> Array(1f, 0.07f, 0f, 0f), 9L -> Array(1f, 0.08f, 0f, 0f),
      1L -> Array(0.01f, 1f, 0f, 0f), 8L -> Array(0.02f, 1f, 0f, 0f))
    val df = vecs.toDF("vec_id", "embedding")
    val rows = Similarity.hierarchicalKmeansAssign(
      df, "vec_id", "embedding", k1 = 2, k2 = 3, iters = 2)
      .as[(Long, Int, Double)].collect()
    assert(rows.length == 10, s"every row must be assigned, got ${rows.length}")
    val byId = rows.map(r => r._1 -> r._2).toMap
    // the e2 pair shares a TOP (near-identical, not identical — each
    // seeds its own sub-centroid, so leaves differ) and every sub
    // index stays inside ITS OWN 2-long array (sub = cluster % k2 < 2)
    assert(byId(1L) / 3 == byId(8L) / 3,
      s"e2 pair split across tops: ${byId(1L)} vs ${byId(8L)}")
    Seq(1L, 8L).foreach { id =>
      assert(byId(id) % 3 < 2,
        s"short cluster's sub index out of its array: id $id -> ${byId(id)}")
    }
    rows.foreach { case (id, _, cos) =>
      assert(!cos.isNaN && cos > 0.9, s"id $id assigned at cosine $cos")
    }
  }

  test("AutoK engages the two-level path above the clamp and its survivors are sound") {
    // 3 exact replicas of the 500-vector corpus on disjoint id ranges:
    // 1500 rows at targetCluster = 2 resolve to 750 clusters > the
    // 256 clamp — the same code path a 300k-doc corpus takes at the
    // default target, at spec cost. Identical vectors always land in
    // the same leaf (the assignment is a pure function of the
    // vector), so each replica triple collapses to its min id and the
    // survivor set is EXACTLY the original ids (intra-corpus max
    // pairwise cosine ≈ 0.5 < the 0.95 threshold — x22's calibration).
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val big = (0 until 3).map(r =>
        emb.select((col("vec_id") + lit(r * 10000L)).as("vec_id"),
          col("embedding")))
      .reduce(_.unionByName(_))
    val origIds = emb.select(col("vec_id")).as[Long].collect().toSet
    val plan = Dedup.clusterPlanFor(3L * origIds.size, targetCluster = 2)
    assert(plan == Dedup.TwoLevelK(28, 27), s"got $plan")
    val surv = Dedup.semanticClusterDedup(big, "vec_id", "embedding",
      k = Dedup.AutoK, iters = 2, threshold = 0.95, targetCluster = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(surv == origIds,
      s"each replica triple must collapse to its min id: extra=${(surv diff origIds).take(5)} missing=${(origIds diff surv).take(5)}")
    // identical to the explicit two-level call (resolution, not
    // behavior, is what AutoK adds)
    val explicit = Dedup.semanticClusterDedupTwoLevel(big, "vec_id", "embedding",
      k1 = 28, k2 = 27, iters = 2, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(surv == explicit)
    // per-id assignment consistency (the x205 carrier's contract):
    // leaf assignment is a pure function of the VECTOR, so the three
    // replicas of every vector must share one leaf — this is what
    // makes x205's known-answer oracle sound (a replica triple split
    // across leaves would never pair and the extra ids would survive)
    val leaves = Similarity.hierarchicalKmeansAssign(big, "vec_id", "embedding",
      k1 = 28, k2 = 27, iters = 2)
      .select(col("vec_id"), col("cluster")).as[(Long, Int)].collect()
      .groupBy { case (id, _) => id % 10000L }
    leaves.foreach { case (base, rows) =>
      assert(rows.map(_._2).distinct.length == 1,
        s"replicas of $base split across leaves: ${rows.toSeq}")
    }
  }

  test("sharded IVF: full probe ≡ flat full probe ≡ exact (the clamp composition is lossless)") {
    assert(Similarity.ivfShardsFor(1000L) == 1, "below the expiry the flat index stands")
    assert(Similarity.ivfShardsFor(
      Similarity.MaxTrainK.toLong * Similarity.MaxTrainK + 1) == 2)
    intercept[IllegalArgumentException](Similarity.ivfShardsFor(0L))
    intercept[IllegalArgumentException](
      Similarity.ivfIndexSharded(null, "vec_id", "embedding", numShards = -3))
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    // 3 shards, 4 lists each, nprobe = 4 = full probe per shard
    val sharded = Similarity.ivfIndexSharded(emb, "vec_id", "embedding",
      numShards = 3, k = 4, iters = 2)
    assert(sharded.shards.length == 3)
    val viaShards = Similarity.ivfShardedBatchTopK(sharded, queries,
      "vec_id", "embedding", topK = 5, nprobe = 4)
      .as[(Long, Long, Int, Double)].collect().toSet
    val flat = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 4, iters = 2)
    val viaFlat = Similarity.ivfBatchTopK(flat, queries,
      "vec_id", "embedding", topK = 5, nprobe = 4)
      .as[(Long, Long, Int, Double)].collect().toSet
    val exact = Similarity.batchTopK(queries, emb,
      "vec_id", "vec_id", "embedding", "embedding", k = 5)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(viaShards == exact,
      s"sharded full-probe must be exact: ${(viaShards diff exact).take(3)} vs ${(exact diff viaShards).take(3)}")
    assert(viaFlat == exact, "flat full-probe stays exact (x33's pinned contract)")
    // a one-row query frame merges to the single-query exact answer
    val one = emb.filter(col("vec_id") === 0)
    val q = one.select("embedding").as[Seq[Float]].head().toArray
    val singleSharded = Similarity.ivfShardedBatchTopK(sharded, one,
      "vec_id", "embedding", topK = 5, nprobe = 4)
      .orderBy(col("rank")).select(col("neighbor_id"), col("cosine"))
      .as[(Long, Double)].collect().toSeq
    val singleExact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(singleSharded == singleExact)
  }

  test("AutoShards engages past the boundary knob; auto == explicit shard count") {
    // the rehearsal knob (r15 verdict #2): ivfShardsFor's production
    // boundary is MaxTrainK² ≈ 16.7M vectors — never reachable
    // locally — so the AUTO path is exercised through the SAME code
    // with the boundary lowered (ivfIndexShardedWithBoundary; the
    // public form delegates with the production constant)
    assert(Similarity.ivfShardsFor(8000L, 4096L) == 2)
    assert(Similarity.ivfShardsFor(4096L, 4096L) == 1)
    assert(Similarity.ivfShardsFor(16385L, 4096L) == 5)
    intercept[IllegalArgumentException](Similarity.ivfShardsFor(100L, 0L))
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    // 500 vectors over a 256-vector boundary: AutoShards resolves 2
    val auto = Similarity.ivfIndexShardedWithBoundary(emb, "vec_id",
      "embedding", Similarity.AutoShards, 4, iters = 2,
      trainSample = 4096, perShard = 256L)
    assert(auto.numShards == 2,
      s"auto path must resolve 2 shards past the knob, got ${auto.numShards}")
    // and the auto-resolved build IS the explicit-2-shard build: same
    // id-hash split, same per-shard models, identical probes
    val explicitIdx = Similarity.ivfIndexSharded(emb, "vec_id", "embedding",
      numShards = 2, k = 4, iters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    def probes(ix: Similarity.ShardedIvfIndex) =
      Similarity.ivfShardedBatchTopK(ix, queries, "vec_id", "embedding",
        topK = 5, nprobe = 4).as[(Long, Long, Int, Double)].collect().toSet
    assert(probes(auto) == probes(explicitIdx),
      "auto-resolved and explicit shard builds must probe identically")
  }

  test("auto-sizing sentinels reject negative widths/ks loudly (r14 advice)") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    intercept[IllegalArgumentException](
      Dedup.resolvedNumBits(emb, -8, 8))
    intercept[IllegalArgumentException](
      Dedup.semanticClusterDedup(emb, "vec_id", "embedding", k = -2))
    intercept[IllegalArgumentException](
      Similarity.ivfIndex(emb, "vec_id", "embedding", k = -4))
  }

  test("AutoLists sizes the IVF list count at sqrt(corpus), clamped at the driver bound") {
    assert(Similarity.ivfListsFor(100L) == 10)
    assert(Similarity.ivfListsFor(2000L) == 45)
    assert(Similarity.ivfListsFor(1000000000L) == Similarity.MaxTrainK,
      "past the clamp, shard the corpus — centroids are plan literals")
    intercept[IllegalArgumentException](Similarity.ivfListsFor(0L))
    // auto index ≡ explicit index: same assignments, same probe result
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val sized = Similarity.ivfListsFor(emb.count())
    val auto = Similarity.ivfIndex(emb, "vec_id", "embedding",
      k = Similarity.AutoLists, iters = 2)
    val explicit = Similarity.ivfIndex(emb, "vec_id", "embedding",
      k = sized, iters = 2)
    assert(auto eq explicit,
      "auto resolution precedes the memo lookup, so both calls share one index")
  }

  test("top tokens: frequency-ranked vocabulary with tie-break") {
    val t = Seq((1L, "b a a"), (2L, "a b c")).toDF("doc_id", "text")
    val top = TextAnalysis.topTokens(t, "text", k = 2)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("a", 3L), ("b", 2L)))
    // ties break alphabetically: c and d both once -> c first
    val t2 = Seq((1L, "d c")).toDF("doc_id", "text")
    assert(TextAnalysis.topTokens(t2, "text", k = 1)
      .as[(String, Long)].collect().toSeq == Seq(("c", 1L)))
  }

  test("duplicate clusters: transitive pairs collapse, components stay separate") {
    // chain 1-2, 2-3 plus the separate pair 10-11: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // a longer chain exercises multiple propagation rounds
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.duplicateClusters(chain, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(1L) && labels.size == 9)
  }

  test("LSH-fed semantic dedup: survivors ⊇ exact-pair survivors, near-complete recall") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
      .filter(col("vec_id") < 200).select(col("vec_id"), col("embedding"))
    // exact composition (the x29 shape): all-pairs cosine edges
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    val exactPairs = a.join(b, col("id_a") < col("id_b"))
      .filter(round(VectorMath.cosineSimilarity(col("vec_a"), col("vec_b")), 4) >= 0.3)
      .select("id_a", "id_b")
    val exactDrops = Dedup.duplicateClusters(exactPairs, "id_a", "id_b")
      .filter(col("id") =!= col("cluster_id")).select(col("id")).as[Long].collect().toSet
    val allIds = emb.select("vec_id").as[Long].collect().toSet
    val exactSurvivors = allIds -- exactDrops
    // LSH-fed composition at the same threshold: precision 1 ⇒ its
    // edge set ⊆ the exact edge set ⇒ clusters refine ⇒ every exact
    // survivor (a cluster minimum, minimal in any sub-cluster) stays.
    // (At cosine 0.3 — barely above random — hyperplane collision
    // probability per 6-bit band is only ~0.05, so recall is LOW here
    // by construction; the algebra is what this threshold checks.)
    val lshSurvivors = Dedup.semanticDedupSurvivors(
      emb, "vec_id", "embedding", threshold = 0.3, numBits = 48, bands = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(exactSurvivors.subsetOf(lshSurvivors),
      s"lost exact survivors: ${exactSurvivors -- lshSurvivors}")
    // in the sketch's operating regime (high cosine ⇒ near-collinear
    // vectors ⇒ bands collide) the compositions nearly coincide:
    // 4-bit bands at cosine ≥ 0.4 give ~0.8 per-edge recall, and the
    // hyperplanes are seeded — this is deterministic, not flaky
    def exactSurvAt(th: Double): Set[Long] = {
      val pairs = a.join(b, col("id_a") < col("id_b"))
        .filter(round(VectorMath.cosineSimilarity(col("vec_a"), col("vec_b")), 4) >= th)
        .select("id_a", "id_b")
      val drops = Dedup.duplicateClusters(pairs, "id_a", "id_b")
        .filter(col("id") =!= col("cluster_id")).select(col("id")).as[Long].collect().toSet
      allIds -- drops
    }
    val exactHi = exactSurvAt(0.4)
    val lshHi = Dedup.semanticDedupSurvivors(
      emb, "vec_id", "embedding", threshold = 0.4, numBits = 32, bands = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(exactHi.subsetOf(lshHi), s"lost: ${exactHi -- lshHi}")
    val drops = allIds.size - exactHi.size
    val extra = lshHi.size - exactHi.size
    assert(extra <= math.max(2, drops / 2),
      s"$extra extra survivors vs $drops exact drops — recall collapsed")
  }

  test("fuzzy text dedup: survivors ⊇ exact-pair survivors (survivor algebra)") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val allIds = docs.select("doc_id").as[Long].collect().toSet
    // exact all-pairs trigram-Jaccard survivors at the same threshold
    val g = docs.select(col("doc_id"),
      array_distinct(TextAnalysis.wordNgrams(col("text"), 3)).as("grams"))
    // re-spread the nested-loop streamed side (the x43 fix): ~125k
    // pair intersections would otherwise run on one task
    val a = Parallelism.ensure(g).select(col("doc_id").as("id_a"), col("grams").as("ga"))
    val b = g.select(col("doc_id").as("id_b"), col("grams").as("gb"))
    val pairs = a.join(org.apache.spark.sql.functions.broadcast(b),
      col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("uni", size(array_union(col("ga"), col("gb"))))
      .filter(round(when(col("uni") > 0,
        col("inter").cast("double") / col("uni")).otherwise(0.0), 4) >= 0.7)
      .select("id_a", "id_b")
    val dropIds = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("cluster_id")).select("id").as[Long].collect().toSet
    val exactSurvivors = allIds -- dropIds
    // the LSH-fed pipeline: every edge is a VERIFIED Jaccard >= 0.7,
    // so its edge set refines the exact one — exact survivors must
    // all survive; extras are bounded by sketch recall
    val fuzzy = Dedup.textDedupSurvivors(docs, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(exactSurvivors.subsetOf(fuzzy), s"lost: ${exactSurvivors -- fuzzy}")
    assert(dropIds.nonEmpty, "corpus should contain planted near-dups")
    val extra = fuzzy.size - exactSurvivors.size
    assert(extra <= math.max(2, dropIds.size / 2),
      s"$extra extra survivors vs ${dropIds.size} exact drops — recall collapsed")
  }

  test("LSH canonical selection: every exact keep-best keeper survives the sketch path") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    // exact all-pairs clusters at the same threshold (the x43 shape)
    val g = docs.select(col("doc_id"),
      array_distinct(TextAnalysis.wordNgrams(col("text"), 3)).as("grams"))
    val a = Parallelism.ensure(g).select(col("doc_id").as("id_a"), col("grams").as("ga"))
    val b = g.select(col("doc_id").as("id_b"), col("grams").as("gb"))
    val pairs = a.join(org.apache.spark.sql.functions.broadcast(b),
      col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("uni", size(array_union(col("ga"), col("gb"))))
      .filter(round(when(col("uni") > 0,
        col("inter").cast("double") / col("uni")).otherwise(0.0), 4) >= 0.7)
      .select("id_a", "id_b")
    val exactKeep = Dedup.keepBestPerCluster(docs, "doc_id", "n_chars",
      Dedup.duplicateClusters(pairs, "id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    // LSH edges are a verified SUBSET of the exact edges, so LSH
    // clusters refine exact ones — and an exact cluster's best beats
    // every member of whichever sub-cluster it lands in, so it must
    // survive; extras are split-off sub-clusters' bests
    val lshPairs = Dedup.ngramJaccardNearDuplicates(
      docs, "doc_id", "text", threshold = 0.7, shingleSize = 3)
      .select(col("id_a"), col("id_b"))
    val lshKeep = Dedup.keepBestPerCluster(docs, "doc_id", "n_chars",
      Dedup.duplicateClusters(lshPairs, "id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    assert(exactKeep.subsetOf(lshKeep), s"lost: ${exactKeep -- lshKeep}")
    val nDocs = docs.count()
    val exactDrops = nDocs - exactKeep.size
    assert(exactDrops > 0, "corpus should contain planted near-dups")
    val extra = lshKeep.size - exactKeep.size
    assert(extra <= math.max(2, exactDrops / 2),
      s"$extra extra keepers vs $exactDrops exact drops — recall collapsed")
  }

  test("duplicate clusters: non-convergence throws instead of returning split clusters") {
    // a path graph's diameter is its length — even with pointer
    // jumping (reach ~2^rounds) a 200-node chain CANNOT converge in
    // 2 rounds and must surface the failure (a silent return would be
    // split clusters)
    val longChain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.duplicateClusters(longChain, "id_a", "id_b", maxIters = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    // the same deep chain succeeds in O(log diameter) rounds — 10
    // cover diameter 200 only because of the jump (plain propagation
    // would need ~200)
    val ok = Dedup.duplicateClusters(longChain, "id_a", "id_b", maxIters = 10)
      .as[(Long, Long)].collect().toMap
    assert(ok.size == 200 && ok.values.toSet == Set(1L))
  }

  test("duplicate clusters: the caller's session conf is untouched, labels unchanged") {
    // the loop sets no conf: the caller's conf must read the same
    // before and after, whatever it had set
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    // a fresh pair list per case (offset ids): the label memo would
    // otherwise answer the second call without running the loop
    for ((set, off) <- Seq((None, 0L), (Some("true"), 100L))) {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .map { case (a, b) => (a + off, b + off) }.toDF("id_a", "id_b")
      set.foreach(spark.conf.set(key, _))
      try {
        val before = spark.conf.getAll
        val got = Dedup.duplicateClusters(pairs, "id_a", "id_b")
        assert(spark.conf.getAll == before, s"conf moved with $key=$set")
        assert(got.sparkSession eq spark, "labels belong to the caller's session")
        assert(got.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L,
          3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
          .map { case (i, c) => (i + off, c + off) })
      } finally spark.conf.unset(key)
    }
  }

  test("duplicate clusters: two builds from two threads on one session equal a serial run") {
    // the operator sets no session conf, so concurrent consumers of
    // one session cannot see each other's settings: two builds over
    // different pair lists, started together from two threads, must
    // return exactly the labels a serial run does. Fresh id ranges per
    // run, so the label memo answers nothing and every run iterates.
    def pairLists(off: Long) = Seq(
      (1L until 40L).map(i => (i + off, i + 1 + off)) ++ Seq((100L + off, 101L + off)),
      (1L until 25L).map(i => (2 * i + off, 2 * i + 2 + off)) ++
        Seq((3L + off, 5L + off), (7L + off, 9L + off)))
      .map(_.toDF("id_a", "id_b"))
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.duplicateClusters(df, "id_a", "id_b").as[(Long, Long)].collect().toMap
    val serial = pairLists(1000L).map(labels)
    val start = new java.util.concurrent.CountDownLatch(1)
    val futures = pairLists(0L).map { df =>
      scala.concurrent.Future { start.await(); labels(df) }(
        scala.concurrent.ExecutionContext.global)
    }
    start.countDown()
    val concurrent = futures.map(scala.concurrent.Await.result(_,
      scala.concurrent.duration.Duration(5, "min")))
    val shifted = serial.map(_.map { case (i, c) => (i - 1000L, c - 1000L) })
    assert(concurrent == shifted)
    assert(concurrent.head.values.toSet == Set(1L, 100L))
    assert(concurrent(1).values.toSet == Set(2L, 3L, 7L))
  }

  test("sampling strata ceiling: row-scoped stratum column fails loudly, not with a driver OOM") {
    // > MaxStrata distinct strata (a doc_id-like column): the
    // map-driven operators gate on the driver-side map itself
    val big = spark.range(Sampling.MaxStrata + 10L)
      .select(col("id"), col("id").cast("string").as("stratum"))
    val shares = (0 until Sampling.MaxStrata + 1)
      .map(i => s"s$i" -> 0.5).toMap
    val e2 = intercept[IllegalArgumentException] {
      Sampling.rebalanceToTarget(big, "stratum", "id", shares) }
    assert(e2.getMessage.contains("MaxStrata"))
    val e3 = intercept[IllegalArgumentException] {
      Sampling.upsampleToTarget(big, "stratum", "id", shares) }
    assert(e3.getMessage.contains("MaxStrata"))
  }

  test("hash-stratified sample: fractions within tolerance, stable under relayout") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val byLang = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val fr = Map("en" -> 0.5, "de" -> 0.1)
    val s1 = Sampling.stratifiedByHash(docs, "lang", "doc_id", fr)
    val counts = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts.keySet.subsetOf(Set("en", "de"))) // unlisted strata dropped
    for ((lang, frac) <- fr; total <- byLang.get(lang)) {
      val got = counts.getOrElse(lang, 0L).toDouble / total
      assert(math.abs(got - frac) < 0.15, s"$lang kept $got of expected $frac")
    }
    // membership survives a relayout — the property sampleBy lacks
    val ids = s1.select("doc_id").as[Long].collect().toSet
    val again = Sampling.stratifiedByHash(docs.repartition(7), "lang", "doc_id", fr)
      .select("doc_id").as[Long].collect().toSet
    assert(again == ids)
  }

  test("bigram log-prob: NULL text contributes no grams to the corpus model") {
    val withNull = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val without = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat")).toDF("doc_id", "text")
    val a = TextAnalysis.bigramLogProb(withNull, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    val b = TextAnalysis.bigramLogProb(without, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    // the null doc vanishes (no gram rows) and does NOT shift the
    // model's total/vocab scalars for the surviving docs
    assert(a == b)
  }

  test("sessionization: gap splits sessions, boundary event extends the session") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ts = (m: Int) => new java.sql.Timestamp(base.getTime + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0),
      (1L, ts(40), 4.0),                    // exactly 30 min after ts(10): EXTENDS the session
      (1L, ts(71), 8.0),                    // 11:11, 31 min after 10:40 -> new session
      (2L, ts(5), 9.0))                     // other user: own session
      .toDF("user_id", "ts", "value")
    val got = Sessionize.sessionStats(ev, "user_id", "ts", "value")
      .orderBy(col("user_id"), col("session_start"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, ts(0), 3L, 7.0),
      (1L, ts(71), 1L, 8.0),
      (2L, ts(5), 1L, 9.0)))
  }

  test("stratified sample: per-stratum fractions within tolerance, deterministic") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val byLang = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val sampled = Sampling.stratified(docs, "lang", Map("en" -> 0.5, "de" -> 0.1))
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(sampled.keySet.subsetOf(Set("en", "de"))) // unlisted strata dropped
    for ((lang, frac) <- Seq("en" -> 0.5, "de" -> 0.1); total <- byLang.get(lang)) {
      val got = sampled.getOrElse(lang, 0L).toDouble / total
      assert(math.abs(got - frac) < 0.15, s"$lang kept $got of expected $frac")
    }
    // seeded -> identical on re-run
    val again = Sampling.stratified(docs, "lang", Map("en" -> 0.5, "de" -> 0.1))
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(again == sampled)
  }

  test("hash split: disjoint, complete, and stable under repartitioning") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val (train, holdout) = Sampling.hashSplit(docs, "doc_id", 10)
    val trainIds = train.select("doc_id").as[Long].collect().toSet
    val holdIds = holdout.select("doc_id").as[Long].collect().toSet
    assert((trainIds intersect holdIds).isEmpty)
    assert(trainIds.size + holdIds.size == docs.count())
    assert(holdIds.nonEmpty && trainIds.size > holdIds.size)
    // the property randomSplit lacks: membership survives a relayout
    val (_, holdoutRepart) = Sampling.hashSplit(docs.repartition(7), "doc_id", 10)
    assert(holdoutRepart.select("doc_id").as[Long].collect().toSet == holdIds)
  }

  test("bigram log-prob: normal text outscores gibberish under the corpus model") {
    val docs = Seq(
      (1L, "the cat sat on the mat near the hat"),
      (2L, "the rat sat on the cat near the bat"),
      (3L, "zqxj wvkp qzzx jjqw xkvz pqjx")) // charset the corpus barely uses
      .toDF("doc_id", "text")
    val scored = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(scored.size == 3)
    assert(scored(1L) > scored(3L) && scored(2L) > scored(3L),
      s"gibberish must score lowest: $scored")
    // all log-probs are negative (probabilities < 1)
    scored.values.foreach(v => assert(v < 0))
  }

  test("tf-idf: corpus-rare repeated term tops its document") {
    val docs = Seq(
      (1L, "spark spark spark runs the engine the engine"),
      (2L, "the engine runs well and the plan is good"),
      (3L, "a good plan runs the good engine")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "spark" appears 3x in doc 1 and nowhere else -> max tf-idf there
    assert(top(1L) == "spark")
    // terms in every doc (df = N) have tf-idf 0 -> never top
    assert(top(2L) != "the" && top(3L) != "the")
  }

  test("IVF batch ANN: full probe equals exact batch top-k; low probe finds self") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val index = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("query_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val full = rows(Similarity.ivfBatchTopK(index, queries,
      "vec_id", "embedding", topK = 5, nprobe = 8))
    val exact = rows(Similarity.batchTopK(queries, emb,
      "vec_id", "vec_id", "embedding", "embedding", k = 5))
    assert(full == exact)
    val one = Similarity.ivfBatchTopK(index, queries,
      "vec_id", "embedding", topK = 5, nprobe = 1).collect()
    val firsts = one.filter(_.getAs[Int]("rank") == 1)
    assert(firsts.length == 5)
    firsts.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id")
        && r.getAs[Double]("cosine") == 1.0)
    }
  }

  test("IVF-PQ: full probe + full refine equals exact; tight refine keeps recall") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val index = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
    val pq = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, k = 8, iters = 1)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("query_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val n = emb.count().toInt
    // contract: probe everything + refine everything ≡ brute force —
    // ADC only ORDERS the candidate cut, the emitted ranking is exact
    val full = rows(Similarity.ivfPqBatchTopK(index, pq, queries,
      "vec_id", "embedding", topK = 5, nprobe = 8, refine = n))
    val exact = rows(Similarity.batchTopK(queries, emb,
      "vec_id", "vec_id", "embedding", "embedding", k = 5))
    assert(full == exact)
    // ADC candidate cut: a 20-candidate refine still recovers most of
    // the exact top-5 (deterministic on the fixed test corpus), and
    // every query finds itself at rank 1 (its own code distance is
    // minimal by construction)
    val cut = rows(Similarity.ivfPqBatchTopK(index, pq, queries,
      "vec_id", "embedding", topK = 5, nprobe = 8, refine = 20))
    val exactSet = exact.map(t => (t._1, t._2)).toSet
    val hit = cut.map(t => (t._1, t._2)).count(exactSet)
    assert(hit >= (0.6 * exact.size).toInt, s"recall too low: $hit/${exact.size}")
    cut.filter(_._3 == 1).foreach { case (q, nb, _, cos) =>
      assert(nb == q && cos == 1.0)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqBatchTopK(index, pq, queries, "vec_id", "embedding",
        topK = 10, nprobe = 2, refine = 5)
    }
  }

  test("kmeans: distributed Lloyd groups directions, memoizes the model") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f)),
      (4L, Array(0.1f, 0.9f, 0.0f)),
      (5L, Array(0.0f, 0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(vecs, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    // init = the 3 lowest-id (axis) vectors; each satellite joins its axis
    assert(out(0L)._1 == out(3L)._1)
    assert(out(1L)._1 == out(4L)._1)
    assert(out(2L)._1 == out(5L)._1)
    assert(Set(out(0L)._1, out(1L)._1, out(2L)._1) == Set(0, 1, 2))
    out.values.foreach { case (_, cos) => assert(cos > 0.9) }
    // model memo: the second training for the same input+params is a hit
    val c1 = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
    val c2 = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
    assert(c1 eq c2)
  }

  test("ANN training collects are contract-bounded: oversize k/sample refused") {
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // the driver-side training state must not silently scale with a
    // caller-passed parameter: ceilings refuse before any collect
    intercept[IllegalArgumentException] {
      Similarity.ivfIndex(vecs, "vec_id", "embedding",
        k = 2, iters = 1, trainSample = Similarity.MaxTrainSample + 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfIndex(vecs, "vec_id", "embedding",
        k = Similarity.MaxTrainK + 1, iters = 1,
        trainSample = Similarity.MaxTrainSample)
    }
    intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
        k = Similarity.MaxTrainK + 1, iters = 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(vecs, "vec_id", "embedding",
        m = 2, k = Similarity.MaxTrainK + 1, iters = 1)
    }
    // in-contract params still train (ceilings are ceilings, not caps
    // on normal use)
    val c = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      k = 2, iters = 1)
    assert(c.length == 2)
  }

  test("kmeans: an emptied cluster keeps its previous centroid") {
    // init duplicates (1,0) into both centroids; every vector ties and
    // goes to the higher index, so cluster 0 empties on round 1 and
    // must KEEP (1,0) — which then wins back the x-axis vectors in the
    // final assignment
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      k = 2, iters = 1)
    assert(centroids(0).toSeq == Seq(1.0, 0.0)) // kept, not zeroed
    val out = Similarity.kmeansAssign(vecs, "vec_id", "embedding", k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(0L) == 0 && out(1L) == 0 && out(2L) == 1)
  }

  test("cluster-balanced sample: caps each cluster at the lowest ids") {
    val assigned = Seq(
      (10L, 0), (11L, 0), (12L, 0), (13L, 0),
      (20L, 1), (21L, 1),
      (30L, 2)
    ).toDF("vec_id", "cluster")
    val kept = Sampling.clusterBalanced(assigned, "vec_id", "cluster", maxPerCluster = 2)
      .select("cluster", "vec_id").as[(Int, Long)].collect().toSet
    assert(kept == Set((0, 10L), (0, 11L), (1, 20L), (1, 21L), (2, 30L)))
  }

  test("corpus drift: identical groups diverge by zero, shifted group dominates") {
    val corpus = Seq(
      ("a", "alpha beta gamma delta"),
      ("b", "alpha beta gamma delta"),
      ("c", "omega omega omega omega")
    ).toDF("src", "text")
    val kl = TextAnalysis.corpusDrift(corpus, "src", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // a and b have the same distribution -> identical (and small) KL;
    // c's tokens are disjoint from the rest -> strictly larger
    assert(kl("a") == kl("b"))
    assert(kl("c") > kl("a"))
    assert(kl.values.forall(_ >= 0.0)) // KL is non-negative
    val tot = TextAnalysis.corpusDrift(corpus, "src", "text")
      .agg(sum("n_tokens")).head().getLong(0)
    assert(tot == 12L) // every token counted exactly once
  }

  test("duplicated spans: overlapping grams merge, hash-keyed == text-keyed") {
    val shared = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (1L, s"$shared unique tail for doc one"),
      (2L, s"different head text here $shared"),
      (3L, "no duplicated content in this document at all beyond short words"),
      (4L, "tiny doc") // < n tokens: no grams, still reported
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(corpus, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // the 10-token shared passage yields 3 overlapping 8-gram starts
    // in each doc, which must merge into ONE 10-token span
    assert(out(1L)._2 == 10L && out(1L)._3 == 1L)
    assert(out(2L)._2 == 10L && out(2L)._3 == 1L)
    assert(out(3L) == ((11L, 0L, 0L, 0.0)))
    assert(out(4L) == ((2L, 0L, 0L, 0.0)))
    val hashed = Dedup.duplicatedSpans(corpus, "doc_id", "text", n = 8,
      hashGrams = true)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(hashed == out)
  }

  test("encoding anomalies: replacement/control/mojibake counted, clean flagged") {
    val rows = Seq(
      (1L, "perfectly clean ascii text"),
      (2L, "lossy � decode � here"),
      (3L, "binary\u0001leak\u0007tab\tok"),          // tab is NOT an anomaly
      (4L, "mojibake quote â€œtextâ€ end"),      // two 'â€' markers
      (5L, "naïve café résumé")                        // non-ascii but clean
    ).toDF("doc_id", "text")
    val out = TextAnalysis.encodingAnomalies(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getInt(5), r.getBoolean(6))).toMap
    assert(out(1L) == ((0, 0, 0, true)))
    assert(out(2L) == ((2, 0, 0, false)))
    assert(out(3L) == ((0, 2, 0, false)))
    assert(out(4L)._3 == 2 && !out(4L)._4)
    assert(out(5L) == ((0, 0, 0, true)))
    val ratios = TextAnalysis.encodingAnomalies(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(ratios(1L) == 0.0 && ratios(5L) > 0.0)
  }

  test("product quantization: init encodes itself exactly, training reduces error") {
    val rnd = new scala.util.Random(7)
    // two tight blobs per subspace half, plus the k init vectors
    val vecs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i, Array.tabulate(8)(d => base + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val init = Similarity.pqTrain(vecs, "vec_id", "embedding", m = 2, k = 4, iters = 0)
    assert(init.m == 2 && init.k == 4 && init.subDim == 4)
    // with zero training, the k init vectors quantize to their own code
    val codes0 = Similarity.pqEncode(vecs.filter(col("vec_id") < 4),
      "vec_id", "embedding", init)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    codes0.foreach { case (id, cs) =>
      assert(cs.forall(_ == id.toInt), s"vec $id -> $cs") }
    // Lloyd training must not increase total reconstruction error
    def reconErr(model: Similarity.PqModel): Double = {
      val rows = Similarity.pqEncode(vecs, "vec_id", "embedding", model)
        .join(vecs, "vec_id").collect()
      rows.map { r =>
        val recon = Similarity.pqDecode(r.getSeq[Int](1).toArray, model)
        val orig = r.getSeq[Float](2)
        orig.zip(recon).map { case (o, c) => (o - c) * (o - c) }.sum
      }.sum
    }
    val trained = Similarity.pqTrain(vecs, "vec_id", "embedding", m = 2, k = 4, iters = 2)
    assert(reconErr(trained) <= reconErr(init) + 1e-6)
    // memo: same input+params returns the same model instance
    assert(trained eq
      Similarity.pqTrain(vecs, "vec_id", "embedding", m = 2, k = 4, iters = 2))
    // m must divide dims
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(vecs, "vec_id", "embedding", m = 3, k = 2, iters = 0)
    }
  }

  test("winnowing: shared passage guarantees common fingerprints; containment found") {
    val boiler = "the quick brown fox jumps over the lazy dog while the band plays on"
    val passage = Seq(
      (1L, s"unique opening words here. $boiler. and a unique ending one"),
      (2L, s"totally different start text! $boiler? plus another distinct tail"),
      (3L, "no overlap with anything else whatsoever in this particular string")
    ).toDF("doc_id", "text")
    val fps = passage.select(col("doc_id"),
      Sketches.winnowingFingerprint(col("text"), k = 8, window = 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // the shared 68-char passage >> window+k-1 = 11 chars -> must share fingerprints
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    val pairs = Dedup.containmentCandidates(passage, "doc_id", "text", minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("count-min sketch: est >= exact always; tight sketch is exact on small vocab") {
    val df = Seq.tabulate(50)(i =>
      (i.toLong, s"alpha beta beta gamma${i % 5} alpha alpha")).toDF("id", "text")
    val r = TextAnalysis.tokenFrequencySketch(df, "text", k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // CMS never underestimates
    assert(r.values.forall { case (exact, est, over) =>
      est >= exact && over == est - exact })
    // exact counts are right (alpha 3/doc, beta 2/doc)
    assert(r("alpha")._1 == 150L && r("beta")._1 == 100L)
    // eps=0.001 → width 2719 counters >> 7 distinct tokens: no
    // collisions, the estimate IS the count
    assert(r.values.forall { case (exact, est, _) => est == exact })
    // upper bound est <= exact + eps*N holds for every probe
    val n = 50L * 6 // total token stream length
    assert(r.values.forall { case (exact, est, _) => est <= exact + (0.001 * n).ceil.toLong })
  }

  test("source overlap: exact jaccard of vocabulary sets per pair") {
    val df = Seq(
      (1L, "a", "alpha beta gamma"),
      (2L, "a", "beta delta"),
      (3L, "b", "beta gamma epsilon"),
      (4L, "c", "zeta eta")
    ).toDF("doc_id", "src", "text")
    val got = TextAnalysis.sourceOverlap(df, "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // vocab: a={alpha,beta,gamma,delta} b={beta,gamma,epsilon} c={zeta,eta}
    assert(got(("a", "b")) == ((2L, 4L, 3L, 0.4))) // {beta,gamma} / 5
    // disjoint pairs never appear (inner join on token)
    assert(!got.contains(("a", "c")) && !got.contains(("b", "c")))
    // pairs are emitted once, ordered source_a < source_b
    assert(got.keySet.forall { case (x, y) => x < y })
  }

  test("source overlap: hashed token keys == string-keyed reference (sf0.001)") {
    // the r20-opt hash conversion (tokens shuffle as xxhash64 longs)
    // must reproduce the string-keyed counts exactly on real data —
    // a string-keyed reference built inline from the same tokenizer
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = TextAnalysis.sourceOverlap(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val toks = docs
      .select(col("source").as("grp"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0 && col("grp").isNotNull)
      .distinct().localCheckpoint(true)
    val counts = toks.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val ref = toks.select(col("grp").as("source_a"), col("token"))
      .join(toks.select(col("grp").as("source_b"), col("token")), Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(counts.select(col("grp").as("source_a"), col("n").as("n_a")), Seq("source_a"))
      .join(counts.select(col("grp").as("source_b"), col("n").as("n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got.nonEmpty && got == ref)
  }

  test("winsorized stats: clamping tames the outlier, raw mean keeps it") {
    val df = (Seq.fill(9)(10.0) :+ 1000.0).zipWithIndex
      .map { case (v, i) => (i.toLong, "g", v) }
      .toDF("id", "grp", "v")
    val r = graft.quality.CorpusQuality
      .winsorizedStats(df, "grp", "v", lo = 0.05, hi = 0.95)
      .head()
    assert(r.getAs[Long]("n") == 10L)
    // raw mean is dragged to 109; the p95 clamp (interpolated between
    // 10 and 1000 at rank 8.55: 10 + .55*990 = 554.5) halves the pull
    assert(r.getAs[Double]("mean_raw") == 109.0)
    assert(r.getAs[Double]("p_lo") == 10.0)
    assert(r.getAs[Double]("p_hi") == 554.5)
    assert(r.getAs[Double]("mean_winsorized") == 64.45) // (9*10 + 554.5)/10
    // winsorized stddev well below the raw one (which is ~313)
    assert(r.getAs[Double]("stddev_winsorized") < 200.0)
  }

  test("replayable mixture: rarest keeps all, flattening monotone, relayout-stable") {
    val rows = (1L to 1000L).map(i => (i, "big")) ++
      (1001L to 1200L).map(i => (i, "mid")) ++ (1201L to 1250L).map(i => (i, "small"))
    val df = rows.toDF("id", "src")
    val half = Sampling.replayableMixture(df, "src", "id")
      .groupBy("src").count().as[(String, Long)].collect().toMap
    // rarest stratum: bucket² < 2^64 always → keeps everything exactly
    assert(half("small") == 50L)
    // α=1/2 keeps √(n_min/n): big expects 1000·√(.05)≈224, mid
    // 200·√(.25)=100 (scramble → tolerance), so the kept share falls
    // monotonically with stratum size
    assert(math.abs(half("big") - 224L) <= 60, half.toString)
    assert(math.abs(half("mid") - 100L) <= 30, half.toString)
    assert(half("big") / 1000.0 < half("mid") / 200.0, half.toString)
    // membership is a pure function of (id, stratum sizes): stable
    // across relayout, and re-running changes nothing
    val ids = Sampling.replayableMixture(df, "src", "id").select("id")
      .as[Long].collect().toSet
    val again = Sampling.replayableMixture(df.repartition(7), "src", "id")
      .select("id").as[Long].collect().toSet
    assert(again == ids)
    // null strata dropped (count join is inner over non-null strata)
    val withNull = df.union(Seq((9999L, null.asInstanceOf[String])).toDF("id", "src"))
    assert(Sampling.replayableMixture(withNull, "src", "id")
      .filter(col("src").isNull).count() == 0)
  }

  test("semdedup: within-cluster exact pairs dedup, min id survives") {
    // k=2 Lloyd init = the two lowest-id vectors → axes; 3/4 are
    // exact copies of 1/2, 5 sits at 45° (cos .707 to everything —
    // below threshold, survives; tie in the argmax goes to the
    // HIGHER cluster index, replay semantics)
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 0f)), (4L, Array(0f, 1f)),
      (5L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val kept = Dedup.semanticClusterDedup(vecs, "vec_id", "embedding",
      k = 2, iters = 2, threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 5L))
    // cluster-scoped = no recall loss INSIDE a cluster: survivors
    // match the all-pairs run restricted to co-clustered pairs
    val assigned = Similarity.kmeansAssign(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .select(col("vec_id"), col("cluster")).as[(Long, Int)].collect().toMap
    assert(assigned(1L) == assigned(3L) && assigned(2L) == assigned(4L))
  }

  test("interval overlap join == naive non-equi join, exactly once per pair") {
    val base = 1700000000L
    def iv(n: Int, stride: Int, lenStep: Int) = (0 until n).map { i =>
      (i.toLong, base + i * stride * 60L, base + (i * stride + 1 + (i % 4) * lenStep) * 60L)
    }
    val left = iv(25, 7, 13).toDF("lid", "ls", "le")
      .select(col("lid"), to_timestamp(col("ls")).as("ls"), to_timestamp(col("le")).as("le"))
    val right = iv(30, 5, 17).toDF("rid", "rs", "re")
      .select(col("rid"), to_timestamp(col("rs")).as("rs"), to_timestamp(col("re")).as("re"))
    val naive = left.join(right,
        col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(naive.nonEmpty && naive.size < 25 * 30)
    for (bin <- Seq(300L, 3600L, 86400L)) {
      val got = Intervals.overlapJoin(left, right, "ls", "le", "rs", "re", bin)
        .select("lid", "rid").as[(Long, Long)].collect().toSeq
      // same SET and same MULTIPLICITY (each pair exactly once — the
      // max-start-bin emission filter replaces distinct)
      assert(got.sorted == naive.sorted, s"bin=$bin")
    }
    // compound equi-keys: candidates never cross the key
    val lk = left.withColumn("grp", (col("lid") % 2).cast("int"))
    val rk = right.withColumn("grp", (col("rid") % 2).cast("int"))
    val keyedNaive = lk.join(rk,
        lk("grp") === rk("grp") && col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    val keyedGot = Intervals.overlapJoin(lk, rk, "ls", "le", "rs", "re",
        3600L, keys = Seq("grp"))
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(keyedGot.sorted == keyedNaive.sorted)
  }

  test("session intervals: end is the last event, gap boundary extends") {
    val ev = Seq(
      (7L, base(0), 1.0), (7L, base(10), 1.0),   // one session [0, 10]
      (7L, base(40), 1.0),                        // exactly gap → extends
      (7L, base(120), 1.0)                        // new session
    ).toDF("user_id", "ts", "value")
      .select(col("user_id"), to_timestamp(col("ts")).as("ts"), col("value"))
    val got = Sessionize.sessionIntervals(ev, "user_id", "ts")
      .orderBy("session_start")
      .select(unix_timestamp(col("session_start")), unix_timestamp(col("session_end")),
        col("n_events"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((base(0), base(40), 3L), (base(120), base(120), 1L)))
  }

  private def base(min: Long): Long = 1700000000L + min * 60L

  test("image dHash near-dups: planted resized re-encodes surface, corrupt bytes drop") {
    val corpus = Multimodal.syntheticImageCorpus(spark, 32)
    val pairs = Multimodal.imageNearDuplicates(corpus, maxHamming = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every i ≡ 1 (mod 4) row is a 48-px re-encode of row i-1 — the
    // perceptual hash must recover all planted pairs
    val planted = (1L until 32L by 4).map(i => (i - 1, i)).toSet
    assert(planted.subsetOf(pairs), s"missed planted pairs: ${planted -- pairs}")
    // distinct smooth patterns must NOT collapse: false-positive
    // pairs stay a small minority of the planted set
    assert(pairs.size <= planted.size + 3, s"too many pairs: $pairs")
    // dHash survives its own encode/decode round trip bit-exactly
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(y => (0 until 16).foreach(x =>
      img.setRGB(x, y, ((x * 16 + y * 7) % 256) * 0x010101)))
    val h0 = Multimodal.ImageCodec.dHash(img)
    val decoded = Multimodal.ImageCodec.decode(
      Multimodal.ImageCodec.encodePng(img)).get
    assert(Multimodal.ImageCodec.dHash(decoded) == h0)
    // undecodable image rows are dropped, not stub-hashed (a fake
    // hash would manufacture near-dup pairs between corrupt blobs)
    val corrupt = Seq(
      Multimodal.MediaRow(98L, "image", "png", 8, 8, 0L, Array[Byte](1, 2, 3)),
      Multimodal.MediaRow(99L, "image", "png", 8, 8, 0L, Array[Byte](1, 2, 4)))
      .toDS()
    assert(Multimodal.imageSignatures(corrupt).count() == 0)
  }

  test("mixture schedule: every prefix holds each source's exact weighted share") {
    val rows = (1L to 400L).map(i => (i, "big")) ++
      (401L to 500L).map(i => (i, "small"))
    val df = rows.toDF("id", "src")
    val sched = Sampling.mixtureSchedule(df, "src", "id")
      .orderBy("schedule_key", "src", "id")
      .select("src", "schedule_key").as[(String, Double)].collect()
    assert(sched.length == 500)
    // by construction rank/sqrt(n) <= K iff rank <= K*sqrt(n): the
    // prefix up to any key K holds exactly floor(K*sqrt(n_s)) rows of
    // each source — a 4x source appears exactly 2x as often, with no
    // bursts, at EVERY cut point
    for (k <- Seq(2.0, 5.0, 10.0)) {
      val prefix = sched.filter(_._2 <= k + 1e-9)
      val bySrc = prefix.groupBy(_._1).view.mapValues(_.length).toMap
      assert(bySrc.getOrElse("big", 0) == math.floor(k * math.sqrt(400)).toInt, s"k=$k $bySrc")
      assert(bySrc.getOrElse("small", 0) == math.floor(k * math.sqrt(100)).toInt, s"k=$k $bySrc")
    }
  }

  test("compaction: file count targets on-disk bytes, data intact, idempotent") {
    val dir = graft.TempDirs.createCleaned("graft_compact")
    val frag = s"$dir/frag"
    val out = s"$dir/out"
    val df = spark.range(5000).toDF("id")
    df.repartition(40).write.parquet(frag)
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).length
    assert(parquetFiles(frag) == 40)
    val bytes = new java.io.File(frag).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target half the data per file → exactly 2 output files
    val n = Layout.compact(spark, frag, out, targetFileBytes = (bytes + 1) / 2)
    assert(n == 2 && parquetFiles(out) == 2)
    assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
      (0L until 5000L))
    // re-compacting compacted output with a big target is one file
    val out2 = s"$dir/out2"
    assert(Layout.compact(spark, out, out2, targetFileBytes = 1L << 30) == 1)
  }

  test("ivf index survives save/load: identical probes, cluster-pruned scan") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val built = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
    val dir = graft.TempDirs.createCleaned("graft_ivf")
    Similarity.saveIvfIndex(built, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir, "vec_id", "embedding")
    assert(loaded.centroids.length == built.centroids.length)
    assert(loaded.centroids.map(_.toSeq).toSeq == built.centroids.map(_.toSeq).toSeq)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val a = Similarity.ivfTopK(built, query, topK = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Similarity.ivfTopK(loaded, query, topK = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
    // the persisted layout IS the inverted file: a probe reads only
    // its nprobe cluster directories (partition pruning at the scan)
    val probed = Similarity.ivfTopK(loaded, query, topK = 10, nprobe = 3)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"), plan.take(1500))
  }

  test("bpe rules survive save/load; the apply path segments OOV words and matches training") {
    // the tokenizer apply story: rules persist (contiguous-rank
    // validated) and load back identically
    val corpus = graft.Tables.documents(spark, graft.SparkTestSession.sfDir)
    val model = TextAnalysis.bpeModel(corpus, "text", numMerges = 8)
    val dir = graft.TempDirs.createCleaned("graft_bpe")
    val written = TextAnalysis.saveBpeRules(spark, model.rules, dir)
    assert(written == model.rules, "rules must round-trip identically")
    val loaded = TextAnalysis.loadBpeRules(spark, dir)
    assert(loaded == model.rules)
    // a truncated store (missing middle rank) fails loudly
    import spark.implicits._
    model.rules.filter(_._1 != 2).toDF("merge_rank", "lhs", "rhs", "cnt")
      .write.mode("overwrite").parquet(s"$dir/rules")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.loadBpeRules(spark, dir))
    assert(e.getMessage.contains("non-contiguous"))
  }

  test("pq model survives save/load: identical codebooks, identical IVF-PQ probes") {
    // the last piece of the IVF-PQ serving stack without persistence
    // (codebooks lived only in the session memo — a daily-probe
    // process had to retrain); loadPqModel re-validates the m×k×subDim
    // rectangle so a truncated store fails loudly
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val pq = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val dir = graft.TempDirs.createCleaned("graft_pq")
    val written = Similarity.savePqModel(spark, pq, dir)
    assert(written.m == pq.m && written.k == pq.k && written.subDim == pq.subDim)
    val loaded = Similarity.loadPqModel(spark, dir)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must round-trip bit-identically")
    val ivf = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    def probe(model: Similarity.PqModel) =
      Similarity.ivfPqBatchTopK(ivf, model, queries, "vec_id", "embedding",
        topK = 5, nprobe = 8, refine = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(probe(loaded) == probe(pq),
      "persisted-codebook probes must equal in-session probes")
  }

  test("ivf append: map-only grow, centroids frozen, appended vectors findable, clusters agree") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val first = emb.filter(col("vec_id") < 40)
    val rest = emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
    val built = Similarity.ivfIndex(first, "vec_id", "embedding",
      k = 4, iters = 2)
    val dir = graft.TempDirs.createCleaned("graft_ivf_app")
    Similarity.saveIvfIndex(built, dir)
    Similarity.appendToIvfIndex(spark, dir, rest, "vec_id", "embedding")
    val grown = Similarity.loadIvfIndex(spark, dir, "vec_id", "embedding")
    // strictly grown, centroids untouched (append is NOT a retrain)
    assert(grown.assignments.count() == 60)
    assert(grown.centroids.map(_.toSeq).toSeq ==
      built.centroids.map(_.toSeq).toSeq)
    // an appended vector is served: full-probe search finds it first
    val q = emb.filter(col("vec_id") === 50)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val top = Similarity.ivfTopK(grown, q, topK = 1, nprobe = 4)
      .collect().head
    assert(top.getLong(0) == 50L, s"appended vector not served: $top")
    // the shared assignment expression: re-appending vectors the
    // index already holds lands them in their original clusters
    val dir2 = graft.TempDirs.createCleaned("graft_ivf_app2")
    Similarity.saveIvfIndex(built, dir2)
    Similarity.appendToIvfIndex(spark, dir2,
      first.withColumn("vec_id", col("vec_id") + 1000),
      "vec_id", "embedding")
    val double = Similarity.loadIvfIndex(spark, dir2, "vec_id", "embedding")
    val byCluster = double.assignments
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0L until 40L).foreach { i =>
      assert(byCluster(i) == byCluster(i + 1000),
        s"clone of $i drifted: ${byCluster(i)} vs ${byCluster(i + 1000)}")
    }
  }

  test("compactIvfIndex: partition layout preserved, per-cluster files merged, probes identical") {
    val emb = graft.Tables.embeddings(spark, graft.SparkTestSession.sfDir)
    val built = Similarity.ivfIndex(emb.filter(col("vec_id") < 40),
      "vec_id", "embedding", k = 4, iters = 2)
    val dir = graft.TempDirs.createCleaned("graft_ivf_compact")
    Similarity.saveIvfIndex(built, dir)
    // three daily appends fragment each touched cluster directory
    (0 until 3).foreach { day =>
      Similarity.appendToIvfIndex(spark, dir,
        emb.filter(col("vec_id") >= 40 + day * 10 &&
          col("vec_id") < 50 + day * 10), "vec_id", "embedding")
    }
    val frag = Similarity.loadIvfIndex(spark, dir, "vec_id", "embedding")
    def clusterFiles(root: String): Map[String, Int] = {
      val d = new java.io.File(s"$root/assignments")
      d.listFiles().filter(_.getName.startsWith("cluster=")).map { cd =>
        cd.getName -> cd.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    val preFiles = clusterFiles(dir)
    assert(preFiles.values.exists(_ > 1),
      s"appends must have fragmented some cluster dir: $preFiles")
    val out = graft.TempDirs.createCleaned("graft_ivf_compact_out")
    val comp = Similarity.compactIvfIndex(spark, dir, out,
      "vec_id", "embedding")
    val postFiles = clusterFiles(out)
    // layout preserved (same cluster dirs), files merged to one each
    assert(postFiles.keySet == preFiles.keySet,
      s"partition layout must survive compaction: $postFiles vs $preFiles")
    assert(postFiles.values.forall(_ == 1),
      s"each cluster dir must compact to one file: $postFiles")
    // row-identity: (id, cluster) sets equal
    def asg(i: Similarity.IvfIndex) = i.assignments
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(asg(comp) == asg(frag))
    assert(comp.centroids.map(_.toSeq).toSeq ==
      frag.centroids.map(_.toSeq).toSeq, "centroids must travel verbatim")
    // probe-identity through the compacted handle
    val queries = emb.filter(col("vec_id") < 5)
    def topk(i: Similarity.IvfIndex) =
      Similarity.ivfBatchTopK(i, queries, "vec_id", "embedding",
        topK = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(topk(comp) == topk(frag))
    intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, dir, dir, "vec_id", "embedding")
    }
  }

  test("weighted sample: exact k, relayout-stable, weight-biased, no global sort") {
    val rows = (1L to 2000L).map(i => (i, if (i <= 200) 1000L else 10L))
    val df = rows.toDF("id", "w")
    val sampled = Sampling.weightedSample(df, "id", "w", 100)
    val got = sampled.select("id").as[Long].collect().toSet
    assert(got.size == 100)
    // membership is a pure function of (id, weight): relayout changes nothing
    val again = Sampling.weightedSample(df.repartition(13), "id", "w", 100)
      .select("id").as[Long].collect().toSet
    assert(again == got)
    // 10% of rows hold >90% of total weight — they must dominate
    assert(got.count(_ <= 200) > 60, s"heavy rows: ${got.count(_ <= 200)}")
    // top-k plans as per-partition heads, never a global sort
    sampled.collect()
    assert(sampled.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    // NULL and non-positive weights fail loudly in the data pass —
    // a NULL weight must not silently sort last as a NULL priority
    val nullW = Seq((1L, java.lang.Long.valueOf(5L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "w")
    val ex = intercept[Exception] {
      Sampling.weightedSample(nullW, "id", "w", 2).collect()
    }
    assert(ex.getMessage.contains("strictly positive"), ex.getMessage)
  }

  test("corpus diff classifies added/removed/changed/unchanged exactly") {
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"), (2L, "beta prime"), (5L, "epsilon"))
      .toDF("doc_id", "text")
    val got = Diff.corpusDiff(v1, v2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "removed", 5L -> "added"))
  }

  test("audio fingerprint near-dups: gain-scaled re-encodes surface, corrupt bytes drop") {
    val corpus = Multimodal.syntheticAudioCorpus(spark, 32)
    val pairs = Multimodal.audioNearDuplicates(corpus, maxHamming = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (1L until 32L by 4).map(i => (i - 1, i)).toSet
    assert(planted.subsetOf(pairs), s"missed planted pairs: ${planted -- pairs}")
    assert(pairs.size <= planted.size + 3, s"too many pairs: $pairs")
    // gain invariance is exact at the fingerprint level: energy
    // ORDERING survives volume scaling (up to re-encode dither)
    val tone = Array.tabulate(2000)(t =>
      (0.5 + 0.4 * math.sin(2 * math.Pi * 3 * t / 2000)) *
        math.sin(2 * math.Pi * 220 * t / 8000.0))
    def fp(gain: Double) = Multimodal.AudioCodec.fingerprint(
      Multimodal.AudioCodec.decode(
        Multimodal.AudioCodec.encodeWav(tone.map(_ * gain), 8000f)).get)
    assert(java.lang.Long.bitCount(fp(1.0) ^ fp(0.5)) <= 2)
    // corrupt audio rows are dropped, not stub-hashed
    val corrupt = Seq(
      Multimodal.MediaRow(98L, "audio", "wav", 0, 0, 0L, Array[Byte](82, 73, 70)))
      .toDS()
    assert(Multimodal.audioSignatures(corrupt).count() == 0)
  }

  test("bpe training matches a plain-scala reference, layout-invariant") {
    def refBpe(texts: Seq[String], merges: Int): Seq[(Int, String, String, Long)] = {
      var vocab: Seq[(Array[String], Long)] = texts
        .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).toSeq
        .map { case (w, g) => (w.split("").filter(_.nonEmpty), g.size.toLong) }
      (1 to merges).flatMap { r =>
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, n) =>
          syms.sliding(2).foreach {
            case Array(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
            case _ => ()
          }
        }
        if (counts.isEmpty) None
        else {
          val ((l, rr), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
          vocab = vocab.map { case (syms, n) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            var carry: String = null
            syms.foreach { s =>
              if (carry == null) carry = s
              else if (carry == l && s == rr) { acc += (l + rr); carry = null }
              else { acc += carry; carry = s }
            }
            if (carry != null) acc += carry
            (acc.toArray, n)
          }
          Some((r, l, rr, c))
        }
      }
    }
    val texts = Seq(
      "low lower lowest low low aaa aaaa",
      "new newer newest new lower aaa",
      "wide wider widest new low")
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val expected = refBpe(texts, 6)
    for (layout <- Seq(corpus, corpus.repartition(7))) {
      val got = TextAnalysis.bpeTrain(layout, "text", numMerges = 6)
        .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      assert(got == expected, s"\ngot:      $got\nexpected: $expected")
    }
  }

  test("bpe segmentation conserves the corpus: subword mass == word mass") {
    val texts = Seq("low lower lowest low low", "new newer newest new lower")
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rules = TextAnalysis.bpeTrainRules(corpus, "text", numMerges = 5)
    assert(rules.nonEmpty && rules.map(_._1) == (1 to rules.size))
    val seg = TextAnalysis.bpeSegment(corpus, "text", numMerges = 5, topK = 10000)
      .as[(String, Long)].collect()
    val words = texts.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
    // lossless: total characters are conserved through segmentation
    assert(seg.map { case (sw, n) => sw.length * n }.sum ==
      words.map(_.length.toLong).sum)
    // every subword occurs inside some corpus word
    seg.foreach { case (sw, _) =>
      assert(words.exists(_.contains(sw)), s"alien subword $sw") }
    // the first learned merge is realized somewhere in the output
    val fused = rules.head._2 + rules.head._3
    assert(seg.exists { case (sw, _) => sw.contains(fused) }, s"no $fused")
  }

  test("misra-gries: bounds hold under any layout, heavy tokens always present") {
    // 50×a, 30×b, 20×c + 40 singletons → N = 140; capacity 8 →
    // max undercount N/capacity = 17.5
    val words = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++
      (0 until 40).map(i => s"u$i")
    val docs = words.grouped(7).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val truth = Map("a" -> 50L, "b" -> 30L, "c" -> 20L)
    val n = words.size
    val cap = 8
    for (layout <- Seq(docs, docs.repartition(11), docs.coalesce(1))) {
      val got = TextAnalysis.heavyHitters(layout, "text", capacity = cap,
        topK = cap).as[(String, Long)].collect().toMap
      // every token with true count > N/capacity must be present
      truth.filter(_._2 > n.toDouble / cap).keys.foreach(t =>
        assert(got.contains(t), s"$t missing from $got"))
      // estimates undercount, by at most N/capacity
      got.foreach { case (tok, est) =>
        val t = truth.getOrElse(tok, 1L)
        assert(est <= t, s"$tok overcounted: $est > $t")
        assert(t - est <= n.toDouble / cap, s"$tok undercounted past bound")
      }
    }
  }

  test("bm25: tf saturates, rare terms outrank common, top-k is TakeOrdered") {
    // 'needle' appears in one doc; 'hay' in all. Same tf → the
    // needle doc must outscore every hay-only doc on a two-term query.
    val corpus = ((1L, "needle hay hay hay hay") +:
      (2L to 40L).map(i => (i, "hay hay hay hay hay"))).toDF("doc_id", "text")
    val ranked = TextAnalysis.bm25TopK(corpus, "doc_id", "text",
      Seq("needle", "hay"), k = 5)
    val rows = ranked.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.head._1 == 1L, s"needle doc not first: ${rows.toSeq}")
    assert(rows.head._2 == 2L) // matched both terms
    assert(rows.head._3 > rows(1)._3)
    // tf saturation: doubling tf must gain less than the first hit
    // (equal doc lengths, so length-norm cancels and only tf moves)
    val sat = (Seq((1L, "x y y y"), (2L, "x x y y")) ++ (3L to 20L)
      .map(i => (i, "y y y y"))).toDF("doc_id", "text")
    val s = TextAnalysis.bm25TopK(sat, "doc_id", "text", Seq("x"), k = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(2L) < 2 * s(1L), s"tf=2 more than doubled tf=1: $s")
    // layout-invariant (pure function of content)
    val again = TextAnalysis.bm25TopK(corpus.repartition(7), "doc_id", "text",
      Seq("needle", "hay"), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == rows.toSeq)
    ranked.collect()
    assert(ranked.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("token budget: best docs kept per group, no partial docs, relayout-stable") {
    // group g1: priorities 30,20,10 with 40 tokens each; budget 100
    // keeps exactly the top two (80 ≤ 100, the third would hit 120)
    val rows = Seq(
      (1L, "g1", 30L, 40), (2L, "g1", 20L, 40), (3L, "g1", 10L, 40),
      (4L, "g2", 5L, 90), (5L, "g2", 99L, 90))
      .toDF("id", "grp", "prio", "toks")
    val kept = Sampling.tokenBudget(rows, "grp", "id", "toks", "prio", 100L)
    val got = kept.select("id", "cum_tokens").as[(Long, Long)]
      .collect().toMap
    // g1: ids 1,2 (cum 40,80); g2: only the higher-priority id 5 fits
    assert(got == Map(1L -> 40L, 2L -> 80L, 5L -> 90L), s"got $got")
    val again = Sampling.tokenBudget(rows.repartition(5), "grp", "id",
      "toks", "prio", 100L).select("id").as[Long].collect().toSet
    assert(again == got.keySet)
  }

  test("char entropy: exact on uniform strings, ranks repetition below prose, no shuffle") {
    val rows = Seq(
      (1L, "aaaaaaaa"),                  // degenerate: H = 0
      (2L, "abababab"),                  // uniform 2-symbol: H = ln 2
      (3L, "the quick brown fox jumps"), // natural text
      (4L, "aaaaaaaaaaaaaaaaaaaaab"))    // near-degenerate template
      .toDF("doc_id", "text")
    val h = rows.select(col("doc_id"),
        TextAnalysis.charEntropy(col("text")).as("h"))
      .as[(Long, Double)].collect().toMap
    assert(h(1L) == 0.0)
    assert(math.abs(h(2L) - math.log(2.0)) < 1e-12, s"H(abab)=${h(2L)}")
    assert(h(4L) < h(2L) && h(2L) < h(3L), s"ordering broken: $h")
    // entirely in-row: the plan must carry no Exchange at all
    val plan = rows.select(TextAnalysis.charEntropy(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("per-group weighted sample: exact k per group, same priorities as flat, rank-bound pushed") {
    val rows = (1L to 900L).map(i =>
      (i, s"g${i % 3}", if (i <= 100) 500L else 5L)).toDF("id", "grp", "w")
    val got = Sampling.weightedSamplePerGroup(rows, "grp", "id", "w", 20)
    val byGroup = got.groupBy("grp").count()
      .as[(String, Long)].collect().toMap
    assert(byGroup == Map("g0" -> 20L, "g1" -> 20L, "g2" -> 20L), s"$byGroup")
    // identical priority function: a group's sample = the flat A-ES
    // sample of that group alone
    val g1 = rows.filter(col("grp") === "g1")
    val flat = Sampling.weightedSample(g1, "id", "w", 20)
      .select("id").as[Long].collect().toSet
    val strat = got.filter(col("grp") === "g1")
      .select("id").as[Long].collect().toSet
    assert(strat == flat)
    // relayout-stable
    val again = Sampling.weightedSamplePerGroup(rows.repartition(17),
      "grp", "id", "w", 20).select("id").as[Long].collect().toSet
    assert(again == got.select("id").as[Long].collect().toSet)
    // the rank bound reaches below the sort (no full-group materialize)
    got.collect()
    assert(got.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("collocations: planted phrase tops PMI, independent pair scores ~0, minCount gates") {
    // 'san francisco' always adjacent; 'the' pairs with everything
    val corpus = (1L to 60L).map(i =>
      (i, s"the city of san francisco is the city w$i the end"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.collocations(corpus, "text", minCount = 5, k = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val sf = got(("san", "francisco"))
    assert(sf._1 == 60L)
    // P(san francisco) = P(san) = P(francisco) ⇒ PMI = −ln P(san) > 0,
    // and it must beat every 'the *' pair (P(the) is huge)
    assert(got.keys.forall { case (a, b) =>
      (a == "san" && b == "francisco") || sf._2 >= got((a, b))._2 },
      s"planted phrase not top: $got")
    // pairs below minCount (each w$i appears once) never surface
    assert(!got.keys.exists { case (a, b) => a.startsWith("w") || b.startsWith("w") })
  }

  test("funnel: strict ordering, out-of-order events don't count, exact conversions") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, t(1), "view"), (1L, t(2), "click"), (1L, t(3), "purchase"),
      (2L, t(1), "click"), (2L, t(2), "view"),    // click BEFORE view: no step 2
      (3L, t(1), "view"),
      (4L, t(1), "view"), (4L, t(2), "click"),
      (5L, t(1), "purchase"), (5L, t(2), "view"), (5L, t(3), "click"))
      .toDF("user_id", "ts", "event_type")
    val got = Funnel.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1, "view", 5L, 1.0, 1.0),
      (2, "click", 3L, 0.6, 0.6),
      (3, "purchase", 1L, 0.2, round6(1.0 / 3))), s"got ${got.toSeq}")
  }
  private def round6(x: Double): Double = math.round(x * 1e6) / 1e6

  test("rolling uniques: sketch tracks exact within HLL error, windows actually roll") {
    val ev = graft.Tables.events(spark, graft.SparkTestSession.sfDir)
    val exact = Funnel.rollingUniqueUsersExact(ev, "user_id", "ts")
      .as[(java.sql.Date, Long)].collect().toMap
    val approx = Funnel.rollingUniqueUsers(ev, "user_id", "ts")
      .as[(java.sql.Date, Double)].collect().toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (day, n) =>
      val e = approx(day)
      assert(math.abs(e - n) <= math.max(2.0, 0.03 * n),
        s"$day: sketch $e vs exact $n") }
    // the window must exceed any single day (it accumulates)
    val daily = ev.select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().groupBy("day").count()
      .as[(java.sql.Date, Long)].collect().toMap
    val growing = exact.count { case (d, n) => n > daily(d) }
    assert(growing > exact.size / 2, "rolling windows never exceed daily uniques")
  }

  test("event transitions: exact matrix on a hand sequence, rows are stochastic") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1: a→b→a→c  (a→b, b→a, a→c); u2: a→b  — transitions never
    // cross user boundaries
    val ev = Seq(
      (1L, t(1), 10L, "a"), (1L, t(2), 11L, "b"),
      (1L, t(3), 12L, "a"), (1L, t(4), 13L, "c"),
      (2L, t(9), 20L, "a"), (2L, t(10), 21L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Funnel.eventTransitions(ev, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, round6(2.0 / 3))),
      ("a", "c") -> ((1L, round6(1.0 / 3))),
      ("b", "a") -> ((1L, 1.0))), s"got $got")
    // each prev row sums to ~1
    got.keys.map(_._1).toSet.foreach { p: String =>
      val s = got.collect { case ((`p`, _), (_, pr)) => pr }.sum
      assert(math.abs(s - 1.0) < 1e-5, s"row $p sums to $s") }
  }

  test("percentile normalization: ties share ranks, extremes pin 0/1, scorers calibrate") {
    // two "scorers": g1 scores in 0..100, g2 in 0..1 — after
    // normalization the same relative position gets the same value
    val rows = (Seq((1L, "g1", 10L), (2L, "g1", 50L), (3L, "g1", 50L),
      (4L, "g1", 90L)) ++ Seq((11L, "g2", 0L), (12L, "g2", 1L),
      (13L, "g2", 1L), (14L, "g2", 2L)))
      .toDF("doc_id", "source", "score")
    val got = graft.quality.CorpusQuality.percentileNormalize(
      rows, "source", "score")
      .select("doc_id", "pct_rank").as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0 && got(11L) == 0.0)
    assert(got(4L) == 1.0 && got(14L) == 1.0)
    assert(got(2L) == got(3L) && got(2L) == got(12L)) // ties share; scales align
    assert(got.values.forall(p => p >= 0.0 && p <= 1.0))
    // NULL scores get NULL pct_rank and leave the non-null ranks
    // untouched (they ride a separate window partition — engine
    // null-ordering defaults can't perturb the real ranks)
    val withNull = rows.unionByName(Seq((99L, "g1", null.asInstanceOf[java.lang.Long]))
      .toDF("doc_id", "source", "score"))
    val gotN = graft.quality.CorpusQuality.percentileNormalize(
      withNull, "source", "score")
      .select("doc_id", "pct_rank").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(gotN(99L).isEmpty, "NULL score must rank as NULL")
    assert(gotN(1L).contains(0.0) && gotN(4L).contains(1.0),
      s"non-null ranks perturbed by a NULL row: $gotN")
    // denominator exclusion: the middle tie ranks (2-1)/(4-1) over the
    // FOUR non-null rows — were the NULL counted (5 rows, Spark sorts
    // NULL first: rank 3), it would shift to (3-1)/(5-1) = 0.5
    assert(gotN(2L).contains(0.333333333),
      s"NULL row leaked into the rank denominator: ${gotN(2L)}")
  }

  test("robust outliers: monster doc flagged, cutoff not dragged, MAD=0 fallback") {
    val rows = ((1L to 20L).map(i => (i, "g1", 100L + i % 7)) ++
      Seq((21L, "g1", 10000L)) ++                 // the monster
      (30L to 39L).map(i => (i, "g2", 50L)) ++    // constant group...
      Seq((40L, "g2", 51L)))                      // ...one deviator: MAD = 0
      .toDF("doc_id", "source", "n_chars")
    val got = graft.quality.CorpusQuality.robustOutliers(
      rows, "source", "n_chars")
      .select("doc_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(got(21L), "monster not flagged")
    // a mean/std z would be dragged so far by the monster that nothing
    // else could flag; MAD keeps every normal doc unflagged AND the
    // monster flagged
    assert((1L to 20L).forall(i => !got(i)), s"false positives: $got")
    // degenerate group: MAD = 0 → the deviator flags via the fallback
    assert(got(40L) && (30L to 39L).forall(i => !got(i)))
    // NULL group keys are preserved with NULL score and flag, never dropped
    val withNull = rows.unionByName(
      Seq((99L, null.asInstanceOf[String], 123L)).toDF("doc_id", "source", "n_chars"))
    val r99 = graft.quality.CorpusQuality.robustOutliers(
      withNull, "source", "n_chars")
      .filter(col("doc_id") === 99L).collect()
    assert(r99.length == 1)
    assert(r99.head.isNullAt(r99.head.fieldIndex("robust_z")))
    assert(r99.head.isNullAt(r99.head.fieldIndex("is_outlier")))
  }

  test("funnel within-window: conversions past the bound don't count") {
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ev = Seq(
      (1L, t(1), "view"), (1L, t(2), "click"),    // inside 3h: converts
      (2L, t(1), "view"), (2L, t(9), "click"))    // 8h later: outside
      .toDF("user_id", "ts", "event_type")
    val within = Funnel.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click"), within = Some("3 hours"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(within == Map("view" -> 2L, "click" -> 1L), s"$within")
    // unbounded keeps both conversions
    val open = Funnel.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(open("click") == 2L)
  }

  test("weekly churn: exact rates, final week fully right-censored") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")
    // weeks: w0=01-01, w1=01-08, w2=01-15
    val ev = Seq(
      (1L, ts(1)), (1L, ts(8)), (1L, ts(15)),  // u1 active every week
      (2L, ts(2)),                             // u2 only w0 → churns at w0
      (3L, ts(9)))                             // u3 only w1 → churns at w1
      .toDF("user_id", "ts")
    val got = Funnel.weeklyChurn(ev, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString,
        (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      "2024-01-01" -> ((2L, 1L, 0.5)),
      "2024-01-08" -> ((2L, 1L, 0.5)),
      "2024-01-15" -> ((1L, 1L, 1.0))), s"got $got")  // censored tail
  }

  test("distinctive terms: planted vocabulary tops its group, shared words never do") {
    val corpus = ((1L to 30L).map(i => (i, "a", "the data lake zebra holds zebra files")) ++
      (31L to 60L).map(i => (i, "b", "the data lake quokka holds quokka files")))
      .toDF("doc_id", "src", "text")
    val got = TextAnalysis.distinctiveTerms(corpus, "src", "text", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val topA = got.filter(_._1 == "a").maxBy(_._3)
    val topB = got.filter(_._1 == "b").maxBy(_._3)
    assert(topA._2 == "zebra" && topA._3 > 0, s"a: ${got.toSeq}")
    assert(topB._2 == "quokka" && topB._3 > 0, s"b: ${got.toSeq}")
    // perfectly shared vocabulary never ranks distinctive
    assert(!got.exists { case (_, t, z) => t == "the" && z > 1.0 })
    // symmetric corpus ⇒ symmetric scores
    assert(topA._3 == topB._3)
  }

  test("cohort retention: exact matrix, k=0 is always full, gaps stay empty") {
    // week starts (Mondays): 2024-01-01, -08, -15
    def ts(d: Int, h: Int = 9) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val ev = Seq(
      (1L, ts(1)), (1L, ts(2)),          // u1: cohort w0, extra same-week event
      (1L, ts(15)),                      // u1 returns in w2 (skips w1)
      (2L, ts(3)),                       // u2: cohort w0, never returns
      (3L, ts(8)), (3L, ts(16)))         // u3: cohort w1, returns w2 (k=1)
      .toDF("user_id", "ts")
    val got = Funnel.cohortRetention(ev, "user_id", "ts")
      .collect().map(r => ((r.getDate(0).toString, r.getInt(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      ("2024-01-01", 0) -> ((2L, 1.0)),      // u1, u2
      ("2024-01-01", 2) -> ((1L, 0.5)),      // u1 only; w1 cell absent
      ("2024-01-08", 0) -> ((1L, 1.0)),      // u3
      ("2024-01-08", 1) -> ((1L, 1.0))), s"got $got")
  }

  test("pagerank matches a plain-scala reference bit-for-bit on a dense random graph") {
    def ref(edges: Seq[(Long, Long)], d: Double, iters: Int): Map[Long, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val n = nodes.size
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var rank = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val inbound = edges.groupBy(_._2)
        rank = nodes.map { v =>
          val contribs = inbound.getOrElse(v, Nil)
            .map { case (s, _) => rank(s) / outdeg(s) }.sorted
          v -> ((1.0 - d) / n + d * contribs.foldLeft(0.0)(_ + _))
        }.toMap
      }
      rank
    }
    // deterministic pseudo-random multigraph incl. parallel edges
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 13 + 1) % 40), (i, (i * 13 + 1) % 40)))
    val expected = ref(edges, 0.85, 4)
    val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == expected.keySet)
    // identical mirrored IEEE trees + sorted folds ⇒ bit equality
    expected.foreach { case (id, v) =>
      assert(got(id) == v, s"node $id: ${got(id)} != $v") }
  }

  test("bm25 matches a plain-scala reference on a varied corpus") {
    val k1 = 1.2; val b = 0.75
    def ref(docs: Seq[(Long, String)], q: Seq[String], k: Int): Seq[(Long, Long, Double)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
      val dl = toks.collect { case (id, ts) if ts.nonEmpty => id -> ts.size.toLong }.toMap
      val nDocs = dl.size
      val avgdl = dl.values.sum.toDouble / nDocs
      val tf = toks.flatMap { case (id, ts) =>
        ts.filter(q.contains).groupBy(identity).map { case (w, g) =>
          (id, w) -> g.size.toLong } }.toMap
      val dfr = q.map(w => w -> tf.keys.count(_._2 == w).toLong).toMap
      val scored = tf.keys.groupBy(_._1).map { case (id, keys) =>
        val terms = keys.toSeq.map { case (_, w) =>
          val idf = math.log((nDocs.toDouble - dfr(w) + 0.5) / (dfr(w) + 0.5) + 1.0)
          idf * (tf((id, w)) * (k1 + 1.0)) /
            (tf((id, w)) + k1 * ((1.0 - b) + b * (dl(id) / avgdl)))
        }.sorted
        (id, keys.size.toLong, terms.foldLeft(0.0)(_ + _))
      }.toSeq
      scored.sortBy { case (id, _, s) => (-s, id) }.take(k)
        .map { case (id, m, s) => (id, m, s) }
    }
    val docs = (1L to 30L).map(i => (i,
      (1L to (i % 5 + 3)).map(j => s"w${(i * j) % 11}").mkString(" ")))
    val q = Seq("w0", "w3", "w7")
    val expected = ref(docs, q, 8)
    val got = TextAnalysis.bm25TopK(docs.toDF("doc_id", "text"), "doc_id",
      "text", q, k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSeq ==
      expected.map(t => (t._1, t._2)), s"\ngot $got\nexp $expected")
    got.zip(expected).foreach { case ((_, _, g), (_, _, e)) =>
      assert(math.abs(g - math.round(e * 1e4) / 1e4) < 1e-9, s"$g vs $e") }
  }

  test("pagerank: fixpoint on symmetric graphs, authority ordering, mass conserved") {
    // 2-cycle: uniform 0.5/0.5 is the exact fixpoint of every round
    val cycle = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val c = Graph.pageRank(cycle, iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(c(1L) == 0.5 && c(2L) == 0.5, s"cycle fixpoint broken: $c")
    // bidirectional star: leaves send ALL their mass to the hub, the
    // hub spreads 1/4 back — the hub out-ranks every leaf; no
    // dangling nodes, so total mass stays 1 (up to float dust)
    val star = ((2L to 5L).map(i => (1L, i)) ++ (2L to 5L).map(i => (i, 1L)))
      .toDF("src", "dst")
    val r = Graph.pageRank(star, iters = 10).as[(Long, Double)]
      .collect().toMap
    assert((2L to 5L).forall(i => r(1L) > r(i)), s"hub not top: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass leak: ${r.values.sum}")
    // leaves are symmetric: identical rank, bit-for-bit
    assert((3L to 5L).forall(i => r(2L) == r(i)), s"symmetry broken: $r")
    // pure function of the graph: relayout changes nothing
    val again = Graph.pageRank(star.repartition(7), iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(again == r)
    // the bounded-memory scale path (plain partial-agg sum) agrees
    // with the exact fold up to addition-order ulps
    val approx = Graph.pageRank(star, iters = 10, exact = false)
      .as[(Long, Double)].collect().toMap
    assert(r.keySet == approx.keySet)
    r.foreach { case (id, v) => assert(math.abs(approx(id) - v) < 1e-12) }
  }

  test("hits: hub/authority separation, L1 norm, relayout-stable, exact-vs-scale twin") {
    // bipartite catalog/content graph: h1 links both authorities,
    // h2 links one; a1 is cited twice. Hand-derived round 1:
    // auth = (a1: 2/3, a2: 1/3), hub = (h1: 0.6, h2: 0.4).
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 10L, 11L, 99L).toDF("id")
    val got = Graph.hits(edges, iters = 2, nodes = Some(nodes))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // pure hubs carry no authority and vice versa; isolated node = 0/0
    assert(got(1L)._2 == 0.0 && got(2L)._2 == 0.0, s"hub nodes got auth: $got")
    assert(got(10L)._1 == 0.0 && got(11L)._1 == 0.0, s"auth nodes got hub: $got")
    assert(got(99L) == ((0.0, 0.0)), s"isolated node scored: $got")
    // separation: the 2-link hub and the 2-citation authority win
    assert(got(1L)._1 > got(2L)._1 && got(2L)._1 > 0.0, s"hub order: $got")
    assert(got(10L)._2 > got(11L)._2 && got(11L)._2 > 0.0, s"auth order: $got")
    // L1 normalization: each score vector sums to 1
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
    // round-1 authorities are exactly the pinned thirds
    val r1 = Graph.hits(edges, iters = 1, nodes = Some(nodes))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(r1(10L) == 0.666666667 && r1(11L) == 0.333333333, s"pin: $r1")
    // pure function of the graph: relayout changes nothing, bit-for-bit
    val again = Graph.hits(edges.repartition(5), iters = 2,
      nodes = Some(nodes)).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(again == got)
    // the bounded-memory scale path agrees up to addition-order ulps
    val approx = Graph.hits(edges, iters = 2, nodes = Some(nodes),
      exact = false).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(approx.keySet == got.keySet)
    got.foreach { case (id, (h, a)) =>
      assert(math.abs(approx(id)._1 - h) < 1e-9 &&
        math.abs(approx(id)._2 - a) < 1e-9) }
  }

  test("triangle stats: clique/pendant hand counts, multi-edge collapse, relayout-stable") {
    // K4 on {1..4} plus pendant 4-5: K4 interior nodes have all 3
    // triangles; node 4's neighborhood opens up (deg 4, still 3
    // triangles); the pendant has no neighborhood at all
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b))
    val edges = (k4 :+ ((4L, 5L))).toDF("src", "dst")
    val got = Graph.triangleStats(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert((1L to 3L).forall(got(_) == ((3L, 3L, 1.0))), s"K4: $got")
    assert(got(4L)._1 == 4L && got(4L)._2 == 3L &&
      got(4L)._3 == 0.5, s"bridge: ${got(4L)}") // 2·3/(4·3)
    assert(got(5L)._1 == 1L && got(5L)._2 == 0L &&
      got(5L)._3.isNaN, s"pendant must be NULL coeff: ${got(5L)}")
    // direction, multiplicity and self-loops don't create triangles
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L),
      (1L, 3L)).toDF("src", "dst")
    val m = Graph.triangleStats(messy).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"collapse: $m")
    // pure function of the graph: relayout changes nothing
    val again = Graph.triangleStats(edges.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.toString).toMap
    val base = Graph.triangleStats(edges).collect()
      .map(r => r.getLong(0) -> r.toString).toMap
    assert(again == base)
  }

  test("label propagation: deterministic plurality votes, isolation, relayout-stable") {
    // star 0–{1..5} (mirrored): round 1 leaves adopt the hub's 0, the
    // hub adopts min leaf label 1; round 2 leaves adopt the hub's
    // round-1 label 1, hub adopts the leaves' unanimous round-1 label
    // 0 — the classic synchronous-LPA bipartite oscillation, bounded
    // (and made exactly predictable) by the iteration count.
    // triangle 7-8-9 (mirrored): round 1 each node takes the min of
    // its two neighbors; round 2 the plurality label 7 wins
    // everywhere. Worked by hand from the (count DESC, label ASC)
    // rule; any tie-break or sync drift breaks the exact expectation.
    val edges = (Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L)) ++
      Seq((7L, 8L), (8L, 9L), (9L, 7L))).toDF("src", "dst")
    val nodes = (Seq(0L, 1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L) :+ 99L).toDF("id")
    val got = Graph.labelPropagation(edges, iters = 2, nodes = Some(nodes))
      .as[(Long, Long)].collect().toMap
    assert(got(0L) == 0L, s"hub after 2 rounds: $got")
    assert((1L to 5L).forall(got(_) == 1L), s"leaves after 2 rounds: $got")
    assert(Seq(7L, 8L, 9L).forall(got(_) == 7L), s"triangle: $got")
    // a node with no edges keeps its own label
    assert(got(99L) == 99L, s"isolated node relabeled: $got")
    // pure function of the graph: physical relayout changes nothing
    val again = Graph.labelPropagation(edges.repartition(5), iters = 2,
      nodes = Some(nodes)).as[(Long, Long)].collect().toMap
    assert(again == got)
    // two mirrored triangles converge to per-community min labels
    val tri2 = (Seq((7L, 8L), (8L, 9L), (9L, 7L)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L))).toDF("src", "dst")
    val comm = Graph.labelPropagation(tri2, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(7L, 8L, 9L).forall(comm(_) == 7L), s"tri A: $comm")
    assert(Seq(20L, 21L, 22L).forall(comm(_) == 20L), s"tri B: $comm")
  }

  test("random projection: matches plain-scala reference, relayout-stable") {
    // mirror of Similarity.randomProjection's Lehmer-LCG sign hash
    def sign(i: Int, j: Int, seed: Long): Double = {
      val h1 = (i.toLong * 2654435761L + j.toLong * 40503L + seed) % 2147483647L
      1.0 - 2.0 * ((h1 * 48271L) % 2147483647L % 2L)
    }
    def ref(vec: Array[Float], outDim: Int, seed: Long): Seq[Double] =
      (0 until outDim).map { j =>
        val s = vec.indices.foldLeft(0.0)((acc, i) =>
          acc + vec(i).toDouble * sign(i, j, seed))
        math.round(s / math.sqrt(outDim.toDouble) * 1e4) / 1e4
      }
    val vecs = (0L until 20L).map(id =>
      (id, Array.tabulate(16)(i => ((id * 31 + i * 7) % 13 - 6).toFloat / 3f)))
    val df = vecs.toDF("id", "vec")
    val got = Similarity.randomProjection(df, "id", "vec", outDim = 6)
      .as[(Long, Seq[Double])].collect().toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == ref(v, 6, 97L), s"id $id: ${got(id)}") }
    // pure map: physical relayout changes nothing
    val again = Similarity.randomProjection(df.repartition(7), "id", "vec",
      outDim = 6).as[(Long, Seq[Double])].collect().toMap
    assert(again == got)
    // a custom seed changes the matrix (not a constant projection)
    val other = Similarity.randomProjection(df, "id", "vec", outDim = 6,
      seed = 1234L).as[(Long, Seq[Double])].collect().toMap
    assert(vecs.exists { case (id, _) => other(id) != got(id) })
  }

  test("k-center coreset: one pick per cluster, radii non-increasing, relayout-stable") {
    // three well-separated 2-D clusters; greedy farthest-first from
    // seed 1 must land one center in each before refining any
    val pts = Seq(
      (1L, Array(0f, 0f)), (2L, Array(0.1f, 0f)), (3L, Array(0f, 0.1f)),
      (4L, Array(10f, 0f)), (5L, Array(10.1f, 0f)),
      (6L, Array(0f, 10f)), (7L, Array(0f, 10.2f)))
    val df = pts.toDF("id", "vec")
    val got = Similarity.kCenterCoreset(df, "id", "vec", k = 3, seedId = 1L)
      .orderBy(col("sel_round"))
      .as[(Int, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
    assert(got(0)._2 == 1L && got(0)._3 == 0.0)
    // worked by hand: round 2 takes the farthest point overall (id 7,
    // d² ≈ 104.04 from seed); round 3 the farthest-from-both (id 5)
    assert(got(1)._2 == 7L, s"round 2: ${got.toSeq}")
    assert(got(2)._2 == 5L, s"round 3: ${got.toSeq}")
    val clusters = Seq(Set(1L, 2L, 3L), Set(4L, 5L), Set(6L, 7L))
    assert(clusters.forall(c => got.count(g => c(g._2)) == 1),
      s"not one per cluster: ${got.toSeq}")
    // selection radii never increase (min-dists only shrink)
    assert(got(1)._3 >= got(2)._3, s"radii increased: ${got.toSeq}")
    // pure function of the data: physical relayout changes nothing
    val again = Similarity.kCenterCoreset(df.repartition(5), "id", "vec",
      k = 3, seedId = 1L).orderBy(col("sel_round"))
      .as[(Int, Long, Double)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("pca power iteration: recovers a rank-1 direction, scaled twin agrees, relayout-stable") {
    // points exactly on the line t·(3,1): centered data is rank-1, so
    // one matrix-free round already lands on ±(3,1)/√10 and scores
    // are t·√10 up to the deterministic global sign
    val pts = (-2 to 2).map(t => ((t + 3).toLong, Array(3f * t, 1f * t)))
    val df = pts.toDF("id", "vec")
    val got = Similarity.pcaPowerIteration(df, "id", "vec", iters = 2)
      .orderBy(col("id")).as[(Long, Double)].collect()
    val expected = (-2 to 2).map(t => t * math.sqrt(10.0))
    val sign = math.signum(got(4)._2) * math.signum(expected(4))
    got.map(_._2).zip(expected).foreach { case (s, e) =>
      assert(math.abs(s - sign * e) < 1e-4, s"${got.toSeq} vs $expected") }
    // the bounded-memory scale path (plain partial-agg sums) agrees
    // with the exact keyed folds up to addition-order ulps
    val scaled = Similarity.pcaPowerIteration(df, "id", "vec", iters = 2,
      exact = false).orderBy(col("id")).as[(Long, Double)].collect()
    got.zip(scaled).foreach { case ((id, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-6, s"id $id: exact $a vs scaled $b") }
    // pure function of the data: relayout changes nothing, bit-exact
    val again = Similarity.pcaPowerIteration(df.repartition(3), "id", "vec",
      iters = 2).orderBy(col("id")).as[(Long, Double)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("hard negatives: cross-label only, full-probe lsh equals exact, relayout-stable") {
    val vecs = (0L until 40L).map { id =>
      (id, (id % 4).toInt,
        Array.tabulate(8)(i => math.sin(id * 2.7 + i * 1.3).toFloat)) }
    val df = vecs.toDF("id", "label", "vec")
    val labels = vecs.map(v => v._1 -> v._2).toMap
    val exact = Similarity.hardNegatives(df, df, "id", "label", "vec", k = 4)
      .orderBy(col("anchor_id"), col("rank"))
      .as[(Long, Int, Long, Double)].collect()
    // every anchor appears with exactly k negatives, all cross-label
    assert(exact.groupBy(_._1).values.forall(_.length == 4))
    exact.foreach { case (a, _, n, _) =>
      assert(labels(a) != labels(n), s"same-label pair ($a, $n)") }
    // ranks ordered by descending cosine within each anchor
    exact.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-(_: Double)).toSeq) }
    // bands = numBits (1-bit chunks): any-bit agreement ⇒ the
    // candidate set covers every non-antipodal pair, and top-k
    // similar pairs are never antipodal ⇒ identical output to exact
    val lsh = Similarity.hardNegativesLsh(df, "id", "label", "vec", k = 4,
      numBits = 16, bands = 16)
      .orderBy(col("anchor_id"), col("rank"))
      .as[(Long, Int, Long, Double)].collect()
    assert(lsh.toSeq == exact.toSeq)
    // relayout changes nothing (rounded-cosine rank, id tie-breaks)
    val again = Similarity.hardNegatives(df.repartition(7), df.repartition(3),
      "id", "label", "vec", k = 4)
      .orderBy(col("anchor_id"), col("rank"))
      .as[(Long, Int, Long, Double)].collect()
    assert(again.toSeq == exact.toSeq)
  }

  test("keep-best-per-cluster: highest score wins, min-id tie-break, singletons survive") {
    // cluster 10: ids 1,2,3 (scores 5,9,7) → 2 wins; cluster 20:
    // ids 4,5 tied at 6 → min id 4 wins; id 9 unclustered → survives
    val docs = Seq((1L, 5L, "a"), (2L, 9L, "b"), (3L, 7L, "c"),
      (4L, 6L, "d"), (5L, 6L, "e"), (9L, 1L, "f"))
      .toDF("id", "score", "payload")
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L))
      .toDF("id", "cluster_id")
    val got = Dedup.keepBestPerCluster(docs, "id", "score", clusters)
      .orderBy(col("id")).as[(Long, Long, String)].collect()
    assert(got.map(_._1).toSeq == Seq(2L, 4L, 9L), s"kept: ${got.toSeq}")
    // relayout changes nothing (integer scores, id tie-break)
    val again = Dedup.keepBestPerCluster(docs.repartition(4), "id", "score",
      clusters.repartition(3)).orderBy(col("id"))
      .as[(Long, Long, String)].collect()
    assert(again.toSeq == got.toSeq)
    // keep-best over min-id clusters preserves cluster count: one
    // survivor per cluster plus the singleton
    assert(got.length == 3)
  }

  test("approx quantiles: data-point values within GK rank error of the true order statistic") {
    // two groups with known value sets; accuracy 10000 on n=200 means
    // rank error ≤ n/accuracy < 1 — the sketch must return the EXACT
    // order statistic, and always an actual data point
    val rows = (1L to 200L).map(i => ("a", i * 3)) ++
      (1L to 50L).map(i => ("b", 1000 - i))
    val df = rows.toDF("grp", "v")
    val got = Profiling.approxQuantiles(df, "grp", "v",
      probs = Seq(0.1, 0.5, 0.9), accuracy = 10000)
      .as[(String, Double, Long)].collect()
    val byGroup = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted }
    got.foreach { case (g, p, v) =>
      val vs = byGroup(g)
      assert(vs.contains(v), s"$g p=$p: $v is not a data point")
      // percentile_approx targets rank ceil(p·n); allow ±1 rank slack
      val target = math.ceil(p * vs.length).toInt.max(1)
      val lo = vs((target - 2).max(0)); val hi = vs((target).min(vs.length - 1))
      assert(v >= lo && v <= hi, s"$g p=$p: $v outside [$lo, $hi]") }
    // every (group, prob) pair is present
    assert(got.length == 6)
    // coarse sketch still returns data points inside the group range
    val coarse = Profiling.approxQuantiles(df, "grp", "v",
      probs = Seq(0.5), accuracy = 10)
      .as[(String, Double, Long)].collect()
    coarse.foreach { case (g, _, v) => assert(byGroup(g).contains(v)) }
  }

  test("upsample to target: exact copy multiset, both directions, untargeted drop, relayout-stable") {
    // mirror of the operator's Knuth bucket + factor decomposition
    def bucket(id: Long): Long =
      ((id % 2147483648L) * 2654435761L) % 4294967296L % 1000000L
    val rows = (0L to 9L).map(i => (i, "a")) ++
      (100L to 109L).map(i => (i, "b")) ++
      (200L to 204L).map(i => (i, "c"))
    val df = rows.toDF("id", "src")
    // nTotal = 20 (targeted only); f_a = 1.8 → base 1, thr
    // floor(0.8…·1e6); f_b = 0.2 → base 0, thr floor(0.2…·1e6) —
    // the same IEEE tree the operator builds
    def copiesOf(id: Long, f: Double): Long = {
      val base = math.floor(f).toLong
      val thr = math.floor((f - base) * 1000000).toLong
      base + (if (bucket(id) < thr) 1L else 0L)
    }
    val expected = (
      (0L to 9L).flatMap(i => (0L until copiesOf(i, (20 * 0.9) / 10))
        .map(c => (i, "a", c))) ++
      (100L to 109L).flatMap(i => (0L until copiesOf(i, (20 * 0.1) / 10))
        .map(c => (i, "b", c)))).sorted
    val got = Sampling.upsampleToTarget(df, "src", "id",
      Map("a" -> 0.9, "b" -> 0.1))
      .select(col("id"), col("src"), col("copy"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got == expected, s"\ngot $got\nexp $expected")
    // every 'a' row at least once (upsampling never drops the base
    // copy), no 'c' rows (untargeted), some row genuinely repeated
    assert((0L to 9L).forall(i => got.count(_._1 == i) >= 1))
    assert(got.forall(_._2 != "c"))
    assert(got.groupBy(r => (r._1, r._2)).values.exists(_.size == 2))
    // relayout changes nothing (pure id-hash membership)
    val again = Sampling.upsampleToTarget(df.repartition(5), "src", "id",
      Map("a" -> 0.9, "b" -> 0.1))
      .select(col("id"), col("src"), col("copy"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(again == got)
    // a factor beyond maxRepeat is a contract violation, not a blow-up
    intercept[IllegalArgumentException] {
      // nTotal = 20, f_a = 20·1.0/10 = 2.0 > maxRepeat
      Sampling.upsampleToTarget(df, "src", "id",
        Map("a" -> 1.0, "b" -> 0.5), maxRepeat = 1)
    }
  }

  test("epoch shuffle: dense permutation, two-phase equals naive global rank, epochs decorrelate") {
    val df = (0L until 200L).toDF("id")
    val got = Sampling.epochShuffle(df, "id", epoch = 2)
      .select(col("id"), col("shuffle_rank"))
      .as[(Long, Long)].collect().toMap
    // a dense permutation: ranks are exactly 1..n
    assert(got.values.toSeq.sorted == (1L to 200L))
    // the two-phase (bucket offsets + per-bucket ranks) decomposition
    // equals the naive single-window global rank
    def key(id: Long, e: Long): Long =
      ((id % 2147483648L) + e * 1000003L) * 2654435761L % 4294967296L
    val naive = (0L until 200L).sortBy(i => (key(i, 2), i))
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    assert(got == naive)
    // different epochs give genuinely different orders
    val e3 = Sampling.epochShuffle(df, "id", epoch = 3)
      .select(col("id"), col("shuffle_rank"))
      .as[(Long, Long)].collect().toMap
    assert(e3.values.toSeq.sorted == (1L to 200L))
    assert((0L until 200L).count(i => got(i) != e3(i)) > 150,
      "epochs should decorrelate the order")
    // pure function of (ids, epoch): relayout changes nothing —
    // the property orderBy(rand(seed)) does NOT have
    val again = Sampling.epochShuffle(df.repartition(7), "id", epoch = 2)
      .select(col("id"), col("shuffle_rank"))
      .as[(Long, Long)].collect().toMap
    assert(again == got)
  }

  test("retrieval eval: hand-checked MRR and nDCG, no-relevant NULL, beyond-k ignored") {
    val (w, p) = Similarity.ndcgWeights(3)
    assert(w(0) == 1.0 && w(2) == 0.5 && p(0) == 1.0, s"weights $w $p")
    val results = Seq(
      (1L, 1, 0), (1L, 2, 1), (1L, 3, 1),   // relevant at 2, 3
      (2L, 1, 1), (2L, 2, 0), (2L, 3, 0),   // perfect: relevant first
      (3L, 1, 0), (3L, 2, 0), (3L, 3, 0),   // nothing relevant
      (3L, 4, 1)                            // ...but beyond k: ignored
    ).toDF("query_id", "rank", "rel")
    val got = Similarity.retrievalEval(results, "query_id", "rank",
      "rel", k = 3).collect().map(r => r.getLong(0) -> r).toMap
    // q1: rr = 1/2; dcg = w2 + w3, idcg = p2 (two relevant)
    assert(got(1L).getDouble(3) == 0.5)
    val nd1 = got(1L).getDouble(4)
    assert(math.abs(nd1 - (w(1) + w(2)) / p(1)) < 1e-9, s"q1 ndcg $nd1")
    // q2: the perfect ranking is exactly 1.0 on both metrics
    assert(got(2L).getDouble(3) == 1.0 && got(2L).getDouble(4) == 1.0)
    // q3: rr 0 by the MRR convention; ndcg NULL (unmeasurable, not 0);
    // the rank-4 relevant row is beyond k and must not leak in
    assert(got(3L).getDouble(3) == 0.0 && got(3L).isNullAt(4))
    assert(got(3L).getLong(1) == 3L && got(3L).getLong(2) == 0L)
    // relayout-stable (literal weights + keyed sorted fold)
    val again = Similarity.retrievalEval(results.repartition(5),
      "query_id", "rank", "rel", k = 3).collect()
      .map(r => r.getLong(0) -> r.toString).toMap
    assert(again == got.map { case (k2, v) => k2 -> v.toString })
  }

  test("mutual information: zero when independent, ln2/NMI=1 when determined, degenerate NULL") {
    import graft.quality.CorpusQuality
    def r6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    // independent uniform 2x2: every cell term is ln(1) = 0
    val ind = (for { a <- Seq("a", "b"); s <- Seq("x", "y") }
      yield (a, s)).flatMap(p => Seq.fill(3)(p)).toDF("lang", "source")
    val i = CorpusQuality.mutualInformation(ind, "lang", "source")
      .collect().head
    assert(i.getLong(0) == 4L && i.getDouble(1) == 0.0 &&
      i.getDouble(4) == 0.0, s"independent: $i")
    // a fully determines b (uniform): MI = H = ln 2, NMI = 1
    val det = (Seq.fill(5)(("a", "x")) ++ Seq.fill(5)(("b", "y")))
      .toDF("lang", "source")
    val d = CorpusQuality.mutualInformation(det, "lang", "source")
      .collect().head
    assert(d.getDouble(1) == r6(math.log(2.0)) &&
      d.getDouble(2) == r6(math.log(2.0)) && d.getDouble(4) == 1.0,
      s"determined: $d")
    // one level on a side: its entropy is 0 -> NMI undefined, not 0
    val deg = Seq.fill(4)(("only", "x")).toDF("lang", "source")
      .union(Seq.fill(4)(("only", "y")).toDF("lang", "source"))
    val g = CorpusQuality.mutualInformation(deg, "lang", "source")
      .collect().head
    assert(g.getDouble(1) == 0.0 && g.getDouble(2) == 0.0 && g.isNullAt(4),
      s"degenerate: $g")
  }

  test("source concentration: uniform vs monopoly extremes, hand Gini on a skewed mix") {
    import graft.quality.CorpusQuality
    // lang u: 4 sources x 25 docs — uniform: HHI = 1/4, Gini = 0
    // lang m: one source: HHI = 1, Gini = 0 (no dispersion)
    // lang s: volumes 10/30/60: HHI = 0.46,
    //   Gini = 2(1*10+2*30+3*60)/(3*100) - 4/3 = 0.333333
    val docs = (
      (1 to 4).flatMap(k => Seq.fill(25)(("u", s"s$k"))) ++
      Seq.fill(50)(("m", "only")) ++
      Seq.fill(10)(("s", "a")) ++ Seq.fill(30)(("s", "b")) ++
      Seq.fill(60)(("s", "c"))
    ).toDF("lang", "source")
    val got = CorpusQuality.sourceConcentration(docs, "lang", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got("u") == ((4L, 100L, 0.25, 0.0)), s"uniform: $got")
    assert(got("m") == ((1L, 50L, 1.0, 0.0)), s"monopoly: $got")
    assert(got("s") == ((3L, 100L, 0.46, 0.333333)), s"skewed: $got")
    // relayout-stable (integer rank fold over a sorted array)
    val again = CorpusQuality.sourceConcentration(docs.repartition(7),
      "lang", "source").collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(again == got)
  }

  test("chi-square audit: independent zero, hand residuals, NULL level kept") {
    import graft.quality.CorpusQuality
    // skewed 2x2: all marginals 4, N=8 -> e=2 in every cell;
    // residuals ±1/sqrt(2), each chi2 term 0.5
    val df = (Seq.fill(3)(("a", "x")) ++ Seq.fill(1)(("a", "y")) ++
      Seq.fill(1)(("b", "x")) ++ Seq.fill(3)(("b", "y")))
      .toDF("lang", "source")
    val got = CorpusQuality.chiSquareAudit(df, "lang", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    assert(got(("a", "x")) == ((3L, 2.0, 0.707107, 0.5)), s"got $got")
    assert(got(("a", "y")) == ((1L, 2.0, -0.707107, 0.5)), s"got $got")
    assert(got.values.map(_._4).sum == 2.0)
    // a perfectly independent table zeroes every cell
    val ind = (for { l <- Seq("a", "b"); s <- Seq("x", "y") }
      yield (l, s)).flatMap(p => Seq.fill(2)(p)).toDF("lang", "source")
    val z = CorpusQuality.chiSquareAudit(ind, "lang", "source").collect()
    assert(z.length == 4 && z.forall(r =>
      r.getDouble(6) == 0.0 && r.getDouble(7) == 0.0))
    // NULL categories form their own level, not a silent drop
    val withNull = df.union(Seq((null: String, "x")).toDF("lang", "source"))
    val nl = CorpusQuality.chiSquareAudit(withNull, "lang", "source")
      .collect()
    assert(nl.length == 5 && nl.exists(r => r.isNullAt(0) &&
      r.getLong(2) == 1L && r.getLong(3) == 1L), s"null level: ${nl.toSeq}")
  }

  test("branching entropy: hand-derived mix, single-successor zero, top-k by context count") {
    // "a b a c a b": context a → {b:2, c:1}; contexts b, c → single
    // successor each (the boilerplate signature: entropy exactly 0)
    val docs = Seq("a b a c a b").toDF("text")
    val got = TextAnalysis.branchingEntropy(docs, "text", k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val expA = math.floor(
      (math.log(3.0) - (2.0 * math.log(2.0)) / 3.0) * 1e6 + 0.5) / 1e6
    assert(got("a") == ((3L, 2L, expA)), s"got $got, expA $expA")
    assert(got("b") == ((1L, 1L, 0.0)) && got("c") == ((1L, 1L, 0.0)))
    // uniform successors maximize entropy: ln(n)
    val uni = Seq("x p x q x r").toDF("text")
    val h = TextAnalysis.branchingEntropy(uni, "text", k = 1)
      .collect().head
    assert(h.getString(0) == "x" &&
      h.getDouble(3) == math.floor(math.log(3.0) * 1e6 + 0.5) / 1e6)
    // the k-cut orders by context count, tie-broken by w1
    val top = TextAnalysis.branchingEntropy(docs, "text", k = 1)
      .collect().map(_.getString(0)).toSeq
    assert(top == Seq("a"))
    // relayout-stable (keyed sorted fold over integer-count ln terms)
    val again = TextAnalysis.branchingEntropy(docs.repartition(4),
      "text", k = 10).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(again == got)
  }

  test("kn logprob: all three arms hand-scored — seen, backoff, unseen-context, OOV floor") {
    def r4(v: Double): Double =
      (if (v >= 0) math.floor(v * 1e4 + 0.5) else math.ceil(v * 1e4 - 0.5)) / 1e4
    // model from "a b a c": c1(a)=2 n1fw(a)=2, c1(b)=1 n1fw(b)=1,
    // pcont = 1/3 for each of a, b, c
    val train = Seq("a b a c").toDF("text").withColumn("doc_id", lit(0L))
    val score = Seq(
      (1L, "a b"),  // seen bigram:       0.25/2 + (1.5/2)(1/3) = 0.375
      (2L, "b c"),  // seen ctx, unseen:  (0.75/1)(1/3)         = 0.25
      (3L, "z a"),  // unseen ctx:        pcont(a)              = 1/3
      (4L, "a z"),  // OOV successor:     floor                 = 1e-10
      (5L, "solo")  // single token: no bigrams, absent
    ).toDF("doc_id", "text")
    val got = TextAnalysis.knLogProb(train, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"got $got")
    assert(got(1L) == ((1L, r4(math.log(0.375)))), s"seen: $got")
    assert(got(2L) == ((1L, r4(math.log(0.25)))), s"backoff: $got")
    assert(got(3L) == ((1L, r4(math.log(1.0 / 3)))), s"unseen ctx: $got")
    assert(got(4L) == ((1L, r4(math.log(1e-10)))), s"floor: $got")
    // in-distribution text outscores out-of-distribution text
    assert(got(1L)._2 > got(4L)._2)
    // relayout-stable (position-keyed folds, fixed trees)
    val again = TextAnalysis.knLogProb(train, score.repartition(4),
      "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(again == got)
  }

  test("x192 keep-first: a NULL-text doc never survives, as in the oracle's null-unsafe fp join") {
    val withNull = Seq[(Long, String)](
      (1L, null),                          // lowest id: would win a NULL/empty group
      (2L, "hello world"), (3L, "world hello"), // one fingerprint group
      (4L, "")).toDF("doc_id", "text")
    // Spark fingerprints a NULL text as md5("") — the same group as the
    // empty doc — so the keep-first must drop NULL texts itself
    assert(withNull.filter(col("doc_id") === 1L)
      .select(TextAnalysis.fingerprint(TextAnalysis.confusableSkeleton(col("text"))))
      .head().getString(0) != null)
    val survivors = graft.queries.Extensions.x192Survivors(withNull)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(2L, 4L))
  }

  test("evasion audit: planted homoglyph and zero-width dupes collapse, clean corpus zeros") {
    // doc 2 swaps Latin o/e for Cyrillic о/е; doc 3 injects a ZWSP —
    // all three render alike and must share one skeleton group
    val zwsp = 0x200B.toChar
    val docs = Seq(
      (1L, "open the door", "s1"),
      (2L, "\u043Epen the d\u043E\u043Er", "s1"),
      (3L, s"open the${zwsp} door", "s1"),
      (4L, "totally different", "s1"),
      (5L, "clean text here", "s2")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.evasionAudit(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // s1: 4 docs, 2 carrying evasion chars; 4 distinct raw
    // fingerprints collapse to 2 skeleton groups
    assert(got("s1") == ((4L, 2L, 4L, 2L, 2L)), s"got $got")
    // the clean source is certified clean: zero affected, no collapse
    assert(got("s2") == ((1L, 0L, 1L, 1L, 0L)), s"got $got")
    // the skeleton itself: confusables map, invisibles vanish
    val sk = docs.select(
      TextAnalysis.confusableSkeleton(col("text")).as("s"))
      .collect().map(_.getString(0))
    assert(sk(1) == "open the door" && sk(2) == "open the door", sk.toSeq)
  }

  test("kneser-ney bigrams: hand-computed smoothing, mass sums to 1 with backoff, top-k cut") {
    // corpus: "a b a c" + "b a b" → bigram types (a,b):2 (b,a):2
    // (a,c):1; c1(a)=3 n1fw(a)=2, c1(b)=2 n1fw(b)=1; every word
    // follows exactly 1 context → p_cont = 1/3 each, n1all = 3
    val docs = Seq("a b a c", "b a b").toDF("text")
    val got = TextAnalysis.kneserNeyBigrams(docs, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // hand-derived: p_kn(b|a) = 1.25/3 + (1.5/3)(1/3)   = 0.583333
    //              p_kn(a|b) = 1.25/2 + (0.75/2)(1/3)   = 0.75
    //              p_kn(c|a) = 0.25/3 + (1.5/3)(1/3)    = 0.25
    assert(got(("a", "b")) == ((2L, 0.333333, 0.583333)), s"got $got")
    assert(got(("b", "a")) == ((2L, 0.333333, 0.75)), s"got $got")
    assert(got(("a", "c")) == ((1L, 0.333333, 0.25)), s"got $got")
    // the KN invariant: observed mass + unseen-bigram backoff mass
    // sums to 1 per context. For w1=b: 0.75 + 2 · (0.75·1/2)·(1/3)
    val backoffB = (0.75 * 1 / 2.0) * (1.0 / 3)
    assert(math.abs(got(("b", "a"))._3 + 2 * backoffB - 1.0) < 1e-6)
    // deterministic top-k: ties on n cut by (w1, w2); k=2 keeps the
    // two count-2 bigrams
    val top2 = TextAnalysis.kneserNeyBigrams(docs, "text", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(top2 == Set(("a", "b"), ("b", "a")), s"top2 $top2")
    // relayout-stable (fixed division-only tree, no float sums)
    val again = TextAnalysis.kneserNeyBigrams(docs.repartition(5), "text",
      k = 10).collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(again == got)
    // empty / single-token docs contribute nothing and don't error
    val edge = Seq("", "solo", "x y").toDF("text")
    val e = TextAnalysis.kneserNeyBigrams(edge, "text", k = 5).collect()
    assert(e.length == 1 && e.head.getString(0) == "x")
  }

  test("temporal folds: contiguous day ranges, no future leakage, degenerate span, NULL ts") {
    val ev = (0L until 10L).map(d => (d, d))
      .toDF("id", "d")
      .withColumn("t", timestamp_micros(col("d") * 86400000000L))
    val got = Sampling.temporalFolds(ev, "t", k = 5)
      .select(col("fold"), col("d")).as[(Int, Long)].collect()
    // 10 days / 5 folds: exactly 2 consecutive days each
    val byFold = got.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byFold == Map(0 -> Seq(0L, 1L), 1 -> Seq(2L, 3L),
      2 -> Seq(4L, 5L), 3 -> Seq(6L, 7L), 4 -> Seq(8L, 9L)), s"$byFold")
    // the forward-chaining invariant: fold f ends before f+1 begins
    (0 to 3).foreach(f =>
      assert(byFold(f).max < byFold(f + 1).min, "future leaked"))
    // a single-day span degenerates to one fold, not a crash
    val one = Sampling.temporalFolds(ev.filter(col("d") === 3), "t", k = 5)
      .select(col("fold")).as[Int].collect()
    assert(one.toSeq == Seq(0))
    // NULL timestamps fail loudly — a temporal split can't place them
    val withNull = ev.select(col("id"),
      when(col("id") === 5, lit(null)).otherwise(col("t")).as("t"))
    val e = intercept[Exception] {
      Sampling.temporalFolds(withNull, "t", k = 3).collect() }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).mkString)
      .contains("temporalFolds"), e.getMessage)
  }

  test("stratified kfold: ±1 balance, two-phase equals naive rank, parts-invariant, guards") {
    // 47 rows of 'a' and 10 of 'b': neither divides k=5 evenly
    val df = ((0L until 47L).map(i => (i, "a")) ++
      (100L until 110L).map(i => (i, "b"))).toDF("id", "lang")
    val got = Sampling.stratifiedKfold(df, "lang", "id", k = 5)
      .select(col("id"), col("lang"), col("fold"))
      .as[(Long, String, Int)].collect()
    // total function: every row assigned, folds in [0, k)
    assert(got.length == 57 && got.forall(r => r._3 >= 0 && r._3 < 5))
    // the sklearn balance guarantee: within each stratum, sizes ±1
    for (s <- Seq("a", "b")) {
      val sizes = got.filter(_._2 == s).groupBy(_._3).map(_._2.length)
      assert(sizes.max - sizes.min <= 1, s"stratum $s sizes: $sizes")
    }
    // two-phase decomposition equals the naive per-stratum rank % k
    def key(id: Long): Long = (id % 2147483648L) * 2654435761L % 4294967296L
    val naive = got.map(_._2).distinct.flatMap { s =>
      got.filter(_._2 == s).map(_._1).sortBy(i => (key(i), i))
        .zipWithIndex.map { case (id, i) => id -> i % 5 }
    }.toMap
    assert(got.map(r => r._1 -> r._3).toMap == naive)
    // the bucket count is an implementation knob, not a semantic:
    // parts=1 (single window) and parts=7 agree bit-for-bit
    val p1 = Sampling.stratifiedKfold(df, "lang", "id", k = 5, parts = 1)
      .select(col("id"), col("fold")).as[(Long, Int)].collect().toMap
    val p7 = Sampling.stratifiedKfold(df.repartition(9), "lang", "id",
      k = 5, parts = 7)
      .select(col("id"), col("fold")).as[(Long, Int)].collect().toMap
    assert(p1 == got.map(r => r._1 -> r._3).toMap && p7 == p1)
    // NULL keys fail loudly — folds must cover every row
    val withNullId = Seq((Some(1L), "a"), (None: Option[Long], "a"))
      .toDF("id", "lang")
    val e1 = intercept[Exception] {
      Sampling.stratifiedKfold(withNullId, "lang", "id", k = 2).collect() }
    assert((e1.getMessage + Option(e1.getCause).map(_.getMessage).mkString)
      .contains("stratifiedKfold"), e1.getMessage)
    // high-cardinality stratum column is a contract violation, not an OOM
    intercept[IllegalArgumentException] {
      Sampling.stratifiedKfold((0L until 50L).map(i => (i, s"s$i"))
        .toDF("id", "lang"), "lang", "id", k = 2, maxStrata = 3)
    }
  }

  test("padding stats: hand-computed buckets, truncation at maxSeqLen, dynamic beats static") {
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // lens 10/20/30 → bucket 1-64; 80/100 → 65-128; 600 truncates to
    // 512 → bucket 449-512
    val df = Seq((1L, doc(10)), (2L, doc(20)), (3L, doc(30)),
      (4L, doc(80)), (5L, doc(100)), (6L, doc(600)))
      .toDF("id", "text")
    val got = Packing.paddingStats(df, "text",
      maxSeqLen = 512, bucketSize = 64)
      .orderBy(col("bucket_lo"))
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    def r4(v: Double): Double = math.floor(v * 1e4 + 0.5) / 1e4
    assert(got.toSeq == Seq(
      (1L, 64L, 3L, 60L, 30L, r4(1.0 - 60.0 / 90.0), r4(1.0 - 60.0 / (3 * 512.0))),
      (65L, 128L, 2L, 180L, 100L, r4(1.0 - 180.0 / 200.0), r4(1.0 - 180.0 / (2 * 512.0))),
      (449L, 512L, 1L, 512L, 512L, 0.0, 0.0)), s"got ${got.toSeq}")
    // dynamic padding never wastes more than static
    got.foreach { case (_, _, _, _, _, wb, wn) => assert(wb <= wn + 1e-12) }
  }

  test("centroid similarity matrix: aligned labels near 1, orthogonal near 0, one row per pair") {
    // labels 0/1 point along +x (1 with noise), label 2 along +y
    val vecs =
      (0L until 10L).map(i => (i, 0, Array(1f, 0f, 0f))) ++
      (10L until 20L).map(i => (i, 1, Array(0.9f, 0.05f, 0f))) ++
      (20L until 30L).map(i => (i, 2, Array(0f, 1f, 0f)))
    val df = vecs.toDF("id", "label", "vec")
    val got = Similarity.centroidSimilarityMatrix(df, "id", "label", "vec")
      .orderBy(col("label_a"), col("label_b"))
      .as[(Int, Int, Double)].collect()
    assert(got.map(g => (g._1, g._2)).toSeq == Seq((0, 1), (0, 2), (1, 2)))
    val m = got.map(g => (g._1, g._2) -> g._3).toMap
    assert(m((0, 1)) > 0.99, s"aligned labels: $m")
    assert(m((0, 2)) < 0.01 && m((1, 2)) < 0.1, s"orthogonal labels: $m")
    // pure function of the data: relayout changes nothing
    val again = Similarity.centroidSimilarityMatrix(df.repartition(5),
      "id", "label", "vec").orderBy(col("label_a"), col("label_b"))
      .as[(Int, Int, Double)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("ann recall: full probe scores 1.0 everywhere, absent queries score 0, never inflates") {
    val vecs = (0L until 60L).map(id =>
      (id, Array.tabulate(8)(i => math.cos(id * 1.9 + i * 0.7).toFloat)))
    val df = vecs.toDF("id", "vec")
    val q = df.filter(col("id") < 10)
    val exact = Similarity.batchTopK(q, df, "id", "id", "vec", "vec", k = 5)
    // full probe: every band chunk is 1 bit → any-bit agreement, and
    // top-k similar pairs are never antipodal → recall 1.0 per query
    val full = Similarity.lshBatchTopK(q, df, "id", "id", "vec", "vec",
      k = 5, numBits = 16, bands = 16)
    val r = Similarity.annRecall(exact, full, k = 5)
      .as[(Long, Long, Double)].collect()
    assert(r.length == 10)
    r.foreach { case (qid, hits, rec) =>
      assert(hits == 5L && rec == 1.0, s"query $qid: $hits hits, $rec") }
    // an ANN table that dropped a query entirely scores 0 for it —
    // the left join never lets silence inflate recall
    val partial = full.filter(col("query_id") =!= 3L)
    val byQ = Similarity.annRecall(exact, partial, k = 5)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(byQ(3L) == ((0L, 0.0)), s"dropped query: ${byQ(3L)}")
    assert(byQ.size == 10)
  }

  test("wide-band lshBatchTopK and hardNegativesLsh: the shared regime honors widths past one Long") {
    val vecs = (0L until 60L).map(id =>
      (id, Array.tabulate(8)(i => math.cos(id * 1.9 + i * 0.7).toFloat)))
    val df = vecs.toDF("id", "vec")
    val q = df.filter(col("id") < 10)
    // queries live IN the corpus, so each query's rank-1 neighbor is
    // itself at cosine 1.0 — identical vectors carry identical
    // per-band signatures in ANY regime, so the wide path (80 bits =
    // 10-bit chunks × 8 bands > one Long) must find them
    // deterministically
    val wide = Similarity.lshBatchTopK(q, df, "id", "id", "vec", "vec",
      k = 3, numBits = 80, bands = 8)
      .as[(Long, Long, Int, Double)].collect()
    val rank1 = wide.filter(_._3 == 1).map(t => t._1 -> (t._2, t._4)).toMap
    (0L until 10L).foreach { qid =>
      assert(rank1.get(qid).contains((qid, 1.0)),
        s"query $qid rank-1 ${rank1.get(qid)} != itself at 1.0") }
    wide.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1 to rows.length),
        s"query $qid ranks not contiguous") }
    // hardNegativesLsh through the wide regime: well-formed output —
    // cross-label negatives only, contiguous ranks, exact cosines
    val lbl = (0L until 40L).map { id =>
      (id, (id % 4).toInt,
        Array.tabulate(8)(i => math.sin(id * 2.7 + i * 1.3).toFloat)) }
    val ldf = lbl.toDF("id", "label", "vec")
    val negs = Similarity.hardNegativesLsh(ldf, "id", "label", "vec",
      k = 4, numBits = 80, bands = 8, maxBucket = 1000)
      .as[(Long, Int, Long, Double)].collect()
    assert(negs.nonEmpty)
    val labelOf = lbl.map(t => t._1 -> t._2).toMap
    def cosOf(a: Long, b: Long): Double = {
      val (va, vb) = (lbl(a.toInt)._3, lbl(b.toInt)._3)
      val dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(va.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(vb.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    negs.foreach { case (anchor, rank, neg, cos) =>
      assert(labelOf(anchor) != labelOf(neg),
        s"same-label negative $anchor/$neg")
      assert(rank >= 1 && cos == cosOf(anchor, neg),
        s"pair $anchor/$neg rank=$rank cos=$cos != ${cosOf(anchor, neg)}") }
  }

  test("maxsim: each query term matches its own doc vector — the property centroids lose") {
    // doc 1 holds an x-axis and a y-axis vector; doc 2 holds two
    // diagonals. Their CENTROIDS are identical (both diagonal), but
    // MaxSim separates them: queries {x, y} each find their exact
    // match in doc 1 (score 1+1=2) and only cos45° in doc 2 (≈1.41)
    val corpus = Seq(
      (1, Array(1f, 0f)), (1, Array(0f, 1f)),
      (2, Array(0.7071f, 0.7071f)), (2, Array(0.7071f, 0.7071f)))
      .toDF("label", "vec")
    val queries = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("qid", "qv")
    val got = Similarity.maxSimScores(queries, corpus,
      "qid", "label", "qv", "vec")
      .orderBy(col("doc")).as[(Int, Double)].collect().toMap
    assert(got(1) == 2.0, s"exact-match doc: $got")
    assert(math.abs(got(2) - 2 * 0.7071) < 1e-3, s"diagonal doc: $got")
    assert(got(1) > got(2), "late interaction must beat the shared centroid")
    // relayout changes nothing (rounded cosines, keyed fold)
    val again = Similarity.maxSimScores(queries, corpus.repartition(3),
      "qid", "label", "qv", "vec")
      .orderBy(col("doc")).as[(Int, Double)].collect().toMap
    assert(again == got)
  }

  test("structure stats: hand-computed sentences, run-on and comma-spam shapes, blank-only text") {
    val df = Seq(
      (1L, "One. Two two! Three three three?"), // 3 sentences, 6 words
      (2L, "a, b, c"),                           // run-on: 1 sentence, 2 commas
      (3L, "..."),                               // terminators only: 0 sentences
      (4L, "no terminator at all"))              // run-on: 1 sentence
      .toDF("doc_id", "text")
    val got = TextAnalysis.structureStats(df)
      .select(col("doc_id"), col("n_sentences"),
        col("mean_words_per_sentence"), col("comma_density"))
      .orderBy(col("doc_id"))
      .as[(Long, Int, Double, Double)].collect()
    assert(got(0) == ((1L, 3, 2.0, 0.0)), s"${got.toSeq}")
    assert(got(1) == ((2L, 1, 3.0, 0.6667)), s"${got.toSeq}")
    assert(got(2)._2 == 0 && got(2)._3 == 0.0, s"${got.toSeq}")
    assert(got(3) == ((4L, 1, 4.0, 0.0)), s"${got.toSeq}")
  }

  test("matched split: equals plain-scala replay, strata balanced, relayout-stable") {
    val n = 1000
    val df = (0L until n.toLong).map(i => (i, i)).toDF("id", "v")
    // plain-scala mirror: interpolated quantiles, round-6 boundaries,
    // strictly-greater bucket count, Knuth split hash
    def quantile(p: Double): Double = {
      // sorted values are exactly 0..n-1, so value(i) = i
      val pos = (n - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, n - 1)
      lo + (pos - lo) * (hi - lo)
    }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val bounds = (1 until 10).map(i => r6(quantile(i / 10.0)))
    def bucket(v: Long): Int = bounds.count(b => v.toDouble > b)
    def split(id: Long): String =
      if (((id % 2147483648L) * 2654435761L) % 4294967296L % 100L < 20L)
        "holdout" else "train"
    val expected = (0L until n.toLong)
      .groupBy(i => (bucket(i), split(i)))
      .map { case (k, g) => k -> g.size.toLong }
    val got = Sampling.matchedSplit(df, "id", "v",
      buckets = 10, holdoutPct = 20)
      .groupBy(col("value_bucket"), col("split"))
      .agg(count(lit(1)).as("n"))
      .as[(Int, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got == expected, s"\ngot $got\nexp $expected")
    // every stratum is present with BOTH splits, and the holdout
    // share per stratum sits near the 20% target (hash uniformity)
    (0 until 10).foreach { b =>
      val h = got.getOrElse((b, "holdout"), 0L)
      val t = got.getOrElse((b, "train"), 0L)
      assert(h > 0 && t > 0, s"stratum $b missing a split: $got")
      val share = h.toDouble / (h + t)
      assert(share > 0.08 && share < 0.35, s"stratum $b holdout $share") }
    // relayout changes nothing (boundary literals + id hash)
    val again = Sampling.matchedSplit(df.repartition(7), "id", "v",
      buckets = 10, holdoutPct = 20)
      .groupBy(col("value_bucket"), col("split"))
      .agg(count(lit(1)).as("n"))
      .as[(Int, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(again == got)
  }

  test("round-7 edge guards: NULL id fails loudly, NULL value stays NULL, missing seed names itself") {
    // epochShuffle: a NULL id must raise, not silently drop the row
    val withNull = Seq(Some(1L), Some(2L), None)
      .toDF("id")
    val err = intercept[Exception] {
      Sampling.epochShuffle(withNull, "id", epoch = 1).collect()
    }
    assert(err.getMessage.contains("epochShuffle") ||
      Option(err.getCause).exists(_.getMessage.contains("epochShuffle")),
      s"unexpected error: ${err.getMessage}")
    // matchedSplit: NULL values keep a NULL stratum (never stratum 0)
    // while still receiving a split side
    val vals = ((1L to 20L).map(i => (i, Some(i))) :+ (99L, None))
      .toDF("id", "v")
    val ms = Sampling.matchedSplit(vals, "id", "v", buckets = 4,
      holdoutPct = 20)
      .select(col("id"), col("value_bucket"), col("split")).collect()
    val nullRow = ms.find(_.getLong(0) == 99L).get
    assert(nullRow.isNullAt(1), s"NULL value got stratum ${nullRow.get(1)}")
    assert(Seq("train", "holdout").contains(nullRow.getString(2)))
    assert(ms.filter(_.getLong(0) != 99L).forall(!_.isNullAt(1)))
    // kCenterCoreset: a missing seed id names itself in the failure
    val vecs = (1L to 5L).map(i => (i, Array(i.toFloat, 0f))).toDF("id", "vec")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.kCenterCoreset(vecs, "id", "vec", k = 2, seedId = 42L)
    }
    assert(e2.getMessage.contains("42"), e2.getMessage)
  }

  test("per-group cap: exact k, relayout-stable, hash-selected, NULL group capped") {
    val rows = ((1L to 100L).map(i => (i, "big")) ++
      (101L to 110L).map(i => (i, "small")) ++
      (201L to 230L).map(i => (i, null.asInstanceOf[String])))
      .toDF("id", "grp")
    val capped = Sampling.capPerGroup(rows, "grp", "id", 20)
    val byGrp = capped.groupBy("grp").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byGrp(Some("big")) == 20, s"big not capped: $byGrp")
    assert(byGrp(Some("small")) == 10, "under-k group must keep everything")
    assert(byGrp(None) == 20, "NULL group must cap as its own group")
    // membership is a pure function of ids — relayout changes nothing
    val got = capped.select("id").as[Long].collect().toSet
    val again = Sampling.capPerGroup(rows.repartition(13), "grp", "id", 20)
      .select("id").as[Long].collect().toSet
    assert(again == got)
    // hash selection, not "first k by id": the kept big-group ids
    // must not be exactly 1..20 (probability ~0 under the hash)
    val bigKept = capped.filter(col("grp") === "big")
      .select("id").as[Long].collect().toSet
    assert(bigKept != (1L to 20L).toSet, "cap kept the oldest ids — not hash-selected")
  }

  test("dsir importance weights: target-like docs score higher, relayout-stable") {
    // target domain speaks {aa bb}, raw speaks {cc dd}; a fresh doc in
    // target vocabulary must out-score a fresh doc in raw vocabulary
    val rows = ((1L to 20L).map(i => (i, "aa bb aa bb aa bb", true)) ++
      (21L to 60L).map(i => (i, "cc dd cc dd cc dd", false)) ++
      Seq((101L, "aa bb aa bb aa bb", false), // target-like raw doc
        (102L, "cc dd cc dd cc dd", false))) // raw-like raw doc
      .toDF("id", "text", "is_target")
    val w = TextAnalysis.importanceWeights(rows, "id", "text", "is_target",
      numBuckets = 64)
      .as[(Long, Double)].collect().toMap
    assert(w(101L) > w(102L),
      s"target-like doc must out-score raw-like: $w")
    assert(w(101L) > 0 && w(102L) < 0,
      s"log-ratio signs should separate the domains: $w")
    // pure function of the corpus: relayout changes nothing, bit-for-bit
    val again = TextAnalysis.importanceWeights(rows.repartition(7), "id",
      "text", "is_target", numBuckets = 64)
      .as[(Long, Double)].collect().toMap
    assert(again == w)
  }

  test("edit-distance contamination: near-copy flagged, shared-phrase pair cleared") {
    val eval = Seq(
      (1L, "the model was evaluated on held out benchmark questions today")
    ).toDF("doc_id", "text")
    val train = Seq(
      // near-verbatim copy (one word changed) — must flag
      (10L, "the model was evaluated on held out benchmark questions tonight"),
      // shares a phrase but is a different document — candidate, cleared
      (11L, "the model was evaluated on a totally different corpus with new material and extra words"),
      // no shared trigrams — must not even be a candidate
      (12L, "unrelated text about spark catalyst optimizer internals")
    ).toDF("doc_id", "text")
    val got = Dedup.editDistanceContamination(train, eval, "doc_id", "text",
      minShared = 2, simThreshold = 0.8)
      .collect().map(r => r.getAs[Long]("train_id") ->
        ((r.getAs[Double]("edit_sim"), r.getAs[Boolean]("contaminated")))).toMap
    assert(got.contains(10L) && got(10L)._2, s"near-copy not flagged: $got")
    assert(got.contains(11L) && !got(11L)._2,
      s"phrase-sharing pair must be a cleared candidate: $got")
    assert(!got.contains(12L), s"non-candidate leaked through: $got")
    assert(got(10L)._1 > 0.85 && got(11L)._1 < 0.6, s"similarity scale off: $got")
  }

  test("segment dedup: first occurrence wins, docs rebuilt in order, full dup vanishes") {
    // 8-token segments; doc 1 owns both segments, doc 2 repeats doc 1's
    // first segment then adds a novel one, doc 3 is a full copy of doc 1
    val seg1 = "a b c d e f g h"
    val seg2 = "i j k l m n o p"
    val seg3 = "q r s t u v w x"
    val rows = Seq(
      (1L, s"$seg1 $seg2"),
      (2L, s"$seg1 $seg3"),
      (3L, s"$seg1 $seg2"))
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(rows, "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segments_kept"), r.getAs[String]("clean_text")))).toMap
    assert(got(1L) == ((2L, s"$seg1 $seg2")), s"keeper doc altered: $got")
    assert(got(2L) == ((1L, seg3)), s"repeat segment not stripped: $got")
    assert(!got.contains(3L), s"fully-duplicated doc must vanish: $got")
    // partial trailing segment survives and reassembles in position order
    val tail = Dedup.segmentDedup(
      Seq((7L, s"$seg3 zz yy")).toDF("doc_id", "text"), "doc_id", "text", n = 8)
      .collect().map(r => r.getString(2)).head
    assert(tail == s"$seg3 zz yy", s"trailing partial segment mangled: $tail")
    // deterministic under relayout
    val again = Dedup.segmentDedup(rows.repartition(5), "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segments_kept"), r.getAs[String]("clean_text")))).toMap
    assert(again == got)
  }

  test("char window dedup: reconstruction exact, first occurrence wins, whitespace-faithful") {
    // 10-char windows; w1/w2/w3 are exactly one window each
    val w1 = "aaaaabbbbb"
    val w2 = "cccccddddd"
    val w3 = "eeeeefffff"
    val rows = Seq(
      (1L, w1 + w2),        // owns both windows
      (2L, w1 + w3),        // repeats doc 1's first window, adds a novel one
      (3L, w1 + w2),        // full copy — must vanish
      (4L, "short"))        // single partial window, unique
      .toDF("doc_id", "text")
    val got = Dedup.charWindowDedup(rows, "doc_id", "text", n = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows_kept"), r.getAs[String]("clean_text")))).toMap
    assert(got(1L) == ((2L, w1 + w2)), s"keeper doc altered: $got")
    assert(got(2L) == ((1L, w3)), s"repeat window not stripped: $got")
    assert(!got.contains(3L), s"fully-duplicated doc must vanish: $got")
    assert(got(4L) == ((1L, "short")), s"partial window mangled: $got")
    // unlike segmentDedup, char windows are whitespace-FAITHFUL: a
    // spacing difference INSIDE a window shifts every later window,
    // so the variant shares nothing and survives whole (a space on
    // the exact window boundary would still dedup the prefix — the
    // fixed-offset contract)
    val spaced = Seq((1L, w1 + w2), (9L, "aaaaa bbbbb" + w2))
      .toDF("doc_id", "text")
    val sp = Dedup.charWindowDedup(spaced, "doc_id", "text", n = 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sp(9L) == "aaaaa bbbbb" + w2, s"spacing variant must survive: $sp")
    // trailing partial window reassembles in position order; a doc
    // reconstructs to its exact text when nothing collides
    val exact = "The quick brown fox jumps over the lazy dog — twice."
    val solo = Dedup.charWindowDedup(
      Seq((7L, exact)).toDF("doc_id", "text"), "doc_id", "text", n = 7)
      .collect().head
    assert(solo.getString(2) == exact, s"reconstruction broken: $solo")
    assert(solo.getLong(1) == math.ceil(exact.length / 7.0).toLong)
    // deterministic under relayout
    val again = Dedup.charWindowDedup(rows.repartition(5), "doc_id", "text", n = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows_kept"), r.getAs[String]("clean_text")))).toMap
    assert(again == got)
  }

  test("anchor window profile: catches the 1-char-insertion near-dup x194 provably misses") {
    // deterministic pseudo-random text (LCG): enough entropy that no
    // 40-char window repeats by accident, long enough to carry ~25
    // content-defined anchors at density 1/16
    def lcgText(seed: Long, len: Int): String = {
      var s = seed
      (0 until len).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = ((s >>> 33) % 27).toInt
        if (v == 26) ' ' else ('a' + v).toChar
      }.mkString
    }
    val base = lcgText(42L, 400)
    val rows = Seq(
      (1L, base),           // original
      (2L, "X" + base),     // 1-char PREFIX insertion — every fixed
                            // window shifts; anchors re-align
      (3L, lcgText(7L, 400))) // unrelated
      .toDF("doc_id", "text")
    // x194's fixed grid: doc 2 survives WHOLE — zero windows shared
    // with doc 1 (the alignment hole this operator exists to close)
    val grid = Dedup.charWindowDedup(rows, "doc_id", "text", n = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grid(2L) == math.ceil(401 / 40.0).toLong,
      s"fixture broken: the grid should miss the shifted dup entirely: $grid")
    // the anchored pass: doc 2's windows are overwhelmingly earlier-
    // seen (doc 1 wins every shared window by id order) -> flagged
    val got = Dedup.anchorWindowProfile(rows, "doc_id", "text",
      n = 40, window = 8, mod = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Int]("dup_doc")))).toMap
    assert(got.contains(2L), s"doc 2 must carry anchors: $got")
    val (n2, d2, f2) = got(2L)
    assert(n2 >= 10, s"fixture too anchor-poor to be meaningful: $got")
    assert(d2 * 2 > n2 && f2 == 1,
      s"1-char-insertion dup must be caught: $got")
    // the first occurrence is never its own duplicate; unrelated text
    // shares nothing
    assert(got(1L)._3 == 0 && got(1L)._2 == 0, s"keeper flagged: $got")
    assert(got(3L)._3 == 0 && got(3L)._2 == 0, s"unrelated flagged: $got")
    // deterministic under relayout
    val again = Dedup.anchorWindowProfile(rows.repartition(5), "doc_id",
      "text", n = 40, window = 8, mod = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Int]("dup_doc")))).toMap
    assert(again == got)
    // guards: the verification window must exceed the anchor k-gram
    assertThrows[IllegalArgumentException] {
      Dedup.anchorWindowProfile(rows, "doc_id", "text", n = 8, window = 8)
    }
    // r10 advice: large windows wrap the Long window hash — allowed
    // only with a power-of-two mod (wrap mod 2^64 commutes)
    assertThrows[IllegalArgumentException] {
      Dedup.anchorWindowProfile(rows, "doc_id", "text",
        n = 40, window = 14, mod = 10)
    }
    // r11 advice (bound corrected): window=11 already wraps on BMP
    // text (65535·(31^11−1)/30 ≈ 5.6e19 > 2^63) — the guard covers
    // the full documented ASCII/BMP parity envelope, so 11..13 with
    // a non-power-of-two mod must be rejected too
    assertThrows[IllegalArgumentException] {
      Dedup.anchorWindowProfile(rows, "doc_id", "text",
        n = 40, window = 11, mod = 10)
    }
  }

  test("anchor window dedup: 1-char-insertion duplication is CUT, survivor reconstructs byte-exact") {
    def lcgText(seed: Long, len: Int): String = {
      var s = seed
      (0 until len).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = ((s >>> 33) % 27).toInt
        if (v == 26) ' ' else ('a' + v).toChar
      }.mkString
    }
    val base = lcgText(42L, 400)
    val rows = Seq(
      (1L, base),            // first occurrence — must come back byte-exact
      (2L, "X" + base),      // 1-char PREFIX insertion (defeats the x194 grid)
      (3L, lcgText(7L, 400))) // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.anchorWindowDedup(rows, "doc_id", "text",
      n = 40, window = 8, mod = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_spans"), r.getAs[Long]("chars_removed"),
          r.getAs[String]("clean_text")))).toMap
    // survivors: zero spans, zero chars, text byte-identical
    assert(got(1L) == ((0L, 0L, base)), "first occurrence must be untouched")
    assert(got(3L)._3 == lcgText(7L, 400), "unrelated doc must be untouched")
    // the shifted duplicate: the duplicated run is cut at its true
    // (unaligned) positions — most of the 401 chars go; only the
    // pre-first-anchor head and anchor-gap slack survive
    val (sp2, rm2, clean2) = got(2L)
    assert(sp2 >= 1 && rm2 >= 300,
      s"shifted duplication must be cut: spans=$sp2 removed=$rm2")
    assert(clean2.length == 401 - rm2, "removal accounting must balance")
    assert(clean2.length <= 101, s"residue too large: ${clean2.length}")
    // every surviving char really is from doc 2 in order (cutting
    // never reorders or fabricates): clean2 is a subsequence
    val isSubseq = clean2.foldLeft(0) { (i, c) =>
      val j = ("X" + base).indexOf(c, i); assert(j >= 0); j + 1
    }
    assert(isSubseq <= 401)
    // deterministic under relayout
    val again = Dedup.anchorWindowDedup(rows.repartition(5), "doc_id",
      "text", n = 40, window = 8, mod = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_spans"), r.getAs[Long]("chars_removed"),
          r.getAs[String]("clean_text")))).toMap
    assert(again == got)
    // in-doc self-duplication: the SECOND copy of a repeated run is
    // cut even inside one document (first = smallest (id, pos))
    val self = Seq((5L, base.take(120) + lcgText(99L, 30) + base.take(120)))
      .toDF("doc_id", "text")
    val gotSelf = Dedup.anchorWindowDedup(self, "doc_id", "text",
      n = 40, window = 8, mod = 16).collect().head
    assert(gotSelf.getAs[Long]("chars_removed") >= 40,
      s"in-doc repeat must be cut: $gotSelf")
  }

  test("dedup by anchor profile: the shifted duplicate DOC is removed, survivor byte-exact") {
    def lcgText(seed: Long, len: Int): String = {
      var s = seed
      (0 until len).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = ((s >>> 33) % 27).toInt
        if (v == 26) ' ' else ('a' + v).toChar
      }.mkString
    }
    val base = lcgText(42L, 400)
    val rows = Seq(
      (1L, base), (2L, "X" + base), (3L, lcgText(7L, 400)))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupByAnchorProfile(rows, "doc_id", "text",
      n = 40, window = 8, mod = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.keySet == Set(1L, 3L),
      s"majority-dup doc 2 must vanish whole: ${kept.keySet}")
    assert(kept(1L) == base, "survivor must keep its original text column")
  }

  test("anchor window recall: measured hit rate vs planted shifted-run length (x197 harness)") {
    // the r10 verdict: x197's anchor-conditioned recall ("runs >~
    // window + n + mod") was asserted by argument, never measured.
    // Plant K shifted duplicate runs per length L: a source doc holds
    // the run; a LATER host doc embeds the same run at a different,
    // unaligned offset between unrelated padding. Detection = the
    // host reports >= 1 duplicate window. The DETERMINISTIC hit
    // channel needs an anchor at run-relative pos r in [window, L-n]
    // (k-gram AND window inside the run in both copies), so with
    // anchor density 1/mod:
    //   E[recall](L) ~= 1 - (1 - 1/16)^(L - n - window + 1)
    // MEASUREMENT CORRECTED THE ARGUMENT at the short end: L=47 has
    // no such position yet measured 3% — a k-gram STRADDLING the run
    // boundary hashes different padding in each copy but can fire in
    // both coincidentally ((1/mod)^2 per straddling placement, ~8/256
    // here), anchoring a fully-in-run window. Short-run recall is
    // small-but-nonzero, not the structural zero the r10 scaladoc
    // argument implied.
    val n = 40; val window = 8; val mod = 16; val K = 64
    def lcgText(seed: Long, len: Int): String = {
      var s = seed
      (0 until len).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = ((s >>> 33) % 27).toInt
        if (v == 26) ' ' else ('a' + v).toChar
      }.mkString
    }
    val lengths = Seq(47, 48, 64, 80, 96) // window+n-1 .. window+n+3*mod
    val docs = lengths.zipWithIndex.flatMap { case (ell, li) =>
      (0 until K).flatMap { k =>
        val seed = (li * 1000 + k).toLong
        val run = lcgText(seed * 31 + 1, ell)
        // source earlier (small id), host later; paddings all distinct
        val src = (li * 10000L + k * 2L,
          lcgText(seed * 31 + 2, 30) + run + lcgText(seed * 31 + 3, 30))
        val host = (1000000L + li * 10000L + k * 2L,
          lcgText(seed * 31 + 4, 45) + run + lcgText(seed * 31 + 5, 45))
        Seq(src, host)
      }
    }
    val prof = Dedup.anchorWindowProfile(docs.toDF("doc_id", "text"),
      "doc_id", "text", n, window, mod)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_dup_windows")).toMap
    val recall = lengths.zipWithIndex.map { case (ell, li) =>
      val hits = (0 until K).count { k =>
        prof.getOrElse(1000000L + li * 10000L + k * 2L, 0L) >= 1L
      }
      ell -> hits.toDouble / K
    }.toMap
    info(s"measured recall at n=$n window=$window mod=$mod over K=$K: " +
      lengths.map(l => f"L=$l%d -> ${recall(l)}%.3f " +
        f"(expected ${1 - math.pow(1 - 1.0 / mod, math.max(0, l - n - window + 1))}%.3f)")
        .mkString(", "))
    // below the deterministic-channel threshold only the (1/mod)^2
    // coincidence channel remains: measured 0.031 under this seed
    assert(recall(47) <= 0.10, s"L=47 coincidence channel only: $recall")
    // measured floors with margin under the fixed seed (measured
    // 0.047/0.766/0.859/0.969; binomial noise at K=64 is ~6pp at
    // p=0.5); the curve must RISE with L
    assert(recall(64) >= 0.55, s"L=64 (17 positions, E=0.67, measured 0.77): $recall")
    assert(recall(80) >= 0.70, s"L=80 (33 positions, E=0.88, measured 0.86): $recall")
    assert(recall(96) >= 0.85, s"L=96 (49 positions, E=0.96, measured 0.97): $recall")
    assert(recall(48) < recall(64) && recall(64) < recall(96),
      s"recall must rise with run length: $recall")
  }

  test("logreg classifier: separable domains separate, relayout-stable, approx == exact") {
    // target domain speaks {aa bb}, raw speaks {cc dd}: two gradient
    // rounds must push target-vocabulary docs above raw-vocabulary
    // docs, including UNLABELED target-like docs (generalization)
    val rows = ((1L to 20L).map(i => (i, "aa bb aa bb aa bb", true)) ++
      (21L to 60L).map(i => (i, "cc dd cc dd cc dd", false)) ++
      Seq((101L, "aa bb aa bb aa bb", false),
        (102L, "cc dd cc dd cc dd", false)))
      .toDF("id", "text", "is_target")
    val scored = Classifier.logRegScores(rows, "id", "text", "is_target",
      numBuckets = 64, eta = 0.5, iters = 2)
    val got = scored.collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("label"), r.getAs[Double]("score")))).toMap
    assert(got(1L)._1 == 1 && got(21L)._1 == 0)
    assert(got(101L)._2 > got(102L)._2,
      s"unlabeled target-like doc must out-score raw-like: $got")
    assert(got(1L)._2 > 0.5 && got(21L)._2 < 0.5,
      s"trained scores must separate the domains: $got")
    assert(got.values.forall(v => v._2 >= 0.0 && v._2 <= 1.0))
    // training is a pure function of the corpus — relayout-stable
    val again = Classifier.logRegScores(rows.repartition(7), "id", "text",
      "is_target", numBuckets = 64, eta = 0.5, iters = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    assert(again == got.map { case (k, v) => k -> v._2 })
    // the bounded-memory production gradient (plain partial-agg sum)
    // trains the same model up to addition-order ulps
    val approx = Classifier.logRegScores(rows, "id", "text", "is_target",
      numBuckets = 64, eta = 0.5, iters = 2, exact = false)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    assert(approx.keySet == again.keySet)
    approx.foreach { case (id, v) =>
      assert(math.abs(v - again(id)) < 1e-6, s"approx diverged at $id") }
  }

  test("cluster-aware split: near-dup clusters never straddle, singletons split by id") {
    // pairs: {1,2,3} one cluster, {10,11} another; 20, 21 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id")
    val got = Dedup.leakageSafeSplit(docs, "id", pairs, "id_a", "id_b",
      holdoutPct = 50)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[String]("split")))).toMap
    assert(got.size == 7, "split must preserve every document")
    // every cluster member shares the representative AND the side
    assert(Set(got(1L), got(2L), got(3L)).size == 1,
      s"cluster {1,2,3} straddles: $got")
    assert(got(10L) == got(11L), s"cluster {10,11} straddles: $got")
    assert(got(1L)._1 == 1L && got(10L)._1 == 10L)
    // singletons key on their own id
    assert(got(20L)._1 == 20L && got(21L)._1 == 21L)
    // membership is a pure function of the cluster graph
    val again = Dedup.leakageSafeSplit(docs.repartition(5), "id",
      pairs.repartition(3), "id_a", "id_b", holdoutPct = 50)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[String]("split")))).toMap
    assert(again == got)
    // holdoutPct 0 / 100 degenerate cases
    assert(Dedup.leakageSafeSplit(docs, "id", pairs, "id_a", "id_b", 0)
      .filter(col("split") === "holdout").count() == 0)
    assert(Dedup.leakageSafeSplit(docs, "id", pairs, "id_a", "id_b", 100)
      .filter(col("split") === "train").count() == 0)
  }

  test("key skew stats: hot key measured, verdict flips with threshold, NULL key counted") {
    // 100 rows on key 1 (the celebrity), 10 keys with 1 row, 5 NULLs
    val rows = (Seq.fill(100)(Some(1L)) ++ (2L to 11L).map(Some(_)) ++
      Seq.fill(5)(Option.empty[Long]))
      .toDF("k")
    val r = Skew.keySkewStats(rows, "k", saltThreshold = 0.5).head()
    assert(r.getAs[Long]("n_rows") == 115 && r.getAs[Long]("n_keys") == 12)
    assert(r.getAs[Long]("top1_cnt") == 100)
    assert(r.getAs[Double]("top1_share") == math.rint(100.0 / 115 * 10000) / 10000)
    assert(r.getAs[Double]("p50_cnt") == 1.0, "median key holds one row")
    assert(r.getAs[Boolean]("needs_salting"), "87% share must trip a 50% threshold")
    val lax = Skew.keySkewStats(rows, "k", saltThreshold = 0.9).head()
    assert(!lax.getAs[Boolean]("needs_salting"))
    // uniform distribution: no salting verdict at any sane threshold
    val uniform = Skew.keySkewStats(
      (1L to 100L).toDF("k"), "k", saltThreshold = 0.05).head()
    assert(!uniform.getAs[Boolean]("needs_salting"))
    assert(uniform.getAs[Double]("skew_ratio") == 1.0)
  }

  test("rebalance to target: fractions honored, cap-at-1 keeps all, relayout-stable") {
    // a: 1000 rows, b: 100, c: 50, d: 200 (d not targeted -> dropped)
    val rows = ((1L to 1000L).map(i => (i, "a")) ++
      (2001L to 2100L).map(i => (i, "b")) ++
      (3001L to 3050L).map(i => (i, "c")) ++
      (4001L to 4200L).map(i => (i, "d")))
      .toDF("id", "grp")
    // N = 1150 over targeted strata; fractions: a min(1,1150*.10/1000)=.115,
    // b min(1,1150*.05/100)=.575, c min(1,1150*.20/50)=1 (cap)
    val kept = Sampling.rebalanceToTarget(rows, "grp", "id",
      Map("a" -> 0.10, "b" -> 0.05, "c" -> 0.20))
    val byGrp = kept.groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byGrp.contains("d"), "untargeted stratum must drop")
    assert(byGrp("c") == 50, "cap-at-1 stratum must keep everything")
    // hash-thinned strata land near fraction*n (hash variance band)
    assert(math.abs(byGrp("a") - 115.0) < 40, s"a kept ${byGrp("a")}")
    assert(math.abs(byGrp("b") - 57.5) < 25, s"b kept ${byGrp("b")}")
    // pure function of (ids, counts, targets): relayout changes nothing
    val got = kept.select("id").as[Long].collect().toSet
    val again = Sampling.rebalanceToTarget(rows.repartition(13), "grp", "id",
      Map("a" -> 0.10, "b" -> 0.05, "c" -> 0.20))
      .select("id").as[Long].collect().toSet
    assert(again == got)
  }

  test("rebalance to target: threshold is the IEEE-double tree at a representation boundary") {
    // 3 rows, share 0.1: exact-rational floor(min(1, (3*0.1)/3)*1e6)
    // = 99999 (0.1 scaled decimal), but the driver's double tree
    // gives floor(100000.00000000003) = 100000 — a row whose Knuth
    // bucket is EXACTLY 99999 is kept only under the double tree.
    // This pins the Scala side to doubles; the x105 oracle CASTs its
    // literals to DOUBLE to replay the same tree (DuckDB types bare
    // literals as DECIMAL).
    val doubleThr =
      math.floor(math.min(1.0, (3L * 0.1) / 3L) * 1000000).toLong
    assert(doubleThr == 100000L, s"double tree gave $doubleThr")
    def bucket(id: Long): Long =
      math.floorMod(math.floorMod(id, 2147483648L) * 2654435761L,
        4294967296L) % 1000000L
    // smallest ids landing exactly on and just above the boundary
    val boundaryId = Iterator.iterate(0L)(_ + 1)
      .find(id => bucket(id) == 99999L).get
    val overId = Iterator.iterate(0L)(_ + 1)
      .find(id => bucket(id) == 100000L).get
    val filler = Iterator.iterate(0L)(_ + 1)
      .filter(id => id != boundaryId && id != overId && bucket(id) > 100001L)
      .take(1).toSeq.head
    val rows = Seq(boundaryId, overId, filler).map((_, "s")).toDF("id", "grp")
    val kept = Sampling.rebalanceToTarget(rows, "grp", "id",
      Map("s" -> 0.1)).select("id").as[Long].collect().toSet
    assert(kept.contains(boundaryId),
      s"bucket-99999 row must pass a double-tree threshold of 100000")
    assert(!kept.contains(overId),
      s"bucket-100000 row must fail thr 100000 (strict <)")
  }

  test("embedding outliers: planted far vector flagged, in-cluster vectors clean") {
    // label 0: 20 vectors near (1,0,...)  plus one planted far point;
    // label 1: 20 near (0,1,...) — the far point must be the ONLY flag
    val dims = 8
    def vec(base: Int, jitter: Float) =
      Array.tabulate(dims)(i => (if (i == base) 1f else 0f) + (if (i == (base + 1) % dims) jitter else 0f))
    val rows = ((1L to 20L).map(i => (i, 0, vec(0, (i % 5) * 0.01f))) ++
      Seq((99L, 0, Array.fill(dims)(5f))) ++ // the mis-embedded row
      (101L to 120L).map(i => (i, 1, vec(1, (i % 5) * 0.01f))))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.embeddingOutliers(rows, "vec_id", "label", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("is_outlier")).toMap
    assert(got(99L), s"planted outlier not flagged: $got")
    assert(got.count(_._2) == 1, s"false positives: ${got.filter(_._2)}")
    // pure function of the table: relayout changes nothing
    val again = Similarity.embeddingOutliers(rows.repartition(7), "vec_id",
      "label", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("is_outlier")).toMap
    assert(again == got)
  }

  test("column profile: exact stats per column, nulls and ndv counted") {
    val rows = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("a")),
      (4L, None)).toDF("id", "v")
    val got = Profiling.columnProfile(rows, Seq("id", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    assert(got("id") == ((4L, 4L, 4L, "1", "4")))
    assert(got("v") == ((4L, 3L, 2L, "a", "b")), s"got $got")
  }

  test("filter attribution: first failing rule wins, integer-exact boundaries") {
    val corpus = Seq(
      ("s", "a"),                                  // 1 token   -> too_short
      ("s", "one two three four five six seven"),  // 7 tokens  -> too_long
      ("s", "the the the the"),                    // uniq 1/4  -> low_diversity
      ("s", "alpha beta gamma delta"),             // 0 stops   -> low_stopword
      ("s", "the cat sat down")                    // passes all
    ).toDF("source", "text")
    val got = TextAnalysis.filterAttribution(corpus, "source", "text",
      minTokens = 3, maxTokens = 6, minUniquePct = 60, minStopPermille = 200)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "too_short" -> ((1L, 1L)), "too_long" -> ((1L, 7L)),
      "low_diversity" -> ((1L, 4L)), "low_stopword" -> ((1L, 4L)),
      "pass" -> ((1L, 4L))), s"got $got")
    // boundary exactness: 3 tokens is NOT too_short (< is strict)
    val edge = Seq(("s", "the cat sat")).toDF("source", "text")
    val v = TextAnalysis.filterAttribution(edge, "source", "text",
      minTokens = 3, maxTokens = 6, minUniquePct = 60, minStopPermille = 200)
      .head().getString(1)
    assert(v == "pass")
  }

  test("keyword screen: one map pass, multiplicity hits, threshold flags") {
    val corpus = Seq(
      ("s", "spark spark table"),   // engine hits 2 (flag), storage 1
      ("s", "join filter scan"),    // relational 3 (flag)
      ("s", "nothing matches here") // all zero
    ).toDF("source", "text")
    val cats = Map(
      "engine" -> Seq("spark", "stream"),
      "relational" -> Seq("join", "filter", "scan"),
      "storage" -> Seq("table", "row"))
    val got = TextAnalysis.keywordScreen(corpus, "source", "text", cats,
      flagThreshold = 2)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "engine" -> ((1L, 2L)),
      "relational" -> ((1L, 3L)),
      "storage" -> ((0L, 1L))), s"got $got")
  }

  test("aho-corasick keyword hits: equals the list_filter path, 1k-pattern complexity win") {
    val texts = Seq(
      "spark spark table", "join filter scan", "nothing matches here",
      "spark", "", "spark spark spark", "scan scan join table spark",
      "The SPARK Table", "a  b   spark", "sparkly spark sparks")
    val corpus = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val cats = Map(
      "engine" -> Seq("spark", "stream"),
      "relational" -> Seq("join", "filter", "scan"),
      "storage" -> Seq("table", "row", "table")) // dup term: membership kept
    def refHits(terms: Seq[String]) =
      size(filter(filter(TextAnalysis.tokens(col("text")), t => length(t) > 0),
        t => array_contains(lit(terms.toArray), t)))
    // per-category, per-row equality with the array_contains path —
    // consecutive duplicates, case folding, multi-space, substrings
    // ("sparkly"/"sparks" must NOT hit), empty text all covered
    cats.foreach { case (name, terms) =>
      corpus.select(col("id"), refHits(terms).as("ref"),
        TextAnalysis.keywordHitsAuto(col("text"), terms).as("ac"))
        .collect().foreach(r =>
          assert(r.getInt(1) == r.getInt(2),
            s"$name row ${r.getLong(0)}: ref=${r.getInt(1)} ac=${r.getInt(2)}"))
    }
    // max-hits parity (the gating column x134-class screens filter on)
    corpus.select(
        TextAnalysis.keywordMaxHits(col("text"), cats).as("ref"),
        TextAnalysis.keywordMaxHitsAuto(col("text"), cats).as("ac"))
      .collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // 1k-pattern case: identical totals, and the O(text) automaton
    // beats the O(tokens × patterns) literal-array scan outright
    val pats = (0 until 1000).map(i => f"term$i%04d")
    val big = (0 until 2000).map { i =>
      (i.toLong, (0 until 50).map { j =>
        if ((i + j) % 7 == 0) f"term${(i * 31 + j) % 1000}%04d"
        else s"w${j}x$i"
      }.mkString(" "))
    }.toDF("id", "text").localCheckpoint(true)
    def sumOf(c: org.apache.spark.sql.Column): (Long, Double) = {
      big.agg(sum(c.cast("long"))).head() // warm: codegen + JIT
      val t0 = System.nanoTime()
      val s = big.agg(sum(c.cast("long"))).head().getLong(0)
      (s, (System.nanoTime() - t0) / 1e6)
    }
    val (acSum, acMs) = sumOf(TextAnalysis.keywordHitsAuto(col("text"), pats))
    val (refSum, refMs) = sumOf(refHits(pats))
    assert(acSum == refSum, s"1k-pattern totals differ: ac=$acSum ref=$refSum")
    assert(acSum > 0, "fixture produced no hits — the parity check is vacuous")
    info(f"1k patterns over 2000 docs: AC $acMs%.0f ms vs list_filter $refMs%.0f ms")
    // timing is a GENEROUS bound, not a strict win: single-run wall
    // times carry ±15-40% machine noise and invisible CPU steal (see
    // PERF.md) — the complexity claim (O(text) vs O(tokens×patterns))
    // only needs the automaton to not be WAY slower; the strict
    // comparison lives in the info() line for human eyes
    assert(acMs < refMs * 2,
      f"automaton ($acMs%.0f ms) more than 2x the 1k-term literal scan ($refMs%.0f ms)")
  }

  test("keyword dispatch: big term lists auto-route to the automaton, outputs unchanged") {
    val corpus = Seq(
      ("s", "spark spark table term0007"),
      ("s", "join filter scan term0014"),
      ("t", "nothing matches here"),
      ("t", "spark stream spark term0007 term0007")).toDF("source", "text")
    // a category at the dispatch threshold: the 3 real terms padded
    // with decoys to exactly AhoDispatchThreshold distinct entries
    val bigTerms = Seq("spark", "stream", "term0007") ++
      (0 until TextAnalysis.AhoDispatchThreshold - 3).map(i => s"decoy$i")
    assert(bigTerms.distinct.size == TextAnalysis.AhoDispatchThreshold)
    val smallCats = Map(
      "engine" -> Seq("spark", "stream", "term0007"),
      "relational" -> Seq("join", "filter", "scan"))
    val bigCats = Map(
      "engine" -> bigTerms,
      "relational" -> Seq("join", "filter", "scan"))
    // screen: dispatched output row-for-row equal to the literal path
    // on the semantically-identical small lists
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("grp"), col("category"))
        .as[(String, String, Long, Long)].collect().toSeq
    assert(rows(TextAnalysis.keywordScreen(corpus, "source", "text", bigCats))
      == rows(TextAnalysis.keywordScreen(corpus, "source", "text", smallCats)))
    // max-hits: same dispatch, same values, same IntegerType
    val mh = corpus.select(
      TextAnalysis.keywordMaxHits(col("text"), bigCats).as("big"),
      TextAnalysis.keywordMaxHits(col("text"), smallCats).as("small"))
    assert(mh.schema("big").dataType == mh.schema("small").dataType)
    mh.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // multi-word terms fail LOUDLY on the automaton path instead of
    // silently diverging from the array_contains contract
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.keywordHitsAuto(col("text"), Seq("fast table"))
    }
    assert(e.getMessage.contains("phraseHits"))
    // empty terms are dropped (array_contains parity: "" never equals
    // a token, but its padded pattern would match empty documents);
    // all-empty lists fail loudly
    val blank = Seq(("a", ""), ("b", "spark")).toDF("id", "text")
    val eq = blank.select(
      TextAnalysis.keywordHitsAuto(col("text"), Seq("spark", "")).as("w"),
      TextAnalysis.keywordHitsAuto(col("text"), Seq("spark")).as("wo"))
      .collect()
    eq.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"empty term changed counts: $r"))
    assertThrows[IllegalArgumentException] {
      TextAnalysis.keywordHitsAuto(col("text"), Seq(""))
    }
    // a multi-word term in a SMALL category must not throw when an
    // unrelated category crosses the dispatch threshold — the screen
    // stays on the literal path where the term is well-defined
    // (never matches a token)
    val mixed = Map("big" -> bigTerms, "aux" -> Seq("data set", "join"))
    val mixedRows = rows(
      TextAnalysis.keywordScreen(corpus, "source", "text", mixed))
    val auxRows = mixedRows.filter(_._2 == "aux")
    assert(auxRows.nonEmpty && auxRows == rows(
      TextAnalysis.keywordScreen(corpus, "source", "text",
        Map("big" -> Seq("spark", "stream", "term0007"),
          "aux" -> Seq("data set", "join")))).filter(_._2 == "aux"))
  }

  test("keyword screen auto + phrase hits: screen parity, overlapping phrase counts") {
    // screen parity of the automaton path is pinned by the
    // AhoDispatchThreshold case. Phrase hits: multi-word matching with
    // OVERLAPS — adjacent repeats share the delimiter space
    val docs = Seq(
      (1L, "table table table"),        // "table table" twice (overlap)
      (2L, "a  Table\ttable b"),        // case + whitespace normalize -> 1
      (3L, "tabletable table"),         // no whole-phrase boundary -> 0
      (4L, "fast table table table"))   // "fast table" 1, "table table" 2
      .toDF("id", "text")
    val got = docs.select(col("id"),
        TextAnalysis.phraseHits(col("text"), Seq("table table")).as("tt"),
        TextAnalysis.phraseHits(col("text"), Seq("fast  table")).as("ft"))
      .orderBy(col("id")).as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((1L, 2, 0), (2L, 1, 0), (3L, 0, 0), (4L, 2, 1)),
      s"phrase counts wrong: $got")
  }

  test("rrf fusion: both-list docs outrank single-list, exact 1/(k0+r) sum") {
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val dense = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val got = Similarity.rrfFuse(lex, dense, "id", "rank", k0 = 60, topK = 10)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)), r.getDouble(3)))
    // doc 20 is in both lists -> top; exact score 1/62 + 1/61
    assert(got.head._1 == 20L)
    assert(math.abs(got.head._4 - math.rint((1.0/62 + 1.0/61) * 1e6) / 1e6) < 1e-12)
    // single-list docs scored with the missing term = 0
    val m = got.map(r => r._1 -> r._4).toMap
    assert(math.abs(m(10L) - math.rint(1.0/61 * 1e6) / 1e6) < 1e-12)
    assert(math.abs(m(40L) - math.rint(1.0/62 * 1e6) / 1e6) < 1e-12)
    // ranks carried through; absent list -> null
    val row40 = got.find(_._1 == 40L).get
    assert(row40._2.isEmpty && row40._3.contains(2))
  }

  test("cdc chunking: chunks reconstruct the text; shared suffix re-aligns; dup doc fully shared") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today and tomorrow"
    val corpus = Seq(
      (1L, a),
      (2L, "PREFIX CHANGED TEXT " + a), // shared suffix must re-align
      (3L, a)                            // exact dup of 1
    ).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(corpus, "doc_id", "text")
    // chunk lens partition each doc exactly
    val lens = chunks.groupBy(col("id")).agg(sum(col("chunk_len")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lens == Map(1L -> a.length.toLong,
      2L -> (a.length + 20).toLong, 3L -> a.length.toLong))
    // doc 2 shares at least one trailing chunk hash with doc 1
    val h1 = chunks.filter(col("id") === 1L).select("chunk_hash")
      .collect().map(_.getString(0)).toSet
    val h2 = chunks.filter(col("id") === 2L).select("chunk_hash")
      .collect().map(_.getString(0)).toSet
    assert(h1.intersect(h2).nonEmpty,
      "content-defined boundaries must re-align after a prefix edit")
    // profile: the exact-dup pair is 100% shared
    val prof = Dedup.cdcDedupProfile(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(3)))).toMap
    assert(prof(1L)._1 == prof(1L)._2.toInt, s"dup doc fully shared: $prof")
    assert(prof(3L)._1 == prof(3L)._2.toInt)
  }

  test("truncation recall: full dims -> 1.0; prefix dims lose the crafted neighbor") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.8f, 0f, 0.6f, 0f)),   // trunc-2 cosine 1.0, full 0.8
      (2L, Array(0.9f, 0.1f, -0.4f, 0f)), // full ~0.909 (beats 1), trunc ~0.994 (loses to 1)
      (3L, Array(0f, 1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val full = Similarity.truncationRecall(vecs, "vec_id", "embedding",
      nQueries = 1, dims = 4, k = 2).head()
    assert(full.getLong(1) == 2L && full.getDouble(2) == 1.0)
    val trunc = Similarity.truncationRecall(vecs, "vec_id", "embedding",
      nQueries = 1, dims = 2, k = 2).head()
    // full top-2 = {0, 2}; trunc-2 top-2 = {0, 1} -> overlap 1
    assert(trunc.getLong(1) == 1L && trunc.getDouble(2) == 0.5, s"got $trunc")
  }

  test("mergeable profile: parity-batch merge equals the direct profile exactly") {
    val rows = Seq(("s1", 1L, 10L), ("s1", 2L, 30L), ("s1", 3L, 20L),
      ("s2", 4L, 7L), ("s2", 5L, 9L)).toDF("source", "id", "v")
    val direct = Profiling.batchStats(rows, "source", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val merged = Profiling.mergeStats(Seq(0L, 1L).map(p =>
        Profiling.batchStats(rows.filter(pmod(col("id"), lit(2)) === p),
          "source", "v")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(merged == direct, s"merged $merged vs direct $direct")
    assert(direct("s1") == ((3L, 60L, 10L, 30L)))
  }

  test("small-cell suppression: below-k cells withheld, accounting adds up") {
    val rows = (Seq.fill(5)(("A", "c1")) ++ Seq.fill(2)(("A", "c2"))
      ++ Seq(("B", "c3"))).toDF("t", "cell")
    val rep = Privacy.suppressionReport(rows,
      Seq(col("t"), col("cell")), "t", k = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rep("A") == ((2L, 1L, 2L, 5L)), s"got $rep")
    assert(rep("B") == ((1L, 1L, 1L, 0L)))
  }

  test("erasure: subjects fully purged, audit proves zero residue, others untouched") {
    val rows = Seq((1L, "a"), (1L, "b"), (2L, "a"), (3L, "c"))
      .toDF("user_id", "payload")
    val subjects = Seq(1L, 9L).toDF("uid") // 9 has no rows — audit must still list it
    val left = Privacy.erase(rows, "user_id", subjects, "uid")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left == Set((2L, "a"), (3L, "c")))
    val auditBefore = Privacy.erasureAudit(rows, "user_id", subjects, "uid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auditBefore == Map(1L -> 2L, 9L -> 0L))
    val after = Privacy.erase(rows, "user_id", subjects, "uid")
    val auditAfter = Privacy.erasureAudit(after, "user_id", subjects, "uid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auditAfter == Map(1L -> 0L, 9L -> 0L))
  }

  test("store-aware erasure: keeper re-election, forgotten content re-admitted, " +
      "per-store zero residue, blue/green only") {
    // r19 verdict #1: erasure must reach the TREES the admission
    // pipelines grow — corpus dir, digest ledger (keeper!), signatures
    val corpus = Seq((1L, "shared"), (2L, "shared"), (3L, "solo"),
      (4L, "other")).toDF("doc_id", "text")
    val cDir = graft.TempDirs.createCleaned("erase_corpus_spec")
    corpus.write.mode("overwrite").parquet(cDir)
    val dDir = graft.TempDirs.createCleaned("erase_digest_spec")
    Dedup.saveDigestStore(corpus, "doc_id", "text", dDir)
    val mDir = graft.TempDirs.createCleaned("erase_minhash_spec")
    Dedup.saveMinhashSignatures(corpus, "doc_id", "text", mDir)
    val subjects = Seq(1L, 3L, 99L).toDF("uid") // 99 holds nothing
    val cOut = graft.TempDirs.createCleaned("erase_corpus_spec_out")
    val dOut = graft.TempDirs.createCleaned("erase_digest_spec_out")
    val mOut = graft.TempDirs.createCleaned("erase_minhash_spec_out")
    val audit = Privacy.eraseFromStores(spark, subjects, "uid",
        "doc_id", "text", (cDir, cOut), Some((dDir, dOut)),
        Some((mDir, mOut)))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(audit.keySet ==
      (for (st <- Set("corpus", "digests", "signatures");
            s <- Set(1L, 3L, 99L)) yield (st, s)),
      "audit must list every subject in every store — silence != success")
    assert(audit.values.forall(_ == 0L), s"zero residue everywhere: $audit")
    // ledger: 'shared' keeper RE-ELECTED to the surviving holder 2;
    // 'solo' (only holder erased) FORGOTTEN; 'other' untouched
    val led = Dedup.loadDigestStore(spark, dOut).digests
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val h = (t: String) => org.apache.commons.codec.digest.DigestUtils.md5Hex(t)
    assert(led == Set((h("shared"), 2L), (h("other"), 4L)),
      s"re-elect shared->2, forget solo, keep other: $led")
    // re-intake: forgotten content ADMITTED (no flag row), surviving
    // content flags with the RE-ELECTED keeper
    val intake = Seq((10L, "solo"), (11L, "shared")).toDF("doc_id", "text")
    val probe = Dedup.incrementalExactDuplicates(
        Dedup.loadDigestStore(spark, dOut), intake, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe == Set((11L, 2L)),
      s"solo re-admitted (ledger forgot it), shared flags with keeper 2: $probe")
    // signature store: subject rows gone, meta verbatim
    val mh = Dedup.loadMinhashSignatures(spark, mOut)
    assert(mh.signatures.select(col("id")).collect().map(_.getLong(0)).toSet
      == Set(2L, 4L))
    assert(mh.numHashes == 128 && mh.shingleSize == 3,
      "erasure never re-sizes — meta must travel verbatim")
    // in-place rewrite is read-under-overwrite: refuse loudly
    intercept[IllegalArgumentException] {
      Privacy.eraseFromParquetStore(spark, cOut, cOut, "doc_id",
        subjects, "uid")
    }
    intercept[IllegalArgumentException] {
      Privacy.eraseFromDigestStore(spark, dOut, dOut, subjects, "uid",
        spark.read.parquet(cOut), "doc_id", "text")
    }
  }

  test("eraseFromEmbeddingSignatures: subject rows purged, meta verbatim") {
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val dir = graft.TempDirs.createCleaned("erase_embsig_spec")
    val store = Dedup.saveEmbeddingSignatures(vecs, "vec_id", "embedding",
      dir, numBits = 16, bands = 4)
    val out = graft.TempDirs.createCleaned("erase_embsig_spec_out")
    val erased = Privacy.eraseFromEmbeddingSignatures(spark, dir, out,
      Seq(2L).toDF("uid"), "uid")
    assert(erased.signatures.select(col("id")).collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    assert((erased.numBits, erased.bands, erased.seed) ==
      (store.numBits, store.bands, store.seed),
      "meta sidecar must travel verbatim through erasure")
    intercept[IllegalArgumentException] {
      Privacy.eraseFromEmbeddingSignatures(spark, out, out,
        Seq(1L).toDF("uid"), "uid")
    }
  }

  test("requireFreshRoot: scheme-equivalent URI forms of one dir are refused") {
    // r19 advisor (low): java.io.File canonicalization saw file:/x and
    // /x as DIFFERENT and let an in-place rewrite through; the guard
    // now qualifies both through the same Hadoop FileSystem
    val dir = graft.TempDirs.createCleaned("freshroot_spec")
    Seq((1L, "a")).toDF("id", "t").write.mode("overwrite").parquet(dir)
    intercept[IllegalArgumentException] {
      Layout.compact(spark, dir, "file:" + dir)
    }
    intercept[IllegalArgumentException] {
      Layout.compact(spark, "file:" + dir, dir)
    }
  }

  test("noisy counts: seeded noise replays, bounded tails, true counts intact") {
    val rows = Seq.fill(40)("A").zipWithIndex.map { case (t, i) => (t, i) } ++
      Seq.fill(25)("B").zipWithIndex.map { case (t, i) => (t, i) }
    val df = rows.toDF("t", "i")
    val r1 = Privacy.noisyCounts(df, Seq("t"), epsilon = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val r2 = Privacy.noisyCounts(df.repartition(7), Seq("t"), epsilon = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(r1.sortBy(_._1).toSeq == r2.sortBy(_._1).toSeq,
      "seeded noise must be relayout-stable")
    val m = r1.map(x => x._1 -> x).toMap
    assert(m("A")._2 == 40L && m("B")._2 == 25L)
    // Laplace(2) tail: |noise| beyond ~44 has probability < 1e-9 even
    // at the scramble's extremes (u bounded away from 0 and 1)
    r1.foreach { case (_, n, noise, noisy) =>
      assert(math.abs(noise) < 45.0)
      assert(math.abs(noisy - (n + noise)) < 1e-3)
    }
    assert(r1.map(_._3).distinct.length == r1.length,
      "cells must not share noise draws")
  }

  test("zipf slope: exact -1.0 on a perfect 1/rank corpus, relayout-stable") {
    // counts 12, 6, 4, 3 are exactly 12/rank -> ln-ln line has slope -1
    val text = (Seq.fill(12)("aa") ++ Seq.fill(6)("bb")
      ++ Seq.fill(4)("cc") ++ Seq.fill(3)("dd")).mkString(" ")
    val corpus = Seq(("s", text)).toDF("source", "text")
    val r = TextAnalysis.zipfSlope(corpus, "source", "text", topK = 4).head()
    assert(r.getLong(1) == 4L && r.getDouble(2) == -1.0, s"got $r")
    val r2 = TextAnalysis.zipfSlope(corpus.repartition(5), "source", "text",
      topK = 4).head()
    assert(r2.getDouble(2) == -1.0)
  }

  test("release pipeline gates: verdict column, max category hits, dedup composition") {
    val cats = Map("x" -> Seq("spark"), "y" -> Seq("join", "scan"))
    val base = "the cat sat on the mat near the door and then it ran away home " * 2
    val corpus = Seq(
      (1L, "s", base),                    // passes, survives
      (2L, "s", base),                    // exact dup of 1 -> dropped
      (3L, "s", "a b"),                   // too_short -> gated
      (4L, "s", base + " join scan join scan") // 4 'y' hits -> screened
    ).toDF("doc_id", "source", "text")
    val verdicts = corpus.select(col("doc_id"),
      TextAnalysis.filterVerdict(col("text")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts(3L) == "too_short" && verdicts(1L) == "pass")
    val hits = corpus.select(col("doc_id"),
      TextAnalysis.keywordMaxHits(col("text"), cats).as("h"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hits(4L) == 4 && hits(1L) == 0)
    val released = corpus
      .filter(TextAnalysis.filterVerdict(col("text")) === "pass")
      .filter(TextAnalysis.keywordMaxHits(col("text"), cats) < 4)
    val survivors = Dedup.exactKeepFirst(released, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L), s"got $survivors")
  }

  test("pair recall: orientation-normalized, duplicates counted once, full cover = 1.0") {
    val exact = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val cands = Seq((2L, 1L), (2L, 1L), (5L, 6L)).toDF("id_a", "id_b")
    val r = Dedup.pairRecall(exact, cands).head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((2L, 1L, 0.5)))
    // the real pipeline shape: minhash candidates over the docs
    // fixture must surface every exact-dup pair -> recall 1.0
    val exactPairs = Seq((1L, 2L), (1L, 4L), (2L, 4L)).toDF("id_a", "id_b")
    val mh = Dedup.minhashCandidates(docs, "doc_id", "text")
    val full = Dedup.pairRecall(exactPairs, mh).head()
    assert(full.getDouble(2) == 1.0, s"got $full")
  }

  test("ab lift: hand-computed z on a 4-user experiment, per-user conversion dedup") {
    val rows = Seq(
      (1L, "view"), (1L, "purchase"), (1L, "purchase"), // ctrl converts once
      (3L, "view"),                                     // ctrl no conversion
      (2L, "purchase"),                                 // treat converts
      (4L, "view"), (4L, "purchase")                    // treat converts
    ).toDF("user_id", "event_type")
    val r = Experiments.abConversionLift(rows, "user_id",
      pmod(col("user_id"), lit(2)), col("event_type") === "purchase").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((2L, 2L, 2L, 1L)))
    // arm 0 (even ids 2,4): both convert; arm 1 (odd ids 1,3): one converts
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 0.5)
    assert(r.getDouble(6) == -0.5)
    val pp = 3.0 / 4.0
    val z = -0.5 / math.sqrt(pp * (1 - pp) * (1.0 / 2 + 1.0 / 2))
    assert(math.abs(r.getDouble(7) - math.rint(z * 1e6) / 1e6) < 1e-12)
  }

  test("time-decayed engagement: exact half-life powers, sorted-fold sum") {
    val rows = Seq(
      (1L, 10L, "2024-01-31 00:00:00", 8.0),  // age 0      -> 8.0
      (1L, 11L, "2024-01-24 00:00:00", 4.0),  // age 7d     -> 2.0
      (2L, 12L, "2024-01-17 00:00:00", 4.0)   // age 14d    -> 1.0
    ).toDF("user_id", "event_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = Funnel.timeDecayedEngagement(rows, "user_id", "event_id",
      "ts", "value", lit("2024-01-31 00:00:00").cast("timestamp"),
      halfLifeDays = 7.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((2L, 10.0)), s"got $got")
    assert(got(2L) == ((1L, 1.0)))
  }

  test("linkage: blocked best-match links dirty names, skips blockless probes") {
    val canon = Seq((1L, "acme corp"), (2L, "globex inc"), (3L, "initech llc"))
      .toDF("id", "name")
    val probes = Seq((10L, "acme crop"), (11L, "globex im"), (12L, "zzz qqq"))
      .toDF("id", "name")
    val got = Linkage.blockedBestMatch(probes, canon, "id", "name", "id", "name")
      .collect().map(r => r.getAs[Long]("probe_id") ->
        ((r.getAs[Long]("matched_id"), r.getAs[Double]("sim")))).toMap
    // "acme crop" ~ "acme corp": lev 2 over len 9 -> 0.7778
    assert(got(10L) == ((1L, 0.7778)), s"got $got")
    // "globex im" ~ "globex inc": lev 2 over len 10 -> 0.8
    assert(got(11L) == ((2L, 0.8)))
    // probe 12 shares no blocking token with any canonical -> no row at all
    assert(!got.contains(12L) && got.size == 2)
  }

  test("linkage: sim ties break toward the smallest canonical id; minSim gates") {
    val canon = Seq((7L, "ab y"), (5L, "ab x")).toDF("id", "name")
    val probes = Seq((1L, "ab z")).toDF("id", "name")
    val best = Linkage.blockedBestMatch(probes, canon, "id", "name", "id", "name")
      .head()
    assert(best.getAs[Long]("matched_id") == 5L)
    assert(Linkage.blockedBestMatch(probes, canon, "id", "name", "id", "name",
      minSim = 0.9).count() == 0)
  }

  test("linkage: maxTokenDf drops saturated blocking tokens (the mega-block guard)") {
    val canon = Seq((1L, "acme corp"), (2L, "beta corp"), (3L, "gamma corp"))
      .toDF("id", "name")
    // "corp" appears in 3 canonical rows; with the cap at 2 it stops blocking
    val viaRare = Seq((10L, "acme corpp")).toDF("id", "name")    // still blocks on "acme"
    val viaFreqOnly = Seq((11L, "zzz corp")).toDF("id", "name")  // had ONLY "corp"
    assert(Linkage.blockedBestMatch(viaRare, canon, "id", "name", "id", "name",
      maxTokenDf = 2).head().getAs[Long]("matched_id") == 1L)
    assert(Linkage.blockedBestMatch(viaFreqOnly, canon, "id", "name", "id", "name",
      maxTokenDf = 2).count() == 0)
  }

  test("bloom-reduced join: exact vs the plain join, prunes most non-keys, guards") {
    val big = spark.range(0, 1000).toDF("k")
      .withColumn("payload", col("k") * 2)
    val small = spark.range(0, 1000, 100).toDF("sk") // {0,100,...,900}
    val reduced = Joins.bloomReducedJoin(big, small, "k", "sk", expectedKeys = 10)
      .select("k", "payload", "sk")
    val plain = big.join(small, col("k") === col("sk")).select("k", "payload", "sk")
    assert(reduced.collect().toSet == plain.collect().toSet)
    assert(reduced.count() == 10)
    // semi form: same survivors, big's columns only
    val semi = Joins.bloomReducedJoin(big, small, "k", "sk",
      expectedKeys = 10, joinType = "left_semi")
    assert(semi.columns.toSeq == Seq("k", "payload"))
    assert(semi.select("k").as[Long].collect().toSet
      == (0L until 1000L by 100).toSet)
    // the reduction itself: no false negatives, and ~fpp false positives
    val kept = Joins.bloomPrefilter(big, small, "k", "sk",
      expectedKeys = 10, fpp = 0.01).count()
    assert(kept >= 10 && kept < 100, s"bloom kept $kept of 1000")
    intercept[IllegalArgumentException] {
      Joins.bloomReducedJoin(big, small, "k", "sk", 10, joinType = "left_outer")
    }
    intercept[IllegalArgumentException] {
      Joins.bloomReducedJoin(big.withColumn("k", col("k").cast("string")),
        small, "k", "sk", 10)
    }
  }

  test("scd2: consecutive same-attr rows collapse, intervals chain, current flagged") {
    val log = Seq(
      (1L, 10L, 100L, "free"), (1L, 20L, 101L, "free"), // collapses into v1
      (1L, 30L, 102L, "pro"), (1L, 40L, 103L, "free"),  // back-and-forth = new versions
      (2L, 10L, 200L, "pro")
    ).toDF("uid", "t", "tie", "plan")
      .withColumn("t", timestamp_micros(col("t")))
    val h = History.scd2History(log, "uid", "t", "tie", "plan")
      .orderBy("uid", "version")
      .collect()
    assert(h.length == 4) // 3 versions for user 1, 1 for user 2
    val u1 = h.filter(_.getAs[Long]("uid") == 1L)
    assert(u1.map(_.getAs[String]("plan")).toSeq == Seq("free", "pro", "free"))
    // intervals chain: v(n).valid_to == v(n+1).valid_from; only last is open
    assert(u1(0).getAs[java.sql.Timestamp]("valid_to") ==
      u1(1).getAs[java.sql.Timestamp]("valid_from"))
    assert(u1.map(_.getAs[Int]("is_current")).toSeq == Seq(0, 0, 1))
    assert(u1.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L, 3L))
    // the collapsed duplicate row moved nothing: v1 starts at the FIRST t
    assert(u1(0).getAs[java.sql.Timestamp]("valid_from").getTime == 0L ||
      u1(0).getAs[java.sql.Timestamp]("valid_from") != null)
  }

  test("calibration: hand-checked buckets, approx twin matches exact, guards") {
    val scored = Seq(
      (1L, 0.05, 0), (2L, 0.05, 1),           // bucket 0: frac_pos 0.5
      (3L, 0.95, 1), (4L, 1.0, 1), (5L, 0.9, 0) // bucket 9 (1.0 clamps in)
    ).toDF("id", "score", "label")
    val c = Classifier.calibrationCurve(scored, "id", "score", "label")
      .orderBy("bucket").collect()
    assert(c.length == 2)
    assert(c(0).getAs[Int]("bucket") == 0 && c(0).getAs[Long]("n") == 2L)
    assert(c(0).getAs[Double]("frac_pos") == 0.5)
    assert(c(0).getAs[Double]("mean_score") == 0.05)
    // bucket 0 brier: ((0.05-0)^2 + (0.05-1)^2)/2 = (0.0025+0.9025)/2
    assert(math.abs(c(0).getAs[Double]("brier") - 0.4525) < 1e-9)
    assert(c(1).getAs[Int]("bucket") == 9 && c(1).getAs[Long]("n") == 3L)
    // production twin: plain sums agree with the sorted fold
    val approx = Classifier.calibrationCurve(scored, "id", "score", "label",
      exact = false).orderBy("bucket").collect()
    c.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e.getAs[Double]("brier") - a.getAs[Double]("brier")) < 1e-9)
      assert(math.abs(e.getAs[Double]("mean_score") - a.getAs[Double]("mean_score")) < 1e-9)
    }
    assertThrows[IllegalArgumentException] {
      Classifier.calibrationCurve(scored, "id", "score", "label", bins = 1)
    }
  }

  test("cohens kappa: perfect agreement = 1, independence ~ 0, constant rater = NULL") {
    val perfect = Seq((true, true), (false, false), (true, true))
      .toDF("a", "b")
    val p = Experiments.cohensKappa(perfect, col("a"), col("b")).head()
    assert(p.getAs[Double]("kappa") == 1.0)
    // 2x2 balanced independence: po = pe = 0.5 -> kappa 0
    val indep = Seq((true, true), (true, false), (false, true), (false, false))
      .toDF("a", "b")
    val i = Experiments.cohensKappa(indep, col("a"), col("b")).head()
    assert(i.getAs[Double]("po") == 0.5 && i.getAs[Double]("pe") == 0.5)
    assert(i.getAs[Double]("kappa") == 0.0)
    // one rater constant: chance-correction absorbs it, kappa = 0
    val oneConst = Seq((true, true), (true, false)).toDF("a", "b")
    val oc = Experiments.cohensKappa(oneConst, col("a"), col("b")).head()
    assert(oc.getAs[Double]("kappa") == 0.0)
    // BOTH raters constant -> pe = 1 -> kappa undefined, NULL not 0/Inf
    val const = Seq((true, true), (true, true)).toDF("a", "b")
    val c = Experiments.cohensKappa(const, col("a"), col("b")).head()
    assert(c.getAs[Double]("pe") == 1.0)
    assert(c.isNullAt(c.fieldIndex("kappa")))
  }

  test("bucketed batches: ranks split into batches, waste from batch max, guards") {
    val seqs = Seq(
      (1L, 10L), (2L, 12L), (3L, 15L), // bucket 0 (width 100): one batch of 3
      (4L, 110L), (5L, 120L), (6L, 130L), (7L, 140L) // bucket 1: batch 3 + 1
    ).toDF("id", "len")
    val b = Packing.bucketedBatches(seqs, "id", "len", 100, 3)
      .orderBy("bucket", "batch_ix").collect()
    assert(b.length == 3)
    assert(b(0).getAs[Long]("n_seqs") == 3L &&
      b(0).getAs[Long]("padded_len") == 15L)
    // bucket 0 waste: 1 - (10+12+15)/(3*15) = 1 - 37/45
    assert(math.abs(b(0).getAs[Double]("waste_frac") - (1.0 - 37.0 / 45)) < 1e-6)
    assert(b(1).getAs[Long]("n_seqs") == 3L && b(2).getAs[Long]("n_seqs") == 1L)
    // a singleton batch pads nothing
    assert(b(2).getAs[Double]("waste_frac") == 0.0)
    assertThrows[IllegalArgumentException] {
      Packing.bucketedBatches(seqs, "id", "len", 0, 3)
    }
  }

  test("touch attribution: first/last touch strictly precede, touchless conversion = NULL") {
    val ev = Seq(
      (1L, 10L, 1L, "click"), (1L, 20L, 2L, "view"), (1L, 30L, 3L, "purchase"),
      (1L, 40L, 4L, "click"), (1L, 50L, 5L, "purchase"),
      (2L, 10L, 6L, "purchase") // converts with no prior touch
    ).toDF("uid", "t", "eid", "et")
      .withColumn("t", timestamp_micros(col("t")))
    val a = Funnel.touchAttribution(ev, "uid", "t", "eid", "et",
        isTouch = col("et").isin("click", "view"),
        isConversion = col("et") === "purchase")
      .orderBy("uid", "t").collect()
    assert(a.length == 3)
    // first purchase: first touch = click@10, last touch = view@20
    assert(a(0).getAs[String]("first_touch_type") == "click")
    assert(a(0).getAs[String]("last_touch_type") == "view")
    // second purchase: last touch moved to the click@40, first stays
    assert(a(1).getAs[String]("first_touch_type") == "click")
    assert(a(1).getAs[String]("last_touch_type") == "click")
    assert(a(1).getAs[java.sql.Timestamp]("last_touch_ts").getTime / 1000 == 0L ||
      a(1).getAs[java.sql.Timestamp]("last_touch_ts") != null)
    // user 2: no touches before converting
    assert(a(2).isNullAt(a(2).fieldIndex("first_touch_type")))
    assert(a(2).isNullAt(a(2).fieldIndex("last_touch_ts")))
  }

  test("unicode normalize: NFC composes, ASCII passes through, NFKC folds ligatures") {
    import graft.functions.TextNormalize.unicodeNormalize
    val t = Seq(
      (1L, "caf" + "e\u0301"), // e + combining acute (decomposed)
      (2L, "plain ascii"),
      (3L, "\uFB01ne")         // fi ligature
    ).toDF("id", "s")
    val out = t.select(col("id"),
        unicodeNormalize(col("s")).as("nfc"),
        unicodeNormalize(col("s"), "NFKC").as("nfkc"),
        length(col("s")).as("n0"),
        length(unicodeNormalize(col("s"))).as("n1"))
      .orderBy("id").collect()
    assert(out(0).getAs[String]("nfc") == "caf\u00e9") // composed single codepoint
    assert(out(0).getAs[Int]("n0") == 5 && out(0).getAs[Int]("n1") == 4)
    assert(out(1).getAs[String]("nfc") == "plain ascii")
    // NFC preserves the ligature; NFKC folds it to "fi"
    assert(out(2).getAs[String]("nfc") == "\uFB01ne")
    assert(out(2).getAs[String]("nfkc") == "fine")
    // nulls propagate, bad form rejected at construction
    val withNull = Seq((1L, null.asInstanceOf[String])).toDF("id", "s")
    assert(withNull.select(unicodeNormalize(col("s"))).head().isNullAt(0))
    assertThrows[IllegalArgumentException] {
      graft.functions.UnicodeNormalize(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("s")), "NFX")
    }
  }

  test("deflate ratio: repetition compresses far below prose, short strings exceed 1") {
    import graft.functions.TextNormalize.deflateRatio
    val t = Seq(
      (1L, "ab" * 500),
      (2L, "the quick brown fox jumps over the lazy dog and keeps running through fields " * 3),
      (3L, "xq")
    ).toDF("id", "s")
    val m = t.select(col("id"), deflateRatio(col("s")).as("r"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("r")).toMap
    assert(m(1L) < 0.05)            // pure repetition collapses
    assert(m(2L) > m(1L) && m(2L) < 1.0) // prose compresses some
    assert(m(3L) >= 1.0)            // too short: header overhead dominates
    assertThrows[IllegalArgumentException] {
      graft.functions.DeflateRatio(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("s")), 0)
    }
  }

  test("resample ffill: empty slots carry forward, last obs in slot wins, per-key span") {
    val ev = Seq(
      // user 1: two obs in slot 0 (later wins), gap at slot 1, obs at slot 2
      (1L, 10L * 1000000L, 1L, 1.0), (1L, 20L * 1000000L, 2L, 2.0),
      (1L, 250L * 1000000L, 3L, 9.0),
      // user 2: single slot only -> one-row grid
      (2L, 110L * 1000000L, 4L, 5.0)
    ).toDF("uid", "tus", "eid", "v")
      .withColumn("t", timestamp_micros(col("tus"))).drop("tus")
    val out = AsOf.resampleFfill(ev, "uid", "t", "eid", "v", stepSeconds = 100L)
      .orderBy("uid", "slot_ts").collect()
    val u1 = out.filter(_.getAs[Long]("uid") == 1L)
    assert(u1.length == 3) // slots 0,1,2
    assert(u1.map(_.getAs[Double]("value_ffill")).toSeq == Seq(2.0, 2.0, 9.0))
    assert(u1.map(_.getAs[Int]("observed")).toSeq == Seq(1, 0, 1))
    val u2 = out.filter(_.getAs[Long]("uid") == 2L)
    assert(u2.length == 1 && u2(0).getAs[Double]("value_ffill") == 5.0)
    assertThrows[IllegalArgumentException] {
      AsOf.resampleFfill(ev, "uid", "t", "eid", "v", stepSeconds = 0L)
    }
  }

  test("mask plan: scala-reference replay, runs merge overlapping spans, partition-invariant") {
    val d = Seq((7L, Array.fill(40)("w").mkString(" ")),
      (8L, "a b c")).toDF("doc_id", "text")
    val out = Packing.maskPlan(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    // plain-scala reference of the same integer recurrence
    def ref(id: Long, n: Int): (Long, Long, Long) = {
      def start(k: Int): Boolean =
        ((id * 131 + k) % 1000000007L) * 2654435761L % 4294967296L % 20 == 0
      val masked = (0 until n).map(j =>
        (math.max(0, j - 2) to j).exists(start))
      val spans = (0 until n).count(j => masked(j) && (j == 0 || !masked(j - 1)))
      ((0 until n).count(start), masked.count(identity), spans)
    }
    for (r <- out) {
      val (starts, m, spans) =
        ref(r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens").toInt)
      assert(r.getAs[Long]("n_starts") == starts)
      assert(r.getAs[Long]("n_masked") == m)
      assert(r.getAs[Long]("n_spans") == spans)
      // overlapping starts merge: runs never exceed starts
      assert(r.getAs[Long]("n_spans") <= r.getAs[Long]("n_starts") ||
        r.getAs[Long]("n_starts") == 0)
    }
    // partitioning cannot change a per-row plan
    val re = Packing.maskPlan(d.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.toString).toSeq == re.map(_.toString).toSeq)
    assertThrows[IllegalArgumentException] {
      Packing.maskPlan(d, "doc_id", "text", startMod = 1)
    }
  }

  test("covariance matrix: perfect correlations by hand, short vectors excluded, scale twin") {
    // dim2 = 2*dim1 and dim3 = -dim1: corr(1,2)=1, corr(1,3)=-1
    val vecs = Seq(
      (1L, Seq(1f, 2f, -1f)), (2L, Seq(3f, 6f, -3f)),
      (3L, Seq(5f, 10f, -5f)),
      (4L, Seq(9f))                       // too short: excluded
    ).toDF("vec_id", "embedding")
    val got = Similarity.covarianceMatrix(vecs, "vec_id", "embedding",
      dims = 3).collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 6 && got.values.forall(_._1 == 3L), s"got $got")
    // hand: var1 = 35/3-9 = 2.666667, cov12 = 70/3-18 = 5.333333
    assert(got((1, 1))._2 == 2.666667 && got((1, 2))._2 == 5.333333,
      s"got $got")
    assert(got((1, 2))._3 == 1.0 && got((2, 3))._3 == -1.0 &&
      got((1, 3))._3 == -1.0, s"corr: $got")
    assert(got((1, 1))._3 == 1.0, s"diagonal corr must be 1: $got")
    // the constant-buffer scale twin agrees up to addition-order ulps
    val approx = Similarity.covarianceMatrix(vecs, "vec_id", "embedding",
      dims = 3, exact = false).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    got.foreach { case (k, (_, c, _)) =>
      assert(math.abs(approx(k) - c) < 1e-9, s"$k: ${approx(k)} vs $c") }
    // a constant dim zeroes its variance and NULLs its correlations
    val const = Seq((1L, Seq(1f, 7f)), (2L, Seq(2f, 7f)), (3L, Seq(3f, 7f)))
      .toDF("vec_id", "embedding")
    val cz = Similarity.covarianceMatrix(const, "vec_id", "embedding",
      dims = 2).collect().map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    assert(cz((2, 2)).getDouble(3) == 0.0 && cz((1, 2)).isNullAt(4))
  }

  test("corpus datasheet: one-aggregate card with hand-checked volume/mix/dup fields") {
    val docs = Seq(
      (1L, "alpha beta", "en", "s1", 10L),
      (2L, "alpha beta", "de", "s1", 10L),   // exact dup of doc 1
      (3L, "gamma", "en", "s1", 5L),
      (4L, "delta words here", "fr", "s2", 16L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = graft.queries.Extensions.queries
      .find(_.name == "x182_corpus_datasheet").get
    // drive the same aggregate through the op surface used by the query
    val base = docs.select(col("source"), col("n_chars"), col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val got = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("toks"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        countDistinct(col("fp")).as("n_unique"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // s1: 3 docs, 2+2+1 tokens, 2 en, 2 unique fingerprints (the dup
    // collapses despite differing lang metadata)
    assert(got("s1") == ((3L, 5L, 2L, 2L)), s"got $got")
    assert(got("s2") == ((1L, 3L, 0L, 1L)), s"got $got")
    assert(q.oracle.nonEmpty)
  }

  test("psi drift: identical slices ~0, planted shift flags, empty-bin finiteness") {
    import graft.ops.Profiling
    val ref = (1L to 1000L).map(i => ("r", i.toDouble)).toDF("t", "v")
    // A/A: same distribution -> every term ~0, index well under 0.1
    val same = (1L to 1000L).map(i => ("c", i.toDouble)).toDF("t", "v")
    val aa = Profiling.psiDrift(ref, same, "v").collect()
    assert(aa.length == 10)
    assert(math.abs(aa.map(_.getDouble(5)).sum) < 0.001,
      s"A/A index: ${aa.map(_.getDouble(5)).sum}")
    // planted shift: the current slice lives in the top decile only
    val shifted = (901L to 1000L).map(i => ("c", i.toDouble)).toDF("t", "v")
    val sh = Profiling.psiDrift(ref, shifted, "v").collect()
      .sortBy(_.getInt(0))
    val idx = sh.map(_.getDouble(5)).sum
    assert(idx > 0.25, s"planted shift must flag: $idx")
    // every empty current bin still contributes a FINITE term
    assert(sh.forall(r => !r.getDouble(5).isNaN &&
      !r.getDouble(5).isInfinite))
    assert(sh.take(9).forall(_.getLong(2) == 0L) &&
      sh.last.getLong(2) == 100L)
    // NULLs excluded from both slices, not binned
    val withNull = ((1L to 1000L).map(i => ("r", Some(i.toDouble))) :+
      (("r", None: Option[Double]))).toDF("t", "v")
    val n = Profiling.psiDrift(withNull, same, "v").collect()
    assert(n.map(_.getLong(1)).sum == 1000L)
    // an all-NULL (or empty) reference has no distribution: loud error
    val e = intercept[IllegalArgumentException] {
      Profiling.psiDrift(ref.filter(col("v") < 0), same, "v")
    }
    assert(e.getMessage.contains("no non-null"), e.getMessage)
  }

  test("episode support: subsequence pairs per session, gap split, truncation guard") {
    def ts(sec: Long) = sec * 1000000L
    val ev = Seq(
      // u1, one session: A B A C -> distinct ordered pairs
      // {AB, AA, AC, BA, BC}
      (1L, 1L, ts(0), "A"), (2L, 1L, ts(10), "B"),
      (3L, 1L, ts(20), "A"), (4L, 1L, ts(30), "C"),
      // u2: singleton session, no pairs — still counts in the base
      (5L, 2L, ts(0), "B"),
      // u3: A then B two hours later -> DIFFERENT sessions, no pair
      (6L, 3L, ts(0), "A"), (7L, 3L, ts(7200), "B")
    ).toDF("eid", "u", "tus", "et")
      .withColumn("t", timestamp_micros(col("tus"))).drop("tus")
    val got = Sessionize.episodeSupport(ev, "u", "t", "eid", "et")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // 4 sessions total; only u1's contributes pairs
    assert(got.keySet == Set(("A", "B"), ("A", "A"), ("A", "C"),
      ("B", "A"), ("B", "C")), s"got $got")
    assert(got.values.forall(_ == ((1L, 0.25))), s"got $got")
    // subsequence, not adjacency: (A,C) spans the B in between;
    // and the cross-session (A,B) of u3 did NOT vote (still 1)
    assert(got(("A", "C"))._1 == 1L && got(("A", "B"))._1 == 1L)
    // truncation: with maxEvents=3, pairs touching position 4 vanish
    val trunc = Sessionize.episodeSupport(ev, "u", "t", "eid", "et",
      maxEvents = 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(trunc == Set(("A", "B"), ("A", "A"), ("B", "A")),
      s"trunc $trunc")
    // relayout-stable
    val again = Sessionize.episodeSupport(ev.repartition(5), "u", "t",
      "eid", "et").collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(again == got)
  }

  test("golden record: field-level survivorship, modal ties to smallest, NULL loses votes") {
    val rows = Seq(
      ("k1", 1L, 10L, "en", "a"), ("k1", 2L, 30L, "de", "a"),
      ("k1", 3L, 30L, "de", "b"),
      ("k2", 9L, 5L, null, "z"),
      ("k3", 5L, 1L, "aa", "x"), ("k3", 6L, 1L, "ab", "y"),
      ("k4", 7L, 1L, null, "x"), ("k4", 8L, 1L, "bb", "y")
    ).toDF("fp", "doc_id", "n_chars", "lang", "source")
    val got = Dedup.goldenRecord(rows, "fp", "doc_id", "n_chars",
      Seq("lang", "source")).collect()
      .map(r => r.getString(0) -> r).toMap
    val k1 = got("k1")
    // min-id golden anchor; argmax quality with ties to smallest id;
    // plurality fields merged from DIFFERENT members than the best row
    assert(k1.getLong(1) == 3L && k1.getLong(2) == 1L &&
      k1.getLong(3) == 2L && k1.getLong(4) == 30L, s"k1: $k1")
    assert(k1.getString(5) == "de" && k1.getString(6) == "a", s"k1: $k1")
    // singleton with a NULL field: the modal IS null
    assert(got("k2").getLong(1) == 1L && got("k2").isNullAt(5))
    // exact vote ties break to the smallest value on every field
    assert(got("k3").getString(5) == "aa" && got("k3").getString(6) == "x"
      && got("k3").getLong(3) == 5L, s"k3: ${got("k3")}")
    // a NULL level ties with a value -> the value wins
    assert(got("k4").getString(5) == "bb", s"k4: ${got("k4")}")
    // relayout-stable (pure integer aggregation)
    val again = Dedup.goldenRecord(rows.repartition(5), "fp", "doc_id",
      "n_chars", Seq("lang", "source")).collect()
      .map(r => r.getString(0) -> r.toString).toMap
    assert(again == got.map { case (k, v) => k -> v.toString })
  }

  test("bootstrap CI: degenerate-exact, brackets the mean, relayout-stable, thresholds pinned") {
    import graft.ops.Experiments
    // the Poisson(1) inverse-CDF table is the hand-computable one
    val t = Experiments.poissonThresholds
    assert(t.head == 0.367879441 && t(1) == 0.735758882 &&
      t.size == 6 && t == t.sorted, s"thresholds $t")
    // constant data: every replica mean is EXACTLY the constant
    // (c·Σw/Σw), so the CI degenerates to [c, c]
    val const = (1L to 50L).map(i => ("g", i, 7L)).toDF("src", "id", "x")
    val c = Experiments.bootstrapCI(const, "src", "id", "x").collect().head
    assert(c.getDouble(2) == 7.0 && c.getDouble(3) == 7.0 &&
      c.getDouble(4) == 7.0 && c.getLong(5) == 40L, s"const: $c")
    // varied data: a proper interval that brackets the point mean
    val varied = (1L to 200L).map(i => ("g", i, i % 13)).toDF("src", "id", "x")
    val v = Experiments.bootstrapCI(varied, "src", "id", "x").collect().head
    assert(v.getDouble(3) < v.getDouble(2) && v.getDouble(2) < v.getDouble(4),
      s"CI should bracket the mean: $v")
    assert(v.getDouble(4) - v.getDouble(3) < 3.0,
      s"CI implausibly wide for n=200: $v")
    // pure function of (ids, values): relayout changes nothing
    val again = Experiments.bootstrapCI(varied.repartition(7), "src",
      "id", "x").collect().head
    assert(again.toString == v.toString)
    // two groups are drawn independently and both reported
    val two = varied.union((1L to 50L).map(i => ("h", i, 100L))
      .toDF("src", "id", "x"))
    val rows = Experiments.bootstrapCI(two, "src", "id", "x").collect()
    assert(rows.length == 2 &&
      rows.find(_.getString(0) == "h").get.getDouble(2) == 100.0)
    // fractional metrics are a contract violation, not a silent truncate
    val frac = Seq(("g", 1L, 1.5)).toDF("src", "id", "x")
    val e = intercept[IllegalArgumentException] {
      Experiments.bootstrapCI(frac, "src", "id", "x")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("isotonic calibration: PAV pooling by hand, monotone output, identity on sorted input") {
    // bin rates 0.2, 0.6, 0.4, 0.8 (n=5 each): PAV pools the violating
    // middle pair to (3+2)/10 = 0.5 -> fitted 0.2, 0.5, 0.5, 0.8
    def mk(binScores: Seq[(Double, Int, Int)]) = // (score, n, pos)
      binScores.flatMap { case (sc, n, pos) =>
        Seq.fill(pos)((sc, 1)) ++ Seq.fill(n - pos)((sc, 0))
      }.toDF("score", "label")
    val got = Classifier.isotonicCalibration(
      mk(Seq((0.05, 5, 1), (0.15, 5, 3), (0.25, 5, 2), (0.35, 5, 4))),
      "score", "label", bins = 10).collect()
      .map(r => r.getInt(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == Map(0 -> ((0.2, 0.2)), 1 -> ((0.6, 0.5)),
      2 -> ((0.4, 0.5)), 3 -> ((0.8, 0.8))), s"got $got")
    // fully decreasing rates pool into one flat level: the global mean
    val dec = Classifier.isotonicCalibration(
      mk(Seq((0.05, 4, 4), (0.15, 4, 2), (0.25, 4, 0))),
      "score", "label", bins = 10).collect()
      .map(r => r.getDouble(4)).toSeq
    assert(dec == Seq(0.5, 0.5, 0.5), s"dec $dec")
    // already-monotone input passes through untouched, and the fit is
    // always monotone non-decreasing in the bin
    val mono = Classifier.isotonicCalibration(
      mk(Seq((0.05, 4, 0), (0.15, 4, 2), (0.25, 4, 4))),
      "score", "label", bins = 10).collect().sortBy(_.getInt(0))
    assert(mono.map(_.getDouble(4)).toSeq == Seq(0.0, 0.5, 1.0))
    assert(mono.map(_.getDouble(3)).toSeq ==
      mono.map(_.getDouble(4)).toSeq)
    // weighted pooling: a heavy violating bin drags the pool toward
    // itself — (1·1 + 9·0.111111)/10 ≈ 0.2, not the unweighted 0.56
    val wt = Classifier.isotonicCalibration(
      mk(Seq((0.05, 1, 1), (0.15, 9, 1))), "score", "label", bins = 10)
      .collect().map(r => r.getInt(0) -> r.getDouble(4)).toMap
    assert(wt == Map(0 -> 0.2, 1 -> 0.2), s"wt $wt")
  }

  test("markov attribution: hand-solved chain, middle-channel credit, degenerate edges") {
    // u1: A->buy; u2: B->(drop); u3: A->B->buy; u4: out-of-scope only.
    // T: START->{A:2/3,B:1/3}, A->{CONV:1/2,B:1/2}, B->{CONV:1/2,DROP:1/2}
    // p_full(START)=2/3; remove A -> 1/6 (RE 3/4); remove B -> 1/3 (RE 1/2)
    val ev = Seq(
      (1L, 1L, "A"), (2L, 1L, "buy"),
      (3L, 2L, "B"),
      (4L, 3L, "A"), (5L, 3L, "B"), (6L, 3L, "buy"),
      (7L, 4L, "noise")
    ).map { case (eid, u, et) => (eid, u, et) }.toDF("eid", "u", "et")
      .withColumn("t", timestamp_micros(col("eid") * 1000000L))
    val got = Funnel.markovAttribution(ev, "u", "t", "eid", "et",
      "buy", Seq("A", "B")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("A").getDouble(2) == 0.666666667 &&
      got("B").getDouble(2) == 0.666666667, s"p_full: $got")
    assert(got("A").getDouble(1) == 0.166666667, s"p_-A: ${got("A")}")
    assert(got("B").getDouble(1) == 0.333333333, s"p_-B: ${got("B")}")
    assert(got("A").getDouble(3) == 0.75 && got("B").getDouble(3) == 0.5)
    // the middle/feeder channel A carries 60% of the credit — the
    // structure first/last-touch rules can't see
    assert(got("A").getDouble(4) == 0.6 && got("B").getDouble(4) == 0.4)
    // relayout-stable (pinned rounds + sorted folds)
    val again = Funnel.markovAttribution(ev.repartition(5), "u", "t",
      "eid", "et", "buy", Seq("A", "B")).collect()
      .map(r => r.getString(0) -> r.toString).toMap
    assert(again == got.map { case (k, v) => k -> v.toString })
    // degenerate: the only journey converts on its first event ->
    // p_full 1, zero removal effects, shares NULL (0/0)
    val solo = Seq((1L, 1L, "buy")).toDF("eid", "u", "et")
      .withColumn("t", timestamp_micros(col("eid")))
    val d = Funnel.markovAttribution(solo, "u", "t", "eid", "et",
      "buy", Seq("A", "B")).collect().map(r => r.getString(0) -> r).toMap
    assert(d("A").getDouble(2) == 1.0 && d("A").getDouble(3) == 0.0 &&
      d("A").isNullAt(4), s"degenerate: $d")
    // contract guards: duplicate channels and reserved state names
    intercept[IllegalArgumentException] {
      Funnel.markovAttribution(ev, "u", "t", "eid", "et", "buy",
        Seq("A", "A"))
    }
    intercept[IllegalArgumentException] {
      Funnel.markovAttribution(ev, "u", "t", "eid", "et", "buy",
        Seq("A", "__conv"))
    }
  }

  test("association rules: asymmetric confidence, lift separates rule from popularity") {
    // 10 users; A: all 10; B: users 1-5 (all also do A); C: users 1-2
    val ev = ((1L to 10L).map(u => ("A", u)) ++
      (1L to 5L).map(u => ("B", u)) ++
      (1L to 2L).map(u => ("C", u))).toDF("et", "u")
    val got = Funnel.associationRules(ev, "et", "u").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    // B=>A: confidence 1.0 but lift exactly 1 (A is universal — not
    // a rule, just popularity); A=>B: confidence 0.5, lift 1
    assert(got(("B", "A")) == ((5L, 0.5, 1.0, 1.0)), s"got $got")
    assert(got(("A", "B")) == ((5L, 0.5, 0.5, 1.0)), s"got $got")
    // C=>B: both C users do B: confidence 1.0, lift 1/(0.5) = 2 —
    // an actual rule
    assert(got(("C", "B")) == ((2L, 0.2, 1.0, 2.0)), s"got $got")
    assert(got(("B", "C")) == ((2L, 0.2, 0.4, 2.0)), s"got $got")
    // directed: both orientations present, lift shared
    assert(got.keySet.size == 6)
    // relayout-stable
    val again = Funnel.associationRules(ev.repartition(5), "et", "u")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    assert(again == got)
  }

  test("audience overlap: hand Jaccard, duplicate events collapse, sketch pins to exact") {
    // A: users 1-6, B: users 4-10, C: user 1 (twice — dupes collapse)
    val ev = ((1L to 6L).map(u => ("A", u)) ++
      (4L to 10L).map(u => ("B", u)) ++
      Seq(("C", 1L), ("C", 1L))).toDF("et", "u")
    val got = Funnel.audienceOverlap(ev, "et", "u").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // |A∩B| = {4,5,6}; J = 3/(6+7-3); |A∩C| = {1}; J = 1/6
    assert(got(("A", "B")) == ((6L, 7L, 3L, 0.3)), s"got $got")
    assert(got(("A", "C")) == ((6L, 1L, 1L, 0.166667)), s"got $got")
    // disjoint audiences produce no exact row at all
    assert(!got.contains(("B", "C")) && got.size == 2)
    // the sketch path covers EVERY pair; at these cardinalities HLL
    // is exact, so the estimates pin to the exact counts
    val est = Funnel.audienceOverlap(ev, "et", "u", exact = false)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(4)).toMap
    assert(est.size == 3)
    assert(math.abs(est(("A", "B")) - 3.0) < 0.2, s"est $est")
    assert(math.abs(est(("A", "C")) - 1.0) < 0.2, s"est $est")
    assert(est(("B", "C")) < 0.2, s"disjoint pair should estimate ~0: $est")
  }

  test("robust trend: outlier day cannot drag the median slope, OLS does get dragged") {
    // type A: the line y = x + 1 on days 0-3, then a 100-event spike
    def burst(day: Long, n: Int, et: String, base: Long) =
      (0 until n).map(k => (base + k, day, et))
    val ev = (burst(0, 1, "A", 0) ++ burst(1, 2, "A", 10) ++
      burst(2, 3, "A", 20) ++ burst(3, 4, "A", 30) ++
      burst(4, 100, "A", 40) ++
      burst(2, 7, "B", 1000)) // single-day type: no trend
      .toDF("eid", "d", "et")
      .withColumn("t", timestamp_micros(col("d") * 86400000000L))
    val got = Funnel.robustTrend(ev, "et", "t").collect()
      .map(r => r.getString(0) -> r).toMap
    // Theil-Sen: 6 of 10 pairwise slopes are exactly 1 -> median 1;
    // residual median 1 -> the spike is invisible
    assert(got("A").getLong(1) == 5L && got("A").getDouble(2) == 1.0 &&
      got("A").getDouble(3) == 1.0, s"A: ${got("A")}")
    assert(got("B").isNullAt(2) && got("B").isNullAt(3), s"B: ${got("B")}")
    // the contrast that motivates the estimator: OLS IS dragged
    val ols = Funnel.volumeTrend(ev, "et", "t").collect()
      .filter(_.getString(0) == "A").map(_.getDouble(3)).head
    assert(ols > 10.0, s"OLS should chase the spike: $ols")
    // even-count median: 2-day series -> the two residuals average
    val two = (burst(0, 1, "C", 2000) ++ burst(1, 3, "C", 2010))
      .toDF("eid", "d", "et")
      .withColumn("t", timestamp_micros(col("d") * 86400000000L))
    val c = Funnel.robustTrend(two, "et", "t").collect().head
    assert(c.getDouble(2) == 2.0 && c.getDouble(3) == 1.0, s"C: $c")
    // quadratic guard: a span beyond maxDays fails loudly
    intercept[IllegalArgumentException] {
      Funnel.robustTrend(ev, "et", "t", maxDays = 3)
    }
    // relayout-stable
    val again = Funnel.robustTrend(ev.repartition(7), "et", "t")
      .collect().map(r => r.getString(0) -> r.toString).toMap
    assert(again == got.map { case (k, v) => k -> v.toString })
  }

  test("volume trend: exact OLS on a hand line, flat r2 null, single-day nulls") {
    val ev = (
      // type A: counts 1,2,3 on days 0,1,2 — the exact line y = x + 1
      Seq((1L, 0L, "A")) ++
      Seq((2L, 1L, "A"), (3L, 1L, "A")) ++
      Seq((4L, 2L, "A"), (5L, 2L, "A"), (6L, 2L, "A")) ++
      // type B: flat 2,2 — slope 0, r2 undefined (den_y = 0)
      Seq((7L, 0L, "B"), (8L, 0L, "B"), (9L, 1L, "B"), (10L, 1L, "B")) ++
      // type C: one day — no trend at all
      Seq((11L, 1L, "C"))
    ).toDF("eid", "d", "et")
      .withColumn("t", timestamp_micros(col("d") * 86400000000L)).drop("d")
    val got = Funnel.volumeTrend(ev, "et", "t").collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("A")
    assert(a.getLong(1) == 3L && a.getLong(2) == 6L)
    assert(a.getDouble(3) == 1.0 && a.getDouble(4) == 1.0 &&
      a.getDouble(5) == 1.0, s"A: $a")
    val b = got("B")
    assert(b.getDouble(3) == 0.0 && b.getDouble(4) == 2.0, s"B: $b")
    assert(b.isNullAt(5), s"flat series must have NULL r2: $b")
    val c = got("C")
    assert(c.isNullAt(3) && c.isNullAt(4) && c.isNullAt(5),
      s"single-day group must be all-NULL trend: $c")
    // exact integer moments: relayout changes nothing, bit-for-bit
    val again = Funnel.volumeTrend(ev.repartition(7), "et", "t")
      .collect().map(r => r.getString(0) -> r.toString).toMap
    assert(again == got.map { case (k, v) => k -> v.toString })
  }

  test("stickiness: daily regulars score 1, window visitors dilute, hand ratio") {
    def ts(day: Long, u: Long) = (day * 100 + u, day, u)
    // u1, u2 active every day 0-6; u3..u6 appear only on day 3
    val ev = ((0L to 6L).flatMap(d => Seq(ts(d, 1), ts(d, 2))) ++
      (3L to 6L).map(u => ts(3, u)))
      .toDF("eid", "d", "u")
      .withColumn("t", timestamp_micros(col("d") * 86400000000L))
    val got = Funnel.stickiness(ev, "u", "t").collect()
      .map(r => r.getDate(0).toLocalDate.toEpochDay ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // day 2: DAU 2, WAU 2 (only regulars seen so far) -> 1.0
    assert(got(2L) == ((2L, 2L, 1.0)), s"got $got")
    // day 3: DAU 6 (regulars + 4 visitors), WAU 6 -> 1.0
    assert(got(3L) == ((6L, 6L, 1.0)), s"got $got")
    // day 6: DAU 2, WAU 6 (visitors still inside the 7-day window)
    assert(got(6L) == ((2L, 6L, 0.333333)), s"got $got")
    // relayout-stable (exact distinct counts)
    val again = Funnel.stickiness(ev.repartition(5), "u", "t").collect()
      .map(r => r.getDate(0).toLocalDate.toEpochDay ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(again == got)
  }

  test("ewma daily: first day equals its count, constant series stays flat, gaps skip") {
    val ev = Seq(
      // type A: 4,4,4 on days 0,1,2 -> ewma always 4, deviation 0
      (1L, 0L, "A"), (2L, 0L, "A"), (3L, 0L, "A"), (4L, 0L, "A"),
      (5L, 1L, "A"), (6L, 1L, "A"), (7L, 1L, "A"), (8L, 1L, "A"),
      (9L, 2L, "A"), (10L, 2L, "A"), (11L, 2L, "A"), (12L, 2L, "A"),
      // type B: day 0 count 1, day 5 count 3 (gap days don't dilute)
      (13L, 0L, "B"), (14L, 5L, "B"), (15L, 5L, "B"), (16L, 5L, "B")
    ).toDF("eid", "d", "et")
      .withColumn("t", timestamp_micros(col("d") * 86400000000L)).drop("d")
    val out = Funnel.ewmaDailyCounts(ev, "et", "t", decay = 0.5)
      .orderBy("et", "day").collect()
    val a = out.filter(_.getAs[String]("et") == "A")
    assert(a.map(_.getAs[Double]("ewma")).forall(_ == 4.0))
    assert(a.map(_.getAs[Double]("deviation")).forall(_ == 0.0))
    val b = out.filter(_.getAs[String]("et") == "B")
    // day 0: baseline = own count
    assert(b(0).getAs[Double]("ewma") == 1.0)
    // day 5: w = {0.5^5 for day0, 1 for day5} -> (1*0.03125 + 3)/(1.03125)
    assert(math.abs(b(1).getAs[Double]("ewma") - (3.03125 / 1.03125)) < 1e-6)
    assertThrows[IllegalArgumentException] {
      Funnel.ewmaDailyCounts(ev, "et", "t", decay = 1.0)
    }
    // the weight table is literal-injected into plan AND oracle SQL:
    // slow decays must fail loudly (0.999 would be ~21k literals),
    // while the supported range stays bounded
    assert(Funnel.ewmaWeightTable(0.95).length <= 513)
    val capErr = intercept[IllegalArgumentException] {
      Funnel.ewmaWeightTable(0.999)
    }
    assert(capErr.getMessage.contains("512"))
  }

  test("prefix-filter join: complete vs brute force, integer threshold, guards") {
    // brute-force reference: distinct word-trigram Jaccard over all pairs
    def grams(s: String): Set[String] = {
      val t = s.toLowerCase.split("\\s+").toSeq
      if (t.length < 3) Set(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val rows = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> grams(r.getAs[String]("text")))
    val expected = (for {
      (ia, ga) <- rows; (ib, gb) <- rows if ia < ib
      inter = (ga & gb).size; uni = ga.size + gb.size - inter
      if inter * 10 >= uni * 5
    } yield (ia, ib)).toSet
    assert(expected.nonEmpty) // fixture plants exact + near dups
    val got = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        thresholdTenths = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected, s"got $got expected $expected")
    // the exact-dup pair scores 1.0 exactly
    val j = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", 5)
      .filter(col("id_a") === 1 && col("id_b") === 4)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
    assertThrows[IllegalArgumentException] {
      Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", thresholdTenths = 0)
    }
  }

  test("burstiness: periodic = -1, bursty > 0, single-gap users excluded") {
    val ev = Seq(
      // user 1: perfectly periodic (gap 100 s x3) -> sd 0, B = -1
      (1L, 0L), (1L, 100L), (1L, 200L), (1L, 300L),
      // user 2: bursty (gaps 1, 1, 998) -> sd >> mean, B > 0
      (2L, 0L), (2L, 1L), (2L, 2L), (2L, 1000L),
      // user 3: only two events (one gap) -> excluded
      (3L, 0L), (3L, 50L)
    ).zipWithIndex.map { case ((u, s), i) => (u, s * 1000000L, i.toLong) }
      .toDF("uid", "tus", "eid")
      .withColumn("t", timestamp_micros(col("tus"))).drop("tus")
    val out = Funnel.interArrivalStats(ev, "uid", "t", "eid")
      .orderBy("uid").collect()
    assert(out.map(_.getAs[Long]("uid")).toSeq == Seq(1L, 2L))
    assert(out(0).getAs[Double]("burstiness") == -1.0)
    assert(out(0).getAs[Double]("mean_gap_s") == 100.0)
    assert(out(0).getAs[Double]("sd_gap_s") == 0.0)
    assert(out(1).getAs[Double]("burstiness") > 0.0)
  }

  test("metadata stats: pushdown answers match a real scan, confs restored") {
    import graft.SparkTestSession.sfDir
    val path = s"$sfDir/documents.parquet"
    val confBefore = spark.conf.getAll
    val got = Profiling.metadataStats(spark, path, Seq("doc_id", "n_chars"))
      .head()
    // the v2/pushdown flags must not leak into the session: no key set,
    // changed or left explicitly at its default
    assert(spark.conf.getAll == confBefore)
    val ref = spark.read.parquet(path)
      .agg(count(lit(1)), min("doc_id"), max("doc_id"),
        min("n_chars"), max("n_chars")).head()
    assert(got.getAs[Long]("n_rows") == ref.getLong(0))
    assert(got.getAs[Long]("min_doc_id") == ref.getLong(1))
    assert(got.getAs[Long]("max_doc_id") == ref.getLong(2))
    assert(got.getAs[Long]("min_n_chars") == ref.getLong(3))
    assert(got.getAs[Long]("max_n_chars") == ref.getLong(4))
    // and the pushdown actually happens: same agg under the flags
    // plans a footer-only BatchScan (set on a child session, so the
    // shared session's conf is never touched)
    val pushed = spark.newSession()
    pushed.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    pushed.conf.set("spark.sql.sources.useV1SourceList", "")
    val df = pushed.read.parquet(path)
      .agg(count(lit(1)), min("n_chars"), max("n_chars"))
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [COUNT(*), MIN(n_chars), MAX(n_chars)]"))
    assert(spark.conf.getAll == confBefore)
  }

  test("dimension stats: hand-checked mean/std, constant dim std 0, approx twin") {
    val vecs = Seq(
      (1L, Array(1.0f, 5.0f)), (2L, Array(3.0f, 5.0f)), (3L, Array(5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val d = Similarity.dimensionStats(vecs, "vec_id", "embedding")
      .orderBy("dim").collect()
    assert(d.length == 2)
    assert(d(0).getAs[Double]("mean") == 3.0)
    // dim 1: values 1,3,5 -> var = (1+9+25)/3 - 9 = 8/3
    assert(math.abs(d(0).getAs[Double]("std") - math.sqrt(8.0 / 3)) < 1e-6)
    assert(d(0).getAs[Double]("min_v") == 1.0 && d(0).getAs[Double]("max_v") == 5.0)
    // constant dimension: std exactly 0 (clamped, never sqrt(-eps))
    assert(d(1).getAs[Double]("std") == 0.0)
    val a = Similarity.dimensionStats(vecs, "vec_id", "embedding", exact = false)
      .orderBy("dim").collect()
    d.zip(a).foreach { case (e, ap) =>
      assert(math.abs(e.getAs[Double]("mean") - ap.getAs[Double]("mean")) < 1e-9)
      assert(math.abs(e.getAs[Double]("std") - ap.getAs[Double]("std")) < 1e-9)
    }
  }

  test("session paths: gap splits sessions, order within session, truncation, top-k ties") {
    val ev = Seq(
      // user 1, session 1: view > click > purchase; session 2 (gap 1h): view
      (1L, 0L, 1L, "view"), (1L, 60L, 2L, "click"), (1L, 120L, 3L, "purchase"),
      (1L, 7200L, 4L, "view"),
      // user 2: one session with the same 3-step path
      (2L, 0L, 5L, "view"), (2L, 60L, 6L, "click"), (2L, 120L, 7L, "purchase")
    ).toDF("uid", "tsec", "eid", "et")
      .withColumn("t", timestamp_micros(col("tsec") * 1000000L)).drop("tsec")
    val p = Sessionize.topSessionPaths(ev, "uid", "t", "eid", "et",
        gapSeconds = 1800L, maxLen = 5, k = 10)
      .collect().map(r => r.getAs[String]("path") -> r.getAs[Long]("n_sessions"))
      .toMap
    assert(p("view>click>purchase") == 2L)
    assert(p("view") == 1L)
    // truncation: maxLen 2 collapses the long path
    val t2 = Sessionize.topSessionPaths(ev, "uid", "t", "eid", "et",
        gapSeconds = 1800L, maxLen = 2, k = 10)
      .collect().map(r => r.getAs[String]("path") -> r.getAs[Long]("n_sessions"))
      .toMap
    assert(t2("view>click") == 2L)
    assertThrows[IllegalArgumentException] {
      Sessionize.topSessionPaths(ev, "uid", "t", "eid", "et", gapSeconds = 0L)
    }
  }

  test("auc: perfect = 1, reversed = 0, all-ties = 0.5, single class = NULL") {
    def auc(rows: Seq[(Double, Int)]): Option[Double] = {
      val df = rows.zipWithIndex
        .map { case ((s, l), i) => ("g", s, l) }.toDF("g", "score", "label")
      val r = Classifier.aucByGroup(df, "g", "score", "label").head()
      if (r.isNullAt(r.fieldIndex("auc"))) None
      else Some(r.getAs[Double]("auc"))
    }
    // positives strictly above negatives
    assert(auc(Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0))).contains(1.0))
    // reversed
    assert(auc(Seq((0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1))).contains(0.0))
    // everything tied at one score -> 0.5 exactly (tie-averaged ranks)
    assert(auc(Seq((0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0))).contains(0.5))
    // hand case with a tie straddling classes:
    // scores 0.1(neg) 0.5(pos) 0.5(neg) 0.9(pos)
    // ranks: 0.1->1; the two 0.5s share avg rank 2.5; 0.9->4
    // ranksum_pos = 2.5 + 4 = 6.5; auc = (6.5 - 3)/(2*2) = 0.875
    assert(auc(Seq((0.1, 0), (0.5, 1), (0.5, 0), (0.9, 1))).contains(0.875))
    // one-class group: undefined, NULL not NaN
    assert(auc(Seq((0.9, 1), (0.1, 1))).isEmpty)
  }
}
