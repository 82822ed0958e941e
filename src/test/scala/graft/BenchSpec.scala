package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact contract without a Spark session: the
  * adjudication flags over the round-9 measured signatures, and the
  * stdout-line budget the driver's 2000-char tail cap imposes (sbt's
  * `[success] Total time…` trailer lands AFTER the line, so the line
  * itself must leave headroom — BENCH_r07..r09 all lost their head). */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  // the r9 driver-bench rows the judge hand-adjudicated as transient
  // (wall, cpu) — each must now self-flag in the artifact
  test("contention flag covers the r9 wall>>cpu signatures the old floor missed") {
    assert(Bench.isContention(3.4, 1.6), "x58-shaped")
    assert(Bench.isContention(3.9, 2.9), "x59-shaped")
    assert(Bench.isContention(1.7, 0.9), "x44-shaped")
    assert(Bench.isContention(2.5, 0.4), "x163-shaped")
    // sub-floor rows stay quiet: scheduling jitter on a 0.3 s map-only
    // query is not worth a judge's attention
    assert(!Bench.isContention(0.9, 0.2))
    // healthy parallel heavy query: cpu >> wall can't be contention
    assert(!Bench.isContention(8.8, 32.0), "x34-shaped quiet run")
  }

  test("low-parallelism flag covers the x45 signature, not the known-heavy plans") {
    // x45 in-bench: 10.7 s wall / 16.3 s CPU on 32 cores — cpu > wall
    // so the contention flag structurally can't fire, yet the row ran
    // at 1.5 effective cores (2.4x its quiet level)
    assert(Bench.isLowParallel(10.7, 16.3))
    assert(!Bench.isContention(10.7, 16.3))
    // x34's QUIET profile (8.8 wall / 32 cpu = 3.7 effective cores, a
    // shuffle-stage tail) must NOT flag every round
    assert(!Bench.isLowParallel(8.8, 32.0))
    // and a contention-shaped row belongs to the other flag only
    assert(!Bench.isLowParallel(3.4, 1.6))
    // sub-floor serial rows stay quiet
    assert(!Bench.isLowParallel(1.2, 1.2))
  }

  test("stdout line fits the driver tail cap and parses, at r9 scale and beyond") {
    // 300 queries with plausible long names and mixed signatures —
    // larger than any round so far
    val results = (1 to 300).map { i =>
      Bench.QStat(s"x${i}_some_long_query_name_$i", wall = (i % 17) * 0.9,
        cpu = (i % 13) * 1.1, shuffleMb = i * 0.5, nStages = i % 7)
    }
    val line = Bench.composeStdoutLine(results, "/root/testdata/sf0.1")
    assert(line.length <= Bench.StdoutBudget,
      s"line ${line.length} chars > budget ${Bench.StdoutBudget}")
    assert(Bench.StdoutBudget <= 1900,
      "budget must leave >=100 chars for sbt's trailer under the 2000-char tail cap")
    val tree = mapper.readTree(line)
    assert(tree.get("metric").asText == "total")
    assert(tree.get("value").asDouble > 0)
    assert(tree.get("cpu_s").asDouble > 0)
    assert(tree.has("wall_gg_cpu") && tree.has("low_par"))
    // the capped form keeps the SLOWEST rows: the max-wall query's id
    // must be present in the queries map
    val slowest = results.maxBy(_.wall)
    val shortId = "^([a-z]+\\d+)".r.findFirstIn(slowest.name).get
    assert(tree.get("queries").has(shortId) ||
      results.map(_.name).distinct.length != results.length)
    // small suites still take the full-precision path
    val small = Bench.composeStdoutLine(results.take(10), "sf")
    val smallTree = mapper.readTree(small)
    assert(smallTree.get("queries").size == 10)
  }

  test("archive line carries every query with all three flags") {
    val results = Seq(
      Bench.QStat("x45_ngram_novelty", 10.7, 16.3, 7.8, 4),
      Bench.QStat("x58_encoding_checks", 3.4, 1.6, 0.0, 2))
    val tree = mapper.readTree(
      Bench.composeArchiveLine(results, "sf"))
    val x45 = tree.get("queries").get("x45_ngram_novelty")
    assert(!x45.get("wall_gg_cpu").asBoolean && x45.get("low_par").asBoolean)
    // the r10 verdict's self-adjudication ask: the artifact itself
    // says the x45 shape is intrinsic — no PERF.md re-read needed
    assert(x45.get("intrinsic_low_par").asBoolean)
    val x58 = tree.get("queries").get("x58_encoding_checks")
    assert(x58.get("wall_gg_cpu").asBoolean && !x58.get("low_par").asBoolean)
    assert(!x58.get("intrinsic_low_par").asBoolean)
  }

  test("calibration rows ride both artifact lines and normalize a canned cross-VM drift") {
    // the r11 drift scenario, replayed: identical code, round A on a
    // quiet VM, round B on a VM running every query 1.4x slower
    // (r5/r6 measured exactly this band on identical commits). The
    // raw totals differ 40%; divided by each round's own calibration
    // wall they must agree — that division is the CLAUDE.md rule.
    val roundA = (1 to 50).map(i =>
      Bench.QStat(s"x${i}_q", wall = 2.0, cpu = 6.0, shuffleMb = 1.0, nStages = 3))
    val roundB = roundA.map(s => s.copy(wall = s.wall * 1.4, cpu = s.cpu * 1.4))
    val calibA = Seq(Bench.QStat("calib_pre", 1.0, 3.0, 0.1, 2),
      Bench.QStat("calib_post", 1.0, 3.0, 0.1, 2))
    val calibB = calibA.map(s => s.copy(wall = s.wall * 1.4, cpu = s.cpu * 1.4))
    val totalA = roundA.map(_.wall).sum
    val totalB = roundB.map(_.wall).sum
    assert(totalB / totalA > 1.39, "fixture: a 40% phantom regression")
    val normA = Bench.calibNormalize(totalA, calibA.map(_.wall))
    val normB = Bench.calibNormalize(totalB, calibB.map(_.wall))
    assert(math.abs(normA - normB) < 1e-9,
      s"calibration must dissolve the phantom: $normA vs $normB")
    // pre-calibration artifacts (no calib rows) pass through unchanged
    assert(Bench.calibNormalize(totalA, Nil) == totalA)
    // both artifact lines carry the fields, and the stdout line still
    // fits the driver's tail cap at the 300-query scale
    val big = (1 to 300).map(i =>
      Bench.QStat(s"x${i}_q$i", (i % 17) * 0.9, (i % 13) * 1.1, 0.5, 3))
    val line = Bench.composeStdoutLine(big, "sf", calib = calibB)
    assert(line.length <= Bench.StdoutBudget, s"${line.length} > budget")
    val tree = mapper.readTree(line)
    assert(tree.get("calib_wall").get(0).asDouble == 1.4)
    assert(tree.get("calib_wall").get(1).asDouble == 1.4)
    assert(tree.get("calib_cpu").get(0).asDouble == 4.2)
    val arch = mapper.readTree(Bench.composeArchiveLine(big, "sf", calibB))
    assert(arch.get("calib_wall").size == 2 && arch.get("calib_cpu").size == 2)
    // small suites (full-precision stdout path) carry them too
    val small = mapper.readTree(
      Bench.composeStdoutLine(big.take(5), "sf", calib = calibA))
    assert(small.has("calib_wall") && small.has("calib_cpu"))
  }

  test("intrinsic allowlist keys are live query names (a rename can't silently empty it)") {
    // r11 advice: IntrinsicLowPar is keyed by full query-name strings;
    // if a query is renamed the allowlist silently stops matching and
    // the crowding-out behavior the r10 verdict flagged quietly
    // returns. Tie the keys to the registry.
    val live = SparkEntry.queries.keySet
    val stale = Bench.IntrinsicLowPar.keySet.diff(live)
    assert(stale.isEmpty,
      s"IntrinsicLowPar keys not in SparkEntry.queries: $stale")
    val staleStream = Bench.IntrinsicStream.keySet.diff(live)
    assert(staleStream.isEmpty,
      s"IntrinsicStream keys not in SparkEntry.queries: $staleStream")
    val staleRounds = Bench.IntrinsicRounds.keySet.diff(live)
    assert(staleRounds.isEmpty,
      s"IntrinsicRounds keys not in SparkEntry.queries: $staleRounds")
    // and the marker covers every registered streaming carrier — a new
    // stream query without the marker would re-pollute the anomaly map
    val unmarked = live.filter(_.contains("_streaming_"))
      .diff(Bench.IntrinsicStream.keySet)
    assert(unmarked.isEmpty,
      s"streaming queries missing the IntrinsicStream marker: $unmarked")
  }

  test("streaming rows are excluded from both stdout anomaly maps and report under stream_intrinsic") {
    // the x16 shape the r12 verdict named: run-to-completion wall is
    // trigger/startup latency — cold 4.1 s with ~0.5 s executor CPU
    // fires the contention flag structurally; a warm-but-contended VM
    // can push the same row into low_par instead
    val x16 = Bench.QStat("x16_streaming_hourly", 4.1, 0.5, 0.2, 6)
    assert(Bench.isContention(x16.wall, x16.cpu), "fixture: flag would fire")
    val x72 = Bench.QStat("x72_streaming_sessions", 3.0, 4.0, 0.2, 6)
    assert(Bench.isLowParallel(x72.wall, x72.cpu), "fixture: flag would fire")
    val realContention = Bench.QStat("x58_encoding_checks", 3.4, 1.6, 0.0, 2)
    val line = Bench.composeStdoutLine(Seq(x16, x72, realContention), "sf")
    val tree = mapper.readTree(line)
    assert(!tree.get("wall_gg_cpu").has("x16"),
      s"streaming row must not occupy the contention map: $line")
    assert(!tree.get("low_par").has("x72"),
      s"streaming row must not occupy the low_par map: $line")
    assert(tree.get("wall_gg_cpu").has("x58"),
      s"a real contention row still reports: $line")
    val st = (0 until tree.get("stream_intrinsic").size)
      .map(tree.get("stream_intrinsic").get(_).asText).toSet
    assert(st == Set("x16", "x72"), s"flagged streaming rows report by name: $line")
    // archive rows carry the marker so a reader of BENCH_DETAIL knows
    // the wall is structural without cross-referencing the source
    val arch = mapper.readTree(
      Bench.composeArchiveLine(Seq(x16, realContention), "sf"))
    assert(arch.get("queries").get("x16_streaming_hourly")
      .get("intrinsic_stream").asBoolean)
    assert(!arch.get("queries").get("x58_encoding_checks")
      .get("intrinsic_stream").asBoolean)
  }

  test("warm_wall rides the archive rows it was measured for (r13 verdict #6)") {
    // the bench times every stream-intrinsic query a SECOND time
    // after the suite (memoized-warm) and the archive row carries it:
    // the cold-wall-is-trigger-latency adjudication lives in the
    // artifact instead of PERF.md prose
    val x16 = Bench.QStat("x16_streaming_hourly", 4.1, 0.5, 0.2, 6)
    val q1 = Bench.QStat("q1_agg", 1.0, 2.0, 0.1, 3)
    val arch = mapper.readTree(Bench.composeArchiveLine(Seq(x16, q1), "sf",
      warmWalls = Map("x16_streaming_hourly" -> 0.131)))
    assert(arch.get("queries").get("x16_streaming_hourly")
      .get("warm_wall").asDouble == 0.131,
      "stream-intrinsic row carries its measured warm wall")
    assert(!arch.get("queries").get("q1_agg").has("warm_wall"),
      "rows without a warm measurement must not fabricate one")
  }

  test("benchgate verdict rides both artifact lines (r14 verdict #5)") {
    // the r14 driver tail carried a contended run (calib [0.528, 0.308],
    // x45 17.6 s) whose adjudication lived only in PERF.md — any reader
    // of BENCH_r15+.json must see "contended" without re-deriving it
    val quiet = Seq(
      Bench.QStat("q1_agg", 2.0, 6.0, 0.1, 3),
      Bench.QStat("x161_setsim", 3.0, 10.0, 0.5, 4),
      // intrinsic row with dominant CPU must NOT trip gate 2
      Bench.QStat("x97_quality_classifier", 9.0, 40.0, 0.2, 40))
    val calmCalib = Seq(Bench.QStat("calib_pre", 0.38, 2.8, 0.0, 2),
      Bench.QStat("calib_post", 0.32, 4.5, 0.0, 2))
    val Some((pass, drift, share, top)) = Bench.gateVerdict(quiet, calmCalib)
    assert(pass, "quiet fixture must gate green")
    assert(math.abs(drift - 15.789) < 0.01, s"drift pct: $drift")
    assert(top == "x161_setsim" && math.abs(share - 10.0 / 56.0 * 100) < 1e-6,
      "top share is over TOTAL cpu, intrinsic rows excluded from candidacy only")
    // r13's contamination shape: one non-intrinsic query at 41% of CPU
    val contaminated = quiet :+ Bench.QStat("x43_minhash_exact", 25.9, 490.0, 8.0, 9)
    val Some((pass2, _, share2, top2)) = Bench.gateVerdict(contaminated, calmCalib)
    assert(!pass2 && top2 == "x43_minhash_exact" && share2 > 25,
      "the x43-at-41% signature must gate red")
    // 42% calib drift (the r14 driver tail) gates red even with calm CPU
    val driftCalib = Seq(Bench.QStat("calib_pre", 0.528, 4.8, 0.0, 2),
      Bench.QStat("calib_post", 0.308, 4.3, 0.0, 2))
    val Some((pass3, drift3, _, _)) = Bench.gateVerdict(quiet, driftCalib)
    assert(!pass3 && drift3 > 40, "the r14 contended-tail calib must gate red")
    // fields present in BOTH lines whenever calib rides them
    val arch = mapper.readTree(
      Bench.composeArchiveLine(contaminated, "sf", calmCalib))
    assert(!arch.get("benchgate_pass").asBoolean)
    assert(arch.get("calib_drift_pct").asDouble > 15)
    assert(arch.get("top_cpu_share_pct").asDouble > 25)
    assert(arch.get("top_cpu_query").asText == "x43_minhash_exact")
    val line = mapper.readTree(
      Bench.composeStdoutLine(quiet, "sf", calib = calmCalib))
    assert(line.get("benchgate_pass").asBoolean)
    assert(line.has("calib_drift_pct") && line.has("top_cpu_share_pct"))
    // the capped stdout form keeps the gate fields too (non-negotiable
    // header), and still fits the budget at 300-query scale
    val big = (1 to 300).map(i =>
      Bench.QStat(s"x${i}_q$i", (i % 17) * 0.9, (i % 13) * 1.1, 0.5, 3))
    val capped = Bench.composeStdoutLine(big, "sf", calib = calmCalib)
    assert(capped.length <= Bench.StdoutBudget)
    assert(mapper.readTree(capped).has("benchgate_pass"))
    // no calib rows → no fabricated verdict (replayed compositions stay valid)
    assert(Bench.gateVerdict(quiet, Nil).isEmpty)
    assert(!mapper.readTree(Bench.composeArchiveLine(quiet, "sf"))
      .has("benchgate_pass"))
  }

  test("benchgate.py attribution movers: >3x CPU shifts absent from PERF.md warn by name (r16 verdict #5)") {
    // the x99 lesson end-to-end: the r16 x34 conversion silently
    // re-attributed 25.5 s CPU to x99 and no PERF.md section owned
    // it. The tool (not a Scala mirror — the operational check IS the
    // python) must warn on exactly the un-adjudicated >3x CPU movers:
    // named in PERF.md (full or xNN short form) → silent; below the
    // 2 s CPU floor → silent; gate verdicts unaffected (warning only).
    import java.nio.file.Files
    def artifact(qs: (String, Double, Double)*): String = {
      val entries = qs.map { case (n, w, c) =>
        s""""$n":{"wall":$w,"cpu":$c}""" }.mkString(",")
      s"""{"metric":"total","value":10.0,"unit":"sec","cpu_s":1000.0,
          "calib_wall":[0.3,0.31],"calib_scalar":[0.1,0.1],
          "queries":{$entries}}"""
    }
    val dir = Files.createTempDirectory("benchgate_spec")
    dir.toFile.deleteOnExit()
    val prev = dir.resolve("prev.json"); val cur = dir.resolve("cur.json")
    val perf = dir.resolve("PERF.md")
    Files.writeString(prev, artifact(
      ("x99_cluster_split_lsh", 0.49, 1.7),   // up-mover, unmentioned
      ("x42_text_dedup_fuzzy", 7.0, 9.0),     // up-mover, adjudicated
      ("x95_contamination_verify", 1.0, 6.0), // down-mover, unmentioned
      ("x50_tiny", 0.2, 0.4)))                // >3x but under the floor
    Files.writeString(cur, artifact(
      ("x99_cluster_split_lsh", 6.28, 25.5),
      ("x42_text_dedup_fuzzy", 7.4, 39.0),
      ("x95_contamination_verify", 0.3, 0.4),
      ("x50_tiny", 0.2, 1.5)))
    // x95 is mentioned ONLY in an old round section — the guard must
    // still warn (matching the whole file would permanently exempt
    // every query any past round discussed); x42 sits in the CURRENT
    // round's FIRST section, which must still count after a
    // ", continued" section is appended (the r16 PERF.md pattern)
    Files.writeString(perf,
      """## Round 15
        |ancient prose adjudicating x95 and others
        |## Round 16
        |round notes: x42 conversion cost adjudicated here
        |## Round 16, continued
        |later notes about other things""".stripMargin)
    import scala.sys.process._
    val sb = new StringBuilder
    val logger = ProcessLogger(l => sb.append(l).append('\n'))
    val code = Process(Seq("python3",
      new java.io.File("tools/benchgate.py").getAbsolutePath,
      cur.toString, "--prev", prev.toString, "--perf", perf.toString)).!(logger)
    val out = sb.toString
    assert(code == 0, s"calm fixture must still gate quiet:\n$out")
    assert(out.contains("ATTRIBUTION WARNING: x99_cluster_split_lsh"),
      s"unmentioned 15x up-mover must warn:\n$out")
    assert(out.contains("ATTRIBUTION WARNING: x95_contamination_verify"),
      s"unmentioned 15x down-mover must warn:\n$out")
    assert(!out.contains("x42_text_dedup_fuzzy cpu"),
      s"PERF.md-adjudicated mover must stay silent:\n$out")
    assert(!out.contains("x50_tiny"),
      s"under-floor mover must stay silent:\n$out")
    // the r16-advice secondary bound: scalar flat + calib_wall >= 50%
    // swing still gates red (IO contamination the scalar can't see)
    val io = dir.resolve("io.json")
    Files.writeString(io, artifact(("q1_agg", 1.0, 5.0))
      .replace("\"calib_wall\":[0.3,0.31]", "\"calib_wall\":[0.2,0.4]"))
    val sb2 = new StringBuilder
    val code2 = Process(Seq("python3",
      new java.io.File("tools/benchgate.py").getAbsolutePath,
      io.toString, "--prev", prev.toString, "--perf", perf.toString))
      .!(ProcessLogger(l => sb2.append(l).append('\n')))
    assert(code2 != 0 && sb2.toString.contains("secondary gate"),
      s"flat scalar + 100% calib_wall swing must gate red:\n${sb2.toString}")
  }

  test("drift gates on the JIT-trivial scalar pair when present (r16 glide fix)") {
    // the r16 signature: Spark calib_wall pre 0.37 / post 0.22 (a
    // 40% "drift" that is codegen warmup — 5-rep medians of the calib
    // workload glided 0.40 → 0.19 s over 100 executions on an idle
    // VM) while
    // the scalar pair is flat — must gate GREEN on the scalar signal
    val quiet = Seq(
      Bench.QStat("q1_agg", 2.0, 6.0, 0.1, 3),
      Bench.QStat("x161_setsim", 3.0, 10.0, 0.5, 4),
      Bench.QStat("x97_quality_classifier", 9.0, 40.0, 0.2, 40))
    val glideCalib = Seq(Bench.QStat("calib_pre", 0.372, 4.7, 0.0, 2),
      Bench.QStat("calib_post", 0.223, 3.2, 0.0, 2))
    val Some((glidePass, glideDrift, _, _)) =
      Bench.gateVerdict(quiet, glideCalib, Seq(0.30, 0.31))
    assert(glidePass && glideDrift < 5,
      s"flat scalar must override the glide-shaped Spark calib: $glideDrift")
    // genuine mid-run machine shift shows in the scalar pair → red,
    // even when the Spark calib happens to look calm
    val Some((shiftPass, shiftDrift, _, _)) = Bench.gateVerdict(quiet,
      Seq(Bench.QStat("calib_pre", 0.38, 4.7, 0.0, 2),
        Bench.QStat("calib_post", 0.36, 3.2, 0.0, 2)),
      Seq(0.30, 0.55))
    assert(!shiftPass && shiftDrift > 20,
      s"scalar-visible contention must gate red: $shiftDrift")
    // no scalar rows (pre-r16 artifact) → the calib_wall fallback
    val Some((fbPass, fbDrift, _, _)) = Bench.gateVerdict(quiet, glideCalib)
    assert(!fbPass && fbDrift > 20, "fallback keeps the old behavior")
    // the scalar loop is register-only — blind to memory-bandwidth /
    // IO contamination that inflates Spark walls but not a
    // no-allocation loop; the Spark pair stays a SECONDARY bound at
    // 50% (beyond the ~40% structural glide ever observed)
    val Some((ioPass, ioDrift, _, _)) = Bench.gateVerdict(quiet,
      Seq(Bench.QStat("calib_pre", 0.30, 4.7, 0.0, 2),
        Bench.QStat("calib_post", 0.75, 3.2, 0.0, 2)),
      Seq(0.30, 0.31))
    assert(!ioPass && ioDrift > 50,
      s"gross Spark-calib contamination must red past the scalar gate: $ioDrift")
    // the scalar pair rides both artifact lines
    val arch = mapper.readTree(Bench.composeArchiveLine(
      quiet, "sf", glideCalib, Map.empty, Seq(0.30, 0.31)))
    assert(arch.get("benchgate_pass").asBoolean)
    assert(arch.get("calib_scalar").get(0).asDouble == 0.30)
    val line = mapper.readTree(Bench.composeStdoutLine(
      quiet, "sf", calib = glideCalib, scalar = Seq(0.30, 0.31)))
    assert(line.get("benchgate_pass").asBoolean)
    assert(line.has("calib_scalar"))
  }

  test("third calib row emits as postclear scalars, never into the interpolation pair") {
    // the cleared-session re-calibration is the contention
    // discriminator (structural post-suite cache pressure inflates
    // calib_cpu post on quiet VMs); it must not distort calib_at,
    // which interpolates machine speed across the RUN
    val q = Bench.QStat("q1_agg", 2.0, 3.0, 0.1, 3)
    val calib3 = Seq(Bench.QStat("calib_pre", 0.5, 2.0, 0.0, 2),
      Bench.QStat("calib_post", 0.6, 9.0, 0.0, 2),
      Bench.QStat("calib_post_clear", 0.52, 2.3, 0.0, 2))
    val arch = mapper.readTree(Bench.composeArchiveLine(Seq(q), "sf", calib3))
    assert(arch.get("calib_wall").size == 2, "pair array stays a pair")
    assert(arch.get("calib_cpu").size == 2)
    assert(arch.get("calib_wall_postclear").asDouble == 0.52)
    assert(arch.get("calib_cpu_postclear").asDouble == 2.3)
    // calib_at of the single query = midpoint of (pre, post) walls
    assert(math.abs(arch.get("queries").get("q1_agg").get("calib_at")
      .asDouble - 0.55) < 1e-9)
  }

  test("iterative-rounds rows are excluded from both stdout anomaly maps and report under rounds_intrinsic") {
    // the x28 shape that occupied wall_gg_cpu in every r10-r13
    // artifact: 72 stages of tiny checkpointed pointer-jump jobs —
    // wall 3.7 s, cpu 1.6 s is the round-count latency, not the VM
    val x28 = Bench.QStat("x28_dup_clusters", 3.7, 1.6, 0.3, 72)
    assert(Bench.isContention(x28.wall, x28.cpu), "fixture: flag would fire")
    val x59 = Bench.QStat("x59_pq_encode", 3.0, 4.0, 0.2, 40)
    assert(Bench.isLowParallel(x59.wall, x59.cpu), "fixture: flag would fire")
    val realContention = Bench.QStat("x58_encoding_checks", 3.4, 1.6, 0.0, 2)
    val line = Bench.composeStdoutLine(Seq(x28, x59, realContention), "sf")
    val tree = mapper.readTree(line)
    assert(!tree.get("wall_gg_cpu").has("x28"),
      s"rounds row must not occupy the contention map: $line")
    assert(!tree.get("low_par").has("x59"),
      s"rounds row must not occupy the low_par map: $line")
    assert(tree.get("wall_gg_cpu").has("x58"),
      s"a real contention row still reports: $line")
    val ri = (0 until tree.get("rounds_intrinsic").size)
      .map(tree.get("rounds_intrinsic").get(_).asText).toSet
    assert(ri == Set("x28", "x59"), s"flagged rounds rows report by name: $line")
    val arch = mapper.readTree(
      Bench.composeArchiveLine(Seq(x28, realContention), "sf"))
    assert(arch.get("queries").get("x28_dup_clusters")
      .get("intrinsic_rounds").asBoolean)
    assert(!arch.get("queries").get("x58_encoding_checks")
      .get("intrinsic_rounds").asBoolean)
  }

  test("per-query calibration interpolation corrects in-run drift the mean misattributes") {
    // replay the r12 artifact scenario: calib_wall [0.482, 0.698] — the
    // VM degraded 45% between suite start and end. Identical code on a
    // quiet unit-speed VM runs every query at 2.0 s; on the drifting VM
    // each query's wall inflates by the machine slowdown at its
    // position in the run.
    val calibQuiet = Seq(0.482, 0.482)
    val calibDrift = Seq(0.482, 0.698)
    val n = 50
    val quiet = Seq.fill(n)(2.0)
    // simulate the drifting run: solve each wall against the slowdown
    // at its own midpoint (the machine applies the factor continuously)
    val drifting = {
      var cum = 0.0
      // total drifting wall is implicit; iterate to a fixed point — two
      // passes suffice at this drift magnitude for a test fixture
      var walls = quiet
      (1 to 8).foreach { _ =>
        val tot = walls.sum
        cum = 0.0
        walls = walls.zip(quiet).map { case (w, q) =>
          val mid = cum + w / 2; cum += w
          q * Bench.calibAt(mid / tot, calibDrift) / 0.482
        }
      }
      walls
    }
    // raw comparison shows a phantom per-query regression up to ~45%
    assert(drifting.last / quiet.last > 1.35, "fixture: late rows look slow")
    val normDrift = Bench.calibNormalizePerQuery(drifting, calibDrift)
    val normQuiet = Bench.calibNormalizePerQuery(quiet, calibQuiet)
    normDrift.zip(normQuiet).zipWithIndex.foreach { case ((d, q), i) =>
      assert(math.abs(d - q) / q < 0.02,
        s"row $i: interpolated calib must dissolve the drift ($d vs $q)")
    }
    // the MEAN-based correction (the r12 nit) leaves late rows looking
    // >15% slow and early rows fast — the interpolation must beat it
    val meanNorm = drifting.map(w =>
      Bench.calibNormalize(w, calibDrift))
    assert(meanNorm.last / normQuiet.last > 1.15,
      "fixture: mean correction under-corrects the late rows")
    assert(meanNorm.head / normQuiet.head < 0.87,
      "fixture: mean correction over-corrects the early rows")
    // empty calibration passes through unchanged
    assert(Bench.calibNormalizePerQuery(quiet, Nil) == quiet)
  }

  test("stdout low_par excludes the intrinsic allowlist so an anomalous row can't be crowded out") {
    // five low-par rows: the four intrinsic sorted-fold queries plus
    // one anomalous row SLOWER than none of them — under the old
    // cap-4 map the intrinsic rows would evict it
    val intrinsic = Bench.IntrinsicLowPar.keys.toSeq.sorted.map(n =>
      Bench.QStat(n, 10.0, 15.0, 1.0, 4))
    val anomalous = Bench.QStat("x12_ann_lsh", 4.0, 5.0, 1.0, 4)
    assert(Bench.isLowParallel(anomalous.wall, anomalous.cpu), "fixture")
    val line = Bench.composeStdoutLine(intrinsic :+ anomalous, "sf")
    val tree = mapper.readTree(line)
    assert(tree.get("low_par").has("x12"),
      s"anomalous row missing from low_par: $line")
    assert(!tree.get("low_par").has("x45"),
      s"intrinsic row must not occupy the low_par cap: $line")
    val intr = (0 until tree.get("low_par_intrinsic").size)
      .map(tree.get("low_par_intrinsic").get(_).asText).toSet
    assert(intr == Set("x45", "x94", "x97", "x106", "x207"),
      s"intrinsic rows must report by name: $line")
  }
}
