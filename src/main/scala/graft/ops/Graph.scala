package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists — the second graph
  * primitive next to [[Dedup.duplicateClusters]]'s connected
  * components. PageRank ranks documents by link authority (citation /
  * hyperlink graphs are a standard corpus-quality prior: pages many
  * curated pages point at are likelier to be worth training on).
  *
  * Reference scope: the reference engine has no graph operators; this
  * extends the engine the same way the dedup/ANN families do.
  */
object Graph {

  /** PageRank with uniform teleport: `iters` synchronous rounds of
    * rank(v) = (1−d)/N + d · Σ_{(u,v)∈E} rank(u)/outdeg(u).
    *
    * Semantics notes:
    * - Nodes = src ∪ dst of `edges` unless `nodes` is given (isolated
    *   vertices only exist if passed in explicitly).
    * - Dangling nodes (no out-edges) leak their damped mass — the
    *   common simplified-PageRank convention — so ranks sum to < 1 in
    *   their presence; pass a graph without sinks (or pre-add
    *   self-loops) when conservation matters.
    * - Parallel edges are honored (each contributes), matching the
    *   plain edge-list reading.
    *
    * Determinism contract (`exact = true`, the default): every
    * round's inbound mass folds in SORTED order
    * (`aggregate(sort_array(...))` — the CLAUDE.md float-sum rule),
    * all other arithmetic is a fixed IEEE expression tree over
    * (rank, BIGINT degree, BIGINT N), so the result is a pure
    * function of the graph, independent of layout. The cost of that
    * guarantee: `collect_list` has no map-side reduction, so a hub's
    * ENTIRE in-neighbor contribution list ships through the shuffle
    * and buffers on one task — fine for bounded-in-degree graphs and
    * oracle verification, an OOM/straggler risk on power-law graphs
    * where hubs reach 10⁷⁺ in-links. Pass `exact = false` for the
    * scale path: a plain float `sum` with map-side partial
    * aggregation (constant-size buffers, the standard Pregel
    * reduce) whose result differs from the exact fold only by
    * addition-order ulps — immaterial for ranking, just not
    * bit-replayable.
    *
    * Scale shape: the degree-annotated edge list is shuffled ONCE onto
    * its src key and persisted; each round re-shuffles only the
    * rank table (nodes-sized, 2 narrow columns) to join it, then
    * aggregates by dst — the Pregel exchange pattern. Rounds are
    * eagerly localCheckpointed (constant-size plans, no lineage
    * growth; on a fault-tolerant cluster the same call is a reliable
    * `checkpoint()`). The edge cache is released before returning —
    * legal because the final checkpoint has already materialized. */
  def pageRank(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", nodes: Option[DataFrame] = None,
      damping: Double = 0.85, iters: Int = 5,
      exact: Boolean = true): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(iters > 0, "iters must be positive")
    require(damping > 0 && damping < 1, "damping in (0, 1)")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodeIds = nodes.getOrElse(
      e0.select(col("src").as("id")).union(e0.select(col("dst").as("id")))
        .distinct()).select(col("id")).localCheckpoint(true)
    val nRow = broadcast(nodeIds.agg(count(lit(1)).as("n")))
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = e0.join(outdeg, "src").repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var ranks = nodeIds.crossJoin(nRow)
        .select(col("id"), (lit(1.0) / col("n")).as("rank"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val contribs = e
          .join(ranks.select(col("id").as("src"), col("rank")), "src")
          .select(col("dst").as("id"), (col("rank") / col("outdeg")).as("contrib"))
        val mass = contribs.groupBy(col("id"))
          .agg(if (exact) {
            import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
            // native fold (r20 opt, FoldSumSpec-pinned bit-equal)
            column(graft.functions.FoldSum(
              expression(sort_array(collect_list(col("contrib")))))).as("mass")
          } else sum(col("contrib")).as("mass"))
        ranks = nodeIds
          .join(mass, Seq("id"), "left")
          .crossJoin(nRow)
          .select(col("id"),
            ((lit(1.0) - lit(damping)) / col("n")
              + lit(damping) * coalesce(col("mass"), lit(0.0))).as("rank"))
          .localCheckpoint(true)
      }
      ranks
    } finally e.unpersist(blocking = false)
  }

  /** Synchronous label propagation (community detection, Raghavan et
    * al. 2007): every node starts labeled with its own id; each round
    * it adopts the label carried by the PLURALITY of its in-neighbors,
    * ties broken toward the SMALLEST label. Nodes with no in-edges
    * keep their current label. After `iters` rounds the label sets
    * approximate communities (densely linked regions agree on one
    * label long before global convergence).
    *
    * Unlike classic LPA — whose random tie-breaks and asynchronous
    * updates make runs irreproducible — every choice here is a
    * deterministic pure function of the graph: synchronous rounds and
    * a total (count DESC, label ASC) order via `max(struct(cnt,
    * -label))`. That makes results replayable across engines and
    * layouts (the property the oracle checks), at the usual
    * synchronous-LPA cost of possible label oscillation on bipartite
    * structures — `iters` bounds that by construction.
    *
    * Parallel edges are honored (each contributes one vote), matching
    * the plain edge-list reading; pass a deduplicated edge list for
    * simple-graph semantics. Every edge is mirrored, so votes flow
    * both ways (undirected).
    *
    * Scale shape: identical to [[pageRank]] — the edge list shuffles
    * ONCE onto src and persists; each round re-shuffles only the
    * (node, label) table to join it, then a two-level aggregation
    * (count by (dst, label) — map-side combinable — then max-struct
    * by dst, also combinable) picks winners. Constant-size
    * aggregation buffers throughout: no collect_list, no per-node
    * neighbor materialization, so power-law hubs cost shuffle volume
    * but never buffer memory. Rounds are eagerly localCheckpointed
    * (flat lineage; a cluster deployment would use reliable
    * checkpoint()). */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iters: Int = 3,
      nodes: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(iters > 0, "iters must be positive")
    val fwd = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e0 = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val nodeIds = nodes.getOrElse(
      e0.select(col("src").as("id")).union(e0.select(col("dst").as("id")))
        .distinct()).select(col("id").cast("long").as("id"))
      .localCheckpoint(true)
    val e = e0.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = nodeIds.select(col("id"), col("id").as("label"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val votes = e
          .join(labels.select(col("id").as("src"), col("label")), "src")
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("cnt"))
        val winners = votes.groupBy(col("dst").as("id"))
          .agg(max(struct(col("cnt"), (-col("label")).as("neg_label")))
            .as("w"))
          .select(col("id"), (-col("w.neg_label")).as("new_label"))
        labels = labels.join(winners, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("new_label"), col("label")).as("label"))
          .localCheckpoint(true)
      }
      labels
    } finally e.unpersist(blocking = false)
  }

  /** HITS hubs & authorities (Kleinberg 1999): `iters` synchronous
    * rounds of the mutual-reinforcement pair
    * auth(v) = Σ_{(u,v)∈E} hub(u), hub(u) = Σ_{(u,v)∈E} auth(v),
    * each half-update L1-normalized (scores sum to 1 over nodes that
    * receive any mass). The third link-analysis primitive next to
    * [[pageRank]] (single-score authority) and
    * [[labelPropagation]] (communities): HITS separates *catalogs*
    * (hubs — pages whose value is pointing at good content) from
    * *content* (authorities) — for corpus curation the authority
    * score is the trainability prior and the hub score finds index /
    * link-farm pages to down-weight.
    *
    * Semantics notes:
    * - Nodes = src ∪ dst unless `nodes` is given; nodes with no
    *   in-links get auth 0.0, nodes with no out-links hub 0.0.
    * - Parallel edges are honored (each contributes), matching the
    *   plain edge-list reading.
    * - L1 normalization (not the classical L2): identical ranking,
    *   but every normalizer is a plain sum — replayable in ANSI SQL
    *   without a sqrt over a float sum. Degenerate all-zero rounds
    *   (empty edge set) keep scores at 0 rather than dividing by 0.
    *
    * Determinism contract (`exact = true`): per-node inbound folds
    * sort their contribution lists ([[pageRank]]'s rule), the GLOBAL
    * normalizer folds (id, value) pairs in sorted order (the keyed
    * sorted fold from CLAUDE.md), and both score vectors are pinned
    * to `round(_, 9)` at every half-round boundary so cross-engine
    * replay cannot drift (the x97 iterative-float discipline). The
    * exact global fold collects all N node scores into one array —
    * fine for verification corpora, a driver-memory risk at 10⁸⁺
    * nodes. `exact = false` is the scale path: plain float sums with
    * map-side partial aggregation everywhere (constant-size buffers),
    * same ranking up to addition-order ulps.
    *
    * Scale shape: the edge list is shuffled ONCE onto each join side
    * and persisted (src-keyed for the hub→auth push, dst-keyed for
    * the auth→hub pull); each half-round re-shuffles only the
    * (node, score) table — the Pregel exchange pattern, matching
    * [[pageRank]]. Rounds are eagerly localCheckpointed (flat
    * lineage; a cluster deployment would use reliable checkpoint()).
    * Returns (id, hub, auth). */
  def hits(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", nodes: Option[DataFrame] = None,
      iters: Int = 2, exact: Boolean = true): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(iters > 0, "iters must be positive")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodeIds = nodes.getOrElse(
      e0.select(col("src").as("id")).union(e0.select(col("dst").as("id")))
        .distinct()).select(col("id").cast("long").as("id"))
      .localCheckpoint(true)
    val eBySrc = e0.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val eByDst = e0.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)

    // one half-update: push scores across edges (in: (id, s) keyed by
    // fromCol), fold per toCol, L1-normalize, pin to 9 decimals
    def halfRound(scores: DataFrame, e: DataFrame,
        fromCol: String, toCol: String): DataFrame = {
      val pushed = e
        .join(scores.select(col("id").as(fromCol), col("s")), fromCol)
        .select(col(toCol).as("id"), col("s"))
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      // native folds (r20 opt, FoldSumSpec-pinned bit-equal)
      val raw = pushed.groupBy(col("id"))
        .agg(if (exact)
          column(graft.functions.FoldSum(
            expression(sort_array(collect_list(col("s")))))).as("raw")
        else sum(col("s")).as("raw"))
        .localCheckpoint(true)
      val total = broadcast(raw.agg(
        (if (exact)
          column(graft.functions.FoldSum(
            expression(sort_array(collect_list(struct(col("id"), col("raw"))))),
            Some("raw")))
        else sum(col("raw"))).as("total")))
      nodeIds.join(raw, Seq("id"), "left").crossJoin(total)
        .select(col("id"),
          round(when(col("total") > 0,
              coalesce(col("raw"), lit(0.0)) / col("total"))
            .otherwise(lit(0.0)), 9).as("s"))
        .localCheckpoint(true)
    }

    try {
      var hub = nodeIds.select(col("id"), lit(1.0).as("s"))
        .localCheckpoint(true)
      var auth = hub
      for (_ <- 1 to iters) {
        auth = halfRound(hub, eBySrc, "src", "dst")
        hub = halfRound(auth, eByDst, "dst", "src")
      }
      hub.select(col("id"), col("s").as("hub"))
        .join(auth.select(col("id"), col("s").as("auth")), Seq("id"))
    } finally {
      eBySrc.unpersist(blocking = false)
      eByDst.unpersist(blocking = false)
    }
  }

  /** Per-node triangle count + local clustering coefficient over the
    * undirected simple graph induced by `edges` (direction and
    * multiplicity dropped; self-loops dropped): c(v) = T(v) /
    * (d(v)·(d(v)−1)/2) — how close each node's neighborhood is to a
    * clique. The cohesion signal next to [[pageRank]]'s authority:
    * in a citation/link corpus, high-coefficient regions are
    * communities-in-fact (mutually-linked doc families, mirror
    * rings), coefficient ≈ 0 hubs are link farms / index pages.
    *
    * Exact and integer-only until the final division (the x166
    * determinism class — no float sums over data, no sorted folds
    * needed): T and d are BIGINT counts, the coefficient one fixed
    * division rounded to 6. Degree-1 / isolated nodes get NULL
    * coefficient (undefined, not 0 — a 0 would conflate "no
    * neighborhood" with "open neighborhood").
    *
    * Scale shape: the classic degree-ordered orientation (each
    * undirected edge points from its (degree, id)-smaller endpoint,
    * so every triangle is counted exactly once from its unique
    * lowest-rank apex) — wedge generation is the self-join of the
    * oriented edge list on the apex, whose cost is Σ outdeg(v)² with
    * outdeg bounded by O(√|E|) under this orientation (the
    * Suri–Vassilvitskii / Cohen MapReduce bound): power-law hubs
    * orient their edges INWARD and generate no wedges. Wedge →
    * closing-edge check is one shuffle-hash join against the
    * oriented edges; the per-node explode ships 3 rows per triangle.
    * No windows, no collects. */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // canonical undirected simple edges: (lo, hi), deduped
    val und = raw.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(true) // degrees + orientation + closing check
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // orient each edge from its (deg, id)-smaller endpoint
    val du = deg.select(col("id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
    val ru = struct(col("du").as("d"), col("u").as("i"))
    val rv = struct(col("dv").as("d"), col("v").as("i"))
    val oriented = und
      .hint("shuffle_hash").join(du, "u")
      .hint("shuffle_hash").join(dv, "v")
      .select(
        when(ru < rv, col("u")).otherwise(col("v")).as("lo"),
        when(ru < rv, col("v")).otherwise(col("u")).as("hi"),
        when(ru < rv, rv).otherwise(ru).as("hiRank"))
      .localCheckpoint(true)
    // wedges from each apex: two out-neighbors, ordered by rank so the
    // closing edge (if any) is oriented exactly wedge-lo -> wedge-hi
    val e1 = oriented.select(col("lo").as("apex"), col("hi").as("x"),
      col("hiRank").as("xr"))
    val e2 = oriented.select(col("lo").as("apex"), col("hi").as("y"),
      col("hiRank").as("yr"))
    val wedges = e1.hint("shuffle_hash").join(e2, "apex")
      .filter(col("xr") < col("yr"))
    val closing = oriented.select(col("lo").as("x"), col("hi").as("y"))
    val triangles = wedges.hint("shuffle_hash")
      .join(closing, Seq("x", "y"))
      .select(col("apex"), col("x"), col("y"))
      .localCheckpoint(true)
    val perNode = triangles.select(col("apex").as("id"))
      .union(triangles.select(col("x").as("id")))
      .union(triangles.select(col("y").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(when(col("deg") >= 2,
          (lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double"))
            / (col("deg").cast("double") * (col("deg") - 1).cast("double"))),
          6).as("coeff"))
  }
}
