package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.{CacheScope, Iterate}

/** Iterative link-graph operators. Corpus-curation use: web-crawl
  * pipelines rank domains/pages by link authority (PageRank / harmonic
  * centrality) to prioritize crawling and weight sources — the graph
  * analogue of the quality gates in [[TextStats]].
  */
object Graph {

  /** PageRank with uniform teleport and dangling-mass redistribution.
    *
    * `nodes` is one `node` column (the universe; isolated nodes get the
    * teleport mass), `edges` is (`src`, `dst`) — rows outside the node
    * universe should be pre-filtered by the caller. T iterations of
    *
    *   r'(v) = (1−d)/N + d · (Σ_{(u,v)∈E} r(u)/outdeg(u) + D/N)
    *
    * where D = Σ r(u) over dangling (outdeg-0) nodes.
    *
    * Scale shape: the edge list (with outdeg attached) is persisted once
    * and reused every iteration; each iteration is ONE equi-join of the
    * rank vector with the edge list on `src` plus one hash aggregate on
    * `dst` — no windows, no driver-side collection (the dangling mass
    * rides a 1-row broadcast cross join). The rank frame is pinned per
    * iteration by [[graft.ops.Iterate]]: the loop body references
    * `ranks` twice (dangling, inflow), so WITHOUT lineage truncation the
    * Catalyst plan tree grows geometrically per iteration. On a real
    * cluster the edge list would additionally be bucketed by `src`
    * ([[graft.sinks.Sinks.writeBucketed]]).
    *
    * Determinism (oracle parity): per-edge contributions r(u)/outdeg(u)
    * are IEEE double ops on bit-identical inputs; their per-node sum and
    * the dangling sum go through exact DECIMAL(38,18) so aggregation
    * order cannot drift; the recurrence is evaluated with one fixed
    * expression shape. Every iteration is then bit-identical across
    * engines and layouts.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank: iters must be >= 1")
    // the rank universe size: one count over the (small) node frame; a
    // production run would pass it in from the graph-prep manifest
    val n = nodes.select(col("node")).distinct().count()
    val nD = n.toDouble
    val tele = (1 - damping) / nD

    val nodeF = CacheScope.persist(nodes.select(col("node")).distinct())
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // PRE-PARTITIONED on src (r15, the Bradley-Terry loop reorder
    // applied here per the r14 brief): the per-round rank⋈edge join
    // keys on src, so the cached hash(src) layout is reused every
    // round and the edge table never re-shuffles inside the loop; the
    // rank frame is checkpointed hash(node)-partitioned (below), so
    // the join is exchange-free on BOTH sides — the only edge-sized
    // exchange left per round is the inflow aggregate's hash(dst).
    val edgeF = CacheScope.persist(
      edges.select(col("src"), col("dst")).join(outdeg, "src")
        .repartition(col("src")))

    def decSum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 18))).cast("double")

    Iterate.rounds(nodeF.select(col("node"), lit(1.0 / nD).as("rank"))
        .repartition(col("node")), iters) { ranks =>
      // dangling mass: rank held by nodes with no outgoing edges —
      // anti-joined against the CACHED edge frame's src (hash(src)
      // layout, co-partitioned with ranks' hash(node)) instead of the
      // unpersisted outdeg aggregate, which re-scanned the edge input
      // every round
      val dang = ranks
        .join(edgeF.select(col("src")), ranks("node") === col("src"),
          "left_anti")
        .agg(coalesce(decSum(col("rank")), lit(0.0)).as("dang"))
      val inflow = ranks
        .join(edgeF, ranks("node") === edgeF("src"))
        .groupBy(col("dst").as("node"))
        .agg(decSum(col("rank") / col("outdeg")).as("inflow"))
      nodeF
        .join(inflow, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(tele) + lit(damping) *
            (coalesce(col("inflow"), lit(0.0)) + col("dang") / lit(nD)))
            .as("rank"))
    }
  }

  /** HITS (Kleinberg hubs & authorities) with L1 normalization.
    *
    * T iterations of the mutual recurrence over edges (src → dst):
    *
    *   a'(v) = Σ_{(u,v)∈E} h(u)   then a ← a / Σ a
    *   h'(u) = Σ_{(u,v)∈E} a(v)   then h ← h / Σ h
    *
    * Nodes outside the edge set keep score 0 (they neither point nor are
    * pointed at); the node frame fixes the output universe. L1 (not the
    * textbook L2) normalization is deliberate: the normalizer is then a
    * plain sum of non-negative doubles, which goes through the exact
    * DECIMAL path — no per-iteration sqrt whose rounding would have to be
    * pinned on both engines. Ranking order is identical under any
    * p-norm (positive scalar rescale).
    *
    * Scale shape: identical to [[pageRank]] — the persisted edge list is
    * reused every iteration; one equi-join + one hash aggregate per
    * half-step, normalizers ride a 1-row broadcast. The state is one
    * (node, hub, auth) frame; each half-step replaces one score column,
    * carries the other, and is pinned by [[graft.ops.Iterate]], which
    * truncates the (here mutually recursive, so doubly exploding)
    * lineage.
    */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 4)
      : DataFrame = {
    require(iters >= 1, "hits: iters must be >= 1")
    val nodeF = CacheScope.persist(nodes.select(col("node")).distinct())
    // TWO cached copies, one per loop join key (r15 — the "bucketed on
    // BOTH src and dst copies" posture the scaladoc promised): the auth
    // half-step joins on src, the hub half-step on dst; each reuses its
    // copy's hash layout so neither half-step re-shuffles the edge list.
    val edgeBySrc = CacheScope.persist(
      edges.select(col("src"), col("dst")).repartition(col("src")))
    val edgeByDst = CacheScope.persist(
      edges.select(col("src"), col("dst")).repartition(col("dst")))

    def decSum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 18))).cast("double")
    // One half-step: `to` ← Σ `from` over the edges keyed on `key`
    // (the endpoint `out` receives it), then L1-normalized over the
    // whole frame via a 1-row broadcast. The edge contributions and
    // each node's own state row meet in ONE node-keyed aggregate, with
    // no join against the node universe: the state row carries `from`
    // through unchanged and puts every node of the universe in the
    // output (no contributions → NULL sum → 0); an edge endpoint outside
    // the universe has no state row, so no `from`, and is dropped. The
    // all-zero guard keeps the expression shape identical to the
    // oracle's CASE (double 0/0 would be NaN, not an ANSI error).
    def halfStep(edgeF: DataFrame, key: String, out: String, from: String,
        to: String)(s: DataFrame): DataFrame = {
      val none = lit(null).cast("double")
      val filled = s
        .join(edgeF, s("node") === edgeF(key))
        .select(col(out).as("node"), col(from).as("mass"), none.as(from))
        .unionAll(s.select(col("node"), none.as("mass"), col(from)))
        .groupBy(col("node"))
        .agg(max(col(from)).as(from),
          coalesce(decSum(col("mass")), lit(0.0)).as(to))
        .filter(col(from).isNotNull)
      val tot = filled.agg(coalesce(decSum(col(to)), lit(0.0)).as("tot"))
      filled.crossJoin(broadcast(tot))
        .select(col("node"), col(from),
          when(col("tot") =!= 0.0, col(to) / col("tot"))
            .otherwise(lit(0.0)).as(to))
    }

    Iterate.rounds(nodeF.select(col("node"), lit(1.0).as("hub"))
        .repartition(col("node")), iters)(
      halfStep(edgeBySrc, "src", "dst", "hub", "auth"),
      halfStep(edgeByDst, "dst", "src", "auth", "hub"))
      .select(col("node"), col("hub"), col("auth"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, the near-linear-time community baseline) — crawl-
    * curation use: grouping domains into link communities to diversify
    * a training corpus or spot mutually-linking spam clusters that
    * triangle counting ([[triangles]]) flags only locally.
    *
    * Every node starts as its own label; each of `iters` SYNCHRONOUS
    * rounds relabels every node to the most frequent label among its
    * neighbors (ties → smallest label, so the fixpoint drifts toward
    * min-id labels and the whole run is deterministic — asynchronous
    * LPA's usual order-dependence is exactly what an oracle-checked
    * distributed operator cannot have). Isolated nodes keep their own
    * label.
    *
    * Scale shape: one equi-join of the label frame with the (persisted,
    * both-direction) edge list + two hash aggregates per round — the
    * neighbor-label count collapses at (node, label) grain before the
    * per-node argmax, which is `max(struct(cnt, -label))`, an ordinary
    * aggregate, NOT a per-node window. [[graft.ops.Iterate]] pins the
    * label frame per round (it is referenced twice per round). Rounds are O(m) work each; `iters` is small and fixed —
    * LPA's known behavior — rather than driver-polled convergence. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      iters: Int = 4): DataFrame = {
    require(iters >= 1, "labelPropagation: iters must be >= 1")
    val nodeF = CacheScope.persist(nodes.select(col("node")).distinct())
    // PRE-PARTITIONED on src (r15, the Bradley-Terry loop reorder): the
    // per-round neighbor join keys on src, so the cached hash(src)
    // layout absorbs it; labels ride pinned hash(node)-partitioned
    // (Iterate.pin keeps the layout),
    // so the join is exchange-free on both sides and the relabel join
    // reuses the groupBy(node) layout — the only edge-sized exchange
    // left per round is the (dst, label) count aggregate.
    val und = CacheScope.persist(edges
      .select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("src")))
    Iterate.rounds(nodeF.select(col("node"), col("node").as("label"))
        .repartition(col("node")), iters) { labels =>
      val nbr = labels
        .join(und, labels("node") === und("src"))
        .groupBy(und("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val sel = nbr
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("new_label"))
      labels.join(sel, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))
    }.select(col("node"), col("label").as("community"))
  }

  /** k-core extraction by batched peeling (the distributed k-core
    * formulation: every round removes ALL nodes whose current induced
    * degree is below `k` at once, so the round count is bounded by the
    * peel DEPTH of the graph, not its size). Curation use: the k-core
    * of a link graph is the mutually-reinforcing center — crawl
    * frontiers are seeded from it, and spam chains/pendant sprawl fall
    * away without any scoring model.
    *
    * Runs `iters` rounds; a converged graph (every remaining node at
    * induced degree ≥ k) passes further rounds unchanged, so `iters`
    * is an upper bound on peel depth, not an approximation knob — on a
    * production graph pair it with a driver-side convergence check
    * every few rounds. Returns the surviving nodes with their induced
    * core degrees.
    *
    * Scale shape: per round ONE hash aggregate (induced degrees) and
    * TWO anti-joins (drop edges touching peeled nodes) — all keyed on
    * node id, no windows, no collect; [[graft.ops.Iterate]] pins the
    * edge frame per round (it is referenced three times per round:
    * degree, both anti-join sides). */
  def kCore(edges: DataFrame, k: Int, iters: Int = 6): DataFrame = {
    require(k >= 1 && iters >= 1, "kCore: k and iters must be >= 1")
    // PRE-PARTITIONED on src (r15): the per-round induced-degree
    // aggregate keys on src; Iterate.pin keeps the layout, so the
    // pinned edge set stays hash(src)-partitioned through the
    // (broadcast) anti-joins and each round's degree pass is
    // exchange-free — rounds of a converged graph cost one cached scan.
    Iterate.rounds(edges
        .select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
        .repartition(col("src")), iters) { cur =>
      val bad = cur.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") < k).select(col("src"))
      cur
        .join(bad, Seq("src"), "left_anti")
        .join(bad.select(col("src").as("dst")), Seq("dst"), "left_anti")
        .select("src", "dst")
    }.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected graph — the link-graph cohesion diagnostic (spam/link-
    * farm detection in crawl curation: farms show abnormally dense
    * mutual-link neighborhoods, i.e. high clustering at high degree).
    *
    * Algorithm: degree-ordered wedge closure (the Schank–Wagner /
    * MapReduce node-iterator). Each undirected edge is ORIENTED from
    * its lower-(degree, id) endpoint to the higher one; a triangle
    * {x,y,z} with rank x<y<z is then found exactly once, as the wedge
    * (y,z) around its lowest-rank corner x closed by the oriented edge
    * y→z. The orientation is the scale guarantee: every node's
    * out-degree is bounded by O(√m) (a node of degree d only points at
    * neighbors of degree ≥ d, and there can be at most 2√m of those),
    * so the wedge self-join emits O(m^1.5) rows worst-case instead of
    * Σ deg² — a hub with 10⁷ in-links contributes NO wedges at its own
    * corner; its triangles are counted at their low-degree corners.
    * Three equi-joins + one hash aggregate total: no windows, no
    * driver-side iteration, and the closure join keys on the (v1, v2)
    * pair so it shuffles candidate wedges, not the neighborhood cross
    * product. On a real cluster the oriented edge list would be
    * bucketed on `u` to make the wedge join exchange-free.
    *
    * Input `edges` is (`src`, `dst`), direction ignored; self-loops and
    * duplicate/reverse edges are canonicalized away. Output: one row
    * per non-isolated node — (`node`, `degree`, `n_triangles`,
    * `clustering` = 2T / (deg·(deg−1)), NULL for degree-1 nodes). */
  def triangles(edges: DataFrame): DataFrame = {
    val und = CacheScope.persist(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct())
    val deg = CacheScope.persist(
      und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree")))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("deg_a")),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("deg_b")),
        Seq("b"))
    // rank(x) = (degree, id); orient u → v with rank(u) < rank(v). The
    // a < b tie-break is total because canonical edges have a < b.
    val fwd = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = CacheScope.persist(withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("v"),
      when(fwd, col("deg_b")).otherwise(col("deg_a")).as("deg_v")))
    // wedges around the lowest-rank corner u: unordered out-neighbor
    // pairs, ordered by rank so the closing edge's orientation is known
    val wedges = oriented.select(
        col("u"), col("v").as("v1"), col("deg_v").as("dv1"))
      .join(oriented.select(
        col("u"), col("v").as("v2"), col("deg_v").as("dv2")), Seq("u"))
      .filter(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v1") < col("v2")))
    val tri = wedges.join(
      oriented.select(col("u").as("v1"), col("v").as("v2")),
      Seq("v1", "v2"))
    val perNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    CacheScope.track(deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)), 6))
          .as("clustering")))
  }

  /** Link prediction by neighborhood overlap: for every non-adjacent
    * node pair sharing ≥ `minCommon` neighbors, the three classic
    * scores — common-neighbor count, Adamic–Adar (Σ_z 1/ln(deg z) over
    * shared neighbors z, the inverse-log weighting that discounts
    * promiscuous hubs), and Jaccard (|N(u)∩N(v)| / |N(u)∪N(v)|). The
    * crawl-curation use is recommending merge candidates between
    * near-duplicate site sections and scoring link-farm cohesion.
    *
    * Scale (100 TB): candidate pairs are generated ONLY as wedges — a
    * self-join of the adjacency list keyed on the shared center z — so
    * the volume is Σ_z deg(z)², never n². That sum is dominated by
    * hubs, so centers with deg > `maxDeg` are EXCLUDED — the standard
    * production approximation (a 10⁷-degree hub would alone emit 10¹⁴
    * wedges, while its Adamic–Adar contribution per pair is a
    * negligible 1/ln(10⁷) ≈ 0.06): the cap is part of the operator's
    * semantics and the oracle applies it identically, so the gate
    * still hash-checks. Everything is equi-joins + one pair-keyed hash
    * aggregate; no windows, no driver iteration. The wedge weight
    * 1/ln(deg z) is the only transcendental — rounded to 6 dp per
    * wedge, then summed through exact DECIMAL(38,12) so z-arrival
    * order cannot move the hash.
    *
    * Input `edges` is (`src`, `dst`), direction ignored; self-loops /
    * duplicate / reverse edges canonicalized away. Output: one row per
    * predicted pair — (`u`, `v`) with u < v, `common_neighbors`,
    * `aa_score`, `jaccard` — existing edges anti-joined out. */
  def linkPrediction(edges: DataFrame, maxDeg: Long = 1000,
      minCommon: Long = 2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val und = CacheScope.persist(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct())
    val deg = CacheScope.persist(
      und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree")))
    // adjacency around each center z, capped: a center needs ≥ 2
    // neighbors to open a wedge, and super-hubs are pruned by contract
    val nbr = und.select(col("a").as("z"), col("b").as("n"))
      .unionAll(und.select(col("b").as("z"), col("a").as("n")))
      .join(deg.select(col("node").as("z"), col("degree").as("deg_z")),
        Seq("z"))
      .filter(col("deg_z") >= 2 && col("deg_z") <= maxDeg)
    val wedges = nbr.select(col("z"), col("deg_z"), col("n").as("u"))
      .join(nbr.select(col("z"), col("n").as("v")), Seq("z"))
      .filter(col("u") < col("v"))
    val scored = wedges
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(round(lit(1.0) / log(col("deg_z")), 6)
          .cast(DecimalType(38, 12))).cast("double"), 6).as("aa_score"))
      .filter(col("common_neighbors") >= minCommon)
    CacheScope.track(scored
      .join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("degree").as("deg_u")),
        Seq("u"))
      .join(deg.select(col("node").as("v"), col("degree").as("deg_v")),
        Seq("v"))
      .select(col("u"), col("v"), col("common_neighbors"),
        col("aa_score"),
        round(col("common_neighbors").cast("double") /
          (col("deg_u") + col("deg_v") - col("common_neighbors")), 6)
          .as("jaccard")))
  }
}
