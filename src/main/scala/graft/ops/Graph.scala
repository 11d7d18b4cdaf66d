package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms as dataframe programs.
  *
  * PageRank here is FIXED-POINT: ranks are scaled BIGINTs (`Scale` =
  * 10¹²) and every update is integer arithmetic — `DIV` for the
  * degree/damping splits, exact BIGINT sums for the message aggregation.
  * Two reasons, both scale-driven:
  *  - determinism: double message sums associate per-partition (a groupBy
  *    sum's order is the scheduler's choice), so float PageRank drifts
  *    run-to-run and engine-to-engine; integer sums are associative, so
  *    the result is bit-equal everywhere and the DuckDB oracle replays it
  *    with `//` (CLAUDE.md rule-1 applied to an iterative algorithm).
  *  - convergence bookkeeping: at 10⁹ nodes a deterministic fixed point
  *    means an incremental re-run can diff ranks exactly instead of
  *    epsilon-comparing.
  * The truncation the integer DIV introduces is ≤ nodes·iters / Scale of
  * total mass — at Scale 10¹² it's noise far below any ranking use.
  *
  * Iteration discipline (rule 8): each round `localCheckpoint`s the rank
  * frame — PageRank lineage otherwise grows by a join+agg per round and
  * analysis goes superlinear.
  */
object Graph {

  val Scale: Long = 1000000000000L // 10^12 fixed-point scale

  /** Fixed-iteration fixed-point PageRank over an edge list.
    *
    * `edges` rows are (src → dst); pass both directions for an undirected
    * graph. Nodes with no OUT-edges (dangling) keep their teleport mass
    * only — the standard simplification; feed symmetric edges to avoid
    * it. Returns (`node`, `rank_fp`) with `rank_fp` on the [[Scale]]
    * fixed-point grid.
    *
    * Per round: contrib = rank DIV out_degree per edge, one shuffle on
    * dst for the BIGINT message sum, then
    * rank' = (Scale·(1−d)) DIV n + (d·Σcontrib) — damping as the integer
    * pair (`dampNum` DIV `dampDen`). The damping multiply happens BEFORE
    * the DIV (`(Σ·num) DIV den`) so only one truncation occurs.
    */
  def pageRank(edges: DataFrame, src: String, dst: String, iters: Int,
               dampNum: Long = 85, dampDen: Long = 100,
               checkpoint: Boolean = true): DataFrame = {
    require(iters >= 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      "degenerate PageRank parameters")
    // Checkpoint the EDGE frame once: the loop reads it every round (and
    // nodes/deg each read it once more), so an un-materialized edge
    // expression — often a join+distinct like the gate's bipartite
    // derivation — would re-execute per round. GraphX caches edges for
    // the same reason; measured 16.8 → ~4 s at sf0.1 (3 iters).
    var e = edges.select(col(src).as("src"), col(dst).as("dst"))
    if (checkpoint) e = e.localCheckpoint(eager = true)
    var nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    if (checkpoint) nodes = nodes.localCheckpoint(eager = true)
    val n = nodes.count()
    // out-degrees are loop-invariant but were re-aggregated from the edge
    // frame EVERY round (optimization r18, guide §2.4 — the deg groupBy
    // and its exchange ran `iters` times for an unchanging node-sized
    // table); checkpoint once like nodes/edges
    var deg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    if (checkpoint) deg = deg.localCheckpoint(eager = true)
    val base = (Scale * (dampDen - dampNum) / dampDen) / n // driver-side: exact int ops
    var ranks = nodes.withColumn("rank_fp", lit(Scale / n))
    if (checkpoint) ranks = ranks.localCheckpoint(eager = true)
    for (_ <- 0 until iters) {
      val contribs = e.join(ranks, e("src") === ranks("node"))
        .join(deg, "src")
        .select(col("dst"), expr("rank_fp div out_deg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("msg"))
      ranks = nodes.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + expr(s"(coalesce(msg, 0L) * $dampNum) div $dampDen"))
            .as("rank_fp"))
      if (checkpoint) ranks = ranks.localCheckpoint(eager = true)
    }
    ranks
  }

  /** Synchronous label propagation (community detection) — the other
    * standard iterative graph pass next to [[pageRank]], and exact BY
    * CONSTRUCTION: labels are node ids (strings), votes are integer
    * counts, and the per-node argmax uses the TOTAL order (count DESC,
    * label ASC), so every round is bit-deterministic in any engine — no
    * fixed-point trickery needed.
    *
    * Round k: every node adopts the most frequent label among its
    * IN-neighbors' round-(k−1) labels (pass symmetric edges for the
    * undirected semantics); isolated nodes keep their own label. Ties
    * break to the LEXICOGRAPHICALLY SMALLEST label — deterministic, and
    * it biases toward stable low-id community seeds the way min-label
    * connected components does.
    *
    * Per round: one join edges⋈labels (labels are node-sized — broadcast
    * or co-shuffle), one (dst, label) count shuffle, one per-dst argmax
    * window. localCheckpoint per round (rule 8). Synchronous LPA can
    * 2-cycle on bipartite structure — run a fixed `iters` like any
    * bounded-round production pass; the gate pins exact labels at a
    * fixed round count, not a fixpoint claim. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       iters: Int, checkpoint: Boolean = true): DataFrame = {
    require(iters >= 0, "negative iterations")
    // same edge-checkpoint rationale as pageRank: the loop reads e per round
    var e = edges.select(col(src).as("src"), col(dst).as("dst"))
    if (checkpoint) e = e.localCheckpoint(eager = true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var labels = nodes.withColumn("label", col("node"))
    if (checkpoint) labels = labels.localCheckpoint(eager = true)
    for (_ <- 0 until iters) {
      val votes = e.join(labels, e("src") === labels("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("n_votes"))
      // per-dst argmax under (n_votes DESC, label ASC) as a MIN-STRUCT
      // aggregate (optimization r18): lexicographic struct comparison on
      // (−n_votes, label) selects exactly the row the old row_number
      // window picked — (dst,label) rows are unique so there is no
      // residual tie — while replacing the window's exchange+SORT with a
      // partially-aggregated hash agg (guide §2.3 "aggregate before you
      // shuffle"; the window also could not map-side combine).
      val winners = votes
        .groupBy(col("dst"))
        .agg(min(struct((-col("n_votes")).as("__nv"), col("label"))).as("__w"))
        .select(col("dst"), col("__w.label").as("new_label"))
      // join against the PREVIOUS labels, not the node list: a node with
      // no in-neighbors keeps its round-(k−1) label by construction
      labels = labels.join(winners, col("node") === col("dst"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))
      if (checkpoint) labels = labels.localCheckpoint(eager = true)
    }
    labels
  }

  /** Per-node triangle counts via the FORWARD algorithm (Schank & Wagner
    * 2005; the "node-iterator with degree ordering" in the triangle
    * literature) — the one trick that makes triangle counting survive
    * scale-up: orient every undirected edge from its (degree, id)-smaller
    * endpoint to the larger, then a wedge (a→b→c) closed by oriented edge
    * (a→c) finds each triangle EXACTLY once, and — the scale point — the
    * wedge join's fan-out per node is bounded by its OUT-degree under the
    * orientation, which is O(√m) for any graph (vs the raw degree, which a
    * hub node makes unbounded). A plain a<b<c id-ordered join is
    * semantically identical but lets one low-id hub own every wedge; the
    * degree orientation is the skew fix, built into the algorithm instead
    * of bolted on with salting.
    *
    * Plan: one distinct on canonical pairs, one degree aggregation, the
    * orientation join (degree frame is node-sized — broadcastable), then
    * wedge join + closing LEFT SEMI-shaped inner join, all equi-joins on
    * node keys. Counts are exact integers — bit-deterministic in any
    * engine; the oracle replays the id-ordered formulation (same triangle
    * SET by symmetry of the counting, independent of the orientation the
    * execution used).
    *
    * Returns (node, n_triangles) for nodes in ≥1 triangle. */
  def triangleCounts(edges: DataFrame, src: String, dst: String): DataFrame = {
    // canonical undirected pairs (a < b), self-loops dropped
    val canon = edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = true) // read 3× below (degrees + both sides)
    val deg = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient a→b when (deg_a, a) < (deg_b, b); degrees are node-sized, broadcast
    val oriented = canon
      .join(broadcast(deg).withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
      .join(broadcast(deg).withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(eager = true) // read 3× by the triangle join
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val triangles = wedges
      .join(oriented.as("e3"), col("x") === col("e3.u") && col("z") === col("e3.v"))
      .select(col("x"), col("y"), col("z"))
    triangles
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** K-HOP REACHABILITY (bounded transitive closure): for each source,
    * the number of DISTINCT nodes reachable in ≤ k directed hops
    * (source itself included — hop 0). The impact/blast-radius query
    * (dependency fan-out, contagion reach) that single-shot joins can't
    * express and full transitive closure can't afford.
    *
    * Frontier BFS as dataframes: each round expands only the NEWLY
    * discovered frontier (left-anti against the reached set), so a node's
    * edges are walked once per source that reaches it — never re-expanded
    * (the naive k-fold self-join grows multiplicatively with path counts;
    * this grows with the reachable SET). `localCheckpoint` per round
    * (rule 8) keeps lineage flat. Exact integers end to end. */
  def kHopCounts(edges: DataFrame, src: String, dst: String,
                 sources: DataFrame, sourceCol: String, k: Int): DataFrame = {
    require(k >= 0 && k <= 16, s"k=$k out of the sane bound")
    val e = edges.select(col(src).as("__s"), col(dst).as("__d"))
      .distinct().localCheckpoint()
    var reached = sources.select(col(sourceCol).as("source"))
      .distinct().withColumn("node", col("source")).localCheckpoint()
    var frontier = reached
    var h = 0
    while (h < k) {
      frontier = frontier.join(e, frontier("node") === e("__s"))
        .select(col("source"), col("__d").as("node"))
        .distinct()
        .join(reached, Seq("source", "node"), "left_anti")
        .localCheckpoint()
      reached = reached.unionByName(frontier).localCheckpoint()
      h += 1
    }
    reached.groupBy("source").agg(count(lit(1)).as("n_reachable"))
  }

  /** Connected components over an undirected edge list: every node is
    * labeled with the MINIMUM node id of its component — the canonical
    * deterministic component id (exact integers, no randomness, any
    * engine agrees).
    *
    * Delegates to the pointer-halving min-label engine shared with the
    * dedup cluster resolver ([[graft.dedup.Dedup.resolveClusters]]):
    * per round, one edge propagation (label ← min over neighbors)
    * COMPOSED with a label-of-label shortcut, so convergence is
    * O(log diameter) shuffle rounds — the property that makes CC viable
    * on 100 TB edge lists where plain propagation's O(diameter) rounds
    * die on long chains (a path graph of 10⁶ nodes: 20 rounds vs 10⁶).
    * Edges are symmetrized internally; pass each undirected edge once in
    * either direction. Returns (`node`, `component`). Isolated nodes
    * (absent from `edges`) don't appear — union them in as self-labeled
    * if the caller's node universe is wider than the edge support. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIterations: Int = 30): DataFrame =
    graft.dedup.Dedup.resolveClusters(
        edges.select(col(src).as("doc_a"), col(dst).as("doc_b")),
        maxIterations)
      .select(col("doc_id").as("node"), col("label").as("component"))

  /** Hop-bounded multi-source shortest paths (Bellman–Ford with a
    * FRONTIER): dist[n] after round h is exactly the cheapest ≤h-hop path
    * from the nearest source — the bounded-closure semantics that keeps
    * the operator deterministic and oracle-replayable (full SSSP's
    * round count is data-dependent; a fixed `maxHops` is a contract).
    * Each round relaxes only the nodes whose distance IMPROVED last
    * round (the delta/frontier optimization — on a 100 TB edge list the
    * frontier shrinks geometrically once the wave passes, so late rounds
    * touch a sliver of the graph instead of re-relaxing everything);
    * an empty frontier exits early with the identical result. Weights
    * are integer (exact BIGINT min-plus — no float accumulation order).
    * `edges` are taken as directed; symmetrize for undirected graphs.
    *
    * Materialization (rule 8): the edge frame is checkpointed ONCE, as in
    * [[pageRank]] — the loop reads it every round, and an un-materialized
    * edge expression (a scan + distinct + unions in the gate) would
    * re-execute per round. Each round then checkpoints ONE frame: `dist`
    * full-outer-joined with the round's min-relaxed distances, carrying
    * (node, dist, improved). The next `dist` is its projection and the
    * frontier its `improved` rows, so no second checkpoint hands a frame
    * from one step to the next. Returns (node, dist) for every node
    * reachable within `maxHops`.
    */
  def boundedSssp(edges: DataFrame, src: String, dst: String, w: String,
                  sources: DataFrame, maxHops: Int): DataFrame = {
    val e = edges.select(col(src).as("__s"), col(dst).as("__d"),
      col(w).as("__w")).localCheckpoint(eager = true)
    var dist = sources.select(col("node"), lit(0L).as("dist"))
      .distinct().localCheckpoint()
    var frontier = dist
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      val relaxed = frontier.join(e, col("node") === col("__s"))
        .select(col("__d").as("node"), (col("dist") + col("__w")).as("__new"))
        .groupBy("node").agg(min(col("__new")).as("__new"))
      val better = col("__new").isNotNull &&
        (col("dist").isNull || col("__new") < col("dist"))
      val round = dist.join(relaxed, Seq("node"), "full_outer")
        .select(col("node"),
          when(better, col("__new")).otherwise(col("dist")).as("dist"),
          better.as("improved"))
        .localCheckpoint()
      frontier = round.filter(col("improved")).select("node", "dist")
      dist = round.select("node", "dist")
      if (frontier.isEmpty) done = true
      h += 1
    }
    dist
  }

  /** Co-occurrence graph construction: weighted item–item edges from a
    * (basket, item) membership table — the market-basket / co-access /
    * co-citation builder that feeds recommendation and related-items
    * graphs. One self-join per basket with `a < b` orientation (each
    * unordered pair once), then an exact count per pair; pairs below
    * `minCount` drop.
    *
    * Scale: the join co-shuffles both sides on the basket key, so the
    * fan-out per basket is C(n,2) of ITS OWN size — bounded when basket
    * sizes are bounded (orders cap at 7 lineitems in TPC-H; carts/
    * sessions in the hundreds). A power-law basket (one basket with 10⁶
    * items) is the failure mode: cap it upstream with
    * [[graft.quality.Sampling.capPerGroup]] before calling — same
    * discipline as the dedup inverted-index df caps. Duplicate (basket,
    * item) memberships are collapsed first so a re-ordered line never
    * double-counts a pair.
    */
  def cooccurrencePairs(members: DataFrame, basket: String, item: String,
                        minCount: Long): DataFrame = {
    val m = members.select(col(basket).as("__b"), col(item).as("__i")).distinct()
    val a = m.select(col("__b"), col("__i").as("item_a"))
    val b = m.select(col("__b"), col("__i").as("item_b"))
    a.join(b, Seq("__b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minCount)
  }
}
