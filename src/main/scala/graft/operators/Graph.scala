package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Fence

/** Iterative graph ranking over a corpus-sized node set — the companion
  * to [[Dedup.connectedComponents]]'s HashMin propagation: where
  * components tell you WHICH docs form a near-dup cluster, PageRank over
  * the same pair graph scores how CENTRAL each doc is (the natural
  * canonical-pick when clusters are large and min-id is arbitrary).
  *
  * Scale shape: edges materialize ONCE behind a durable stage fence
  * ([[graft.plans.Fence.corpusBucketed]], bucketed on `src`) — without
  * the fence the upstream pair generator (MinHash/LSH or the shingle
  * index) would re-execute every iteration, and a localCheckpoint
  * fence would pin the corpus-sized frame in executor-local storage
  * (executor loss unrecoverable mid-iteration). The bucketed read-back
  * keeps its hash partitioning, so the degree aggregate and the
  * per-round rank joins probe it exchange-free and each round shuffles
  * only the rank table. Each iteration is one edge→rank equi-join and
  * one groupBy(dst) — the same two-shuffle round as components — and
  * the rank chain itself stays an unfenced single-reference dataflow
  * (re-fenced every 8 rounds to bound plan depth). The rank join is shuffle-pinned: the rank table
  * has one row per NODE (corpus-sized at 100 TB), and AQE's small-SF
  * size estimate would otherwise broadcast it.
  *
  * Determinism: each iteration's ranks are fixed-pointed to 1e-9
  * (`floor(r·10⁹+0.5)/10⁹`) so the next round's inputs are
  * bit-identical regardless of the association order of the incoming-
  * contribution sums (per-add error ~1e-16 « the 1e-9 grid).
  */
object Graph {

  /** `iterations` rounds of PageRank with teleport `1-damping`.
    * `nodes` is the full node universe (one column `nodeCol`) — isolated
    * nodes keep the teleport-only rank; dangling nodes (no out-edges)
    * leak their mass to teleport, the convention that needs no global
    * redistribution pass.
    *
    * `nodes` is staged bucketed on the node id: the node set is read
    * once for the count and once per iteration, so an expensive
    * caller-side derivation runs exactly once (inside the stage
    * write), and the bucketed read-back's HashPartitioning(node) is
    * what makes both per-round joins exchange-free (see the loop
    * comment).
    *
    * Output: node, rank (raw), rel_rank (rank·|nodes| — ≈1.0 for an
    * average node, the scale-free form worth reading).
    */
  def pageRank(nodes: DataFrame, nodeCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, iterations: Int,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val round9 = (c: org.apache.spark.sql.Column) =>
      floor(c * 1e9 + 0.5) / 1e9
    // TWO durable fences for the whole loop: the edge table staged
    // BUCKETED on src (the upstream pair generator runs exactly once,
    // inside this write — the degree aggregate and the deg join are
    // exchange-free colocated reads of the bucketed scan) and the node
    // set staged BUCKETED on node. The rank chain stays UNFENCED: each
    // round's rank frame is referenced exactly once (by the next
    // round), so the whole loop is a fixed-depth dataflow that one job
    // evaluates once per round — no per-round materialization cost,
    // nothing pinned in executor storage; every 8 rounds the chain
    // re-fences through the stage writer to bound plan depth (PageRank
    // runs are conventionally 3-20 rounds). With both stages bucketed,
    // each round's two joins inherit/meet HashPartitioning(node|src)
    // on every side and the round's ONLY exchange is the groupBy(dst)
    // contribution aggregate.
    val e = Fence.corpusBucketed(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      "pr_edges", "src")
    // deg join shuffle-pinned like the rank join: deg has one row per
    // node WITH out-edges (corpus-sized at 100 TB) and AQE's small-SF
    // estimate would broadcast it; pinned, both sides sit on the
    // bucketed scan's HashPartitioning(src) and the join plans with
    // ZERO exchanges
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = e.join(deg.hint("shuffle_hash"), "src")
    // ids: staged bucketed on node — the rank-update join's left side
    // every round, and (being HashPartitioning(node), the same
    // partitioning the contrib join wants on the rank side) it makes
    // BOTH per-round joins exchange-free: rank-update output inherits
    // the node partitioning, which is exactly what the next round's
    // contrib probe requires, so each round's ONLY shuffle is the
    // groupBy(dst) aggregate. Also fixes the r11 ADVICE hazard: an
    // expensive caller-side node derivation now runs once, not
    // iterations+1 times.
    val ids = Fence.corpusBucketed(
      nodes.select(col(nodeCol).as("node")), "pr_nodes", "node")
    val n = ids.count()
    val teleport = (1.0 - damping) / n.toDouble
    var ranks = ids.withColumn("r", lit(1.0) / n.toDouble)
    var prevFence: DataFrame = null
    for (i <- 1 to iterations) {
      val contrib = ed
        .join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("r") / col("deg")).as("m"))
      ranks = ids
        .join(contrib.hint("shuffle_hash"),
          col("node") === col("dst"), "left")
        .select(col("node"),
          round9(lit(teleport) +
            lit(damping) * coalesce(col("m"), lit(0.0))).as("r"))
      if (i % 8 == 0 && i < iterations) {
        // bucketed on node so the re-fenced rank table re-enters the
        // loop with the partitioning the contrib join expects
        ranks = Fence.corpusBucketed(ranks, "pr_ranks", "node")
        // this fence's write consumed the previous one; storage stays
        // bounded by the 2 live rank stages, not iterations/8
        if (prevFence != null) Fence.reclaim(prevFence)
        prevFence = ranks
      }
    }
    ranks.select(col("node"), col("r").as("rank"),
      (col("r") * n.toDouble).as("rel_rank"))
  }

  /** Per-node triangle counts — the clustering-density signal over the
    * near-dup graph (a doc in many triangles sits in a DENSE duplicate
    * cluster, not a chain of borderline pairs; the standard input to
    * cluster-quality heuristics and truss/k-core style pruning).
    *
    * The naive three-way edge self-join fans out quadratically at hub
    * nodes (a 10⁶-degree boilerplate hub yields 10¹² wedges). The
    * classic fix (Schank & Wagner 2005; the MapReduce form is Suri &
    * Vassilvitskii, WWW'11): orient every undirected edge from the
    * (degree, id)-SMALLER endpoint to the larger, so each node's
    * out-degree is bounded by O(√|E|) regardless of its real degree —
    * wedges are pairs of OUT-neighbors, counted once per triangle by
    * construction. Both joins are plain equi-joins on node keys
    * (shuffle-pinned — the edge list is corpus-sized and AQE would
    * broadcast it off a small-SF estimate); no row ever carries more
    * than one wedge.
    *
    * `nodes` supplies the universe (isolated docs report 0).
    * Output: node, n_tri.
    */
  def triangleCount(nodes: DataFrame, nodeCol: String, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    // fenced: und feeds BOTH the degree aggregate and the orientation
    // join — without the fence the caller's (usually expensive) pair
    // generation executes once per reference (the labelPropStep r12
    // finding, same shape). Callers that already hold a fenced
    // deduped undirected edge set use [[triangleCountOnUnd]].
    val und = Fence.corpus(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), "tri_und")
    triangleCountOnUnd(nodes, nodeCol, und)
  }

  /** [[triangleCount]] over an ALREADY-FENCED deduped undirected edge
    * set (u, v) with u < v — skips the re-distinct + re-stage. */
  private[graft] def triangleCountOnUnd(nodes: DataFrame,
      nodeCol: String, und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("dg").as("du")).hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("n").as("v"), col("dg").as("dv")).hint("shuffle_hash"), Seq("v"))
    val lowFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    // oriented edge low→high, carrying the HEAD's (deg, id) order key
    // so a wedge's two heads can be re-ordered without a re-join
    val o0 = withDeg.select(
      when(lowFirst, col("u")).otherwise(col("v")).as("a"),
      when(lowFirst, col("v")).otherwise(col("u")).as("b"),
      when(lowFirst, struct(col("dv").as("kd"), col("v").as("kn")))
        .otherwise(struct(col("du").as("kd"), col("u").as("kn")))
        .as("bk"))
    val o = Fence.corpus(o0, "tri_oriented") // edges reused 3x; don't re-run upstream
    val e1 = o.select(col("a"), col("b").as("x"), col("bk").as("xk"))
    val e2 = o.select(col("a"), col("b").as("y"), col("bk").as("yk"))
    val wedges = e1.hint("shuffle_hash")
      .join(e2.hint("shuffle_hash"), Seq("a"))
      .filter(col("xk") < col("yk"))
      .select(col("a"), col("x"), col("y"))
    val closing = o.select(col("a").as("x"), col("b").as("y"))
    val tris = wedges.hint("shuffle_hash")
      .join(closing.hint("shuffle_hash"), Seq("x", "y"))
    val perNode = tris
      .select(explode(array(col("a"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    nodes.select(col(nodeCol).as("node"))
      .join(perNode.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Local clustering coefficient per node: n_tri / (deg·(deg−1)/2)
    * over the de-duplicated undirected edge set — how clique-like each
    * node's neighborhood is (near-dup graphs: boilerplate families
    * score ~1, chains score ~0). Rides on [[triangleCount]]'s
    * degree-ordered closing (same 100 TB shape); the degree frame is
    * one extra aggregate joined back. cc is null when deg < 2 (no
    * wedge to close — not 0, which would claim an open neighborhood).
    * Output: node, deg, n_tri, cc (6 dp).
    */
  def clusteringCoefficient(nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // fence the de-duplicated edge set ONCE: both the degree aggregate
    // and the triangle pass consume it, and the upstream pair
    // generator (an n-gram index or LSH band join) must not re-run
    // per consumer — the qE7/q86 fencing discipline
    val und0 = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val und = Fence.corpus(und0, "ccoef_und")
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // und is already fenced + deduped: take the pre-fenced entry so
    // the triangle pass doesn't re-distinct and re-stage it
    val tri = triangleCountOnUnd(nodes, nodeCol, und)
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    tri.join(deg.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        col("n_tri"),
        when(coalesce(col("deg"), lit(0L)) < 2,
          lit(null).cast("double"))
          .otherwise(r6(col("n_tri").cast("double") /
            (shiftright(col("deg") * (col("deg") - 1), 1))))
          .as("cc"))
  }

  /** One k-core peeling step: among the ACTIVE node set, degree over
    * the induced subgraph (both endpoints active), survives iff
    * deg ≥ k. The oracle-checkable step of [[kcore]]; isolated active
    * nodes report degree 0.
    * Output: node, deg, survives.
    */
  def kcoreStep(active: DataFrame, nodeCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, k: Int): DataFrame =
    kcoreStepOnUnd(active, nodeCol,
      undirected(edges, srcCol, dstCol), k)

  /** [[kcoreStep]] over an already deduped undirected edge set — the
    * [[kcore]] loop's entry point: the least/greatest + distinct pass
    * is ROUND-INVARIANT, so the loop dedups (and fences) it once
    * instead of re-shuffling the full edge list every peeling round;
    * only the active-set semi-joins are per-round. */
  private def kcoreStepOnUnd(active: DataFrame, nodeCol: String,
      und0: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val nodes = active.select(col(nodeCol).as("node"))
    val und = und0
      .join(nodes.select(col("node").as("u")).hint("shuffle_hash"),
        Seq("u"), "left_semi")
      .join(nodes.select(col("node").as("v")).hint("shuffle_hash"),
        Seq("v"), "left_semi")
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    nodes.join(deg.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        (coalesce(col("deg"), lit(0L)) >= k).as("survives"))
  }

  /** k-core decomposition for one k: iterate [[kcoreStep]] until the
    * active set stops shrinking (checkpoint-fenced driver rounds, the
    * HashMin loop discipline — convergence is a count compare on the
    * already-materialized frame, never an extra scan of upstream).
    * Output: node, in_kcore — over the ORIGINAL node universe.
    */
  def kcore(nodes: DataFrame, nodeCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val universe = Fence.corpus(
      nodes.select(col(nodeCol).as("node")), "kcore_universe")
    // the deduped undirected edge set is ROUND-INVARIANT: dedup + fence
    // it once, so each peeling round pays only the active-set
    // semi-joins + the degree aggregate, never a re-distinct of the
    // full edge list (r12 — the labelPropagate hoist, same shape)
    val und = Fence.corpus(
      undirected(edges, srcCol, dstCol), "kcore_und")
    var active = universe
    var n = active.count()
    var round = 0
    var shrinking = true
    while (shrinking && round < maxRounds) {
      val next = Fence.corpus(
        kcoreStepOnUnd(active, "node", und, k)
          .filter(col("survives")).select("node"), "kcore_active")
      val m = next.count()
      // reclaim the superseded round's stage (no-op on round 1, where
      // `active` is the still-needed kcore_universe — guard it)
      if (active ne universe) Fence.reclaim(active)
      shrinking = m < n
      active = next
      n = m
      round += 1
    }
    universe.join(
        active.select(col("node"), lit(true).as("in_kcore"))
          .hint("shuffle_hash"),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("in_kcore"), lit(false)).as("in_kcore"))
  }

  /** One label-propagation step for semi-supervised labeling over a
    * similarity graph: every UNLABELED node takes the most common
    * label among its labeled neighbors (ties → lexicographically
    * smallest label; no labeled neighbor → stays null); labeled nodes
    * keep their seed label. Exposed as the oracle-checkable step;
    * [[labelPropagate]] iterates it with checkpoint fencing.
    *
    * Shape: one edge explode to both directions, one join to the label
    * frame, one (node, label) count aggregate, one max-struct
    * aggregate per node — all shuffle-hash on node keys; ranking is a
    * pure aggregate, no corpus window.
    * Output: node, label (nullable), seeded (true when the input
    * label survived).
    */
  def labelPropStep(labeled: DataFrame, nodeCol: String,
      labelCol: String, edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // und is referenced TWICE (once per explode direction): without a
    // fence the whole upstream edge derivation — for qM4 the full
    // prefix-pair generation — executes twice (VERDICT r11 audit).
    // [[labelPropagate]] hoists this fence out of its loop (und is
    // round-invariant) via stepOnUnd.
    val und = Fence.corpus(undirected(edges, srcCol, dstCol), "lps_und")
    stepOnUnd(labeled, nodeCol, labelCol, und)
  }

  /** De-duplicated undirected edge set: (u, v) with u < v. */
  private def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** [[labelPropStep]] given an already-fenced undirected edge set. */
  private def stepOnUnd(labeled: DataFrame, nodeCol: String,
      labelCol: String, und: DataFrame): DataFrame = {
    val lbl = labeled.select(col(nodeCol).as("node"),
      col(labelCol).cast("string").as("lbl"))
    val dir = und.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nbr")))
    val votes = dir
      .join(lbl.select(col("node").as("nbr"), col("lbl").as("nl"))
        .filter(col("nl").isNotNull).hint("shuffle_hash"), Seq("nbr"))
      .groupBy("node", "nl").agg(count(lit(1)).as("cnt"))
    // winner (max cnt, tie → min label) from ONE bounded aggregate:
    // the per-node vote list is |distinct labels|-sized; sorted
    // (cnt asc, label asc), the last element carries the max count and
    // the first element AT that count is the smallest winning label.
    val best = votes.groupBy("node")
      .agg(sort_array(collect_list(struct(col("cnt"), col("nl"))))
        .as("vs"))
      .select(col("node"),
        element_at(filter(col("vs"),
          e => e.getField("cnt") ===
            element_at(col("vs"), -1).getField("cnt")), 1)
          .getField("nl").as("prop"))
    lbl.join(best.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("lbl"), col("prop")).as("label"),
        col("lbl").isNotNull.as("seeded"))
  }

  /** Iterated label propagation: `iters` driver-bounded rounds of
    * [[labelPropStep]], each behind a durable stage fence (the
    * HashMin/PageRank loop discipline — lineage stays constant-depth,
    * nothing loops over data, executor loss replays a file scan).
    */
  def labelPropagate(labeled: DataFrame, nodeCol: String,
      labelCol: String, edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    var cur = labeled.select(col(nodeCol).as("node"),
      col(labelCol).cast("string").as("label"))
    // the undirected edge set is ROUND-INVARIANT: symmetrize + dedup
    // once, fence once, and every round reads the staged scan — the
    // per-round re-derivation (and the double upstream execution
    // labelPropStep would pay) is hoisted out of the loop
    val und = Fence.corpus(undirected(edges, srcCol, dstCol), "lp_und")
    var i = 0
    var prevFence: DataFrame = null
    while (i < iters) {
      cur = Fence.corpus(
        stepOnUnd(cur, "node", "label", und)
          .select(col("node"), col("label")), "lp_labels")
      // round i's write consumed round i-1's stage; keep 2 live stages
      if (prevFence != null) Fence.reclaim(prevFence)
      prevFence = cur
      i += 1
    }
    cur
  }
}
