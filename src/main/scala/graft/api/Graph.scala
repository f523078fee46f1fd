package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Ckpt.CkptOps

/** Public, fixture-independent graph API (see [[Dedup]] for
  * conventions): the generic forms of the two contract staples,
  * parameterized on the caller's column names and built for graphs
  * that don't fit the contract fixture's friendly shape.
  *
  *  - [[pageRank]] — power iteration with per-iteration
  *    `localCheckpoint` (lineage would double per iteration otherwise
  *    — past ~5 iterations the plan itself becomes the bottleneck)
  *    and DANGLING-MASS handling (nodes without out-edges
  *    redistribute their rank uniformly, so total rank stays 1 on any
  *    directed graph — on a symmetric graph the mass is 0 and the
  *    computation degenerates to the plain iteration).
  *  - [[triangles]] — triangle counting with DEGREE-ORDERED
  *    orientation (each undirected edge directed from its
  *    lower-degree endpoint to its higher-degree endpoint): every
  *    wedge is enumerated at its ≺-smallest corner, so a hot node of
  *    degree d generates candidate pairs bounded by its ORIENTED
  *    out-degree (≤ √|E| for any graph; Schank/Wagner 2005), not the
  *    naive d², which is the difference between a star-shaped graph
  *    finishing and exploding.
  *
  * Per-iteration ranks are rounded to 8 places (cross-engine
  * accumulation drift cannot compound — the same discipline as the
  * contract queries).
  */
object Graph {

  /** PageRank over a directed edge list: (node, r), Σr ≈ 1.
    *
    * Each iteration is one join + one map-side-combining aggregate
    * over the edge list plus two 1-row broadcasts (node count,
    * dangling mass); ranks shuffle by destination, the edge list is
    * never shuffled twice. Every `checkpointEvery` iterations the
    * rank frame is `localCheckpoint`ed (the final iteration never is
    * — the caller's action materializes it). Leave the default of 1:
    * each iteration references the previous rank frame TWICE (contrib
    * + dangling mass), so every un-checkpointed iteration DOUBLES the
    * plan — raising this trades blocking materializations for
    * exponential plan growth and is only sane for 2-3 unchecked
    * rounds on a dangling-free graph. */
  /** The shared prepared inputs of one PageRank run: canonical edge
    * list, eagerly-materialized node universe and out-degrees (reused
    * every iteration), 1-row node count, uniform initial ranks. */
  private def prepared(edges: DataFrame, src: String, dst: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().ckpt()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .ckpt()
    val n = nodes.agg(count(lit(1)).as("n"))
    val r0 = nodes.crossJoin(broadcast(n))
      .select(col("node"), (lit(1.0) / col("n")).as("r"))
    (e, nodes, deg, n, r0)
  }

  /** One power iteration: one join + one map-side-combining aggregate
    * over the edge list plus two 1-row broadcasts (node count,
    * dangling mass — rank sitting on nodes with no out-edges is
    * redistributed uniformly, the standard correction). */
  private def step(e: DataFrame, nodes: DataFrame, deg: DataFrame,
      n: DataFrame, r: DataFrame, damping: Double): DataFrame = {
    val contrib = e.join(r, e("src") === r("node"))
      .join(deg, Seq("src"))
      .select(col("dst").as("node"), (col("r") / col("outdeg")).as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("cs"))
    val dangling = r.join(deg, r("node") === deg("src"), "left_anti")
      .agg(coalesce(sum(col("r")), lit(0.0)).as("dm"))
    nodes.join(contrib, Seq("node"), "left")
      .crossJoin(broadcast(n)).crossJoin(broadcast(dangling))
      .select(col("node"),
        round(lit(1.0 - damping) / col("n") + lit(damping) *
          (coalesce(col("cs"), lit(0.0)) + col("dm") / col("n")), 8)
          .as("r"))
  }

  def pageRank(edges: DataFrame, src: String, dst: String,
      iters: Int = 3, damping: Double = 0.85,
      checkpointEvery: Int = 1): DataFrame = {
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val (e, nodes, deg, n, r0) = prepared(edges, src, dst)
    var r = r0
    for (i <- 1 to iters) {
      r = step(e, nodes, deg, n, r, damping)
      if (i % checkpointEvery == 0 && i != iters)
        r = r.ckpt()
    }
    r
  }

  /** [[pageRank]] iterated to CONVERGENCE instead of a fixed round
    * count: stops when the L1 delta Σ|r_i − r_{i−1}| falls to ≤ `tol`
    * (or at `maxIters`, the divergence guard). Returns (ranks,
    * iterations run) — the ranks are identical to
    * `pageRank(edges, src, dst, itersRun)`, property-pinned in
    * GraphApiSpec.
    *
    * The delta is a driver-side scalar per iteration — the same move
    * AQE makes (realize a tiny runtime statistic to pick the next
    * plan), and the price of a convergence criterion on ANY engine.
    * Each iteration is localCheckpointed BEFORE the delta action, so
    * the delta never replays lineage and plan depth stays constant
    * regardless of how many rounds convergence takes. */
  def pageRankUntilWithIters(edges: DataFrame, src: String, dst: String,
      tol: Double = 1e-6, maxIters: Int = 50,
      damping: Double = 0.85): (DataFrame, Int) = {
    require(tol > 0, "tol must be positive")
    require(maxIters >= 1, "maxIters must be >= 1")
    val (e, nodes, deg, n, r0) = prepared(edges, src, dst)
    var r = r0.ckpt()
    var delta = Double.MaxValue
    var i = 0
    while (i < maxIters && delta > tol) {
      val next = step(e, nodes, deg, n, r, damping).ckpt()
      delta = next.join(r.select(col("node"), col("r").as("r0")),
          Seq("node"))
        .agg(coalesce(sum(abs(col("r") - col("r0"))), lit(0.0)))
        .head().getDouble(0)
      r = next
      i += 1
    }
    (r, i)
  }

  /** PERSONALIZED (seed-teleport) PageRank: teleport mass lands only
    * on `seeds` (uniformly), not on every node — the seed-propagated
    * authority score web-corpus curation uses (trust flows out from a
    * vetted seed list; a page's score is its random-walk proximity to
    * the seeds, the Topic-Sensitive PageRank construction). Two
    * deltas from [[pageRank]]: r₀ IS the teleport vector (mass starts
    * at the seeds), and dangling mass returns to the SEEDS — under a
    * personalized walk, restart mass must never leak to nodes outside
    * the teleport support. Kept dense (every node gets a row, zeros
    * included) so the readout is a total ranking and an oracle can
    * hash it. Same per-step 8-place rounding and per-iteration
    * lineage cut as [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .ckpt()
    val sd = seeds.select(col(seeds.columns.head).as("node")).distinct()
    val ns = sd.agg(count(lit(1)).as("ns"))
    val tele = nodes
      .join(sd.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(ns))
      .select(col("node"),
        when(col("is_seed").isNotNull, lit(1.0) / col("ns"))
          .otherwise(lit(0.0)).as("s"))
      .ckpt()
    var r = tele.select(col("node"), round(col("s"), 8).as("r"))
    for (i <- 1 to iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"),
          (col("r") / col("outdeg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cs"))
      val dangling = r.join(deg, r("node") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0.0)).as("dm"))
      r = tele.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          round(lit(1.0 - damping) * col("s") + lit(damping) *
            (coalesce(col("cs"), lit(0.0)) + col("dm") * col("s")), 8)
            .as("r"))
      if (i != iters) r = r.ckpt()
    }
    r
  }

  /** [[pageRankUntilWithIters]] returning just the ranks. */
  def pageRankUntil(edges: DataFrame, src: String, dst: String,
      tol: Double = 1e-6, maxIters: Int = 50,
      damping: Double = 0.85): DataFrame =
    pageRankUntilWithIters(edges, src, dst, tol, maxIters, damping)._1

  /** Connected components over an undirected (or symmetric) edge
    * list: (node, label), label = the component's minimum node id.
    * Delegates to the alternating large-star/small-star contraction
    * in [[Dedup.connectedComponents]] (O(log n) rounds regardless of
    * component shape; see [[Dedup.connectedComponentsTwoPhaseWithPasses]]
    * for the phase-wise variant suited to chain-shaped components) —
    * exposed here because component extraction is as much a graph
    * staple as a dedup step. */
  def connectedComponents(edges: DataFrame, src: String,
      dst: String): DataFrame =
    Dedup.connectedComponents(edges, src, dst)

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara 2007), made DETERMINISTIC: labels start as each
    * node's own id; every round each node adopts the label most
    * frequent among its neighbors, ties broken by the SMALLEST label
    * (the published algorithm breaks ties randomly, which is
    * unreproducible across engines); fixed `iters` synchronous
    * rounds: (node, lbl).
    *
    * Scale shape per round: one equi-join of the (checkpointed,
    * symmetrized) edge list with the current labels on the neighbor
    * key, then two map-side-combining aggregates — the per-(node,
    * label) count and the min-struct argmax (never a window keyed by
    * node, so a hot node's tally still combines map-side). Labels
    * are `localCheckpoint`ed per round: lineage stays one round deep
    * at any iteration count, the pageRank discipline.
    *
    * @param symmetric the caller's precondition that `edges` is
    *   already symmetric (every (a, b) has its (b, a)), deduplicated
    *   and loop-free. It skips the symmetrize + distinct pass; only
    *   the cheap self-loop filter still runs. Symmetry and
    *   duplicates are NOT checked: a one-way or repeated edge
    *   silently changes the neighbor counts, and so the labels. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      iters: Int, symmetric: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
    // `symmetric = true` is a DONATION flag (the shingles/pairs/tokens
    // pattern): a caller holding an already-symmetric, deduped,
    // loop-free edge frame (the co-purchase builders produce exactly
    // that, materialized in the session memo) skips the
    // union+reverse+distinct+ckpt re-canonicalization — at sf0.1 that
    // pass doubled the frame to 4.8M rows and re-materialized what the
    // memo already holds (r18 opt, guide §1.2). Labels are identical
    // by construction; pinned in GraphApiSpec.
    val ue =
      if (symmetric) e.filter(col("src") =!= col("dst"))
      else e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct().ckpt()
    var labels = ue.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      labels = ue
        .join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
          .as("pick"))
        .select(col("src").as("node"), col("pick.l").as("lbl"))
        .ckpt()
    }
    labels
  }

  /** Multi-source BFS shortest paths (unit edge weights): (node,
    * dist) for every node within `iters` hops of a source — the
    * Pregel/GraphX staple next to PageRank. Each round relaxes the
    * frontier through one keyed join (distances shuffle on the edge
    * key, the edge list is scanned once per round) and collapses with
    * a map-side-combining min; per-round localCheckpoint keeps the
    * lineage one round deep at any radius (the [[pageRank]]
    * discipline). Distances are exact integers — no float drift
    * surface at all — and min() makes the result independent of
    * relaxation order, so any engine replaying the unrolled rounds
    * agrees bit-for-bit. Unreached nodes are absent (a caller wanting
    * sentinel ∞ rows can left-join the node set). */
  def shortestPaths(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, srcCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .ckpt()
    var d = sources.select(col(srcCol).as("node"))
      .distinct()
      .withColumn("dist", lit(0))
    for (_ <- 1 to iters) {
      d = d.unionAll(
          e.join(d.select(col("node").as("src"), col("dist")), Seq("src"))
            .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
        .ckpt()
    }
    d
  }

  /** Canonical undirected edge set (a < b, deduped, loops dropped)
    * with both endpoint degrees attached, ORIENTED low-degree →
    * high-degree (ties by node value): (u, v) with (du,u) ≺ (dv,v).
    */
  private def oriented(edges: DataFrame, src: String,
      dst: String): DataFrame = {
    val ue = edges
      .select(col(src).as("x"), col(dst).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val deg = ue.select(col("a").as("node"))
      .union(ue.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val withDeg = ue
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
    withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"),
          col("da").as("du"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"),
          col("db").as("du"), col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"),
        col("e.du").as("du"), col("e.dv").as("dv"))
  }

  /** Wedge enumeration over an already-oriented edge frame (the
    * output of [[oriented]]): (u, v, w) where (u,v) and (u,w) are
    * oriented edges and v ≺ w in the same (degree, node) order. */
  private def wedges(o: DataFrame): DataFrame =
    o.select(col("u"), col("v"), col("dv"))
      .join(o.select(col("u"), col("v").as("w"), col("dv").as("dw")),
        Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))

  /** Candidate wedges of the degree-oriented graph — exposed for the
    * skew-bound property test: on a star graph this is EMPTY (spokes
    * have out-degree 1) where the value-ordered orientation generates
    * C(spokes, 2) pairs at the hub. */
  private[graft] def orientedWedges(edges: DataFrame, src: String,
      dst: String): DataFrame = wedges(oriented(edges, src, dst))

  /** Per-node triangle counts over an undirected (or symmetric) edge
    * list: (node, n_triangles) — every node of every distinct
    * triangle, counted once per triangle.
    *
    * Wedges are enumerated at each triangle's ≺-smallest corner and
    * closed by an equi-join against the oriented edge set: the
    * closing edge of a wedge (v ≺ w) is oriented (v, w) by
    * construction, so one keyed join finds it and each triangle
    * appears exactly once. The oriented frame feeds three consumers
    * (both wedge sides and the closing join), so it is materialized
    * ONCE — without it the canonicalize+degree+orient subtree
    * (4 exchanges) replays per consumer. */
  def triangles(edges: DataFrame, src: String, dst: String): DataFrame = {
    val o = oriented(edges, src, dst).ckpt()
    // closing edge of a (v ≺ w) wedge is oriented (v, w): rename the
    // oriented edge set to those names and equi-join
    val close = o.select(col("u").as("v"), col("v").as("w"))
    val tri = wedges(o).join(close, Seq("v", "w"))
    tri.select(col("u").as("node"))
      .union(tri.select(col("v")))
      .union(tri.select(col("w")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded-round K-CORE peel over a SYMMETRIC edge list: each round
    * drops every node whose degree in the current surviving subgraph
    * is < k, then restricts the edge list to survivors; after `iters`
    * rounds, returns the last survivor set with its degree as of the
    * round that admitted it — (node, deg). With `iters` large enough
    * to reach the fixpoint this IS the k-core (the maximal subgraph
    * of minimum degree ≥ k); with a bounded round count it is the
    * deterministic "iters-round peel", the same bounded-iteration
    * contract as [[shortestPaths]].
    *
    * Scale shape per round: ONE map-side-combining degree aggregate
    * plus two keyed semi-join-shaped restrictions (src then dst) —
    * edges shuffle on their endpoints, never replicated; the survivor
    * frame is eagerly localCheckpointed so plan depth stays constant
    * at any round count (each round otherwise references the previous
    * edge frame three times). Input must be symmetric (every (a,b)
    * has (b,a)) so out-degree = degree; the co-purchase builders in
    * graft.operators produce exactly that shape. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      iters: Int): DataFrame = {
    require(iters >= 1, "kCore needs at least one peel round")
    var cur = edges.select(col(src).as("src"), col(dst).as("dst"))
    var surv: DataFrame = null
    for (t <- 1 to iters) {
      surv = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("node"), col("deg"))
        .ckpt()
      if (t < iters) {
        // checkpoint the peeled edge frame too: without this, round
        // t's degree pass replays every earlier round's joins off the
        // raw edges — O(rounds²) join work instead of O(rounds).
        // dst-restriction FIRST, src-restriction LAST (r18, guide
        // §2.4): the surviving frame then carries hashpartitioning(src)
        // through the checkpoint, so the next round's degree aggregate
        // and src-restriction reuse it instead of re-shuffling the
        // peeled edges every round.
        cur = cur
          .join(surv.select(col("node").as("dst")), Seq("dst"))
          .join(surv.select(col("node").as("src")), Seq("src"))
          .ckpt()
      }
    }
    surv
  }
}
