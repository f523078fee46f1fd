package graft.api

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Generic graph API (round-3 VERDICT item 4): dangling-mass
  * PageRank conservation, checkpoint-bounded plans, and the
  * degree-ordered orientation's hot-node bound. */
class GraphApiSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank conserves total rank on a graph WITH dangling nodes") {
    // 1 → 2 → 3, 3 dangles (no out-edges): without the dangling-mass
    // correction rank leaks every iteration and Σr < 1
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val r = Graph.pageRank(e, "s", "d", iters = 10, damping = 0.85)
    val total = r.agg(sum(col("r"))).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6,
      s"total rank $total drifted from 1.0 (10 iterations, 8-place rounding)")
    assert(r.count() == 3, "every node keeps a rank row")
  }

  test("pageRank matches a hand-rolled plain iteration on a symmetric graph") {
    // symmetric triangle + pendant pair, all nodes have out-edges →
    // dangling mass 0, so the generic must equal the plain unrolled
    // power iteration the contract oracle uses
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("s", "d")
    val got = Graph.pageRank(e, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val deg = e.groupBy(col("s")).agg(count(lit(1)).as("outdeg"))
    val n = deg.count().toDouble
    var want = deg.select(col("s").as("node"), (lit(1.0) / n).as("r"))
    for (_ <- 1 to 3) {
      want = e.join(want, e("s") === want("node"))
        .join(deg, Seq("s"))
        .select(col("d").as("node"), (col("r") / col("outdeg")).as("c"))
        .groupBy(col("node")).agg(
          round(lit(0.15) / n + lit(0.85) * sum(col("c")), 8).as("r"))
    }
    val w = want.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == w)
  }

  test("pageRankUntil converges and equals pageRank run for the same iteration count") {
    // asymmetric graph with a dangling node AND a cycle, so ranks
    // genuinely move for several rounds before settling
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L),
      (6L, 1L)).toDF("s", "d")
    val (r, k) = Graph.pageRankUntilWithIters(e, "s", "d",
      tol = 1e-6, maxIters = 50)
    assert(k > 1 && k < 50,
      s"expected genuine convergence before the cap, ran $k iterations")
    // the convergence variant is the SAME power iteration: its ranks
    // must equal the fixed-round form run exactly k times
    val got = r.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val want = Graph.pageRank(e, "s", "d", iters = k)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(got == want)
    // converged means one MORE round moves ranks by at most tol (L1)
    val next = Graph.pageRank(e, "s", "d", iters = k + 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val l1 = got.map { case (n0, v) => math.abs(v - next(n0)) }.sum
    assert(l1 <= 1e-6 + 1e-12, s"post-convergence L1 delta $l1 > tol")
    // total rank still conserved (dangling mass handled each round)
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
    // a looser tolerance can never need more rounds
    val (_, kLoose) = Graph.pageRankUntilWithIters(e, "s", "d",
      tol = 1e-2, maxIters = 50)
    assert(kLoose <= k)
  }

  test("Graph.connectedComponents labels components by their minimum") {
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("s", "d")
    val lab = Graph.connectedComponents(e, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("labelPropagation finds planted communities and is deterministic") {
    // two 4-cliques bridged by ONE edge: after 2 synchronous rounds
    // every clique member carries its clique's minimum id, and the
    // bridge does not merge the communities
    val cliqueA = Seq(1L, 2L, 3L, 4L)
    val cliqueB = Seq(11L, 12L, 13L, 14L)
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val und = clique(cliqueA) ++ clique(cliqueB) :+ (4L, 11L)
    val e = (und ++ und.map(_.swap)).toDF("s", "d")
    val got = Graph.labelPropagation(e, "s", "d", iters = 2)
      .as[(Long, Long)].collect().toMap
    cliqueA.foreach(n => assert(got(n) == 1L, s"node $n: ${got(n)}"))
    cliqueB.foreach(n => assert(got(n) == 11L, s"node $n: ${got(n)}"))
    // deterministic across invocations
    val again = Graph.labelPropagation(e, "s", "d", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == again)
    // symmetric donation: on an already-symmetric deduped loop-free
    // frame, skipping the re-canonicalization pass changes nothing
    val donated = Graph.labelPropagation(e.distinct(), "s", "d",
        iters = 2, symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(donated == got)
    // the donated path still drops self-loops: a loop-only node
    // never enters the label set
    val looped = Graph.labelPropagation(
        e.distinct().union(Seq((99L, 99L)).toDF("s", "d")), "s", "d",
        iters = 2, symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(looped == got)
  }

  test("triangles counts the clique + star fixture exactly") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus a star
    // center 10 with spokes 11..15 (no triangles)
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val star = (11L to 15L).map(s => (10L, s))
    val e = (k4 ++ star).toDF("s", "d")
    val got = Graph.triangles(e, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("degree-ordered orientation keeps star-graph candidates near-linear where naive explodes") {
    // star: hub 0, spokes 1..400. Naive value-ordered orientation
    // enumerates every spoke PAIR at the hub — C(400, 2) = 79 800
    // candidates; degree-ordered orients every edge spoke → hub
    // (spoke degree 1 < hub degree 400), so no node has 2 out-edges
    // and the candidate set is EMPTY.
    val spokes = 400L
    val e = (1L to spokes).map(s => (0L, s)).toDF("s", "d")
    assert(Graph.orientedWedges(e, "s", "d").count() == 0)
    val ue = e.select(least(col("s"), col("d")).as("a"),
      greatest(col("s"), col("d")).as("b")).distinct()
    val naive = ue.select(col("a"), col("b").as("v"))
      .join(ue.select(col("a"), col("b").as("w")), Seq("a"))
      .filter(col("v") < col("w")).count()
    assert(naive == spokes * (spokes - 1) / 2,
      "the naive value-ordered wedge count should be quadratic in spokes")
    // and on a graph that HAS triangles the oriented form stays exact
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("s", "d")
      .union(e)
    val got = Graph.triangles(tri, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("shortestPaths: exact hop distances on a chain; out-of-radius and disconnected absent") {
    // directed chain 1→2→3→4→5 plus a disconnected pair 10→11;
    // radius 3 from node 1 reaches exactly {1:0, 2:1, 3:2, 4:3}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("s", "d")
    val src = Seq(1L).toDF("n")
    val got = Graph.shortestPaths(e, "s", "d", src, "n", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3),
      s"wrong distance map: $got")
    // a shorter alternative path must win over a longer one
    val e2 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    val got2 = Graph.shortestPaths(e2, "s", "d", src, "n", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got2 == Map(1L -> 0, 2L -> 1, 3L -> 1))
  }
  test("personalizedPageRank: all-nodes seed set degenerates to standard pageRank; seed-only teleport conserves mass") {
    // a 4-node path with a dangler exercises both PPR deltas: the
    // teleport-to-seeds restart and the dangling-mass-to-seeds return
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val allNodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    // uniform seeds == uniform teleport: must equal pageRank exactly
    // (same per-step 8-place rounding on both paths)
    val ppr = Graph.personalizedPageRank(e, "s", "d", allNodes,
        iters = 6, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr = Graph.pageRank(e, "s", "d", iters = 6, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr == pr, s"uniform-seed PPR must equal pageRank: $ppr vs $pr")
    // seed-only teleport: mass conserved, and the seed outranks a
    // node upstream of it (mass restarts at 2, never at 1)
    val seeded = Graph.personalizedPageRank(e, "s", "d",
        Seq(2L).toDF("node"), iters = 10, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val total = seeded.values.sum
    assert(math.abs(total - 1.0) < 1e-5,
      s"personalized total rank $total drifted from 1.0")
    assert(seeded(2L) > seeded(1L),
      "the teleport seed must outrank a node the walk never restarts at")
    assert(seeded(1L) == 0.0,
      "a node unreachable from the seeds gets exactly zero")
  }
}
