package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank on a 3-cycle is uniform (fixed point of the iteration)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 5).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // uniform 1/3 is exactly preserved every round: rank_norm == 1.0
    assert(out.forall(_.getDouble(2) == 1.0))
  }

  test("pageRank star: hub outranks leaves, leaves tie, mass conserved") {
    // 1→2, 3→2, 2→1, 2→3: every node has in+out degree, no leaked mass
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(2L) > out(1L))
    assert(out(1L) == out(3L)) // symmetric leaves follow identical arithmetic
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
  }

  test("pageRank collapses parallel edges and survives no-inbound nodes") {
    // duplicate edge must count once; node 9 has no inbound → teleport only
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (9L, 1L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val base = (1.0 - 0.85) / 3 // the engine's exact constant: NOT 0.15/3 in doubles
    assert(out(9L) == base + 0.0) // never receives contributions
    // iter1: m(1)=r2+r9=2/3, m(2)=r1=1/3; iter2: m(1)=r2'+r9'≈0.383,
    // m(2)=r1'≈0.617 — the 2-cycle oscillates, but both always beat the
    // teleport-only node, and the duplicate edge changed no out_deg
    assert(out(1L) > out(9L) && out(2L) > out(9L))
    assert(math.abs(out(2L) - ((1.0 - 0.85) / 3 + 0.85 * (0.05 + 0.85 * 2.0 / 3))) < 1e-12)
  }

  test("kHopDistances: chain graph — min distance wins, horizon cuts off") {
    // 1→2→3→4→5 plus shortcut 1→4; seeds {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = Graph.kHopDistances(edges, seeds, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 4 is reachable in 1 via the shortcut (not 3); 5 in 2 through it;
    // node 3 at dist 2; nothing beyond the k=2 horizon is emitted
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
  }

  test("kHopDistances: seed set distances dominate, disconnected nodes absent") {
    val edges = Seq((1L, 2L), (2L, 1L), (8L, 9L)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("node")
    val out = Graph.kHopDistances(edges, seeds, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L)) // both seeds stay 0; 8/9 unreachable
  }

  test("triangleCounts: hand-built graph, each triangle credited once per corner") {
    // triangles {1,2,3} and {2,3,4}; edge (1,5) is in no triangle
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
      .toDF("u", "v")
    val out = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCounts: K4 has four triangles, every node in three") {
    val edges = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("u", "v")
    val out = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("coPurchaseEdges links parts sharing an order, subset-filtered, deduped") {
    val li = Seq(
      (1L, 10L), (1L, 15L), (1L, 20L), (1L, 7L), // order 1: parts 10,15,20 pass %5; 7 doesn't
      (2L, 10L), (2L, 20L), // order 2 repeats a pair → dedup
      (3L, 25L)) // lone part: no pair
      .toDF("l_orderkey", "l_partkey")
    val e = Graph.coPurchaseEdges(li, mod = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((10L, 15L), (10L, 20L), (15L, 20L)))
  }

  test("tradeEdges emits both directions over disjoint id spaces") {
    val orders = Seq((100L, 7L)).toDF("o_orderkey", "o_custkey")
    val li = Seq((100L, 3L)).toDF("l_orderkey", "l_suppkey")
    val e = Graph.tradeEdges(orders, li).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((14L, 7L), (7L, 14L))) // cust 7→14 (even), supp 3→7 (odd)
  }

  test("labelPropagation recovers the two cliques of a barbell graph") {
    // cliques {0..4} and {10..14}, one bridge 4–10: mode-of-neighbors
    // keeps each clique on its own min label; the bridge can't flip a
    // node that hears 4 clique votes against 1
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(0L to 4L) ++ clique(10L to 14L) :+ ((4L, 10L)))
      .toDF("src", "dst")
    val out = Graph.labelPropagation(edges, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).map(out).toSet.size == 1, "left clique must agree on one label")
    assert((10L to 14L).map(out).toSet.size == 1, "right clique must agree on one label")
    assert(out(0L) != out(10L), "the two cliques must be distinct communities")
  }

  test("adamicAdar scores the one non-adjacent pair through its two shared hubs") {
    // diamond 1-2, 1-3, 2-3, 2-4, 3-4: only (1,4) is unlinked; its
    // common neighbors 2 and 3 both have degree 3 →
    // AA = 2/ln 3 = 1.8205, n_common = 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val out = Graph.adamicAdar(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 4L, 2L, 1.8205)))
    // capping hubs at degree 2 removes both wedge centers → no candidates
    assert(Graph.adamicAdar(edges, maxHubDeg = 2).isEmpty)
  }

  test("kCore peels a pendant tail and keeps the clique") {
    // 5-clique (deg 4) + tail 5-6-7: node 7 (deg 1) peels first, then
    // 6 (deg 1 after) — the 3-core is exactly the clique at degree 4
    val clique = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val edges = (clique ++ Seq((5L, 6L), (6L, 7L))).toDF("u", "v")
    val out = Graph.kCore(edges, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == (1L to 5L).map((_, 4L)).toSeq)
  }

  test("kCore fails loudly when a pendant chain outlasts maxIters") {
    // triangle 1-2-3 plus the tail 3-4-…-19: at k=2 each round peels
    // only the tail's current end, so 16 peels + 1 stable round = 17
    // rounds: past the dozen at which persisted rounds' nested plan
    // text exhausts the driver heap
    val tail = (3L until 19L).map(a => (a, a + 1))
    val edges = (Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++ tail).toDF("u", "v")
    val e = intercept[IllegalStateException](Graph.kCore(edges, k = 2, maxIters = 16))
    assert(e.getMessage.contains("16 rounds") && e.getMessage.contains("raise maxIters"))
    val out = Graph.kCore(edges, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("degreeStats: the 3-path is perfectly disassortative (r = −1)") {
    // P3: every edge joins a degree-1 leaf to the degree-2 center
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val r = Graph.degreeStats(edges).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
      r.getDouble(4)) == ((3L, 2L, 2L, 1.3333, -1.0)))
  }

  test("labelPropagation is deterministic under ties (smallest label wins)") {
    // a 4-cycle: every node has two neighbors with equal counts each
    // round — the min tie-break must pick the smaller label both runs
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val a = Graph.labelPropagation(cyc, iters = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Graph.labelPropagation(cyc, iters = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  test("modularity: two disjoint triangles score exactly 0.5") {
    // per community: m_c=3, D_c=6, m=6 → Q = 2·(3/6 − (6/12)²) = 0.5
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val edges = tri.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val r = Graph.modularity(edges).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((6L, 6L, 2L, 0.5)))
  }

  test("clusteringCoeff: triangle corners are cliques, the pendant-bearing corner is diluted") {
    // triangle 1-2-3 plus pendant 3-4: cc(1)=cc(2)=1.0,
    // cc(3)=2·1/(3·2)=0.3333, node 4 (deg 1) filtered out
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("u", "v")
    val out = Graph.clusteringCoeff(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 0.3333)))
  }

  test("wccSizes histograms component sizes of a path plus two islands") {
    // components: {1,2,3} (path), {5,6}, {8,9} → one size-3, two size-2
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L)).toDF("u", "v")
    val out = Graph.wccSizes(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((2L, 2L), (3L, 1L)))
  }

  test("jaccardNeighbors: opposite square corners share both neighbors") {
    // 4-cycle 1-2-3-4: N(1)=N(3)={2,4}, N(2)=N(4)={1,3} → pairs (1,3)
    // and (2,4) each share 2 of 2 neighbors → jaccard 2/(2+2−2) = 1.0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val out = Graph.jaccardNeighbors(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq((1L, 3L, 2L, 2L, 2L, 1.0),
      (2L, 4L, 2L, 2L, 2L, 1.0)))
  }

  test("shared-edge operators pin their outputs on one messy edge list") {
    // reversed duplicates (2,1) and (11,10), parallel (3,4)×2, one
    // self-loop (5,5)
    val raw = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L), (5L, 5L), (7L, 8L), (2L, 4L),
      (10L, 11L), (11L, 10L))
    val uv = raw.toDF("u", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("(", ",", ")")).mkString(" ")
    // outputs recorded before the operators shared one edge set, one
    // frame per operator. LPA oscillates on this
    // graph (synchronous rounds); kCore drops the self-loop and the
    // parallel edge, while degreeStats, clusteringCoeff and
    // triangleCounts keep both in their degree folds (their precondition
    // is unique u < v edges): the pins hold that edge multiset too
    val want = Seq(
      rows(Graph.labelPropagation(raw.toDF("src", "dst"), iters = 5)) ->
        "(1,2) (2,1) (3,1) (4,2) (5,1) (6,1) (7,2) (8,4) (10,11) (11,10)",
      rows(Graph.adamicAdar(uv)) ->
        ("(1,4,2,1.8205) (6,8,1,1.4427) (4,7,1,0.9102) (5,7,1,0.9102) " +
          "(2,5,1,0.7213) (2,6,1,0.7213) (3,5,1,0.7213) (3,6,1,0.7213)"),
      rows(Graph.jaccardNeighbors(uv)) ->
        ("(5,6,3,4,3,0.75) (4,5,3,4,4,0.6) (1,4,2,2,4,0.5) (2,3,2,3,3,0.5) " +
          "(6,8,1,3,1,0.3333) (1,2,1,2,3,0.25) (1,3,1,2,3,0.25) " +
          "(2,6,1,3,3,0.2) (3,6,1,3,3,0.2) (4,7,1,4,2,0.2) (5,7,1,4,2,0.2) " +
          "(2,4,1,3,4,0.1667) (2,5,1,3,4,0.1667) (3,4,1,3,4,0.1667) " +
          "(3,5,1,3,4,0.1667) (4,6,1,4,3,0.1667)"),
      // node 5's distinct neighbours are 4 and 6 (its self-loop is none)
      rows(Graph.kCore(uv, k = 2)) -> "(1,2) (2,3) (3,3) (4,4) (5,2) (6,2)",
      rows(Graph.kCore(uv, k = 3)) -> "",
      rows(Graph.degreeStats(uv)) -> "(10,15,5,3.0,0.6053)",
      rows(Graph.clusteringCoeff(uv)) ->
        ("(1,3,2,0.6667) (2,4,4,0.6667) (3,4,4,0.6667) (5,4,3,0.5) " +
          "(4,5,4,0.4) (6,3,1,0.3333) (7,2,0,0.0) (10,2,0,0.0) (11,2,0,0.0)"),
      rows(Graph.triangleCounts(uv)) -> "(1,2) (2,4) (3,4) (4,4) (5,3) (6,1)",
      rows(Graph.wccSizes(uv)) -> "(2,1) (8,1)")
    want.foreach { case (got, exp) => assert(got == exp) }
  }
}
