package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Caches._

/** Distributed graph analytics over edge tables. kiara ships network
  * analysis as a first-class plugin domain (kiara_plugin.network_analysis;
  * core hooks at /root/reference/src/kiara/models/values/value.py table
  * types) — connected components already exists for dedup clustering
  * (Dedup.clusters); PageRank is the other canonical iterative-join
  * workload, re-expressed Spark-first.
  *
  * Scale design: the static contribution table (edge + out-degree) is
  * computed once, repartitioned on the join key, and persisted — every
  * iteration then reuses the SAME co-partitioned input, so each round is
  * exactly one shuffle (the groupBy(dst) aggregation of contributions;
  * the ranks side is the only moving part). Lineage is truncated per
  * round with lazy localCheckpoint, the same idiom as Dedup.clusters:
  * constant plan depth regardless of iteration count, labels/ranks never
  * collected to the driver. The only driver-side scalar is N (node
  * count), needed for the teleport term.
  */
object Graph {

  /** The canonical undirected edge set: each edge once, as (u, v) with
    * u ≤ v, from the (a, b) columns of `edges`. Self-loops stay (u = v). */
  private def undirected(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .distinct()

  /** Both directions of every (u, v) edge, as (src, dst). With
    * `mirrorLoops = false` a self-loop appears once instead of twice. */
  private[operators] def adjacency(edges: DataFrame,
      mirrorLoops: Boolean = true): DataFrame = {
    val back = if (mirrorLoops) edges else edges.filter(col("u") =!= col("v"))
    edges.select(col("u").as("src"), col("v").as("dst"))
      .union(back.select(col("v").as("src"), col("u").as("dst")))
  }

  /** (node, deg) over a (u, v) edge list: one union of both endpoints,
    * one count per node. Parallel edges count each time; a self-loop
    * counts twice. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node")).union(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Wedges through capped hubs: each pair (a < b) of neighbours of a
    * node w whose degree dw lies in [2, maxHubDeg], as (a, b, dw). The
    * cap bounds the wedge volume Σ deg(w)² (see [[adamicAdar]]). */
  private def wedges(edges: DataFrame, deg: DataFrame, maxHubDeg: Int): DataFrame = {
    val hub = adjacency(edges)
      .join(deg.select(col("node").as("src"), col("deg").as("dw")), "src")
      .filter(col("dw") >= 2 && col("dw") <= maxHubDeg)
      .persistTracked(StorageLevel.MEMORY_AND_DISK) // wedge self-join rule
    hub.as("l")
      .join(hub.as("r"), col("l.src") === col("r.src") && col("l.dst") < col("r.dst"))
      .select(col("l.dst").as("a"), col("r.dst").as("b"), col("l.dw").as("dw"))
  }

  /** The shuffle width of a graph loop, sized to the graph rather than
    * the session default: one partition per 100k rows of `edges` (which
    * this counts), at most the default parallelism. At spec scale the
    * loops are scheduler-bound otherwise. */
  private[operators] def graphParts(edges: DataFrame): Int =
    math.max(1, math.min(edges.sparkSession.sparkContext.defaultParallelism,
      (edges.count() / 100000L).toInt + 1))

  /** Fixed-iteration PageRank: rank = (1-d)/N + d * sum(in-contrib).
    * `edges` is a directed (src, dst) table; parallel edges are collapsed
    * (each distinct edge contributes once — the standard formulation).
    * Nodes with no outbound edges contribute nothing (their mass leaks,
    * the simplified textbook variant); nodes with no INBOUND edges keep
    * the teleport term via the left join + coalesce(0).
    *
    * Output: (node, rank, rank_norm) where rank_norm = round(rank * N, 4)
    * — the N-scaled rank is O(1)-magnitude, which makes 4-decimal
    * rounding a meaningful tolerance for cross-engine float comparison
    * (raw ranks are O(1/N) and would vanish under absolute rounding).
    */
  def pageRank(edgesIn: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val edges = edgesIn.select(col("src"), col("dst")).distinct()
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    val parts = graphParts(edges)
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .repartition(parts, col("node"))
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    // static across iterations: (src, dst, out_deg), co-partitioned on
    // src so each round's join with ranks(node) only moves the (much
    // smaller) ranks side
    val contrib = edges.join(outDeg, "src")
      .repartition(parts, col("src"))
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    // r17: no eager count — the whole fixed-iteration loop below is ONE
    // job at consumption time, and within that job the persisted
    // contrib materializes once and is block-cache-reused by every
    // round. edges stays tracked-persisted (released with the query's
    // other intermediates) so the contrib build reads the cache, not a
    // recompute. Same plan, same partitioning, one job fewer.
    val baseTerm = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint()
    for (_ <- 1 to iters) {
      val inbound = contrib.join(ranks, contrib("src") === ranks("node"))
        .groupBy(contrib("dst").as("node"))
        .agg(sum(col("rank") / col("out_deg")).as("m"))
      ranks = nodes.join(inbound, Seq("node"), "left")
        .select(col("node"),
          (lit(baseTerm) + lit(damping) * coalesce(col("m"), lit(0.0))).as("rank"))
        .localCheckpoint(false) // lazy: materialized by the next round's job
    }
    ranks
      .select(col("node"), col("rank"), round(col("rank") * n, 4).as("rank_norm"))
      .orderBy("node")
  }

  /** Fixed-iteration synchronous label propagation — community
    * detection as iterated relational algebra: every node starts as its
    * own community, then each round simultaneously adopts the MODE of
    * its neighbors' labels (ties → smallest label). Synchronous update
    * with a deterministic tie-break makes the result a pure function of
    * the graph — no RNG, no visit order — which is what lets a DuckDB
    * oracle replay it and what makes reruns/retries reproducible at
    * scale. Fixed `iters` (asynchronous LPA converges faster but is
    * order-dependent by construction; bounded rounds is the distributed
    * trade, as in pageRank above).
    *
    * Scale shape per round: one equi-join of the static co-partitioned
    * edge table against the (node,label) frame, one (node,label) count,
    * one argmax fold via max_by — two shuffles per round over
    * edge-sized then node-sized data, lineage truncated by the lazy
    * localCheckpoint idiom. Labels never collect to the driver. */
  def labelPropagation(edgesIn: DataFrame, iters: Int = 5): DataFrame = {
    // r17 (VERDICT item 7, the int-label half — no float at risk here):
    // distinct BEFORE mirroring — canonicalize each edge to (min, max),
    // dedup once at half the rows, then mirror map-side (exchange reuse
    // makes the two canon references share one shuffle). Identical edge
    // SET (a self-loop is kept once); labels are ints with a
    // deterministic max_by tie-break, so row order cannot move the result.
    val parts0 = adjacency(undirected(edgesIn, "src", "dst"), mirrorLoops = false)
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    val parts = graphParts(parts0)
    val edges = parts0.repartition(parts, col("src"))
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    // r17: the eager labels-init checkpoint below materializes the
    // edges persist itself — no separate count job needed
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    parts0.unpersist() // edges materialized by the checkpoint above
    for (_ <- 1 to iters) {
      // r16: pin the per-round aggregation width to the GRAPH-sized
      // `parts` (the repartition SATISFIES each groupBy's clustered
      // distribution, so no extra exchange appears — the shuffles just
      // run at parts instead of spark.sql.shuffle.partitions, which
      // nothing coalesces now that the harness runs AQE-off locally).
      // Labels are int with a deterministic max_by tie-break —
      // partitioning cannot move the result.
      labels = edges.join(labels, edges("src") === labels("node"))
        .select(edges("dst").as("node"), col("label"))
        .repartition(parts, col("node"), col("label"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .repartition(parts, col("node"))
        .groupBy("node")
        .agg(expr("max_by(label, (cnt, -label))").as("label"))
        .localCheckpoint(false) // lazy: materialized by the next round
    }
    edges.unpersist()
    labels.orderBy("node")
  }

  /** Minimum hop distance from a seed set, bounded at `k` hops — BFS as
    * iterated relational algebra. Each round expands ONLY the newest
    * frontier (nodes first reached last round) through the edge table
    * and min-combines with the accumulated distances: one equi-join +
    * one aggregate per round, lineage truncated with the lazy
    * localCheckpoint idiom. Nodes never reached within k hops are
    * absent (not ∞ rows — at 100 TB the unreachable set dwarfs the
    * reachable one).
    */
  def kHopDistances(edgesIn: DataFrame, seeds: DataFrame, k: Int = 3): DataFrame = {
    val edges = edgesIn.select(col("src"), col("dst")).distinct()
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    // Per-round state via EAGER tracked persists, not localCheckpoint
    // (the r15 x300 probe's finding): a BFS round's working set is the
    // REACHED STREAM (O(edges touched) — 175M rows at x300), and the
    // lazy-checkpoint idiom (right for pagerank, whose per-round state
    // is rank-sized) chained every round's join/agg into one final
    // mega-job — 8g heap OOM where the eager form completes. Checkpoint
    // blocks are also only freed by GC (they leaked the cold run's
    // blocks into the warm run); tracked persists release promptly and
    // at k=3 the plan is shallow enough to need no lineage cut — each
    // materialized round substitutes an InMemoryRelation anyway.
    var dist = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L))
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    dist.count()
    for (i <- 1 to k) {
      val frontier = dist.filter(col("dist") === (i - 1).toLong)
      val reached = frontier.join(edges, frontier("node") === edges("src"))
        .select(col("dst").as("node"), lit(i.toLong).as("dist"))
      val next = dist.unionByName(reached)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .persistTracked(StorageLevel.MEMORY_AND_DISK)
      next.count() // isolate the round's job; release the prior state
      dist.unpersist()
      dist = next
    }
    edges.unpersist()
    dist.orderBy("node")
  }

  /** Per-node triangle counts via degree-ordered edge orientation — the
    * provably-bounded distributed formulation (wedges from a node are
    * pairs of its HIGHER-degree out-neighbors, so out-degree is O(√m)
    * and wedge volume O(m^1.5) worst-case; naive id-ordering has no such
    * bound when low ids are hubs). Input: undirected unique edges with
    * u < v. Each triangle is found exactly once (its three edges form
    * exactly one directed path under any total order), then credited to
    * all three corners.
    *
    * Three joins total: two degree lookups, one wedge self-join on the
    * oriented source, one closing equi-join on (b, c) — every one an
    * equi-join on a key, no all-pairs anywhere. The oriented edge table
    * is persisted (self-join rule).
    *
    * Precondition: unique u < v edges with no self-loops; a repeated
    * edge or a self-loop is counted as given and skews the counts.
    */
  def triangleCounts(edgesUV: DataFrame): DataFrame = {
    val edges = edgesUV.select(col("u"), col("v"))
    val deg = degrees(edges)
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dd"))
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    val e1 = oriented.select(col("src"), col("dst").as("b"), col("dd").as("db"))
    val e2 = oriented.select(col("src"), col("dst").as("c"), col("dd").as("dc"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c")))
    val tri = wedges
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
      .select(col("src").as("a"), col("b"), col("c"))
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy("node")
  }

  /** Local clustering coefficient — how clique-like each node's
    * neighborhood is: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the
    * standard transitivity measure beside [[degreeStats]]' global
    * moments. Triangle counts come from [[triangleCounts]]' degree-
    * ordered oriented formulation (wedge volume O(m^1.5), every join
    * an equi-join); the degree table is one fold over the edge list;
    * the combine join runs on the node domain. cc is portable-rounded
    * BEFORE the ranking so a final-ulp diff can't reorder the top-N
    * cut (node id breaks exact ties).
    *
    * Precondition: unique u < v edges with no self-loops (see
    * [[triangleCounts]]). */
  def clusteringCoeff(edgesUV: DataFrame, topN: Int = 20): DataFrame = {
    val edges = edgesUV.select(col("u"), col("v"))
      .persistTracked(StorageLevel.MEMORY_AND_DISK) // feeds deg AND the triangle join tree
    degrees(edges).filter(col("deg") >= 2)
      .join(triangleCounts(edges), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc", Num.pround(
        lit(2.0) * col("n_tri").cast("double")
          / (col("deg").cast("double") * (col("deg").cast("double") - 1.0)), 4))
      .orderBy(col("cc").desc, col("node"))
      .limit(topN)
  }

  /** Part co-purchase graph: two parts are linked when some order buys
    * both. `mod` restricts to the p%mod==0 part subset — co-purchase
    * graphs densify quadratically with order size, and the subgraph keeps
    * wedge volume proportional at every scale factor. */
  def coPurchaseEdges(lineitem: DataFrame, mod: Int = 5): DataFrame = {
    val l = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .filter(col("p") % mod === 0)
      .persistTracked(StorageLevel.MEMORY_AND_DISK) // self-join rule
    l.as("a").join(l.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
  }

  /** Adamic-Adar link prediction: score NON-adjacent node pairs by
    * their shared neighborhood, common neighbors weighted 1/ln(deg) so
    * a rare shared neighbor says more than a promiscuous hub — the
    * classic "who should be connected next?" readout over any of the
    * derived graphs (kiara analogue: network_analysis's component/
    * centrality modules, /root/reference — capability mirrored, math
    * from the public Adamic-Adar formulation).
    *
    * Scale shape: candidate pairs come ONLY from wedges (two adjacency
    * rows sharing a hub — an equi-join on the hub key, the
    * [[triangleCounts]] shape), never an all-pairs product; existing
    * edges leave via one anti-join; degrees are a node-domain table.
    * Wedge volume is Σ_w deg(w)², so hubs above `maxHubDeg` are
    * EXCLUDED — the standard AA practice (a 10⁶-degree hub contributes
    * 10¹² wedges and ~0 information: 1/ln(10⁶) ≈ 0.07): the cap is
    * what makes the operator runnable at 100 TB, documented, not a
    * correctness shortcut — the oracle applies the identical cap. */
  def adamicAdar(edgesUV: DataFrame, topK: Int = 20,
      maxHubDeg: Int = 256): DataFrame = {
    val edges = undirected(edgesUV, "u", "v")
      .persistTracked(StorageLevel.MEMORY_AND_DISK) // adjacency ×2 + the anti-join
    val pairs = wedges(edges, degrees(edges), maxHubDeg)
    pairs
      .join(edges, pairs("a") === edges("u") && pairs("b") === edges("v"),
        "left_anti")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        round(sum(lit(1.0) / log(col("dw").cast("double"))), 4).as("aa_score"))
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** k-core decomposition (the k=3 core by default): iteratively peel
    * nodes of degree < k until the subgraph stabilizes — the dense
    * backbone that survives when pendant/chain structure is stripped
    * (community detection and influence analysis run on the core, not
    * the fringe). Degeneracy peeling is inherently iterative; each
    * round is ONE degree fold + two semi-joins — no all-pairs anywhere,
    * O(diameter-ish) rounds, and the edge set only shrinks. Each
    * round's edge set is a local checkpoint that its count materializes
    * (the dedup_clusters rule): a persisted round would print the
    * previous round's cached plan once per reference in its own plan
    * text, which grows geometrically and exhausts the driver heap
    * within a dozen rounds. An unconverged exit throws. Parallel edges
    * and self-loops in the input do not count toward a node's degree.
    *
    * Iterative fixpoint → registered rows-only; the spec peels a
    * planted clique-plus-tail by hand. */
  def kCore(edgesUV: DataFrame, k: Int = 3, maxIters: Int = 30): DataFrame = {
    // a self-loop is no neighbour: dropping it adds no exchange
    val edges0 = undirected(edgesUV, "u", "v").filter(col("u") =!= col("v"))
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    var edges = edges0
    var n = edges.count()
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxIters) {
      val keep = degrees(edges).filter(col("deg") >= k).select("node")
      val next = edges
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint(false)
      val m = next.count() // materializes the checkpoint
      edges0.unpersist()
      edges = next
      stable = m == n
      n = m
      rounds += 1
    }
    // an unconverged exit would silently emit a partly peeled core
    if (!stable) throw new IllegalStateException(
      s"k-core peeling did not converge in $maxIters rounds " +
        s"(a pendant chain is longer than maxIters); raise maxIters")
    degrees(edges).select(col("node"), col("deg").as("core_degree"))
      .orderBy("node")
  }

  /** Newman modularity of the label-propagation partition — the
    * "are these communities real" score that should accompany any
    * community detection: Q = Σ_c [ m_c/m − (D_c/2m)² ] over the
    * communities [[labelPropagation]] finds (deterministic min-label
    * ties, so Q is reproducible). Q≈0 means no better than random;
    * well-clustered graphs land 0.3+.
    *
    * Scale shape: the partition is one labelPropagation run; then TWO
    * label join-backs onto the edge list (equi-joins on node id), a
    * per-community fold, and a final community-domain aggregate — no
    * all-pairs anywhere. Counts are exact integers; only the final
    * Σ is float, rounded 4dp. */
  def modularity(edgesIn: DataFrame, iters: Int = 5): DataFrame = {
    val e = edgesIn.select(col("src"), col("dst")).distinct()
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    val labels = labelPropagation(e, iters)
      .persistTracked(StorageLevel.MEMORY_AND_DISK)
    val mE = e.count() / 2 // both directions present → undirected count
    val nNodes = labels.count()
    val la = labels.select(col("node").as("src"), col("label").as("la"))
    val lb = labels.select(col("node").as("dst"), col("label").as("lb"))
    val mc = e.join(la, "src").join(lb, "dst")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg((count(lit(1)) / 2).as("mc2")) // directed pairs halve exactly
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val dc = deg.join(labels, "node").groupBy("label")
      .agg(sum("d").as("dsum"))
    dc.join(mc, Seq("label"), "left")
      .select((coalesce(col("mc2"), lit(0.0)) / mE.toDouble
        - (col("dsum").cast("double") / (2.0 * mE))
          * (col("dsum").cast("double") / (2.0 * mE))).as("qc"))
      .agg(count(lit(1)).as("n_communities"), round(sum("qc"), 4).as("modularity"))
      .select(lit(nNodes).as("n_nodes"), lit(mE).as("n_edges"),
        col("n_communities"), col("modularity"))
  }

  /** One-row graph summary: size, degree moments, and the degree
    * assortativity coefficient — Pearson correlation of endpoint
    * degrees over the directed edge list (Newman's r: positive =
    * hubs link hubs, negative = hubs link leaves; the single number
    * that says whether a similarity/co-occurrence graph is
    * hub-dominated before anything iterative runs on it).
    *
    * Scale shape: degree table = one adjacency fold; the edge list
    * joins it twice (equi-joins on each endpoint); r derives from ONE
    * associative moment aggregate over the directed edges (the
    * elasticity convention — double moments, identical
    * left-associative algebra in the oracle).
    *
    * Precondition: unique u < v edges with no self-loops; a self-loop
    * counts two degree units. */
  def degreeStats(edgesUV: DataFrame): DataFrame = {
    val edges = edgesUV.select(col("u"), col("v"))
      .persistTracked(StorageLevel.MEMORY_AND_DISK) // adjacency + edge count
    val deg = degrees(edges)
    val scored = adjacency(edges)
      .join(deg.select(col("node").as("src"), col("deg").as("du")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dv")), "dst")
      .select(col("du").cast("double").as("x"), col("dv").cast("double").as("y"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"), max("deg").as("max_degree"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val m = col("mm").cast("double")
    scored.agg(count(lit(1)).as("mm"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .crossJoin(broadcast(nodes)).crossJoin(broadcast(nEdges)) // bounded: 1 row each
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        round(lit(2.0) * col("n_edges").cast("double")
          / col("n_nodes").cast("double"), 4).as("avg_degree"),
        round((m * col("sxy") - col("sx") * col("sy"))
          / sqrt((m * col("sxx") - col("sx") * col("sx"))
            * (m * col("syy") - col("sy") * col("sy"))), 4).as("assortativity"))
  }

  /** Customer↔supplier trade graph from orders ⋈ lineitem: node ids are
    * key*2 (customers) / key*2+1 (suppliers) so the two key spaces cannot
    * collide; each trading pair yields both edge directions, so every
    * node has in- AND out-degree (no dangling mass, no teleport-only
    * rows) — which also makes the fixed-iteration oracle well-behaved. */
  def tradeEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Weakly-connected-component size histogram — the graph-health
    * readout run before any per-component algorithm ("is this one
    * giant hairball or many islands?"), the aggregate face of
    * [[graft.operators.Dedup.clusters]]' exact min-label fixpoint
    * (reused verbatim: convergence-checked, localCheckpoint lineage
    * cuts, edge-sized partitioning). Input: undirected unique edges
    * u < v; isolated nodes are out of frame (no edges = no row), same
    * as the oracle's edge-derived universe.
    *
    * Scale shape: O(diameter) min-label join rounds on the edge
    * table, then two domain folds (component -> size -> histogram);
    * nothing is ever single-partition. */
  def wccSizes(edges: DataFrame): DataFrame = {
    val labels = Dedup.clusters(
      edges.select(col("u").as("doc_a"), col("v").as("doc_b")), maxIters = 40)
    labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_components"))
      .orderBy("csize")
  }

  /** Jaccard neighbor similarity — the set-overlap sibling of
    * [[adamicAdar]] (AA weights common neighbors by rarity and predicts
    * MISSING links; this scores ALL pairs sharing a neighbor by
    * |N(a)∩N(b)| / |N(a)∪N(b)|, the item-item similarity used for
    * "customers also bought"). Top `topK` pairs by the UNROUNDED exact
    * ratio (single division of exact integers — bit-identical both
    * engines), (a, b) tie-break.
    *
    * Scale shape: the wedge self-join enumerates pairs only through
    * common neighbors of degree ∈ [2, maxHubDeg] — the adamicAdar hub
    * cap that keeps candidate counts Σ d(w)² bounded when a hub node
    * would otherwise emit 10¹⁰ wedges (the cap is part of the operator
    * contract and mirrored in the oracle); degrees join back from the
    * uncapped table so the reported Jaccard is exact for every
    * surviving pair. */
  def jaccardNeighbors(edgesUV: DataFrame, topK: Int = 20,
      maxHubDeg: Int = 256): DataFrame = {
    val edges = undirected(edgesUV, "u", "v")
      .persistTracked(StorageLevel.MEMORY_AND_DISK) // adjacency both directions
    val deg = degrees(edges)
      .persistTracked() // hub filter + two degree join-backs
    val common = wedges(edges, deg, maxHubDeg)
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    val union = (col("da") + col("db") - col("n_common")).cast("double")
    common
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .withColumn("j_raw", col("n_common").cast("double") / union)
      .orderBy(col("j_raw").desc, col("a"), col("b")).limit(topK)
      .select(col("a"), col("b"), col("n_common"), col("da"), col("db"),
        Num.pround(col("j_raw"), 4).as("jaccard"))
  }
}
