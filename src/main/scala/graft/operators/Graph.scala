package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge DataFrames. Companion to the
  * iterative fixed-point family ([[Clustering.kmeansAssign]],
  * [[Dedup.dupGroups]]): a bounded number of join+aggregate rounds, each
  * round one shuffle keyed by vertex, no driver-side graph state — the
  * plan a 100 TB edge list needs (adjacency stays distributed; only the
  * iteration COUNT is fixed).
  */
object Graph {

  /** PageRank with EXACT arithmetic: ranks live in integer micro-units
    * (scale = 10⁶ = rank 1.0) carried as integer-valued doubles (< 2⁵³,
    * so every sum is exact and order-independent), and every division
    * passes through `floor` — IEEE division is exactly rounded and a
    * ratio of integers bounded away from the next integer by ≥ 1/divisor
    * floors identically in any engine, so the WHOLE iteration is
    * bit-reproducible cross-engine (the kmeans fixed-point argument; see
    * the oracle, which unrolls the same rounds as SQL CTEs).
    *
    * Per round, for each node v:
    *   rank'(v) = floor(scale·(100−d)/100) + floor(d·Σ_{u→v} floor(rank(u)/outdeg(u)) / 100)
    *
    * with damping d in percent. Nodes = every edge endpoint; a node with
    * no OUT-edges contributes nothing (its mass leaks — the standard
    * simplification; feed symmetric edges if the graph should conserve
    * mass). Each round is two shuffles (join ranks onto edge sources,
    * re-aggregate onto destinations); the out-degree table is computed
    * once. Output: (node, rank) in micro-units. */
  /** Per-node triangle counts via DEGREE-ORDERED edge orientation (the
    * standard distributed construction, e.g. Cohen's MapReduce formulation
    * / Suri & Vassilvitskii WWW'11): normalize to undirected distinct
    * edges, orient each edge from its (degree, id)-smaller endpoint to the
    * larger, generate wedges only from each node's oriented out-neighbors,
    * and close them against the oriented edge set. Every triangle is
    * emitted EXACTLY once (its (deg,id)-minimal vertex is the only wedge
    * apex), and the wedge count is Σ outdeg(v)² with outdeg bounded by
    * O(√m) under this orientation — the reason a 100 TB edge list gets
    * Σ outdeg² ≈ m^1.5 wedge work instead of the Σ deg² blow-up a hub
    * node causes without orientation (a celebrity node with 10⁸ followers
    * generates zero wedges as a destination).
    *
    * All stages are equi-joins keyed by vertex (shuffle-bounded, AQE
    * sizeable); no driver state. Returns (node, triangles) for every node
    * on ≥1 triangle — counted per ROLE (apex or closure endpoint), i.e.
    * the number of triangles the node participates in. */
  /** Normalized undirected distinct edges + per-node degrees — shared by
    * [[triangleCounts]] and [[clusteringCoefficient]] so the (possibly
    * expensive) edge-construction subtree is written once. */
  private def undDeg(edges: DataFrame): (DataFrame, DataFrame) = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    (und, deg)
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val (und, deg) = undDeg(edges)
    triangleCountsFrom(und, deg)
  }

  private def triangleCountsFrom(und: DataFrame, deg: DataFrame): DataFrame = {
    val da = deg.select(col("node").as("a"), col("deg").as("da"))
    val db = deg.select(col("node").as("b"), col("deg").as("db"))
    // orient low-(deg,id) → high-(deg,id); carry the destination's degree
    // so wedge pairs can be ordered by the SAME total order without a
    // second degree join
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // MATERIALIZED (localCheckpoint): the oriented adjacency is consumed
    // three times below (both wedge sides + the closing probe); left lazy,
    // each consumer re-derives the whole edges→distinct→degree→orient
    // subtree and the plan balloons to ~100 redundant stages (PlanAudit
    // caught 180 scans). Materializing the O(m) oriented edge list is also
    // what a production graph pipeline does — it IS the index. Same
    // decision as [[graft.operators.Clustering.kmeansAssign]]'s quantized
    // projection.
    val oriented = und.join(da, "a").join(db, "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint()
    // wedges from each apex's out-neighbors, ordered by (deg, id) so the
    // closing edge is oriented v1 → v2 by construction
    val o1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val o2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = o1.join(o2, "u")
      .filter(col("dv1") < col("dv2") || (col("dv1") === col("dv2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
    val closing = oriented.select(col("v").as("v2"), col("u").as("v1"))
    val triangles = wedges.join(closing, Seq("v1", "v2"), "left_semi")
    // one triangles subtree, roles exploded in place (a 3-way union would
    // re-derive the whole join three times)
    triangles
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node:
    * `lcc = 2·triangles / (deg·(deg−1))` — how close a node's
    * neighborhood is to a clique (the cohesion metric behind community
    * screening and spam-graph detection). Triangles come from the
    * degree-oriented [[triangleCounts]] plan; degrees from one
    * vertex-keyed aggregation; the division is a single exactly-rounded
    * IEEE op on integers, so the value is bit-identical in any engine
    * with the operand order mirrored. Nodes of degree 1 (no possible
    * triangle) report 0.0. Output: (node, deg, triangles, lcc) for every
    * node on ≥ 1 edge. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    // und/deg computed ONCE and fed to the triangle plan — calling
    // triangleCounts(edges) here would re-derive the whole (possibly
    // expensive) edge-construction subtree a second time
    val (und, deg) = undDeg(edges)
    deg.join(triangleCountsFrom(und, deg), Seq("node"), "left_outer")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc",
        when(col("deg") >= 2,
          (lit(2.0) * col("triangles")) / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
  }

  /** MULTI-SOURCE BFS HOPS, bounded rounds: distance (in hops) from the
    * nearest seed, via `rounds` rounds of min-propagation over the
    * DIRECTED edge list — the reachability/coverage primitive ("how far
    * is every node from a trusted seed set"). Round r discovers every
    * node at distance r, so `rounds` ≥ the relevant radius gives exact
    * distances within that radius; nodes not reached are absent. Same
    * bounded-round contract as [[pageRank]]/[[kCore]] (deterministic,
    * oracle-able as unrolled rounds); each round one edge join + one
    * min-aggregation keyed by vertex, frontier state checkpointed so plan
    * size stays O(1) per round. Output: (node, hop). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val e = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull).distinct().localCheckpoint()
    // FRONTIER propagation (the textbook BFS refinement): round r expands
    // only the nodes FIRST DISCOVERED in round r−1, not the whole settled
    // set. The previous form joined the edge list against ALL hops every
    // round and re-proposed every settled node's neighbors again — correct
    // (min() absorbs the re-proposals), but the per-round join and
    // aggregation grew with the REACHED set instead of the frontier.
    // Equivalence: a node first reached at round r is reached through a
    // round-(r−1) node, so expanding frontiers only yields the same
    // (node, min hop) set; a settled node's re-proposal can never beat its
    // existing smaller hop, so dropping it changes nothing. The frontier
    // is the zero-cost filter `hop = r` over the just-materialized state —
    // no extra join, no extra job, per-round shape identical to before
    // (one edge join, one union+min aggregation, one checkpoint).
    var hops = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("hop")).localCheckpoint()
    var frontier = hops
    for (r <- 1 to rounds) {
      val step = e.join(frontier.select(col("node").as("u"), col("hop")), "u")
        .select(col("v").as("node"), (col("hop") + 1).as("hop"))
      hops = hops.union(step)
        .groupBy(col("node")).agg(min(col("hop")).as("hop"))
        .localCheckpoint()
      frontier = hops.filter(col("hop") === r)
    }
    hops
  }

  /** DEGREE ASSORTATIVITY — Pearson correlation of the degrees at the two
    * ends of every edge (Newman's r, the public definition): positive =
    * hubs link to hubs (social graphs), negative = hubs link to leaves
    * (bot/spam topologies — which is why it's a curation screening
    * metric). Each undirected edge contributes its (da,db) pair BOTH ways
    * (the standard symmetrization), then the exact-moment
    * [[Profiler.pearson]] pass does the correlation — degrees are
    * integers, so every moment is exact and the gate needs no tolerance
    * beyond the shared round(6). Output: one (x_col, y_col, n, corr) row
    * with n = 2·|edges|. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    // materialize the deduped edge list once: und feeds the degree
    // aggregate AND both degree joins, and without the checkpoint every
    // reference re-derives the upstream edge construction (PlanAudit
    // measured 24 scans for the co-purchase query). Edge-sized, the same
    // localCheckpoint class as pageRank's per-round state.
    val und = undDeg(edges)._1.localCheckpoint()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // symmetrize with ONE generator instead of a union of the join
    // subtree (the union form executes the two-join pipeline twice)
    val pairs = withDeg.select(explode(array(
        struct(col("da").cast("double").as("dx"), col("db").cast("double").as("dy")),
        struct(col("db").cast("double").as("dx"), col("da").cast("double").as("dy")))).as("p"))
      .select(col("p.dx").as("dx"), col("p.dy").as("dy"))
    Profiler.pearson(pairs, Seq(("dx", "dy")))
  }

  /** K-CORE PEELING, bounded rounds: each round removes every node whose
    * CURRENT degree is below `k` (the standard synchronous peeling step);
    * after `rounds` rounds the surviving subgraph and its internal degrees
    * are returned. With enough rounds this is exactly the k-core (the
    * maximal subgraph of min-degree ≥ k) — the classic
    * cohesion/spam-filtering decomposition; the bounded-round form is the
    * same contract as [[pageRank]]'s `iters` (deterministic, oracle-able
    * as unrolled SQL rounds) and `converged` in the result tells the
    * caller whether the fixpoint was reached (no node removed in the last
    * round). Each round is one degree aggregation + one semi join, both
    * keyed by vertex; survivors are localCheckpoint'ed per round so plan
    * size stays O(1) per round.
    *
    * Output: (node, deg, converged) for nodes surviving `rounds` rounds,
    * deg = degree within the surviving subgraph. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got k=$k rounds=$rounds")
    var und = undDeg(edges)._1.localCheckpoint()
    // one count per round, carried across iterations: the previous form
    // re-counted the SAME materialized frame it had already counted as
    // last round's `next` (two count jobs per round for one number)
    var undCount = und.count()
    var removedAny = true
    var r = 0
    while (r < rounds && removedAny) {
      val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      val next = und
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
      val nextCount = next.count()
      removedAny = nextCount != undCount
      und = next
      undCount = nextCount
      r += 1
    }
    val converged = !removedAny
    und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .withColumn("converged", lit(converged))
  }

  /** LABEL-PROPAGATION COMMUNITIES, bounded rounds — the near-linear-time
    * community detector (Raghavan–Albert–Kumara), in its DETERMINISTIC
    * synchronous form: labels start as each node's own id; every round,
    * each node adopts the most frequent label among its neighbors PLUS
    * itself, ties broken by the SMALLEST label. The classic LPA draws
    * random tiebreaks and a random visit order — useless under a
    * cross-engine hash gate; the (count DESC, label ASC) total order makes
    * every round a pure function of the previous labeling, so the whole
    * iteration unrolls into SQL CTEs exactly like [[pageRank]]. The
    * self-vote also damps the 2-cycle oscillation synchronous LPA is
    * known for on bipartite-ish regions.
    *
    * Each round: one edge⋈labels join (vertex-keyed shuffle), one
    * (node, label) count aggregation, one per-node `min(struct(−c, label))`
    * hash aggregate for the argmax — all distributed, label state one row
    * per node, checkpointed per round so plan size stays O(1) per round
    * (the bfsHops discipline).
    * Output: (node, label) for every node on ≥ 1 edge. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val und = e0.union(e0.select(col("v"), col("u"))).distinct().localCheckpoint()
    val nodes = und.select(col("u").as("node")).distinct()
    var labels = nodes.select(col("node"), col("node").as("label")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = und
        .join(labels.select(col("node").as("u"), col("label")), "u")
        .select(col("v").as("node"), col("label"))
        .union(labels) // self-vote: damps oscillation, breaks isolation
      val counts = votes.groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax as an AGGREGATE, not a window: min over (−c, label) is the
      // same (count DESC, label ASC) total order the row_number form
      // picked from — (c, label) is unique per node, so the argmax is the
      // identical label — but a hash aggregate partially aggregates
      // map-side and never sorts, where the window form shuffled every
      // (node, label, c) row and sorted each node's votes. One round stays
      // two vertex-keyed exchanges; the second now moves ≤ one row per
      // (node × map partition) instead of every candidate label.
      labels = counts
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
        .localCheckpoint()
    }
    labels
  }

  def pageRank(edges: DataFrame, iters: Int, dampingPct: Int = 85,
               scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // MATERIALIZED once (localCheckpoint): every iteration references the
    // edge list twice and nodes/outdeg once — left lazy, round i re-derives
    // the whole upstream edge-construction plan ~4i times (the
    // triangleCounts lesson; q_pagerank spent 4.3 s at sf0.1 mostly
    // re-planning its own base). The adjacency is what a production graph
    // job persists anyway; iteration state stays fully distributed.
    //
    // Out-degree is FOLDED INTO the node-sized rank state: od is constant
    // across rounds, so joining the separate outdeg table per round (the
    // previous form) paid an extra vertex-keyed join every iteration —
    // O(|V|) rows shuffled/sorted per round for a value that never changes.
    // Carrying od as one extra column of `ranks` (the SMALL, node-grain
    // side; the edge list stays narrow) makes each round exactly ONE edge
    // join + one aggregation + one node-grain outer join — the minimum
    // this recurrence admits. Sink-only nodes carry od = null; they never
    // appear as a join src (no out-edges), so the null never reaches the
    // division — identical arithmetic to the old inner outdeg join.
    val e = edges.select(col("src").cast("string"), col("dst").cast("string"))
      .localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
      .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left_outer")
      .localCheckpoint()
    val base = math.floorDiv(scale * (100L - dampingPct), 100L).toDouble
    var ranks = nodes.withColumn("rank", lit(scale.toDouble))
    (1 to iters).foreach { i =>
      val contribs = e
        .join(ranks, e("src") === ranks("node"))
        .select(col("dst"), floor(col("rank") / col("od")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      ranks = nodes.join(contribs, nodes("node") === contribs("dst"), "left_outer")
        .select(col("node"), col("od"),
          (lit(base) + floor(lit(dampingPct.toDouble) * coalesce(col("in_mass"), lit(0.0)) / 100.0))
            .as("rank"))
      // checkpoint EVERY k ROUNDS, not every round: `ranks` is referenced
      // exactly ONCE per round (the contribs join), so lineage grows
      // LINEARLY in iters — there is no re-derivation to cut, only plan
      // depth (analysis cost / executor stack) to bound. r17 measured the
      // per-round materialization as q_pagerank's dominant cost (each
      // localCheckpoint is its own job + a full node-set write/read);
      // batching k rounds into one execution lets AQE plan the whole
      // segment and collapses k materializations into zero (guide §2.4 /
      // §5: localCheckpoint only where lineage truncation buys something).
      // k = 8 keeps the lazy segment's plan depth bounded for large iters.
      if (i % 8 == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), col("rank").cast("long").as("rank"))
  }
}
