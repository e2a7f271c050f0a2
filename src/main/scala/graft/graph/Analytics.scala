package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Whole-graph analytics over DataFrame edge sets — the algorithms a
  * graph store runs OUTSIDE pattern matching (the connected-components
  * walker lives with dedup, `Dedup.components`). Everything is join+agg
  * iteration: one shuffle per round keyed on the node id, edge set
  * persisted once — the Pregel-without-Pregel shape that scales with
  * executors.
  */
object GraphAnalytics {

  /** Persisted shared state for the iterative walkers: the skinny
    * (src, dst) edge frame, the node set, and the per-edge out-degree
    * frame. [[prepare]] once per graph, run any number of
    * [[pageRank]] / [[personalizedPageRank]] calls over it, release
    * with [[PreparedEdges.unpersist]] — the cross-query reuse the
    * per-call signatures cannot express (each derives and persists
    * its own copy of all three; a suite running PageRank, PPR, and
    * several traversals over ONE graph pays that derivation once
    * here).
    */
  final case class PreparedEdges(e: DataFrame, nodes: DataFrame,
      withDeg: DataFrame, nNodes: Long) {
    def unpersist(): Unit = {
      e.unpersist(false); nodes.unpersist(false); withDeg.unpersist(false)
    }
  }

  /** Build [[PreparedEdges]] from a (src, dst) edge set. The node
    * count is taken ONCE here (index-build-time, like CorpusIndex's
    * stored stats — the no-driver-action rule governs the per-query
    * path, not artifact construction); folding it into rank plans as
    * a literal removes one broadcast-stats subtree per iteration.
    * The count also eagerly materializes all three persisted frames
    * (nodes derives through e; withDeg warms on first use).
    */
  def prepare(edges: DataFrame): PreparedEdges = graft.core.Tuning.withCachedPlanAqe(edges.sparkSession) {
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withDeg = e.join(
        e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    PreparedEdges(e, nodes, withDeg, nodes.count())
  }

  /** Fixed-iteration PageRank over a directed (src, dst) edge set.
    *
    * Per round: contribution = rank/out-degree summed over in-edges
    * (one shuffle on dst), then `rank = (1-d)/N + d·contrib`. Nodes
    * without out-edges leak their mass (no dangling redistribution) —
    * the deliberate, documented variant: it keeps every round a
    * single local-sum pass with no extra global aggregate, and
    * ranking ORDER is what downstream consumers use. Fixed `iters`
    * rather than convergence-probing: deterministic cost, and the
    * g10 oracle unrolls the same rounds as SQL CTEs.
    *
    * Scale: the per-edge (src, deg) frame is computed once and
    * persisted; each round shuffles the skinny (id, rank) frame on
    * the same key, so AQE reuses the partitioning. At 100 TB,
    * pre-bucket edges by src and the rank join co-locates.
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = graft.core.Tuning.withCachedPlanAqe(edges.sparkSession) {
    // e feeds four consumers (both node projections, the degree agg,
    // the per-edge join) — prepare persists all three derivations;
    // the eager checkpoint materializes the result BEFORE the
    // prepared frames release (a lazy result would recompute the
    // whole walk uncached at first consumption)
    val p = prepare(edges)
    val res = pageRank(p, iters, damping).localCheckpoint(true)
    p.unpersist()
    res
  }

  /** [[pageRank]] over a shared [[PreparedEdges]] — the caller owns
    * the persist lifetime (nothing is unpersisted here) and the
    * result is LAZY: one execution when the caller consumes it, no
    * checkpoint double-pass (at iters ≤ ~5 the plan depth needs no
    * truncation; past that the in-loop cadence checkpoint fires).
    */
  def pageRank(p: PreparedEdges, iters: Int,
      damping: Double): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // N is the prepared artifact's stored count — a literal in the
    // plan, so no broadcast-stats subtree builds per iteration. The
    // arithmetic (1.0 / n, (1-d) / n) is the same IEEE division the
    // 1-row-frame form computed; the g10 oracle is unchanged.
    val n = lit(p.nNodes.toDouble)
    var ranks = p.nodes
      .select(col("id"), (lit(1.0) / n).as("rank"))
    for (i <- 1 to iters) {
      val contrib = p.withDeg.join(ranks, p.withDeg("src") === ranks("id"))
        .groupBy(p.withDeg("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("c"))
      // the update joins the PERSISTED node set (joining the dense
      // ranks frame instead would consume the previous round's
      // lineage twice per round — compounding re-execution)
      ranks = p.nodes.join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          ((lit(1.0) - lit(damping)) / n +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
      // truncate lineage every few rounds — the iterative-algorithm
      // discipline (same cadence rationale as PropertyGraph.bfs):
      // without it plan depth grows with iters and Catalyst analysis
      // cost compounds; at the default iters=3 this never fires
      if (i % 5 == 0 && i < iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Per-node triangle counts over an undirected edge set given as
    * (src, dst) rows in any orientation (duplicates and both-direction
    * rows tolerated; self-loops dropped).
    *
    * The classic degree-orientation algorithm: canonicalize edges,
    * then orient each from its lower-(degree, id) endpoint to the
    * higher. Orientation makes the edge relation acyclic and roots
    * every wedge at its lowest-rank vertex, so wedge fan-out is
    * bounded by O(m^1.5) TOTAL regardless of hot hubs — the reason
    * this survives power-law graphs where the naive "join on any
    * shared endpoint" blows up on the max-degree node. Each triangle
    * is enumerated exactly once as an oriented path a→b→c closed by
    * the oriented edge a→c (a left_semi probe), then exploded to its
    * three corners for the per-node tally. Plan shape: two equi-joins
    * + one semi-join + one agg, all shuffled on node ids — no cross
    * product anywhere. At 100 TB, pre-bucket the oriented edge set by
    * its source node and both wedge joins co-locate.
    */
  /** (src, dst) in any orientation/duplication → one canonical
    * (u < v) row per undirected edge, self-loops dropped, persisted
    * (both consumers are multi-join pipelines). Callers unpersist.
    */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Weakly-connected components over a (src, dst) edge frame:
    * (id, rep) for every edge ENDPOINT, rep = the component's
    * minimum id — the graph-native face of the star-contraction
    * walker the dedup pipeline uses for duplicate groups
    * ([[graft.dedup.Dedup.components]]: O(log² n) rounds whatever
    * the diameter, fixpoint-checked, loud on non-convergence).
    * Direction is ignored (weak connectivity); isolated nodes (no
    * edges) are not represented — union them in as identity rows if
    * the node table is wider than the edge universe.
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    graft.dedup.Dedup.components(
      edges.select(col("src").as("id_a"), col("dst").as("id_b")))

  def triangleCounts(edges: DataFrame): DataFrame = graft.core.Tuning.withCachedPlanAqe(edges.sparkSession) {
    val und = canonicalUndirected(edges)
    // deg feeds TWO rank joins — persist the (node-count-sized) frame
    // or each join re-runs the degree aggregate over und
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // orient: (a → b) with rank(a) < rank(b), rank = (deg, id)
    val ranked = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = ranked
      .select(when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, col("v")).otherwise(col("u")).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val tri = wedges.join(
      oriented.select(col("a").as("x"), col("b").as("z")),
      Seq("x", "z"), "left_semi")
    val res = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
      .localCheckpoint(true)
    und.unpersist(false)
    deg.unpersist(false)
    oriented.unpersist(false)
    res
  }

  /** Personalized PageRank: random-walk-with-restart relevance to a
    * SOURCE node set — the graph-retrieval expansion score (seed a
    * query's entity nodes, rank the neighborhood by visit
    * probability). Identical round structure to [[pageRank]] — one
    * shuffle on dst per iteration over the same persisted per-edge
    * degree frame — with two deltas: mass initializes uniformly over
    * the sources (not all nodes), and the (1−d) teleport returns to
    * the sources (not everywhere), so relevance stays anchored.
    * Non-source nodes with no inbound mass keep rank 0 and drop
    * (sparse output — at scale the frontier is the seed
    * neighborhood, not the graph).
    */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
      iters: Int = 3,
      damping: Double = 0.85): DataFrame = graft.core.Tuning.withCachedPlanAqe(edges.sparkSession) {
    // PPR never reads the node set or N (sparse, source-anchored) —
    // build only the frames it uses rather than paying prepare()'s
    // distinct shuffle and count for discarded state
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withDeg = e.join(
        e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val res = pprRounds(withDeg, sources, iters, damping)
      .localCheckpoint(true)
    e.unpersist(false)
    withDeg.unpersist(false)
    res
  }

  /** [[personalizedPageRank]] over a shared [[PreparedEdges]] — the
    * caller owns the persist lifetime and the result is LAZY (the
    * [[pageRank]] overload's contract). Only `withDeg` is read; the
    * node set plays no role (PPR's frontier is the seed
    * neighborhood).
    */
  def personalizedPageRank(p: PreparedEdges, sources: DataFrame,
      iters: Int, damping: Double): DataFrame =
    pprRounds(p.withDeg, sources, iters, damping)

  private def pprRounds(withDeg: DataFrame, sources: DataFrame,
      iters: Int, damping: Double): DataFrame = {
    require(iters >= 1, "personalizedPageRank needs at least one iteration")
    // seed sets are query-entity-sized by nature — the three
    // consumers (count, restart, init) re-derive the distinct rather
    // than holding a persist the lazy result would outlive; persist
    // upstream if a source set is ever corpus-sized
    val src = sources.select(col("id")).distinct()
    val nSrc = src.agg(count(lit(1)).as("ns"))
    val restart = src.crossJoin(broadcast(nSrc))
      .select(col("id"), ((lit(1.0) - lit(damping)) / col("ns")).as("restart"))
    var ranks = src.crossJoin(broadcast(nSrc))
      .select(col("id"), (lit(1.0) / col("ns")).as("rank"))
    for (i <- 1 to iters) {
      val contrib = withDeg.join(ranks, withDeg("src") === ranks("id"))
        .groupBy(withDeg("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("c"))
      // full outer: teleport mass exists at sources with no inbound
      // mass, and walked-to nodes need not be sources
      ranks = contrib.join(restart, Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(col("restart"), lit(0.0)) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
      if (i % 5 == 0 && i < iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Bounded-hop weighted shortest paths from a source node set over
    * a (src, dst, w) edge frame: (id, dist) for every node reachable
    * within `maxHops` edges, dist = the minimum total edge weight over
    * all such paths (sources at 0.0). Bellman-Ford relaxation, the
    * distributed formulation: per round, candidate distances flow
    * across every edge whose SOURCE improved last round
    * (frontier-pruned — settled nodes send nothing, the delta-stepping
    * insight without its buckets), min-combined per destination (one
    * shuffle on dst with map-side partial min), then merged with the
    * running labels via a full-outer join keeping the smaller. Rounds
    * are bounded by `maxHops`, so negative weights are safe (no
    * negative-cycle divergence — a cycle can only be traversed within
    * the hop budget) and every reported dist is over ≤ maxHops edges —
    * the same bounded-traversal scale rule as var-length patterns
    * (unbounded propagation on a 100 TB graph is the thing this
    * engine refuses everywhere).
    *
    * Distances are DOUBLE: each label is built by sequential IEEE
    * addition along one concrete path (source → node), so a value is
    * reproducible bit-for-bit by any engine walking the same path —
    * the g39 oracle's recursive CTE computes the identical sums.
    *
    * Scale shape: identical to [[pageRank]] — the edge frame persists
    * once, every round shuffles a node-sized (id, dist) frame on the
    * same key (AQE reuses the partitioning), lineage truncates on the
    * [[PropertyGraph.bfs]] cadence with the early-exit probe riding
    * the checkpoint boundaries (an empty frontier ends the walk — on
    * a DAG shallower than maxHops the tail rounds cost nothing). At
    * 100 TB, pre-bucket edges by src and the frontier join co-locates.
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame, maxHops: Int,
      checkpointEvery: Int = 3): DataFrame = graft.core.Tuning.withCachedPlanAqe(edges.sparkSession) {
    require(maxHops >= 1, "shortestPaths needs maxHops >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = sources.select(col("id")).distinct()
      .select(col("id"), lit(0.0).as("dist"))
    var frontier = dist
    var exhausted = false
    for (h <- 1 to maxHops if !exhausted) {
      val cand = e.join(frontier, e("src") === frontier("id"))
        .groupBy(e("dst").as("id"))
        .agg(min(col("dist") + col("w")).as("cand"))
      val improved = col("dist").isNull || col("cand") < col("dist")
      val merged = dist.join(cand, Seq("id"), "full_outer")
        .select(col("id"),
          when(improved, col("cand")).otherwise(col("dist")).as("dist"),
          improved.as("improved"))
      val m =
        if (h % checkpointEvery == 0 && h < maxHops) merged.localCheckpoint(true)
        else merged
      frontier = m.where(col("improved")).select(col("id"), col("dist"))
      if (h % checkpointEvery == 0 && h < maxHops) exhausted = frontier.isEmpty
      dist = m.select(col("id"), col("dist"))
    }
    val res = dist.localCheckpoint(true)
    e.unpersist(false)
    res
  }

  /** Common-neighbor link prediction: for every NON-adjacent node
    * pair sharing at least one neighbor, the shared-neighbor count
    * and the neighbor-set Jaccard — the classic structural
    * recommendation scores.
    *
    * Candidates come from a wedge self-join through the shared
    * neighbor (`p.b < q.b` canonicalizes the pair), so only pairs
    * with ≥1 common neighbor ever materialize — never the n² pair
    * space. Existing edges drop via a left-anti join; Jaccard is one
    * IEEE division of exact longs (|A∩B| / (deg_u + deg_v − |A∩B|)),
    * engine-portable. Wedge volume is Σ deg(m)² over mid nodes — on
    * skewed graphs pass `maxDegree` (the d2 stop-shingle lesson
    * applies verbatim: a hot hub's wedge fan-out is quadratic).
    */
  def linkPredictScores(edges: DataFrame): DataFrame =
    linkPredictScores(edges, Int.MaxValue)

  /** [[linkPredictScores]] with a hub cap: mid nodes (shared
    * neighbors) whose degree exceeds `maxDegree` are excluded from
    * candidate generation BEFORE the wedge self-join, bounding wedge
    * volume at Σ min(deg(m), maxDegree)² — the stop-shingle / degree-
    * orientation discipline ([[triangleCounts]]) applied to link
    * prediction. Semantics under the cap: a pair is a candidate only
    * if it shares a NON-hub neighbor, and `ncommon` counts only
    * non-hub shared neighbors (a documented lower bound — a hub
    * shared by half the graph carries no predictive signal anyway,
    * exactly the d2 stop-shingle rationale). Jaccard keeps the TRUE
    * endpoint degrees; only the numerator is capped, so scores under
    * the cap are conservative, never inflated. `maxDegree =
    * Int.MaxValue` (the no-arg overload) is bit-identical to the
    * uncapped form — the g13 oracle runs uncapped.
    */
  def linkPredictScores(edges: DataFrame,
      maxDegree: Int): DataFrame = graft.core.Tuning.withCachedPlanAqe(edges.sparkSession) {
    require(maxDegree >= 1, "linkPredictScores needs maxDegree >= 1")
    val und = canonicalUndirected(edges)
    // symmetric adjacency: (a, b) = "b is a neighbor of a"
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // deg feeds both endpoint joins — persist (node-count-sized)
    val deg = adj.groupBy("a").agg(count(lit(1)).as("dg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // hub cap: semi-join against the ≤maxDegree node set drops every
    // adjacency row rooted at a hub mid — the self-join below never
    // sees the quadratic fan-out (deg is node-sized and persisted,
    // so the filter costs one skinny semi-join, not a re-aggregate)
    val wedgeAdj =
      if (maxDegree == Int.MaxValue) adj
      else adj.join(deg.where(col("dg") <= lit(maxDegree)).select(col("a")),
        Seq("a"), "left_semi")
    val common = wedgeAdj.as("p")
      .join(wedgeAdj.as("q"),
        col("p.a") === col("q.a") && col("p.b") < col("q.b"))
      .groupBy(col("p.b").as("u"), col("q.b").as("v"))
      .agg(count(lit(1)).as("ncommon"))
    val res = common
      .join(und, Seq("u", "v"), "left_anti")
      .join(deg.select(col("a").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("a").as("v"), col("dg").as("dv")), "v")
      .select(col("u"), col("v"), col("ncommon"),
        (col("ncommon").cast("double") /
          (col("du") + col("dv") - col("ncommon")).cast("double")).as("jaccard"))
      .localCheckpoint(true)
    und.unpersist(false)
    adj.unpersist(false)
    deg.unpersist(false)
    res
  }
}
