package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.QueryDef

/** Graph analytics over engine-derived edge lists (the similarity /
  * dedup graphs the other operator families produce). Iterative jobs
  * follow the same discipline as [[graft.dedup.Dedup.connectedComponents]]:
  * edge state is computed once, cached pre-partitioned on the join key,
  * lineage is truncated periodically, and every intermediate cache is
  * dropped once the final state is materialized.
  */
object Graph {

  /** Memoized SYMMETRIC kNN adjacency per (session, dir, k): both
    * orientations of the cached q57 graph, deduplicated, cached
    * hash-partitioned on `dst` (r14). Three loop operators (q135 label
    * propagation, q187 BFS, q236 coreness) each re-derived this exact
    * table per invocation — a union + corpus-edge distinct shuffle every
    * run at any scale — and then joined it per round on `dst`, paying an
    * edge-side exchange every round because the derived table carried no
    * useful partitioning. The memo builds it once per session (charged
    * to the bench warm-up pass like every session memo), and the `dst`
    * hash partitioning lets each round's state join reuse the edge
    * side's layout — only the O(n) state table moves per round, the
    * pageRankCore discipline.
    */
  private val symEdgesMemo = new graft.Memo[(SparkSession, String, Int), DataFrame](
    "graph.symKnnEdges", _.unpersist(false))
  def symKnnEdgesCached(s: SparkSession, d: String, k: Int): DataFrame =
    symEdgesMemo((s, d, k)) {
      symmetric(graft.sim.Similarity.approxKnnGraphCached(s, d, k))
        .repartition(col("dst")).cache()
    }

  /** The symmetric `(src, dst)` adjacency of an undirected (`id_a`,
    * `id_b`) edge list: both orientations, deduplicated. The loop
    * operators take it as their edge list and join it every round, so
    * callers without the [[symKnnEdgesCached]] memo materialize it.
    */
  def symmetric(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Distributed PageRank over a directed edge list (`src`, `dst`
    * columns). Rank convention sums to N (teleport term `1 − d` per
    * node), so scores are comparable across graph sizes.
    *
    * Scale shape: out-degrees join the edges ONCE and the result is
    * cached already hash-partitioned on `src` (the degree join's own
    * exchange), so each of the `nIter` rounds shuffles only the O(N)
    * rank table — edges never move again. Dangling mass (nodes with no
    * out-edges) is folded back through a 1-row broadcast aggregate
    * inside the plan — no per-iteration driver action. The final state
    * is localCheckpoint-materialized so all intermediates unpersist
    * before returning.
    */
  def pageRank(edges0: DataFrame, nIter: Int = 10, damping: Double = 0.85,
      handleDangling: Boolean = true): DataFrame =
    pageRankCore(edges0, nIter, damping, handleDangling, tol = 0.0)._1

  /** PageRank run to CONVERGENCE: max per-node |rank delta| is probed
    * every 2nd round (the connectedComponents cadence — the probe is a
    * full job, and one extra round past the fixpoint is cheaper than
    * probing every round) and iteration stops once it falls to
    * `tol × N`, or at `maxIter`. Returns (ranks, rounds executed) so
    * callers and specs can see how far the fixpoint actually ran —
    * a fixed round count wastes wall time on converged graphs at any
    * scale, and silently under-converges on slow-mixing ones.
    */
  def pageRankConverged(edges0: DataFrame, maxIter: Int = 40,
      damping: Double = 0.85, tol: Double = 1e-6,
      handleDangling: Boolean = true): (DataFrame, Int) = {
    require(tol > 0, "tol must be positive (use pageRank for fixed rounds)")
    pageRankCore(edges0, maxIter, damping, handleDangling, tol)
  }

  private def pageRankCore(edges0: DataFrame, maxIter: Int, damping: Double,
      handleDangling: Boolean, tol: Double): (DataFrame, Int) = {
    // cache the INPUT edge list first: deg, withDeg and nodes all scan it,
    // and an expensive upstream (e.g. the kNN-graph window) must run once,
    // not three times. A caller-cached input is respected (and not
    // unpersisted on exit).
    val preCached = edges0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val edges =
      if (preCached) edges0.toDF("src", "dst") else edges0.toDF("src", "dst").cache()
    val sess = edges.sparkSession
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes0 = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct()
    val n = nodes0.count()
    // Size the iteration shuffles to the RANK TABLE's volume, not the
    // session default: cached/checkpointed plans don't get AQE's
    // post-shuffle coalescing, so a small graph would otherwise pay
    // nIter × shufflePartitions near-empty tasks. ~50k ranks per
    // partition, capped at 4× the cluster's parallelism for huge graphs.
    // Applied as explicit repartitions on the join/grouping keys — the
    // same plan shape as flipping spark.sql.shuffle.partitions, WITHOUT
    // mutating session-global conf that concurrent queries on the same
    // session would observe mid-flight.
    val parts = math.max(1L, math.min(n / 50000L + 1L,
      sess.sparkContext.defaultParallelism * 4L)).toInt
    // Both loop-invariant tables cache PRE-PARTITIONED at the iteration
    // width — withDeg on src, nodes on id — so the per-round joins
    // exchange only the O(N) rank table (checkpoint truncation erases
    // its partitioning metadata each round, and re-deriving it is
    // exactly the one rank shuffle the algorithm owes); the edge table
    // never moves after this point.
    val withDeg = edges.join(deg, "src").repartition(parts, col("src")).cache()
    val nodes = nodes0.repartition(parts, col("id")).cache()
    var ranks = nodes.withColumn("rank", lit(1.0))
    var matPrev: DataFrame = ranks // last MATERIALIZED state (2 rounds back)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // ONE join + ONE aggregate + ONE keep-every-node join per round.
      // The rank side carries a shuffle-hash hint: broadcasting the O(N)
      // rank table is wrong at scale (it IS the big mutable state), and
      // locally a per-round broadcast costs a driver collect+publish
      // round-trip per iteration. Nodes with no in-edges survive through
      // the left join + coalesce(0) — a union of zero rows would break
      // the id partitioning and force a second exchange per round.
      val inc = withDeg
        .join(ranks.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .repartition(parts, col("id"))
        .groupBy("id")
        .agg(sum("c").as("inc"))
      val contrib = nodes.join(inc.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), coalesce(col("inc"), lit(0.0)).as("inc"))
      // handleDangling=false skips an anti-join + 1-row broadcast PER
      // ITERATION — pass it when the graph has no sink nodes by
      // construction (a kNN graph: every neighbor also has neighbors).
      var next = (if (handleDangling) {
        val danglingMass = ranks
          .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left_anti")
          .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
        contrib.crossJoin(broadcast(danglingMass))
      } else contrib.withColumn("dm", lit(0.0)))
        .select(col("id"),
          (lit(1 - damping) + lit(damping) *
            (col("inc") + col("dm") / n)).as("rank"))
      iter += 1
      // LAZY localCheckpoint EVERY round: each round's Catalyst plan is
      // depth-1 over the previous round's RDD. This is the load-bearing
      // line of the whole loop — left to accumulate, the logical plan
      // grows by one round every iteration and per-round PLANNING cost
      // (analysis + optimization, all driver-side) swamps the actual
      // 2-stage execution; measured here, probe jobs ballooned
      // 2 s → 11 s by round 12 under cache()-only lineage, and stayed
      // flat at ~0.8 s with checkpoint truncation. Lazy (not eager) so
      // the RDD blocks materialize in bulk at the next probe or the
      // terminal action instead of paying one job per round.
      next = next.localCheckpoint(false)
      if (tol > 0 && iter % 2 == 0 && iter < maxIter) {
        // convergence probe — the only materializing action in the loop:
        // compare against the state from 2 rounds back
        val mx = next
          .join(matPrev.withColumnRenamed("rank", "prev").hint("shuffle_hash"), "id")
          .agg(max(abs(col("rank") - col("prev"))).as("mx"))
          .take(1).head.getAs[Double]("mx")
        if (mx <= tol * n) converged = true
        matPrev = next
      }
      ranks = next
    }
    // a convergence exit leaves `ranks` just materialized by its probe —
    // only a maxIter/fixed-round exit still holds a pending lazy tail
    val out = if (converged) ranks else ranks.localCheckpoint()
    withDeg.unpersist()
    nodes.unpersist()
    if (!preCached) edges.unpersist()
    (out, iter)
  }

  // q78 — SIMILARITY-GRAPH CENTRALITY: PageRank over the approximate
  // kNN graph (q57's edges) picks the corpus's most "referenced"
  // vectors — the representative-selection / coreset shape for data
  // curation (a vector many others count among their nearest neighbors
  // is central to its region). Damping 0.85, run to a CONVERGENCE
  // TOLERANCE (max |rank delta over 2 rounds| ≤ 1e-4·N, probed at each
  // materialization) instead of a fixed round count: an already-mixed
  // graph exits in 2 probes, a slow-mixing one keeps going to maxIter.
  // On this graph's ~0.73/round delta decay 1e-4 stops near the old
  // fixed-10 cost; tighter tolerances (the 1e-6 GraphSpec exercises)
  // buy more digits linearly in rounds — that knob is the operator's
  // precision/cost trade, not a hidden constant. Ranks sum to N; the
  // stopping rule and fixpoint are spec-matched round-for-round against
  // a dense driver reference (GraphSpec). Iterative → rows-only; rank
  // rounded to 8 (sum-order jitter) with id tiebreak.
  val q78: QueryDef = QueryDef.rowsOnly("q78_graph_centrality") { (s, d) =>
    val edges = graft.sim.Similarity.approxKnnGraphCached(s, d, 3)
    pageRankConverged(edges, maxIter = 40, damping = 0.85, tol = 1e-4,
      handleDangling = false)._1
      .select(col("id").as("vec_id"), round(col("rank"), 8).as("rank"))
      .orderBy(desc("rank"), asc("vec_id"))
      .limit(20)
  }

  /** Synchronous semi-supervised LABEL PROPAGATION over a symmetric
    * `(src, dst)` edge list ([[symmetric]] or [[symKnnEdgesCached]]):
    * every non-seed node takes, each round, the majority label
    * among its currently-labeled neighbors (ties → count desc then
    * smallest label; seeds stay clamped). Each round is one join of the
    * O(n·k) edge list against the label table + one counted groupBy + one
    * per-node window — all keyed shuffles over bounded O(n·k) rows, no
    * driver-side reads; rounds are driver-paced with a lazy
    * localCheckpoint truncating each round's lineage (q78's pageRank
    * discipline). The data-curation use: stretch a small labeled seed
    * set over an unlabeled corpus via embedding-neighborhood structure.
    *
    * `seeds` must carry (vec_id, label, is_seed) with label null on
    * non-seeds. Returns the final (vec_id, label, is_seed, n_support)
    * state; n_support is the winning vote count from the round the label
    * was last assigned.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, nIter: Int): DataFrame = {
    // The per-vote argmax is an order-free min(struct(-n, label))
    // aggregate instead of a row_number window: identical winner (max
    // count, smallest label on ties), but it aggregates partially
    // map-side and needs no per-round sort (r13).
    var state = seeds
      .select(col("vec_id"), col("label"), col("is_seed"),
        lit(null).cast("long").as("n_support"))
      .localCheckpoint(false)
    for (_ <- 1 to nIter) {
      val votes = edges
        .join(state.filter(col("label").isNotNull)
          .select(col("vec_id").as("dst"), col("label").as("nbr_label")), "dst")
        .groupBy(col("src"), col("nbr_label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("src").as("vec_id"))
        .agg(min(struct((-col("n")).as("nn"), col("nbr_label").as("nbr_label"))).as("m"))
        .select(col("vec_id"), col("m.nbr_label").as("nbr_label"),
          (-col("m.nn")).as("n"))
      state = state.join(votes, Seq("vec_id"), "left")
        .select(
          col("vec_id"),
          when(col("is_seed"), col("label"))
            .otherwise(coalesce(col("nbr_label"), col("label"))).as("label"),
          col("is_seed"),
          when(col("is_seed"), lit(null).cast("long"))
            .otherwise(coalesce(col("n"), col("n_support"))).as("n_support"))
        .localCheckpoint(false)
    }
    state
  }

  // q135 — label propagation as a catalog operator: 20% of vectors
  // (vec_id % 5 = 0) keep their label as seeds, everyone else is
  // unlabeled; 4 synchronous rounds over the q57 kNN graph (shared,
  // cached edge list) spread the seeds through embedding neighborhoods.
  // Output: the propagated (originally unlabeled) nodes with their
  // predicted label and winning vote support. Approximate graph →
  // rows-only; GraphSpec replays the propagation densely on the driver
  // (exact round-for-round match) and pins coverage + seed clamping.
  // (The synthetic corpus's labels are independent of embedding
  // geometry, so accuracy-vs-truth is ~chance here by construction —
  // the spec validates mechanism, not this corpus's label signal.)
  val q135: QueryDef = QueryDef.rowsOnly("q135_label_propagation") { (s, d) =>
    val seeds = graft.Tables.embeddings(s, d)
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("label")).as("label"),
        (col("vec_id") % 5 === 0).as("is_seed"))
    labelPropagation(symKnnEdgesCached(s, d, 3), seeds, nIter = 4)
      .filter(!col("is_seed") && col("label").isNotNull)
      .select(col("vec_id"), col("label").as("pred_label"), col("n_support"))
      .orderBy("vec_id")
  }

  /** Level-synchronous multi-source BFS over a symmetric `(src, dst)`
    * edge list ([[symmetric]] or [[symKnnEdgesCached]]): every seed
    * starts at depth 0, each round the current frontier's unvisited
    * neighbors get depth+1. Returns the final (id, depth) table for all
    * REACHED nodes. Each round is one
    * keyed join of the frontier against the edge list + a distinct +
    * an anti-join against the visited set — all keyed shuffles over
    * O(frontier·k) rows, no driver-side reads beyond the one-count
    * early-exit probe; rounds are driver-paced with lazy localCheckpoint
    * truncating lineage (q78's pageRank discipline). The frontier is the
    * WHOLE level, so rounds = graph diameter, not node count — the
    * level-synchronous shape that scales.
    */
  def bfsLayers(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    var visited = seeds.select(col("id"), lit(0L).as("depth"))
      .localCheckpoint(false)
    var frontier = visited
    var d = 0
    while (d < maxDepth && frontier.limit(1).count() > 0) {
      d += 1
      // the frontier expands through the DST side of the symmetric edge
      // set ({src : dst ∈ frontier} ≡ {dst : src ∈ frontier} — both
      // orientations are present), so the join reuses the memo's `dst`
      // hash partitioning and only the frontier moves
      frontier = frontier
        .join(edges, col("id") === col("dst"))
        .select(col("src").as("id")).distinct()
        .join(visited.select(col("id").as("vid")), col("id") === col("vid"),
          "left_anti")
        .select(col("id"), lit(d.toLong).as("depth"))
        .localCheckpoint(false)
      visited = visited.union(frontier).localCheckpoint(false)
    }
    visited
  }

  // q187 — BFS REACHABILITY LAYERS over the kNN graph (the hop-distance
  // census: how much of the corpus is within h hops of a seed set — the
  // expansion profile that says whether a similarity graph is one
  // well-connected region or islands, and how far label propagation /
  // NSW search can reach from an anchor set). Seeds: vec_id % 250 = 0.
  // Output: nodes per depth + one unreachable row (depth −1) — the
  // O(diameter)-row expansion histogram. Approximate graph → rows-only;
  // GraphSpec replays the BFS densely on the driver, exact
  // layer-for-layer.
  val q187: QueryDef = QueryDef.rowsOnly("q187_bfs_layers") { (s, d) =>
    val seeds = graft.Tables.embeddings(s, d)
      .filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("id"))
    val reached = bfsLayers(symKnnEdgesCached(s, d, 3), seeds, maxDepth = 20)
    val all = graft.Tables.embeddings(s, d).select(col("vec_id").as("id"))
    val withDepth = all
      .join(reached.select(col("id").as("rid"), col("depth")),
        col("id") === col("rid"), "left")
      .select(coalesce(col("depth"), lit(-1L)).as("depth"))
    withDepth.groupBy("depth").agg(count(lit(1)).as("n_nodes"))
      .orderBy("depth")
  }

  /** Triangle census + clustering coefficients over an undirected edge
    * list (`src`, `dst` in either orientation; self-loops and duplicate
    * orientations dropped). Returns ONE row: node/edge/triangle counts,
    * the global (transitivity) coefficient 3·T / open-or-closed triples,
    * and the mean local coefficient over nodes with degree ≥ 2.
    *
    * Scale shape: wedges form by joining the edge list to itself on the
    * shared vertex under the a<b<c total order — each triangle counted
    * exactly once, shuffles keyed on vertex ids, output rows bounded by
    * the wedge count. Per-vertex degree/triangle tables are O(nodes).
    * At hub-skewed 100 TB graphs the standard lever is degree-based
    * orientation (point each edge at its higher-degree endpoint, wedge
    * fan-out O(Σ min(deg)²) instead of O(Σ deg²)); the id-based order
    * here keeps the oracle deterministic and is fine at kNN-bounded
    * degree.
    */
  def triangleStats(edges0: DataFrame): DataFrame = {
    val und = edges0
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = und.select(col("u").as("a"), col("v").as("b"))
      .join(und.select(col("u").as("b"), col("v").as("c")), "b")
      .join(und.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
    val tv = tri.select(col("a").as("node"))
      .union(tri.select(col("b").as("node")))
      .union(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("t"))
    val loc = deg.join(tv, Seq("node"), "left")
      .select(col("deg"), coalesce(col("t"), lit(0L)).as("t"),
        when(col("deg") >= 2,
          lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("deg") * (col("deg") - 1))).as("lcc"))
    val edgeCnt = und.agg(count(lit(1)).as("n_edges"))
    loc.agg(
        count(lit(1)).as("n_nodes"),
        (sum("t") / 3).cast("bigint").as("n_triangles"),
        round(sum("t") / sum(col("deg") * (col("deg") - 1) / 2.0), 6)
          .as("global_cc"),
        round(avg("lcc"), 6).as("avg_local_cc"))
      .crossJoin(edgeCnt)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("global_cc"), col("avg_local_cc"))
  }

  // q141 — TRIANGLE CENSUS of the kNN graph: how clustered is the
  // embedding manifold? High transitivity = tight semantic clusters
  // (dedup/coreset opportunity, q44/q140's hunting ground); a kNN graph
  // near the random-graph floor says the space is spread thin. The edge
  // list comes from the GATED kNN supplier (exact top-3 at or below
  // Regime.ExactKnnMaxRows vectors, seed-IVF cell-blocked above it
  // — the sf1 fix for the measured 18× wall growth of the ungated
  // exact join); DuckDB replays the whole chain (gate → graph build →
  // census) hash-exactly at EVERY scale, because the blocked branch's
  // replay is cell-bounded where the exact one is O(n²).
  val q141: QueryDef = QueryDef.sql(
    "q141_knn_triangles",
    s"""WITH ${graft.sim.Similarity.gatedKnnDuck(3)},
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
      |  FROM knn WHERE id_a <> id_b),
      |deg AS (
      |  SELECT node, count(*) AS deg
      |  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und) x
      |  GROUP BY node),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM und e1
      |  JOIN und e2 ON e2.u = e1.v
      |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
      |tv AS (
      |  SELECT node, count(*) AS t
      |  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |        UNION ALL SELECT c FROM tri) x
      |  GROUP BY node),
      |loc AS (
      |  SELECT d.deg, coalesce(tv.t, 0) AS t,
      |    CASE WHEN d.deg >= 2
      |      THEN 2.0 * coalesce(tv.t, 0) / (d.deg * (d.deg - 1)) END AS lcc
      |  FROM deg d LEFT JOIN tv ON tv.node = d.node)
      |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |  (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
      |  CAST(sum(t) / 3 AS BIGINT) AS n_triangles,
      |  round(sum(t) / sum(deg * (deg - 1) / 2.0), 6) AS global_cc,
      |  round(avg(lcc), 6) AS avg_local_cc
      |FROM loc""".stripMargin) { (s, d) =>
    triangleStats(graft.sim.Similarity.knnEdges(s, d, 3)
      .select(col("id_a").as("src"), col("id_b").as("dst")))
  }

  // q189 — LINK PREDICTION over the kNN graph (the recommender /
  // graph-completion staple: which NON-edges look most like edges —
  // candidates to merge in dedup review, or neighbors an ANN graph
  // build missed): Adamic–Adar over the 2-hop wedge candidates —
  // common neighbors weighted by 1/ln(degree), so a promiscuous hub
  // vouches for less than a selective node. Shape: the edge list comes
  // from the GATED kNN supplier (exact at or below ExactKnnMaxRows,
  // cell-blocked above — the sf1 fix for the 17× exact-tier growth);
  // the wedge self-join keys on the shared MIDDLE vertex (q141's shape,
  // same hub-skew lever), candidate volume is bounded by wedge count
  // O(n·k²), the known-edge anti-join keys on the pair, degrees join
  // back keyed. The per-pair 1/ln(deg) sum is a bounded multi-term
  // double → house rounding; ranking on (rounded score, pair) keeps the
  // top-20 boundary deterministic. DuckDB replays the WHOLE chain from
  // raw embeddings (the gated kNN CTE) hash-exactly at every scale.
  val q189: QueryDef = QueryDef.sql(
    "q189_link_prediction",
    s"""WITH ${graft.sim.Similarity.gatedKnnDuck(3)},
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
      |  FROM knn WHERE id_a <> id_b),
      |adjd AS (SELECT u AS src, v AS dst FROM und
      |         UNION ALL SELECT v AS src, u AS dst FROM und),
      |deg AS (SELECT src AS node, count(*) AS deg FROM adjd GROUP BY src),
      |wedge AS (
      |  SELECT a.dst AS u, b.dst AS v, a.src AS mid
      |  FROM adjd a JOIN adjd b ON a.src = b.src AND a.dst < b.dst),
      |cand AS (
      |  SELECT w.u, w.v, w.mid FROM wedge w
      |  LEFT JOIN und e ON e.u = w.u AND e.v = w.v
      |  WHERE e.u IS NULL),
      |sc AS (
      |  SELECT cand.u, cand.v, CAST(count(*) AS BIGINT) AS common_nbrs,
      |    round(sum(1.0 / ln(deg.deg)), 6) AS adamic_adar
      |  FROM cand JOIN deg ON deg.node = cand.mid
      |  GROUP BY cand.u, cand.v)
      |SELECT u AS id_a, v AS id_b, common_nbrs, adamic_adar
      |FROM sc
      |ORDER BY adamic_adar DESC, id_a, id_b
      |LIMIT 20""".stripMargin) { (s, d) =>
    val und = graft.sim.Similarity.knnEdges(s, d, 3)
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val adj = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = adj.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val wedges = adj.as("a")
      .join(adj.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("u"), col("b.dst").as("v"),
        col("a.src").as("mid"))
    wedges
      .join(und.select(col("u").as("eu"), col("v").as("ev")),
        col("u") === col("eu") && col("v") === col("ev"), "left_anti")
      // keyed join on the middle vertex — deg is O(nodes), so no forced
      // broadcast (AQE promotes it when genuinely small)
      .join(deg, col("mid") === col("node"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common_nbrs"),
        round(sum(lit(1.0) / log(col("deg"))), 6).as("adamic_adar"))
      .select(col("u").as("id_a"), col("v").as("id_b"),
        col("common_nbrs"), col("adamic_adar"))
      .orderBy(desc("adamic_adar"), col("id_a"), col("id_b"))
      .limit(20)
  }

  /** CORENESS (k-core number) of every node via the h-index fixpoint:
    * init c_v = deg(v); each round c_v ← H({c_u : u ~ v}) where H is the
    * h-index (the largest h with ≥ h neighbors at estimate ≥ h). The
    * sequence is monotone non-increasing and its fixpoint IS the k-core
    * decomposition (Lü et al., "The H-index of a network node", 2016) —
    * the distributed replacement for the inherently sequential
    * min-degree peel. `edges` is the symmetric `(src, dst)` list
    * ([[symmetric]] or [[symKnnEdgesCached]]). Returns (states, rounds).
    *
    * The adjacency is built once per call: node → neighbour array,
    * hash-partitioned on the node over the session's shuffle partitions
    * and cached, one id-sorted [[AdjBlock]] per partition. The estimates
    * live beside it, one array per partition aligned with the block's
    * ids. A round is ONE job: every node sends its estimate to its
    * neighbours through one shuffle partitioned like the adjacency, and
    * each partition zips the received estimates with its block and its
    * previous estimates (neither moves), computes the new h-indexes and
    * counts the nodes that changed; summing those counts is the action
    * that materializes the round, so convergence is checked every round
    * at no extra cost. The adjacency and every earlier round's estimates
    * are unpersisted before returning; the last round's stay cached
    * under the returned frame.
    */
  def coreness(edges: DataFrame, maxIter: Int = 40): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val adj = edges.select(col("src"), col("dst")).queryExecution.toRdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupByKey(part)
      .mapPartitions { it =>
        // id-sorted, so a recomputed block lines up with the estimates
        // computed from the cached one
        val (ids, nbrs) = it.map { case (v, ns) => (v, ns.toArray) }.toArray.sortBy(_._1).unzip
        Iterator(AdjBlock(ids, nbrs))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var state: RDD[Cores] =
      adj.map(b => Cores(b.ids, b.nbrs.map(_.length.toLong), b.ids.length.toLong))
    var rounds = 0
    var converged = false
    while (rounds < maxIter && !converged) {
      val prev = state
      val sent = adj.zipPartitions(prev) { (a, s) =>
        val (b, c) = (a.next(), s.next().c)
        b.ids.indices.iterator.flatMap(i => b.nbrs(i).iterator.map(u => (u, c(i))))
      }.partitionBy(part)
      state = adj.zipPartitions(sent, prev) { (a, recv, s) =>
        val (b, c0) = (a.next(), s.next().c)
        val c = hIndexes(b, recv)
        Iterator(Cores(b.ids, c, c.indices.count(i => c(i) != c0(i)).toLong))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      converged = state.map(_.changed).reduce(_ + _) == 0
      prev.unpersist(false)
      rounds += 1
    }
    adj.unpersist(false)
    // The h-index sequence is only the k-core decomposition AT ITS
    // FIXPOINT — a maxIter exit mid-descent is a silently-wrong core
    // assignment (the rows-only histogram check cannot see it), so fail
    // loudly instead. Every round counts its changes, so an unconverged
    // exit is always detected here.
    require(converged,
      s"coreness failed to reach the h-index fixpoint in $maxIter rounds")
    import spark.implicits._
    (state.flatMap(e => e.ids.iterator.zip(e.c.iterator)).toDF("id", "c"), rounds)
  }

  /** One partition of [[coreness]]'s adjacency: its nodes in id order,
    * each with its neighbour ids. */
  private final case class AdjBlock(ids: Array[Long], nbrs: Array[Array[Long]])

  /** One partition's coreness estimates, aligned with its [[AdjBlock]]'s
    * ids, and how many changed in the round that computed them. */
  private final case class Cores(ids: Array[Long], c: Array[Long], changed: Long)

  /** The h-index of each node's received neighbour estimates. Estimates
    * are counted per node by value, capped at the node's degree (on a
    * symmetric list a node receives one estimate per neighbour, so its
    * h-index never exceeds its degree); the h-index is then the largest
    * h whose count of estimates ≥ h reaches h.
    */
  private def hIndexes(b: AdjBlock, recv: Iterator[(Long, Long)]): Array[Long] = {
    val base = new Array[Int](b.ids.length + 1)
    for (i <- b.ids.indices) base(i + 1) = base(i) + b.nbrs(i).length + 1
    val cnt = new Array[Int](base(b.ids.length))
    recv.foreach { case (v, c) =>
      val i = java.util.Arrays.binarySearch(b.ids, v)
      cnt(base(i) + math.min(c, b.nbrs(i).length.toLong).toInt) += 1
    }
    Array.tabulate(b.ids.length) { i =>
      var h = b.nbrs(i).length
      var atLeast = cnt(base(i) + h)
      while (atLeast < h) { h -= 1; atLeast += cnt(base(i) + h) }
      h.toLong
    }
  }

  // q236 — k-core decomposition of the kNN similarity graph (the
  // density audit the graph family lacked: q78 ranks GLOBAL influence,
  // q141 counts LOCAL closure — coreness measures cohesive DEPTH, the
  // standard "is this a real dense community or a hub artifact" filter
  // before trusting any neighborhood-based label spread, and the
  // dedup-review heuristic for picking the densest duplicate
  // neighborhoods first). h-index fixpoint over the shared cached q57
  // edge list (see [[coreness]]); output is the bounded coreness
  // histogram (coreness, n_nodes) — deterministic, iterative → rows-only;
  // GraphSpec replays exact min-degree peeling densely on the driver and
  // matches every node's core number, plus the k-core INVARIANT (every
  // node in the induced max-core subgraph keeps ≥ k_max neighbors).
  val q236: QueryDef = QueryDef.rowsOnly("q236_kcore") { (s, d) =>
    coreness(symKnnEdgesCached(s, d, 3))._1
      .groupBy("c").agg(count(lit(1)).as("n_nodes"))
      .select(col("c").as("coreness"), col("n_nodes"))
      .orderBy(desc("coreness"))
  }

  val all: Seq[QueryDef] = Seq(q78, q135, q141, q187, q189, q236)
}
