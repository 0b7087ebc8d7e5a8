package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag
import graft.QueryDef

/** Graph analytics over engine-derived edge lists (the similarity /
  * dedup graphs the other operator families produce). PageRank is a
  * DataFrame loop over directed edges; connected components, BFS, label
  * propagation and coreness are vertex programs on one [[superstep]]
  * over a cached RDD adjacency, one Spark job per round.
  */
object Graph {

  /** One partition of the [[superstep]]'s adjacency: its nodes in id
    * order, each with its deduplicated neighbour ids. */
  private final case class AdjBlock(ids: Array[Long], nbrs: Array[Array[Long]])

  /** One partition's node states, aligned with its [[AdjBlock]]'s ids,
    * and how many changed in the round that computed them. */
  private final case class States[S](ids: Array[Long], s: Array[S], changed: Long)

  /** The one iterative loop of the vertex programs.
    *
    * The adjacency is built once per call from the undirected (`id_a`,
    * `id_b`) pairs of `edges` (both orientations, neighbours
    * deduplicated) plus every node of `nodes` (one there and in no pair
    * has no neighbours): node → neighbour array, hash-partitioned on the
    * node over the session's shuffle partitions and cached, one id-sorted
    * [[AdjBlock]] per partition. A node's state starts as `init(id, its
    * attribute in nodes, degree)` and lives in one array per partition
    * aligned with the block's ids.
    *
    * A round is ONE job: every node whose `send(round, state)` is defined
    * sends it to each neighbour through one shuffle partitioned like the
    * adjacency, each partition zips what it received with its block and
    * its previous states (neither moves), sets every node to
    * `update(round, state, received)` and counts the nodes that changed;
    * summing those counts is the action that materializes the round, so
    * convergence costs no probe job and no graph state comes to the
    * driver. The loop stops after a round that changes no node, or after
    * `maxRounds`. The adjacency and every earlier round's states are
    * unpersisted before returning; the last round's stay cached under the
    * returned `(id, state)` RDD until the context cleaner reclaims it.
    * Returns (states, rounds, converged).
    */
  private def superstep[A: ClassTag, S: ClassTag, M: ClassTag](
      edges: DataFrame, nodes: RDD[(Long, A)], maxRounds: Int)(
      init: (Long, Option[A], Int) => S,
      send: (Int, S) => Option[M],
      update: (Int, S, Seq[M]) => S): (RDD[(Long, S)], Int, Boolean) = {
    val part = new HashPartitioner(edges.sparkSession.sessionState.conf.numShufflePartitions)
    val ends: RDD[(Long, Either[Long, A])] =
      edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .queryExecution.toRdd
        .flatMap { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          Iterator((a, Left(b)), (b, Left(a)))
        }
    val adj = ends.union(nodes.mapValues(a => Right(a): Either[Long, A]))
      .groupByKey(part)
      .mapPartitions { it =>
        // id-sorted, so a recomputed block lines up with the states
        // computed from the cached one
        val rows = it.toArray.sortBy(_._1)
        val b = AdjBlock(rows.map(_._1),
          rows.map(_._2.collect { case Left(u) => u }.toArray.distinct))
        val s0 = Array.tabulate(rows.length) { i =>
          init(b.ids(i), rows(i)._2.collectFirst { case Right(a) => a }, b.nbrs(i).length)
        }
        Iterator((b, s0))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var state: RDD[States[S]] = adj.map { case (b, s0) => States(b.ids, s0, 0L) }
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val (prev, r) = (state, rounds + 1)
      val sent = adj.zipPartitions(prev) { (a, p) =>
        val (b, s) = (a.next()._1, p.next().s)
        b.ids.indices.iterator.flatMap(i =>
          send(r, s(i)).iterator.flatMap(m => b.nbrs(i).iterator.map(u => (u, m))))
      }.partitionBy(part)
      state = adj.zipPartitions(sent, prev) { (a, recv, p) =>
        val (b, s) = (a.next()._1, p.next().s)
        val inbox = Array.fill(b.ids.length)(List.empty[M])
        recv.foreach { case (v, m) =>
          val i = java.util.Arrays.binarySearch(b.ids, v)
          inbox(i) = m :: inbox(i)
        }
        val next = Array.tabulate(b.ids.length)(i => update(r, s(i), inbox(i)))
        Iterator(States(b.ids, next, b.ids.indices.count(i => next(i) != s(i)).toLong))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      converged = state.map(_.changed).reduce(_ + _) == 0
      prev.unpersist(false)
      rounds = r
    }
    adj.unpersist(false)
    (state.flatMap(p => p.ids.iterator.zip(p.s.iterator)), rounds, converged)
  }

  /** No node attributes: the nodes are the edges' endpoints. */
  private def endpointsOnly(edges: DataFrame): RDD[(Long, Unit)] =
    edges.sparkSession.sparkContext.emptyRDD

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
    * every 2nd round (the probe is a full job, and one extra round past
    * the fixpoint is cheaper than probing every round) and iteration
    * stops once it falls to `tol × N`, or at `maxIter`. Returns (ranks,
    * rounds executed) so callers and specs can see how far the fixpoint
    * actually ran — a fixed round count wastes wall time on converged
    * graphs at any scale, and silently under-converges on slow-mixing
    * ones.
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

  /** Connected components of an undirected (`id_a`, `id_b`) pair list
    * by min-label propagation on the [[superstep]]: every node starts as
    * its own label and each round takes the smallest of its label and
    * its neighbours', until a round changes none. There is no round cap:
    * the fixpoint labels each node with the smallest id of its component
    * (rounds = the longest distance from a node to its component's
    * minimum, plus the round that changes nothing). The cluster step
    * that turns near-dup PAIRS into dedup GROUPS (keep one doc per
    * component). Returns ((id, label) for every endpoint, rounds).
    */
  def connectedComponents(pairs: DataFrame): (DataFrame, Int) = {
    val (labels, rounds, _) =
      superstep[Unit, Long, Long](pairs, endpointsOnly(pairs), Int.MaxValue)(
        (id, _, _) => id, (_, l) => Some(l), (_, l, recv) => recv.foldLeft(l)(math.min))
    (pairs.sparkSession.createDataFrame(labels).toDF("id", "label"), rounds)
  }

  /** A [[labelPropagation]] node's state: its label (None = unlabelled),
    * the winning vote count of the round that last assigned it, and
    * whether it is a clamped seed. */
  private final case class Vote(label: Option[Long], support: Option[Long], seed: Boolean)

  /** Synchronous semi-supervised LABEL PROPAGATION on the [[superstep]]
    * over an undirected (`id_a`, `id_b`) edge list: every non-seed node
    * takes, each round, the majority label among its labelled neighbours
    * (ties → count desc then smallest label; seeds stay clamped; a node
    * with no labelled neighbour keeps its state), for `nIter` rounds or
    * until a round changes nothing. The data-curation use: stretch a
    * small labelled seed set over an unlabelled corpus via
    * embedding-neighbourhood structure.
    *
    * `seeds` must carry (vec_id, label, is_seed) with an integral label,
    * null on non-seeds (a null is_seed counts as false). Nodes of `edges`
    * absent from `seeds` never vote. Returns the final (vec_id, label,
    * is_seed, n_support) of every `seeds` row, and the rounds run;
    * n_support is the winning vote count from the round the label was
    * last assigned.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, nIter: Int): (DataFrame, Int) = {
    val rows = seeds
      .select(col("vec_id").cast("long"), col("label").cast("long"),
        coalesce(col("is_seed"), lit(false)))
      .queryExecution.toRdd
      .map(r => (r.getLong(0),
        Vote(if (r.isNullAt(1)) None else Some(r.getLong(1)), None, r.getBoolean(2))))
    val (votes, rounds, _) = superstep[Vote, Option[Vote], Long](edges, rows, nIter)(
      (_, v, _) => v,
      (_, v) => v.flatMap(_.label),
      (_, v, recv) => v.map { x =>
        if (x.seed || recv.isEmpty) x
        else {
          val (l, n) = recv.groupBy(identity).map { case (l, ls) => (l, ls.size.toLong) }
            .minBy { case (l, n) => (-n, l) }
          Vote(Some(l), Some(n), seed = false)
        }
      })
    (edges.sparkSession
      .createDataFrame(votes.flatMap { case (id, v) => v.map(x => (id, x.label, x.seed, x.support)) })
      .toDF("vec_id", "label", "is_seed", "n_support")
      .withColumn("label", col("label").cast(seeds.schema("label").dataType)), rounds)
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
    labelPropagation(graft.sim.Similarity.approxKnnGraphCached(s, d, 3), seeds, nIter = 4)._1
      .filter(!col("is_seed") && col("label").isNotNull)
      .select(col("vec_id"), col("label").as("pred_label"), col("n_support"))
      .orderBy("vec_id")
  }

  /** Level-synchronous multi-source BFS on the [[superstep]] over an
    * undirected (`id_a`, `id_b`) edge list: every seed (an `id` of
    * `seeds`) starts at depth 0, and each round the nodes the last round
    * reached (its frontier) give their unreached neighbours depth+1. It
    * stops after `maxDepth` rounds or a round that reaches no new node:
    * one round per layer plus the one that finds none.
    * Returns ((id, depth) for every REACHED node, rounds).
    */
  def bfsLayers(edges: DataFrame, seeds: DataFrame, maxDepth: Int): (DataFrame, Int) = {
    val seedIds = seeds.select(col("id").cast("long")).queryExecution.toRdd
      .map(r => (r.getLong(0), ()))
    val (depths, rounds, _) = superstep[Unit, Long, Long](edges, seedIds, maxDepth)(
      (_, seed, _) => if (seed.isDefined) 0L else -1L,
      (r, d) => if (d == r - 1) Some(d) else None,
      (_, d, recv) => if (d < 0 && recv.nonEmpty) recv.head + 1 else d)
    (edges.sparkSession.createDataFrame(depths.filter(_._2 >= 0)).toDF("id", "depth"), rounds)
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
    val reached = bfsLayers(graft.sim.Similarity.approxKnnGraphCached(s, d, 3), seeds,
      maxDepth = 20)._1
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

  /** CORENESS (k-core number) of every node via the h-index fixpoint on
    * the [[superstep]] over an undirected (`id_a`, `id_b`) edge list:
    * init c_v = deg(v); each round c_v ← H({c_u : u ~ v}) where H is the
    * h-index (the largest h with ≥ h neighbours at estimate ≥ h). The
    * sequence is monotone non-increasing and its fixpoint IS the k-core
    * decomposition (Lü et al., "The H-index of a network node", 2016) —
    * the distributed replacement for the inherently sequential
    * min-degree peel. Returns ((id, c), rounds).
    */
  def coreness(edges: DataFrame, maxIter: Int = 40): (DataFrame, Int) = {
    val (cores, rounds, converged) =
      superstep[Unit, Long, Long](edges, endpointsOnly(edges), maxIter)(
        (_, _, deg) => deg.toLong, (_, c) => Some(c), (_, _, recv) => hIndex(recv))
    // The h-index sequence is only the k-core decomposition AT ITS
    // FIXPOINT — a maxIter exit mid-descent is a silently-wrong core
    // assignment (the rows-only histogram check cannot see it), so fail
    // loudly instead.
    require(converged,
      s"coreness failed to reach the h-index fixpoint in $maxIter rounds")
    (edges.sparkSession.createDataFrame(cores).toDF("id", "c"), rounds)
  }

  /** The h-index of a node's received neighbour estimates. A node
    * receives one estimate per neighbour, so its h-index never exceeds
    * their number n; estimates are counted by value, capped at n, and the
    * h-index is the largest h whose count of estimates ≥ h reaches h.
    */
  private def hIndex(est: Seq[Long]): Long = {
    val n = est.length
    val cnt = new Array[Int](n + 1)
    est.foreach(c => cnt(math.min(c, n.toLong).toInt) += 1)
    var h = n
    var atLeast = cnt(h)
    while (atLeast < h) { h -= 1; atLeast += cnt(h) }
    h
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
    coreness(graft.sim.Similarity.approxKnnGraphCached(s, d, 3))._1
      .groupBy("c").agg(count(lit(1)).as("n_nodes"))
      .select(col("c").as("coreness"), col("n_nodes"))
      .orderBy(desc("coreness"))
  }

  val all: Seq[QueryDef] = Seq(q78, q135, q141, q187, q189, q236)
}
