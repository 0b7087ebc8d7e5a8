package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Regime, Tables}
import graft.functions.VectorExprs

/** Similarity search over the `embeddings` vector column (Array[Float],
  * 64-d).
  *
  * Brute-force cosine is the correctness baseline; the scale paths are
  * random-hyperplane LSH (q51: hash each vector once, shuffle by bucket)
  * and IVF (q53: coarse centroids → probe nearest cells → exact rerank) —
  * both bound candidate generation to bucket-local work instead of the
  * O(n·q) full scan.
  *
  * Cosines are rounded to 8 decimals: the dot-product accumulation order
  * is engine-internal, identical to well below 1e-8.
  */
object Similarity {

  /** Deterministic 64-d query vector: qv[i] = ((i·37) mod 19 − 9)/10.
    * Built as a plain literal (not a HOF expression) so projections using
    * it stay inside whole-stage codegen — an interpreted `transform(...)`
    * in the same Project would evict the whole stage from codegen.
    */
  private val qvArray: Array[Double] =
    Array.tabulate(64)(i0 => (((i0 + 1) * 37) % 19 - 9) / 10.0)
  private def qvLit: Column = typedlit(qvArray)
  private val qvDuck = "list_transform(range(1, 65), i -> (CAST((i * 37) % 19 AS DOUBLE) - 9) / 10)"

  private def cosTo(q: Array[Double]): Column =
    round(VectorExprs.cosineSim(col("embedding"), typedlit(q)), 8)
  private def cosToQv: Column = cosTo(qvArray)

  private val cosToQvDuck =
    s"""round(list_sum(list_transform(range(1, 65),
       |      i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * ((CAST((i * 37) % 19 AS DOUBLE) - 9) / 10)))
       |    / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform($qvDuck, x -> x * x)))), 8)""".stripMargin

  // q50 — brute-force cosine top-k against the fixed query vector: one
  // narrow scan, a per-row codegen'd expression, and a global top-k (no
  // full sort shuffle at scale — Spark's TakeOrderedAndProject).
  /** q50's body with the query vector exposed: exact top-`k` by cosine. */
  private[graft] def bruteTopK(s: SparkSession, d: String, k: Int,
      q: Array[Double] = qvArray): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), cosTo(q).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)

  val q50: QueryDef = QueryDef.sql(
    "q50_knn_brute",
    s"""SELECT vec_id, label, $cosToQvDuck AS cos_sim
       |FROM embeddings
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 10""".stripMargin) { (s, d) =>
    bruteTopK(s, d, 10)
  }

  /** 8 deterministic hyperplanes: plane p component i =
    * ((p·131 + i·17) mod 13) − 6. Bucket = Σ 2^p·[dot_p ≥ 0].
    * Planes are literals + codegen'd DotProduct, so bucketing runs as one
    * whole-stage-codegen projection per vector.
    */
  private def plane(p: Int): Array[Double] =
    Array.tabulate(64)(i0 => ((p * 131 + (i0 + 1) * 17) % 13 - 6).toDouble)

  private def bucketCol(emb: Column): Column =
    (0 until 8).map { p =>
      when(VectorExprs.dotProduct(emb, typedlit(plane(p))) >= 0D, 1L << p).otherwise(0L)
    }.reduce(_ + _)

  /** The query vector's bucket, computed driver-side with the identical
    * left-to-right double arithmetic.
    */
  private def qvBucket: Long =
    (0 until 8).map { p =>
      val pl = plane(p)
      var dot = 0.0
      var i = 0
      while (i < 64) { dot += qvArray(i) * pl(i); i += 1 }
      if (dot >= 0) 1L << p else 0L
    }.sum

  private def bucketDuck(embExpr: String): String =
    "list_sum(list_transform(range(0, 8), p -> CASE WHEN " +
      s"list_sum(list_transform(range(1, 65), i -> CAST($embExpr[CAST(i AS INT)] AS DOUBLE) * (CAST(((p * 131) + i * 17) % 13 AS DOUBLE) - 6))) >= 0 " +
      "THEN (1 << p) ELSE 0 END))"

  // q51 — random-hyperplane LSH ANN: vectors sharing the query's bucket,
  // exact-cosine reranked top-5. The bucket id is computed once per vector
  // (shuffle key at scale); same deterministic planes in both engines.
  val q51: QueryDef = QueryDef.sql(
    "q51_ann_lsh",
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding,
       |    CAST(${bucketDuck("embedding")} AS BIGINT) AS bucket
       |  FROM embeddings),
       |q AS (SELECT ${bucketDuck(qvDuck)} AS qbucket)
       |SELECT vec_id, label, bucket, $cosToQvDuck AS cos_sim
       |FROM b, q
       |WHERE bucket = qbucket
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 5""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .withColumn("bucket", bucketCol(col("embedding")))
      .filter(col("bucket") === qvBucket)
      .select(col("vec_id"), col("label"), col("bucket"), cosToQv.as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(5)
  }

  /** The blocked (approx-tier) kNN edge list with q52's exact output
    * contract (id_a, rn, id_b, cos_sim): candidate pairs form only
    * inside shared seed-IVF cells ([[graft.dedup.Dedup.seedCellAssignments]]
    * — √n cells, top-4 multi-assignment, O(n^1.5·m²) pair volume), the
    * cosine is computed INLINE in the cell join (embeddings ride along —
    * no join-back of the pair stream to the corpus, the shape q78's
    * graph build proved ~7× cheaper than q44's rerank join at sf1), the
    * symmetric halving + both-direction explode mirror [[q52TopKAgg]],
    * and the same bounded TopKNbr tail ranks survivors. Duplicate pairs
    * from multi-assignment collapse in one distinct BEFORE the explode:
    * the unordered pair is scored identically in every shared cell (same
    * codegen expression over the same cached rows — bit-identical
    * doubles), so distinct on (lo, hi, cos) is exact dedup.
    */
  private[graft] def blockedKnnEdges(s: SparkSession, d: String, k: Int): DataFrame = {
    val cells = graft.dedup.Dedup.seedCellAssignments(s, d)
    val a = cells.select(col("cell"), col("vec_id").as("lo"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = cells.select(col("cell"), col("vec_id").as("hi"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val scored = a.join(b, Seq("cell"))
      .filter(col("lo") < col("hi"))
      // UNROUNDED cosine, like q52TopKAgg: TopKNbr's ε-slack buffer
      // applies the exact round-8 once per survivor in finish()
      .select(col("lo"), col("hi"),
        (VectorExprs.dotProduct(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b"))).as("cos_sim"))
      .distinct()
    val pairs = scored.select(explode(array(
        struct(col("lo").as("id_a"), col("hi").as("id_b"), col("cos_sim")),
        struct(col("hi").as("id_a"), col("lo").as("id_b"), col("cos_sim")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cos_sim").as("cos_sim"))
    topKNbrTail(pairs, k)
  }

  /** [[blockedKnnEdges]] memoized and cached per (session, corpus, k) —
    * above the gate the same edge table feeds q52, q141 and q189 (k=3),
    * and the blocked build is the dominant cost of each.
    */
  private val knnEdgesMemo = new graft.Memo[(SparkSession, String, Int), DataFrame](
    "sim.knnEdges", _.unpersist())

  /** Gated kNN edge supplier (id_a, rn, id_b, cos_sim): exact
    * [[q52TopKAgg]] at or below `maxExactRows` vectors, cell-blocked
    * [[blockedKnnEdges]] above it ([[graft.Regime.exactKnn]], from the
    * parquet footers — no extra action). Exact-tier results are NOT
    * memoized — small-SF plans and bench numbers are unchanged by the
    * gate; the blocked tier caches its O(n·k) edge table.
    */
  def knnEdges(s: SparkSession, d: String, k: Int,
      maxExactRows: Long = Regime.ExactKnnMaxRows): DataFrame =
    if (Regime.exactKnn(s, d, maxExactRows)) q52TopKAgg(s, d, k = k)
    else knnEdgesMemo((s, d, k))(blockedKnnEdges(s, d, k).cache())

  /** DuckDB replay of [[knnEdges]]: a CTE chain ending in
    * `knn(id_a, rn, id_b, cos_sim)` with BOTH tiers behind the same
    * `count(*)` gate — the exact branch's input empties above
    * [[graft.Regime.ExactKnnMaxRows]] (the filter sits inside the CTE, so
    * the O(n²) join never forms) and the blocked branch's input empties at or
    * below it. Only one branch is ever non-empty; one shared rank
    * window orders the union. The blocked branch replays q44's proven
    * seed→score→cells→candidates chain (feasible in DuckDB at the sf1
    * checkpoint, where the exact replay OOMs), then scores each
    * unordered candidate once and emits both directions — the engine's
    * symmetric halving.
    */
  private[graft] def gatedKnnDuck(k: Int): String =
    s"""nn AS (SELECT count(*) AS n FROM embeddings),
      |v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |vex AS (SELECT * FROM v WHERE (SELECT n FROM nn) <= ${Regime.ExactKnnMaxRows}),
      |exact_pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_sum(list_transform(range(1, 65),
      |        i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)))
      |      / (a.nrm * b.nrm), 8) AS cos_sim
      |  FROM vex a JOIN vex b ON a.vec_id <> b.vec_id),
      |vbl AS (SELECT * FROM v WHERE (SELECT n FROM nn) > ${Regime.ExactKnnMaxRows}),
      |seedsb AS (
      |  SELECT vec_id AS cell, embedding AS semb, nrm AS snrm
      |  FROM (SELECT vec_id, embedding, nrm,
      |          row_number() OVER (ORDER BY vec_id) AS srn,
      |          count(*) OVER () AS bn
      |        FROM vbl) seedsrc
      |  WHERE srn <= greatest(16, CAST(ceil(sqrt(bn)) AS BIGINT))),
      |scoredb AS (
      |  SELECT w.vec_id, s.cell,
      |    round(list_sum(list_transform(range(1, 65),
      |        i -> CAST(w.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(s.semb[CAST(i AS INT)] AS DOUBLE)))
      |      / (w.nrm * s.snrm), 8) AS c
      |  FROM vbl w, seedsb s),
      |cellsb AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cell) AS crn
      |    FROM scoredb) t
      |  WHERE crn <= 4),
      |candb AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM cellsb a JOIN cellsb b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |scored_cand AS (
      |  SELECT c.id_a, c.id_b,
      |    round(list_sum(list_transform(range(1, 65),
      |        i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)))
      |      / (a.nrm * b.nrm), 8) AS cos_sim
      |  FROM candb c JOIN v a ON c.id_a = a.vec_id JOIN v b ON c.id_b = b.vec_id),
      |blocked_pairs AS (
      |  SELECT id_a, id_b, cos_sim FROM scored_cand
      |  UNION ALL SELECT id_b AS id_a, id_a AS id_b, cos_sim FROM scored_cand),
      |knn AS MATERIALIZED (
      |  SELECT id_a, rn, id_b, cos_sim FROM (
      |    SELECT id_a, id_b, cos_sim,
      |      CAST(row_number() OVER (PARTITION BY id_a
      |        ORDER BY cos_sim DESC, id_b) AS INTEGER) AS rn
      |    FROM (SELECT * FROM exact_pairs UNION ALL SELECT * FROM blocked_pairs) u) t
      |  WHERE rn <= $k)""".stripMargin

  // q52 — k-NN graph: top-3 cosine neighbors per vector, GATED by corpus
  // size: the exact all-pairs tier runs only up to ExactKnnMaxRows
  // vectors (where it is the oracle-checkable ground truth AND fits the
  // single-broadcast-chunk regime); above the gate the edge list comes
  // from the cell-blocked approx tier (seed-IVF candidate blocking —
  // O(n^1.5·m²) pair volume, the 10×-checkpoint fix for the measured
  // 21× wall growth of the ungated exact join). The DuckDB oracle
  // replays BOTH branches behind the same count(*) gate, so the hash
  // check stays green at every scale — including sf1, where the exact
  // replay OOMs the oracle engine but the blocked replay (q44's proven
  // CTE chain) does not.
  val q52: QueryDef = QueryDef.sql(
    "q52_knn_self_join",
    s"""WITH ${gatedKnnDuck(3)}
      |SELECT id_a, rn, id_b, cos_sim FROM knn
      |ORDER BY id_a, rn""".stripMargin) { (s, d) =>
    // Below the gate: exact kNN via the chunked broadcast nested-loop
    // join — per-vector norms projected once, each pair one codegen'd
    // dot + divide (bit-identical to CosineSim and the oracle's
    // nrm-product form), per-vector top-3 cut by the BOUNDED TopKNbr
    // object aggregator map-side before the single exchange. Above the
    // gate: candidates form only inside shared seed-IVF cells (the q44
    // blocking quantizer) and the same TopKNbr tail ranks them — the
    // exact tier never touches a corpus it cannot afford.
    knnEdges(s, d, 3)
  }

  // q210 — mutual (reciprocal) k-nearest-neighbor pairs over the gated
  // kNN graph: pairs where a is in b's top-3 AND b is in a's top-3. The
  // embedding-QA staple (mutual-NN pairs are the high-precision subset
  // every matching/near-dup reviewer starts from — asymmetric neighbors
  // are usually hub artifacts) and the classic seed set for
  // correspondence mining. Rides q52's edge supplier unchanged — exact
  // tier at or below the gate, cell-blocked above it, and ABOVE the gate
  // the memoized edge table is shared with q52/q141/q189, so mutuality
  // costs one extra self-join of the O(n·k) edge list keyed on the id
  // pair (skinny rows, never the corpus) plus two ids-only label joins.
  // cos_sim is TopKNbr's round-once-per-survivor value, identical in
  // both directions (same unordered pair, same codegen expression), so
  // selecting the a→b copy is deterministic. same_label joins the
  // corpus labels in AFTER pair formation (ids-only — q41's payload
  // discipline): the mutual-pair label-agreement rate is the
  // embedding-quality number this audit exists to produce.
  val q210: QueryDef = QueryDef.sql(
    "q210_mutual_knn",
    s"""WITH ${gatedKnnDuck(3)},
      |m AS (
      |  SELECT f.id_a, f.id_b, f.rn AS rn_ab, r.rn AS rn_ba, f.cos_sim
      |  FROM knn f JOIN knn r ON r.id_a = f.id_b AND r.id_b = f.id_a
      |  WHERE f.id_a < f.id_b)
      |SELECT m.id_a, m.id_b, m.rn_ab, m.rn_ba, m.cos_sim,
      |  la.label = lb.label AS same_label
      |FROM m JOIN embeddings la ON la.vec_id = m.id_a
      |       JOIN embeddings lb ON lb.vec_id = m.id_b
      |ORDER BY m.id_a, m.id_b""".stripMargin) { (s, d) =>
    val e = knnEdges(s, d, 3)
    val fwd = e.select(col("id_a"), col("id_b"),
      col("rn").as("rn_ab"), col("cos_sim"))
    val rev = e.select(col("id_a").as("rv_a"), col("id_b").as("rv_b"),
      col("rn").as("rn_ba"))
    val m = fwd.join(rev,
        col("rv_a") === col("id_b") && col("rv_b") === col("id_a"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "rn_ab", "rn_ba", "cos_sim")
    val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    m.join(lab.select(col("vec_id").as("id_a"), col("label").as("la")), Seq("id_a"))
      .join(lab.select(col("vec_id").as("id_b"), col("label").as("lb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("rn_ab"), col("rn_ba"),
        col("cos_sim"), (col("la") === col("lb")).as("same_label"))
      .orderBy("id_a", "id_b")
  }

  // q52's per-group top-k runs as graft.functions.TopKNbrAgg — a native
  // TypedImperativeAggregate over primitive buffers (no per-row tuple
  // deserialization, no immutable-List churn) that orders by UNROUNDED
  // cosines with an ε-slack candidate window and applies the exact
  // round-8 once per survivor in eval. See TopKNbrAgg's scaladoc for the
  // ε-equivalence proof.

  /** Upper bound on rows in any single broadcast build chunk of the exact
    * pair join — executor memory for a chunk is O(MaxBuildRows·d), a
    * constant, regardless of table size.
    */
  private val MaxBuildRows = 4096L

  /** q52's implementation: GRID pair join + bounded top-k object
    * aggregation (see [[graft.functions.TopKNbrAgg]]). The build side
    * broadcasts in bounded chunks (hash-assigned, so ~[[MaxBuildRows]]
    * rows each IN EXPECTATION — a skewed hash bucket can exceed it; use
    * ntile over vec_id if a hard cap is required) instead of one
    * whole-table broadcast:
    * the pair SET is identical — ∪_g (probe × chunk_g) covers every
    * ordered pair exactly once — so the result hash is unchanged, but no
    * executor ever holds more than a constant-sized build relation. The
    * probe side is scanned once per chunk (the classic block-nested-loop
    * IO trade: G sequential scans, each cheap and pruned to 3 columns).
    * Map-side partial aggregation cuts every chunk's pair stream to ≤k
    * rows per vector before the single exchange.
    *
    * SYMMETRIC HALVING: cosine is symmetric, so the join enumerates only
    * ordered pairs `a.vec_id < b.vec_id` (each unordered pair lands in
    * exactly one chunk — the one holding its larger id — so the union
    * still covers every pair exactly once) and a generator then emits the
    * pair in BOTH directions from the one computed dot product. The
    * aggregation input is the same n·(n−1) directed-pair stream as
    * before — identical result hash — but the O(d) dot-product work is
    * cut in half. The cos projection materializes BEFORE the explode so
    * Catalyst's CollapseProject cannot duplicate the non-cheap dot
    * product into both struct branches.
    */
  private[graft] def q52TopKAgg(s: SparkSession, d: String,
      maxBuildRows: Long = MaxBuildRows, k: Int = 3): DataFrame = {
    // The exact tier is CAPPED at ExactKnnMaxRows vectors, so its probe
    // side is one or two parquet splits — and the O(n²·d) pair work of
    // the nested-loop join inherits that near-serial scan parallelism
    // (measured at sf0.1: the whole 2M-pair dot-product stage ran as one
    // task). Round-robin the bounded probe side across the cluster
    // first: the exchange moves ≤ 4096 skinny rows — noise — while the
    // quadratic pair stage gains full parallelism (r13; guide §6's
    // scan-parallelism floor, applied where the work is quadratic in the
    // scanned rows).
    val v = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
      sqrt(VectorExprs.dotProduct(col("embedding"), col("embedding"))).as("nrm"))
      .repartition(s.sparkContext.defaultParallelism)
    // the footer row count sizes the grid (no action); n ≤ maxBuildRows
    // keeps the original single-broadcast plan
    val nChunks = math.max(1,
      math.ceil(Regime.embeddings(s, d).toDouble / maxBuildRows).toInt)
    val pairs = (0 until nChunks).map { g =>
      val chunk = v.filter(pmod(xxhash64(col("vec_id")), lit(nChunks)) === g)
      v.as("a")
        .join(broadcast(chunk.as("b")), col("a.vec_id") < col("b.vec_id"))
        // UNROUNDED cosine through the hot path: TopKNbr keeps an ε-safe
        // candidate buffer and applies the exact round-8 once per
        // survivor in finish() — identical output, no per-pair BigDecimal
        .select(col("a.vec_id").as("lo"), col("b.vec_id").as("hi"),
          (VectorExprs.dotProduct(col("a.embedding"), col("b.embedding"))
            / (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
        .select(explode(array(
          struct(col("lo").as("id_a"), col("hi").as("id_b"),
            col("cos_sim")),
          struct(col("hi").as("id_a"), col("lo").as("id_b"),
            col("cos_sim")))).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
          col("p.cos_sim").as("cos_sim"))
    }.reduce(_ unionByName _)
    topKNbrTail(pairs, k)
  }

  /** Shared top-k tail of both kNN tiers: groupBy(id_a) + the bounded
    * TopKNbr object aggregator (map-side partial aggregation cuts any
    * pair stream to ≤k rows per vector before the exchange, no sort),
    * exploded to (id_a, rn, id_b, cos_sim) in (round-8 cos desc, id)
    * order.
    */
  private def topKNbrTail(pairs: DataFrame, k: Int): DataFrame = {
    val topk = org.apache.spark.sql.GraftBridge.column(
      graft.functions.TopKNbrAgg(
        org.apache.spark.sql.GraftBridge.expression(col("cos_sim")),
        org.apache.spark.sql.GraftBridge.expression(col("id_b")),
        k).toAggregateExpression())
    pairs.groupBy("id_a")
      .agg(topk.as("nbrs"))
      .select(col("id_a"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("id_a"), (col("pos") + 1).cast("int").as("rn"),
        col("nbr._2").as("id_b"), col("nbr._1").as("cos_sim"))
      .orderBy("id_a", "rn")
  }

  // q148 — LEAVE-ONE-OUT kNN classification audit (the label-quality /
  // embedding-quality eval every curation loop runs before trusting a
  // labeled set): every vector is classified by majority vote over its 10
  // nearest OTHER vectors (exclusion is structural — the pair join never
  // emits a self-pair), and the per-class accuracy table surfaces which
  // classes the embedding space actually separates. Complements
  // q144_label_noise (nearest-CENTROID disagreement): centroids catch
  // gross bleed, kNN votes catch local manifold confusion centroids
  // average away. Scale shape: neighbor lists come from the GATED kNN
  // supplier (exact grid join + bounded TopKNbr map-side aggregation at
  // or below ExactKnnMaxRows vectors; seed-IVF cell-blocked candidates
  // above it — the vote/rollup stages are unchanged across tiers, and
  // the oracle replays whichever tier the gate picks); labels join
  // broadcast (O(n) but 2 small columns — at
  // cluster scale the label table is a dimension), the vote argmax
  // windows over ≤k rows per key, and the output is O(classes) rows.
  // Determinism: neighbor sets ordered by (round-8 cosine, id) — the
  // q52-proven cross-engine contract; vote ties break to the smallest
  // label; all downstream arithmetic is integer counting + one rounded
  // division.
  val q148: QueryDef = QueryDef.sql(
    "q148_knn_classify",
    s"""WITH ${gatedKnnDuck(10)},
      |lab AS (SELECT vec_id, label FROM embeddings),
      |nbr AS (SELECT id_a, id_b FROM knn),
      |votes AS (
      |  SELECT n.id_a, vb.label AS pred, count(*) AS cnt
      |  FROM nbr n JOIN lab vb ON n.id_b = vb.vec_id
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT id_a, pred FROM (
      |    SELECT id_a, pred,
      |      row_number() OVER (PARTITION BY id_a ORDER BY cnt DESC, pred) AS vr
      |    FROM votes) s WHERE vr = 1)
      |SELECT va.label,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN p.pred = va.label THEN 1 ELSE 0 END) AS BIGINT) AS correct,
      |  round(CAST(sum(CASE WHEN p.pred = va.label THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS accuracy
      |FROM pred p JOIN lab va ON p.id_a = va.vec_id
      |GROUP BY va.label
      |ORDER BY label""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val nbrs = knnEdges(s, d, 10).select("id_a", "id_b")
    val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val votes = nbrs
      .join(broadcast(lab.select(col("vec_id").as("id_b"), col("label").as("pred"))), "id_b")
      .groupBy("id_a", "pred").agg(count(lit(1)).as("cnt"))
    val pred = votes
      .withColumn("vr", row_number().over(
        Window.partitionBy("id_a").orderBy(desc("cnt"), asc("pred"))))
      .filter(col("vr") === 1).select("id_a", "pred")
    pred
      .join(broadcast(lab.select(col("vec_id").as("id_a"), col("label"))), "id_a")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1).otherwise(0)).as("correct"))
      .select(col("label"), col("n"), col("correct"),
        round(col("correct").cast("double") / col("n"), 6).as("accuracy"))
      .orderBy("label")
  }

  /** q156's deterministic sparse JL sign: +1 / −1 / 0 with probability
    * 1/6, 1/6, 2/3 (Achlioptas' database-friendly projection), derived
    * from an engine-portable integer hash of (input dim i0, output dim j)
    * so BOTH engines materialize the identical matrix from the formula —
    * no literal 1024-entry table rides the SQL.
    */
  private[graft] def jlSign(i0: Int, j: Int): Double =
    ((i0.toLong * 2654435761L + j.toLong * 40503L) % 1000003L) % 6L match {
      case 0L => 1.0
      case 1L => -1.0
      case _  => 0.0
    }

  private val JlK = 16
  private val JlScale = math.sqrt(3.0 / JlK)

  // q156 — sparse Johnson–Lindenstrauss projection to 16 dims (the cheap
  // distance-preserving sketch that fronts exact cosine at scale: a 16-d
  // prefilter cuts candidate distance math 4× before the 64-d rerank, the
  // same funnel economics as PQ/SQ8 but with a data-independent map — no
  // training pass, so it applies to a brand-new corpus in the first
  // scan). One codegen'd projection per row (16 DotProducts against
  // ±1/0 literal rows), no shuffle, no model state; E‖y‖² = ‖x‖² under
  // the √(3/k)·{−1,0,+1} scaling. The oracle recomputes every output
  // dim from the same integer sign formula inside the DuckDB lambda —
  // matrix equality is structural, not copied literals.
  val q156: QueryDef = QueryDef.sql(
    "q156_jl_projection", {
      val dims = (0 until JlK).map { j =>
        s"""round($JlScale * list_sum(list_transform(range(1, 65),
           |    i -> CASE ((CAST(i AS BIGINT) - 1) * 2654435761 + $j * 40503) % 1000003 % 6
           |      WHEN 0 THEN CAST(embedding[CAST(i AS INT)] AS DOUBLE)
           |      WHEN 1 THEN -CAST(embedding[CAST(i AS INT)] AS DOUBLE)
           |      ELSE 0.0 END)), 6) AS p$j""".stripMargin
      }.mkString(",\n  ")
      s"""SELECT vec_id,
         |  $dims
         |FROM embeddings
         |ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    val cols = (0 until JlK).map { j =>
      val plane = Array.tabulate(64)(i0 => jlSign(i0, j))
      round(lit(JlScale) * VectorExprs.dotProduct(col("embedding"), typedlit(plane)), 6)
        .as(s"p$j")
    }
    Tables.embeddings(s, d)
      .select(col("vec_id") +: cols: _*)
      .orderBy("vec_id")
  }

  /** Floor on the number of IVF cells a query probes. */
  val IvfNProbe = 6

  /** Probe width for a `k`-cell quantizer: a fixed FRACTION (1/2) of the
    * cells with a floor of [[IvfNProbe]] — as the cell count scales with
    * the corpus (Centroids.k ∝ √n), the probed row count stays ~(m/k)·n
    * and recall holds instead of collapsing as k outgrows a fixed probe
    * budget. The fraction is recall-calibrated over a MEAN of in-corpus
    * queries, not one fixed query (single-query recall@10 moves 0.1 per
    * missed neighbor — pure sample noise): at 3/8 the mean sat at
    * 0.89-0.90 across two independently generated 500-vector corpora —
    * exactly at the bar, no margin; at 1/2 it measures 0.944/0.961
    * (OperatorSemanticsSpec's mean-recall tests are the regression bar).
    */
  def ivfNProbe(k: Int): Int = math.max(IvfNProbe, math.ceil(k / 2.0).toInt)

  /** |c|² of a centroid — plan-literal constant. */
  private def sqNorm(c: Array[Double]): Double = {
    var x = 0.0
    var i = 0
    while (i < c.length) { x += c(i) * c(i); i += 1 }
    x
  }

  /** The query's `nProbe` nearest cells under the quantizer's (spherical)
    * Euclidean metric, computed driver-side (O(k·d) math over the
    * centroid matrix). The query vector is normalized like the training
    * vectors were.
    */
  private[graft] def probeCells(cents: Array[Array[Double]], nProbe: Int,
      q: Array[Double] = qvArray): Seq[Int] = {
    val qn = math.sqrt(sqNorm(q))
    cents.indices.sortBy { ci =>
      val c = cents(ci)
      var dot = 0.0
      var i = 0
      while (i < c.length) { dot += q(i) / qn * c(i); i += 1 }
      (-(2 * dot - sqNorm(c)), ci)
    }.take(nProbe)
  }

  // q53 — IVF ANN over the TRAINED coarse quantizer (q33's fitted KMeans
  // centroids, shared via graft.ml.Centroids). Cell assignment is one
  // codegen'd argmax projection against centroid literals — no crossJoin,
  // no window, no shuffle: argmin_c |x−c|² = argmax_c (2·x·c − |c|²), so
  // each row scores k dot products inside whole-stage codegen and
  // `array_max` picks the cell (ties break to the lowest cell id via the
  // negated-id struct field). The query probes its nProbe nearest cells
  // (driver-side O(k·d)), members are exact-cosine reranked, and the
  // global top-10 is a TakeOrderedAndProject — one scan, zero exchanges
  // before the final top-k.
  /** q53's body with the recall knob and query vector exposed: top-`k`
    * by exact cosine over the members of the query's `nProbe` nearest
    * cells.
    */
  private[graft] def ivfTopK(s: SparkSession, d: String, nProbe: Int, k: Int,
      q: Array[Double] = qvArray): DataFrame = {
    val cents = graft.ml.Centroids.centers(s, d)
    // spherical assignment: argmin_c |x/‖x‖ − c|² = argmax_c (2·x·c/‖x‖ − |c|²),
    // one referenced-object fused loop (VectorExprs.CellArgmax — the
    // per-centroid literal structs broke codegen past k ≈ 100)
    val probes = probeCells(cents, nProbe, q)
    Tables.embeddings(s, d)
      .withColumn("cell_id", VectorExprs.cellArgmax(col("embedding"), cents))
      .filter(col("cell_id").isin(probes: _*))
      .select(col("vec_id"), col("label"), col("cell_id"), cosTo(q).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  val q53: QueryDef = QueryDef.rowsOnly("q53_ivf_ann") { (s, d) =>
    ivfTopK(s, d, ivfNProbe(graft.ml.Centroids.centers(s, d).length), 10)
  }

  /** BATCH IVF probe: every query's top-`k` by exact cosine over the
    * members of its `nProbe` nearest cells — all queries in ONE
    * distributed plan (no per-query driver loop, no per-query job). The
    * query side scores cells with the same codegen'd centroid-literal
    * expressions as the corpus side (explode + per-qid window over
    * Q·cells rows), the Q·nProbe probe table BROADCASTS onto the
    * cell-keyed corpus scan, and the final per-query top-k is a window
    * over each query's probed-cell members. At 100 TB with the persisted
    * cell-partitioned index the cell join prunes to probed partitions;
    * the corpus is never shuffled — the nswBatchSearch posture for the
    * flat-IVF tier.
    */
  private[graft] def ivfBatchTopK(s: SparkSession, d: String, queries: DataFrame,
      k: Int, nProbeOpt: Int = -1,
      centsOverride: Array[Array[Double]] = null): DataFrame = {
    // centsOverride lets FixedCodebookSpec drive this exact operator body
    // with a forced frozen-tier codebook; the catalog always passes null
    // and reads the gated production quantizer.
    val cents = if (centsOverride != null) centsOverride
      else graft.ml.Centroids.centers(s, d)
    val nProbe = if (nProbeOpt > 0) nProbeOpt else ivfNProbe(cents.length)
    // query and corpus sides score cells with the SAME referenced-object
    // numerics (VectorExprs.CellScores/CellArgmax — the per-centroid
    // literal structs broke codegen past k ≈ 100)
    val byCellScore = Window.partitionBy("qid").orderBy(desc("s"), asc("cell_id"))
    val probes = queries
      .select(col("qid"), col("qvec"),
        posexplode(VectorExprs.cellScores(col("qvec"), cents))
          .as(Seq("cell_id", "s")))
      .withColumn("rk", row_number().over(byCellScore))
      .filter(col("rk") <= nProbe)
      .select("qid", "qvec", "cell_id")
    // Per-query top-k as the bounded TopKNbr aggregate, not a row_number
    // window (r14, VERDICT-r13 item 4): the scored join output is
    // ~Q·nProbe·(N/cells) rows — QUADRATIC in corpus size with the
    // ceil(cells/2) probe budget — and the window exchanged + sorted all
    // of it per qid (at sf10: ~190M scored rows through one exchange, the
    // 198 s decade-grower). The aggregate's map-side partials cut each
    // task's stream to ≤k rows per qid before the ONE exchange of
    // O(Q·k) partials; no sort. Ordering is identical: the window ranked
    // by (round-8 cos desc, vec_id asc), and TopKNbr ranks survivors by
    // (round-8 cos desc, id asc) with an ε-slack buffer (the q203/q52
    // precedent, oracle hash-green there) — `label` rides packed into the
    // id as (vec_id << 4) | label, monotone in vec_id (labels are 0..9,
    // spec-pinned; vec_id < 2^40), so ties break exactly as before.
    // fanOutWide: the quadratic per-row kernel (cellArgmax + cosine per
    // probed pair) must not run serial on an unsplit scan — past the
    // fan-out gate the corpus round-robins once; identity at 100 TB
    // (splits > cores) and at bench SFs (2000 rows — measured: fanning
    // out sub-second kernels is a wall regression).
    val topk = org.apache.spark.sql.GraftBridge.column(
      graft.functions.TopKNbrAgg(
        org.apache.spark.sql.GraftBridge.expression(col("c")),
        org.apache.spark.sql.GraftBridge.expression(col("pid")),
        k).toAggregateExpression())
    Regime.fanOutWide(Tables.embeddings(s, d), Regime.embeddings(s, d))
      .withColumn("cell_id", VectorExprs.cellArgmax(col("embedding"), cents))
      .join(broadcast(probes), "cell_id")
      .select(col("qid"),
        (shiftleft(col("vec_id"), 4) + col("label")).as("pid"),
        VectorExprs.cosineSim(col("embedding"), col("qvec")).as("c"))
      .groupBy("qid").agg(topk.as("nbrs"))
      .select(col("qid"), explode(col("nbrs")).as("nbr"))
      .select(col("qid"),
        shiftright(col("nbr._2"), 4).as("vec_id"),
        col("nbr._2").bitwiseAND(lit(15L)).cast("int").as("label"),
        col("nbr._1").as("cos_sim"))
      .orderBy(asc("qid"), desc("cos_sim"), asc("vec_id"))
  }

  // q133 — the batch IVF probe as a catalog operator: every ~53rd corpus
  // vector queries at once (a disjoint stride from q102's NSW batch).
  // Approximate by design → rows-only; per-query parity with the
  // single-query ivfTopK and the mean-recall bar are spec-asserted.
  val q133: QueryDef = QueryDef.rowsOnly("q133_ivf_batch_ann") { (s, d) =>
    val queries = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(53L)) === lit(2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfBatchTopK(s, d, queries, 10)
  }

  // q158 — IVF RECALL CURVE audit (the operational "how much probe budget
  // does this index need" measurement a serving team reads before pinning
  // nProbe — q145 audits the MinHash sketch the same way): a ~1/37
  // hash-picked in-corpus query sample gets (a) exact top-10 ground truth
  // from ONE broadcast pair pass (O(corpus·sample) rows — the sampled
  // truth is the affordable version of the exact tier at any scale) and
  // (b) the batch IVF probe at doubling nProbe levels up to ALL cells;
  // per-level recall joins the two id sets. Every stage is the q133
  // machinery — no per-query jobs; cost is O(levels) corpus scans, the
  // documented price of an audit that runs rarely. Output is O(levels)
  // rows; recall at nProbe = cells is structurally 1.0 (same scoring
  // expression, same tie order) — the spec's exactness anchor, with
  // monotone-in-nProbe as the curve invariant.
  val q158: QueryDef = QueryDef.rowsOnly("q158_ivf_recall_curve") { (s, d) =>
    val cents = graft.ml.Centroids.centers(s, d)
    val queries = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(37L)) === lit(1L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // exact ground truth via the bounded TopKNbr aggregate instead of a
    // per-qid row_number window (r14): the sampled pair stream is
    // O(corpus·sample) — the window exchanged and sorted all of it, the
    // aggregate ships ≤10 rows per (qid, task). Identical ranking
    // ((round-8 cos desc, vec_id asc) — q203 precedent); fanOutWide
    // parallelizes the pair kernel past the corpus gate, identity below
    // it and at cluster scale.
    val topkE = org.apache.spark.sql.GraftBridge.column(
      graft.functions.TopKNbrAgg(
        org.apache.spark.sql.GraftBridge.expression(col("c")),
        org.apache.spark.sql.GraftBridge.expression(col("vec_id")),
        10).toAggregateExpression())
    val exact = Regime.fanOutWide(Tables.embeddings(s, d), Regime.embeddings(s, d))
      .crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        VectorExprs.cosineSim(col("embedding"), col("qvec")).as("c"))
      .groupBy("qid").agg(topkE.as("nbrs"))
      .select(col("qid"), explode(col("nbrs")).as("nbr"))
      .select(col("qid"), col("nbr._2").as("vec_id"))
    val levels = (Seq(1, 2, 4, 8).filter(_ < cents.length) :+ cents.length)
    val perLevel = levels.map { np =>
      val hits = ivfBatchTopK(s, d, queries, 10, np)
        .select(col("qid"), col("vec_id"))
        .join(exact, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      // anchor on the query set so an (impossible-in-theory) zero-hit
      // query still counts a 0.0 recall instead of vanishing
      queries.select("qid").join(hits, Seq("qid"), "left")
        .select(lit(np).as("n_probe"),
          (coalesce(col("hits"), lit(0L)).cast("double") / 10.0).as("recall"))
    }.reduce(_ unionByName _)
    perLevel.groupBy("n_probe")
      .agg(count(lit(1)).cast("long").as("n_queries"),
        round(avg("recall"), 6).as("mean_recall"),
        round(min("recall"), 6).as("min_recall"))
      .orderBy("n_probe")
  }

  /** ADC lookup table: the query's squared distance to every PQ code,
    * computed driver-side (O(sub·codes·subDim) math over the codebooks).
    */
  private def adcTable(books: Array[Array[Array[Double]]],
      q: Array[Double] = qvArray): Array[Double] = {
    val nSub = graft.ml.Centroids.PqSub
    val nCodes = graft.ml.Centroids.PqCodes
    val subDim = 64 / nSub
    val qn = math.sqrt(sqNorm(q))
    Array.tabulate(nSub * nCodes) { idx =>
      val sub = idx / nCodes
      val c = idx % nCodes
      var dist = 0.0
      var i = 0
      while (i < subDim) {
        val dd = q(sub * subDim + i) / qn - books(sub)(c)(i)
        dist += dd * dd
        i += 1
      }
      dist
    }
  }

  /** Approximate (ADC) distance of a `codes` row: one native fused-loop
    * expression ([[graft.functions.AdcScore]]) with the distance table
    * attached once as a referenced object — identical left-to-right sum
    * to the previous 8-element_at formulation, without embedding the
    * 128-double literal 8× in the plan.
    */
  private def adcCol(table: Array[Double]): Column =
    VectorExprs.adcScore(col("codes"), table,
      graft.ml.Centroids.PqSub, graft.ml.Centroids.PqCodes)

  // q54 — PRODUCT-QUANTIZATION ANN: every vector compresses to 8 code
  // bytes (8 subspaces × 16 trained centroids each, spherical) — at
  // 100 TB this is the operator that makes the vector store fit in
  // memory: the scan reads 8 bytes + a 128-entry lookup table instead of
  // 256 float bytes per row. The codes come from the PERSISTED index
  // table (built once per corpus snapshot by the codegen'd [[PqEncode]]
  // projection — no RDD pass, no per-query re-encode; plan-asserted in
  // PlanSpec). Scoring is asymmetric-distance (ADC): the query
  // precomputes its squared distance to every code driver-side
  // (O(sub·codes·subDim) math), each row's approximate distance is 8
  // table lookups (one codegen'd fold), the ADC candidates come out of a
  // TakeOrderedAndProject, and the final top-10 is an exact cosine
  // rerank over those rows only. Pure PQ scans every cell's codes (no
  // IVF filter) — q55/q56 add the cell-pruned probe.
  /** ADC rerank budget: the candidate funnel between the compressed scan
    * and the exact rerank. A FIXED budget silently loses recall as the
    * corpus grows — with 8×4-bit codes the quantization error exceeds
    * the distance gaps between near-duplicate cluster members, so ADC
    * scores tie in cluster-sized groups and a constant-width funnel
    * covers ever fewer DISTINCT clusters as n grows (measured at the r9
    * sf1 checkpoint: recall@10 fell 0.7 → 0.0 at 10× with budget 100).
    * Keeping the funnel a constant FRACTION of the corpus (10% of the
    * count, floor 100, cap 10000) keeps cluster coverage — and
    * therefore recall — stable under growth; the
    * rerank stays O(budget), tiny either way. The fraction is 10%: with
    * 32-bit codes (8 subspaces × 4 bits) quantized distance only
    * supports coarse pruning — the r9 sf1 measurement put the true
    * top-10's ADC ranks at ~4% of the corpus, so 2% missed them
    * entirely (recall 0.0) while 10% covers them with margin. A funnel
    * this wide is what a 32-bit codebook honestly buys; shrinking it
    * means growing the code (more subspaces/bits), not wishing the
    * budget smaller.
    */
  private[graft] def adcBudget(s: SparkSession, d: String): Int =
    math.min(10000L, math.max(100L, Regime.embeddings(s, d) / 10L)).toInt

  /** q54's body with the query vector exposed: full-scan ADC
    * corpus-proportional funnel + exact rerank to top-`k`.
    */
  private[graft] def pqTopK(s: SparkSession, d: String, k: Int,
      q: Array[Double] = qvArray): DataFrame = {
    val books = graft.ml.Centroids.pqCodebooks(s, d) // [nSub][nCodes][subDim]
    val cand = s.table(indexTable(s, d))
      .select(col("vec_id"), adcCol(adcTable(books, q)).as("adc"))
      .orderBy(asc("adc"), asc("vec_id"))
      .limit(adcBudget(s, d))
    // exact rerank over the funnel survivors only
    Tables.embeddings(s, d)
      .join(broadcast(cand), "vec_id")
      .select(col("vec_id"), col("label"), round(col("adc"), 6).as("adc"),
        cosTo(q).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  val q54: QueryDef = QueryDef.rowsOnly("q54_pq_ann") { (s, d) =>
    pqTopK(s, d, 10)
  }

  // q55 — IVF+PQ: the composed billion-scale ANN shape. Every vector
  // stores (cell_id, 8 PQ code bytes); the query probes its nProbe
  // nearest trained cells, ADC-scores ONLY the probed cells' members
  // (8 table lookups per row over a pruned scan), and exact-reranks the
  // top-100 survivors. Combines q53's partition pruning with q54's
  // memory compression — the inverted-list file layout at 100 TB
  // partitions the store BY cell_id so the probe reads only matching
  // files.
  /** One-pass compressed-index build: each vector's (cell_id, codes) row —
    * spherical coarse-cell argmin + per-subspace PQ codes on the
    * normalized vector, both as [[graft.functions.PqEncode]] columns in a
    * SINGLE codegen'd projection (the cell assigner is PqEncode with
    * `nSub = 1, subDim = 64` over the flattened centroid matrix). A pure
    * DataFrame plan — columnar scan, column pruning, whole-stage codegen;
    * no RDD pass (plan-asserted in PlanSpec). Output is an int + 8 small
    * ints per row, the O(n) compressed representation everything
    * downstream probes.
    */
  /** Encode (vec_id, embedding) rows against a FROZEN quantizer +
    * codebooks: one codegen'd projection producing (vec_id, cell_id,
    * codes). Shared by the full-corpus build and the incremental append —
    * both epochs of an index must encode with the same cells or probes
    * would mix geometries.
    */
  private[graft] def encodeVectors(vecs: DataFrame,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val nSub = graft.ml.Centroids.PqSub
    val nCodes = graft.ml.Centroids.PqCodes
    val subDim = 64 / nSub
    vecs.select(
      col("vec_id"),
      VectorExprs.pqEncode(col("embedding"), cents.flatten, 1, cents.length, 64)
        .getItem(0).as("cell_id"),
      VectorExprs.pqEncode(col("embedding"), books.flatten.flatten, nSub, nCodes, subDim)
        .as("codes"))
  }

  private[graft] def compressedIndex(s: SparkSession, d: String): DataFrame =
    encodeVectors(Tables.embeddings(s, d).select("vec_id", "embedding"),
      graft.ml.Centroids.centers(s, d), graft.ml.Centroids.pqCodebooks(s, d))

  /** ADC probe over a compressed-index DataFrame: filter to the query's
    * probed cells, 8-lookup ADC score, top-100 TakeOrdered, then exact
    * cosine rerank of the 100 survivors for the final top-10.
    */
  private[graft] def probeCompressed(s: SparkSession, d: String, index: DataFrame,
      q: Array[Double] = qvArray): DataFrame = {
    val cents = graft.ml.Centroids.centers(s, d)
    val books = graft.ml.Centroids.pqCodebooks(s, d)
    val probes = probeCells(cents, ivfNProbe(cents.length), q)
    val cand = index
      .filter(col("cell_id").isin(probes: _*))
      .select(col("vec_id"), col("cell_id"), adcCol(adcTable(books, q)).as("adc"))
      .orderBy(asc("adc"), asc("vec_id"))
      .limit(adcBudget(s, d)) // corpus-proportional funnel — see adcBudget
    Tables.embeddings(s, d)
      .join(broadcast(cand), "vec_id")
      .select(col("vec_id"), col("label"), col("cell_id"), cosTo(q).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(10)
  }

  val q55: QueryDef = QueryDef.rowsOnly("q55_ivfpq_ann") { (s, d) =>
    probeCompressed(s, d, compressedIndex(s, d))
  }

  /** Materialize the compressed index as a catalog table PARTITIONED BY
    * cell_id — the inverted-list file layout: a probe's
    * `cell_id IN (...)` filter becomes PartitionFilters at the scan, so
    * only the probed cells' files are read (and the per-vector encode
    * cost is paid once per corpus snapshot, not per query). The dedup
    * family's persisted-signature-table treatment, applied to ANN.
    */
  def writeIndexTable(s: SparkSession, d: String, table: String): Unit =
    compressedIndex(s, d).write.mode("overwrite")
      .partitionBy("cell_id")
      // external table under the session's OWN warehouse dir (not a
      // shared java.io.tmpdir): a fresh session can overwrite files left
      // by a previous JVM (a managed table would refuse the orphaned
      // location — the catalog is per-JVM, the files are not)
      .option("path", s"${s.sessionState.conf.warehousePath}/graft-annindex/$table")
      .saveAsTable(table)

  /** INCREMENTAL index maintenance: append a new batch of (vec_id,
    * embedding) rows to an existing persisted index table — the
    * corpus-refresh path (q48's incremental-dedup posture applied to
    * ANN). The batch is encoded with the snapshot's FROZEN quantizer and
    * codebooks (same cells, same geometry), and the append writes only
    * the batch's cell partitions: existing partitions are never
    * rewritten, re-shuffled, or even read — O(batch) work per refresh.
    * Probes over the table then see old + new vectors identically
    * (spec-asserted equal to a one-shot build over the union).
    */
  def appendToIndexTable(s: SparkSession, d: String, table: String,
      batch: DataFrame): Unit =
    encodeVectors(batch.select("vec_id", "embedding"),
      graft.ml.Centroids.centers(s, d), graft.ml.Centroids.pqCodebooks(s, d))
      .select("vec_id", "codes", "cell_id") // partition column last
      .write.mode("append").insertInto(table)

  /** The session's persisted index table for `d`, built on first use.
    * The table name carries a SHA-256 prefix of the CANONICAL corpus
    * path (collision-free, unlike a 32-bit hashCode) and the data lives
    * under the session's own warehouse dir, so two corpora — or two
    * concurrent sessions with different warehouses — never share or
    * clobber a table. Registered with [[graft.Memos]].
    */
  private val indexMemo = new graft.Memo[(SparkSession, String), String]("sim.ivfIndex")
  private[graft] def indexTable(s: SparkSession, d: String): String =
    indexMemo((s, d)) {
      val t = s"graft_ann_idx_${graft.Memos.pathToken(d)}"
      writeIndexTable(s, d, t)
      t
    }

  // q56 — IVF+PQ over the PERSISTED index: identical search to q55, but
  // the probe reads the cell_id-partitioned index table, so the scan
  // prunes to the probed cells' partitions (PartitionFilters — asserted
  // in PlanSpec) and the encode is amortized across queries. This is the
  // production read path; q55 demonstrates the one-shot build+search.
  val q56: QueryDef = QueryDef.rowsOnly("q56_ann_index_probe") { (s, d) =>
    probeCompressed(s, d, s.table(indexTable(s, d)))
  }

  /** The ADC probe pipeline shared by [[annProbe]] (batch) and
    * [[annProbeStream]] (streaming) — identical code path, so the
    * streaming spec's per-batch-equals-batch check is equality of the
    * same plan over the same rows. `queries`: (query_id long,
    * qvec array<double>).
    *
    * Per query row, entirely IN-ROW (no driver work per query):
    *   1. probe-cell selection — one projection scoring every centroid
    *      literal, ordered exactly like the driver-side [[probeCells]]
    *      (normalized dot, ties to the lower cell id);
    *   2. an equi-join on cell_id to the compressed index (stream-static
    *      when `queries` is a stream) — each query meets only its probed
    *      cells' code rows, the inverted-list read pattern;
    *   3. ADC scoring via the in-row [[graft.functions.AdcScoreVec]]
    *      (bit-identical to the driver-table batch path);
    *   4. a bounded per-query top-k object aggregation
    *      ([[graft.functions.TopKNbrAgg]] on −distance — map-side
    *      partials cut the candidate stream to k per query before the
    *      exchange; in streaming this is the stateful update-mode agg).
    * Output: (query_id, rank, vec_id, adc) — adc rounded to 8 (the
    * aggregate's ε-safe rounding).
    */
  private[graft] def probeScored(queries: DataFrame, index: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nProbe: Int, k: Int): DataFrame = {
    val nSub = graft.ml.Centroids.PqSub
    val nCodes = graft.ml.Centroids.PqCodes
    val subDim = 64 / nSub
    val qdiv = VectorExprs.l2Normalize(col("qvec"))
    // probe list in one referenced-object projection (same codegen-limit
    // story as ivfBatchTopK; stays a pure projection for the stream path)
    val topk = org.apache.spark.sql.GraftBridge.column(
      graft.functions.TopKNbrAgg(
        org.apache.spark.sql.GraftBridge.expression(col("nadc")),
        org.apache.spark.sql.GraftBridge.expression(col("vec_id")),
        k).toAggregateExpression())
    queries
      .withColumn("qdiv", qdiv)
      .withColumn("cell_id",
        explode(VectorExprs.topCellsByScore(col("qdiv"), cents, nProbe)))
      .select(col("query_id"), col("qvec"), col("cell_id"))
      .join(index, "cell_id")
      .select(col("query_id"), col("vec_id"),
        (-VectorExprs.adcScoreVec(col("qvec"), col("codes"),
          books.flatten.flatten, nSub, nCodes, subDim)).as("nadc"))
      .groupBy("query_id")
      .agg(topk.as("cand"))
      .select(col("query_id"), posexplode(col("cand")).as(Seq("pos", "c")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("c._2").as("vec_id"), (-col("c._1")).as("adc"))
  }

  /** Batch ANN probe for a DataFrame of query vectors over the persisted
    * cell-partitioned index — the equality oracle for the streaming path.
    */
  def annProbe(s: SparkSession, d: String, queries: DataFrame, k: Int = 100): DataFrame =
    probeScored(queries, s.table(indexTable(s, d)),
      graft.ml.Centroids.centers(s, d), graft.ml.Centroids.pqCodebooks(s, d),
      ivfNProbe(graft.ml.Centroids.centers(s, d).length), k)

  /** STREAMING ANN probe: a stream of (query_id, qvec) rows stream-static
    * joins the persisted cell-partitioned index — in-stream cell
    * assignment, in-row ADC scoring, per-query top-k as the update-mode
    * stateful aggregation. The static index side is never re-shuffled per
    * batch; per-query cost is O(probed cells' rows). Pairs with
    * Dedup.streamDupFlags as the streaming face of the persisted-index
    * pattern. Exercised by StreamAnnSpec (per-batch results == [[annProbe]]
    * on the same rows, and the fixed query's rerank == q56).
    */
  def annProbeStream(s: SparkSession, d: String, queries: DataFrame,
      k: Int = 100): DataFrame =
    annProbe(s, d, queries, k)

  /** Approximate kNN graph (id_a, id_b): candidate pairs form only inside
    * shared seed-IVF cells (Dedup's blocking quantizer), then top-k per
    * vector by exact cosine with the map-side WindowGroupLimit cut — the
    * O(n²·m²/cells) scale path for graph consumers (q35's neighbor
    * embedding) where the exact q52 graph would cost the full O(n²).
    *
    * Side `a` is hash-repartitioned on `cell` into the session's shuffle
    * partitions. The cached assignments inherit the corpus's partition
    * count — ONE at sf0.1 (a single parquet file) — and the broadcast
    * join streams side `a`, so without the repartition the cell join,
    * all 1.4M dot products and the map-side window cut would run as ONE
    * task at sf0.1 while the other cores idle. At sf1 and above the
    * planner picks a sort-merge join, which requires exactly this hash
    * partitioning on `cell`: the repartition stands in for the join's
    * own exchange there, so it adds no shuffle (QuantizerSpec pins the
    * exchange count with broadcast joins off). The edge set does not
    * depend on partitioning.
    */
  def approxKnnGraph(s: SparkSession, d: String, k: Int): DataFrame = {
    // embeddings ride along with the cell assignment, so the whole graph
    // is ONE shuffle on the cell key + ONE window on id_a (map-side
    // group-limited); duplicate pairs from multi-assignment share a
    // dense_rank, and the final distinct is over the tiny O(n·k) output.
    val cells = graft.dedup.Dedup.seedCellAssignments(s, d)
    val a = cells.select(col("cell"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("cell"))
    val b = cells.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val w = Window.partitionBy("id_a").orderBy(desc("cos_sim"), asc("id_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorExprs.dotProduct(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")), 8).as("cos_sim"))
      .withColumn("rk", dense_rank().over(w))
      .filter(col("rk") <= k)
      .select("id_a", "id_b")
      .distinct()
  }

  /** [[approxKnnGraph]] cached once per (session, dir, k) — the edge
    * list is consumed by q57 (the graph itself), q78 (centrality over
    * it) and the q135/q187/q236 graph loops, and its window+join would
    * otherwise recompute per consumer.
    */
  private val knnGraphMemo = new graft.Memo[(SparkSession, String, Int), DataFrame](
    "sim.knnGraph", _.unpersist())
  def approxKnnGraphCached(s: SparkSession, d: String, k: Int): DataFrame =
    knnGraphMemo((s, d, k))(approxKnnGraph(s, d, k).cache())

  // q57 — the kNN graph's documented SCALE path as a first-class catalog
  // entry: candidate pairs form only inside shared seed-IVF cells (one
  // shuffle on the cell key — O(n²·m²/cells) pair volume instead of
  // q52's exact O(n²)), top-k per vector cut map-side by
  // WindowGroupLimit. Approximate by design → rows-only; recall ≥ 0.6
  // vs the exact q52 graph is asserted in OperatorSemanticsSpec
  // (measured ~0.76 at sf0.001-0.01).
  val q57: QueryDef = QueryDef.rowsOnly("q57_approx_knn_graph") { (s, d) =>
    approxKnnGraphCached(s, d, 3).orderBy("id_a", "id_b")
  }

  // q58 — CELL-BALANCED sampling: the cluster-quota data-selection shape
  // (cap each embedding-space region's contribution so dense regions
  // don't dominate the training mix). Primary cell = argmax cosine over
  // the max(16, ⌈√n⌉) deterministic seed vectors (one codegen'd
  // projection — the DuckDB oracle replays the corpus-scaled seeds
  // exactly, like q44), then the first `QuotaPerCell` vectors per cell
  // by vec_id. One shuffle on the cell key; the per-cell cap is a
  // map-side WindowGroupLimit at scale.
  private val QuotaPerCell = 5
  val q58: QueryDef = QueryDef.sql(
    "q58_balanced_sample",
    s"""WITH ${graft.dedup.Dedup.seedsDuck},
      |v AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT v.vec_id, v.label, s.cell,
      |    round(list_sum(list_transform(range(1, 65),
      |        i -> CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(s.semb[CAST(i AS INT)] AS DOUBLE)))
      |      / (v.nrm * s.snrm), 8) AS c
      |  FROM v, seeds s),
      |prim AS (
      |  SELECT vec_id, label, cell FROM (
      |    SELECT vec_id, label, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cell) AS rn
      |    FROM scored) t
      |  WHERE rn = 1)
      |SELECT cell, vec_id, label FROM (
      |  SELECT cell, vec_id, label,
      |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
      |  FROM prim) t
      |WHERE rn <= $QuotaPerCell
      |ORDER BY cell, vec_id""".stripMargin) { (s, d) =>
    val seeds = graft.dedup.Dedup.seedVectors(s, d)
    // primary cell in ONE referenced-object projection (m = 1 of the
    // shared TopCellsByCosine — same (c DESC, cell ASC) order the old
    // max-(rounded cos, −cell)-struct literals encoded, without the k
    // literal expressions that broke codegen past k ≈ 100)
    val prim = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        element_at(VectorExprs.topCellsByCosine(col("embedding"),
          seeds.map(_._1), seeds.map(_._2), 1), 1).getField("cell").as("cell"))
    val w = Window.partitionBy("cell").orderBy("vec_id")
    prim
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= QuotaPerCell)
      .select("cell", "vec_id", "label")
      .orderBy("cell", "vec_id")
  }

  // q38 — embedding-space OUTLIER detection, the vector-side curation
  // filter (drop points far from any dense region before training):
  // primary cell = argmax cosine over the corpus-scaled seed quantizer
  // (ONE codegen'd projection, like q58), per-cell mean distance is an
  // O(cells)-row aggregate broadcast back, and a vector is an outlier
  // when its distance exceeds 1.15× its cell's mean (the synthetic
  // embeddings are homogeneous — ~top decile; real corpora use 1.5-2×). The corpus itself
  // never shuffles — the only exchange carries one row per cell.
  // Determinism: cosines rounded to 8 before 1−c, the per-cell mean to 6;
  // 1.5× a rounded double is exact in both engines.
  val q38: QueryDef = QueryDef.sql(
    "q38_embedding_outliers",
    s"""WITH ${graft.dedup.Dedup.seedsDuck},
      |v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT v.vec_id, s.cell,
      |    round(list_sum(list_transform(range(1, 65),
      |        i -> CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(s.semb[CAST(i AS INT)] AS DOUBLE)))
      |      / (v.nrm * s.snrm), 8) AS c
      |  FROM v, seeds s),
      |prim AS (
      |  SELECT vec_id, cell, c FROM (
      |    SELECT vec_id, cell, c,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cell) AS rn
      |    FROM scored) t
      |  WHERE rn = 1),
      |stats AS (
      |  SELECT cell, round(avg(1 - c), 6) AS mean_dist FROM prim GROUP BY cell)
      |SELECT p.vec_id, p.cell, 1 - p.c AS dist, s.mean_dist
      |FROM prim p JOIN stats s ON p.cell = s.cell
      |WHERE 1 - p.c > 1.15 * s.mean_dist
      |ORDER BY p.vec_id""".stripMargin) { (s, d) =>
    // top-1 rows of the SESSION-CACHED shared quantizer assignments
    // (crank = 1 under (c DESC, cell ASC) — the argmax) instead of
    // re-running the k-seed projection: q38 shares the one cached
    // pipeline with q44/q57/q35
    val prim = graft.dedup.Dedup.seedCellAssignments(s, d)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cell"), (lit(1) - col("c")).as("dist"))
    val stats = prim.groupBy("cell")
      .agg(round(avg(col("dist")), 6).as("mean_dist"))
    prim.join(broadcast(stats), "cell")
      .filter(col("dist") > lit(1.15) * col("mean_dist"))
      .select(col("vec_id"), col("cell"), col("dist"), col("mean_dist"))
      .orderBy("vec_id")
  }

  // q59 — DOMAIN-MIX resampling: reweight the corpus to a uniform
  // per-language target by keep/drop alone — the data-mixing operator of a
  // training pipeline. Each row keeps with probability p_s = min_cnt/cnt_s
  // decided by a DETERMINISTIC engine-portable hash threshold on doc_id
  // (no rand(), replayable), and surviving rows carry weight = cnt_l/min_cnt
  // (inverse keep probability). ZERO shuffles over the corpus: the only
  // aggregations produce an O(groups)-row count table and a 1-row min,
  // both broadcast — at 100 TB this is a single map-side pass.
  val q59: QueryDef = QueryDef.sql(
    "q59_domain_mix",
    """WITH stats AS (
      |  SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |m AS (SELECT min(cnt) AS minc FROM stats)
      |SELECT d.doc_id, d.lang, CAST(s.cnt AS DOUBLE) / m.minc AS weight
      |FROM documents d JOIN stats s ON d.lang = s.lang CROSS JOIN m
      |WHERE (d.doc_id * 1103515245 + 12345) % 2147483647
      |      < CAST(floor(CAST(m.minc AS DOUBLE) / s.cnt * 2147483647) AS BIGINT)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val stats = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
    val minc = stats.agg(min(col("cnt")).as("minc"))
    docs.join(broadcast(stats), "lang").crossJoin(broadcast(minc))
      .filter(((col("doc_id") * 1103515245L + 12345L) % 2147483647L)
        < floor(col("minc").cast("double") / col("cnt") * 2147483647L).cast("long"))
      .select(col("doc_id"), col("lang"),
        (col("cnt").cast("double") / col("minc")).as("weight"))
      .orderBy("doc_id")
  }

  /** Per-dimension SQ8 quantization stats (min, scale) for the corpus,
    * trained once per (session, dir). The aggregate shuffles O(dim ×
    * partitions) partial min/max rows (map-side combine collapses the
    * posexplode stream before the exchange); the driver holds dim-sized
    * arrays only. `scale` is floored at 1e-9 so constant dimensions
    * cannot divide by zero.
    */
  private val sqMemo = new graft.Memo[
    (SparkSession, String), (Array[Double], Array[Double])]("sim.sqStats")
  private[graft] def sqStats(s: SparkSession, d: String): (Array[Double], Array[Double]) =
    sqMemo((s, d)) {
      val statsCap = 8192
      val rows = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
        .orderBy("pos")
        .take(statsCap)
      // one (mn, mx) row per dimension — a silent truncation here would
      // train a short stats table and the per-dim element_at lookups
      // would error (ANSI) or null out past its end, so refuse loudly
      require(rows.length < statsCap,
        s"embedding dimensionality >= $statsCap exceeds the SQ8 stats read")
      val mn = rows.map(_.getAs[Double]("mn"))
      val scale = rows.map(r =>
        math.max((r.getAs[Double]("mx") - r.getAs[Double]("mn")) / 255.0, 1e-9))
      (mn, scale)
    }

  /** Materialize the SQ8 code table — (vec_id, codes array<tinyint>),
    * code = round((x − mn_d)/scale_d) − 128 under the per-dim trained
    * range. Unlike the IVF index there is no cell structure: SQ8 search
    * is a brute scan over CODES, so the whole point of the tier is I/O —
    * the candidate stage reads one byte per dimension instead of the
    * raw float vector, and the encode cost is paid once per corpus
    * snapshot, not per query (q56's persisted-table treatment; round 4
    * quantized inline from the raw floats, which left the scan reading
    * the full vectors and the 4× compression living only in registers).
    */
  def writeSq8Table(s: SparkSession, d: String, table: String): Unit = {
    val (mn, scale) = sqStats(s, d)
    val mnL = typedlit(mn)
    val scL = typedlit(scale)
    val codes = transform(col("embedding"), (x, i) =>
      greatest(lit(-128), least(lit(127),
        round((x.cast("double") - element_at(mnL, i + 1)) /
          element_at(scL, i + 1)).cast("int") - 128)).cast("tinyint"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), codes.as("codes"))
      .write.mode("overwrite")
      // external table under the session's own warehouse dir — the
      // writeIndexTable rationale (Memos tokens, per-JVM catalog)
      .option("path", s"${s.sessionState.conf.warehousePath}/graft-sq8/$table")
      .saveAsTable(table)
  }

  private val sq8Memo = new graft.Memo[(SparkSession, String), String]("sim.sq8Table")
  private[graft] def sq8Table(s: SparkSession, d: String): String =
    sq8Memo((s, d)) {
      val t = s"graft_sq8_${graft.Memos.pathToken(d)}"
      writeSq8Table(s, d, t)
      t
    }

  /** q77's candidate stage: approximate-cosine top-50 over the PERSISTED
    * code table. The scan reads (vec_id, codes) only — PlanSpec asserts
    * no `embedding` column appears anywhere in this stage's plan. The
    * approximate cosine folds the dequantization into query-side
    * constants (dot = Σ q_d·mn_d + Σ (c_d+128)·q_d·scale_d), one
    * zip_with/aggregate pair inside whole-stage codegen, then top-50 via
    * TakeOrderedAndProject.
    */
  private[graft] def sq8Candidates(s: SparkSession, d: String): DataFrame = {
    val (mn, scale) = sqStats(s, d)
    val mnL = typedlit(mn)
    val scL = typedlit(scale)
    // query-side constants: dot(q, dequant(c)) = bias + Σ (c_d+128)·wq_d
    val wq = qvArray.zip(scale).map { case (q, sc) => q * sc }
    val bias = qvArray.zip(mn).map { case (q, m) => q * m }.sum
    val qnorm = math.sqrt(sqNorm(qvArray))
    val adot = lit(bias) + aggregate(
      zip_with(col("codes"), typedlit(wq),
        (c, w) => (c.cast("double") + 128.0) * w),
      lit(0.0), (a, x) => a + x)
    val dq = transform(col("codes"), (c, i) =>
      element_at(mnL, i + 1) + (c.cast("double") + 128.0) * element_at(scL, i + 1))
    val nsq = aggregate(dq, lit(0.0), (a, x) => a + x * x)
    val acos = when(nsq > 0, adot / (lit(qnorm) * sqrt(nsq)))
    s.table(sq8Table(s, d))
      .select(col("vec_id"), acos.as("approx_cos"))
      .where(col("approx_cos").isNotNull)
      .orderBy(desc("approx_cos"), asc("vec_id"))
      .limit(50)
  }

  // q77 — SCALAR-QUANTIZED (SQ8) ANN: the 4×-compression tier between
  // raw floats and PQ codes (q54). Vectors are stored one byte per
  // dimension in the persisted code table ([[writeSq8Table]]); the
  // candidate scan reads codes ONLY (¼ the bytes — the compression pays
  // at the I/O layer, where it matters at 100 TB), and the exact rerank
  // fetches just the 50 surviving raw vectors by a broadcast id join —
  // the point-lookup read pattern of a real index. Byte math is
  // deterministic but engine-specific in layout → rows-only + the
  // recall ≥ 0.9 spec vs exact q50.
  val q77: QueryDef = QueryDef.rowsOnly("q77_sq8_ann") { (s, d) =>
    sq8Candidates(s, d).join(Tables.embeddings(s, d), "vec_id")
      .select(col("vec_id"), col("label"), cosToQv.as("cos_sim"),
        round(col("approx_cos"), 8).as("approx_cos"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(10)
  }

  // q79 — WEIGHTED reservoir sampling (Efraimidis–Spirtas A-Res): each
  // doc draws key = ln(u)/w from a deterministic uniform u (the q59 LCG
  // hash) and weight w = n_chars; the global top-k by key IS a weighted
  // sample without replacement — longer docs proportionally likelier.
  // One scan + TakeOrderedAndProject (partition heaps, driver merges k
  // rows): no shuffle of the corpus, the distributed-sampling shape that
  // holds at any scale. Keys round to 6 BEFORE ranking in both engines
  // (ln ulp — q65 precedent) with doc_id tie-break, so selection is
  // engine-identical and the oracle replays it exactly.
  val q79: QueryDef = QueryDef.sql(
    "q79_weighted_sample",
    """SELECT doc_id, w, k FROM (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
      |    round(ln((CAST((doc_id * 1103515245 + 12345) % 2147483647 AS DOUBLE) + 1)
      |          / 2147483648.0) / n_chars, 6) AS k
      |  FROM documents) t
      |ORDER BY k DESC, doc_id
      |LIMIT 100""".stripMargin) { (s, d) =>
    val u = ((col("doc_id") * 1103515245L + 12345L) % 2147483647L)
      .cast("double") + 1.0
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("double").as("w"),
        round(log(u / 2147483648.0) / col("n_chars"), 6).as("k"))
      .orderBy(desc("k"), asc("doc_id"))
      .limit(100)
  }

  // q98 — HYBRID RETRIEVAL: the lexical→semantic two-stage ranker (the
  // RAG / data-curation "select documents like this query" shape).
  // Stage 1: BM25 (q69) picks the lexical top-100 — at 100 TB this is
  // the cheap wide funnel (one broadcast stats row, no corpus shuffle);
  // stage 2 joins ONLY those 100 to their embeddings (AQE broadcasts
  // the 100-row side; the embedding table is probed, never scanned into
  // a shuffle) and reranks by cosine to the fixed query vector. Both
  // stages and the join replay exactly in DuckDB.
  val q98: QueryDef = QueryDef.sql(
    "q98_hybrid_retrieval",
    s"""WITH ${graft.text.TextAnalysis.bm25Duck},
       |top AS (
       |  SELECT doc_id, bm25 FROM bm
       |  ORDER BY bm25 DESC, doc_id LIMIT 100)
       |SELECT t.doc_id, t.bm25, $cosToQvDuck AS cos_sim
       |FROM top t JOIN embeddings ON vec_id = t.doc_id
       |ORDER BY cos_sim DESC, t.doc_id
       |LIMIT 20""".stripMargin) { (s, d) =>
    val top = graft.text.TextAnalysis.q69.fn(s, d)
      .orderBy(desc("bm25"), asc("doc_id")).limit(100)
    top.join(Tables.embeddings(s, d), top("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("bm25"), cosToQv.as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("doc_id"))
      .limit(20)
  }

  // q208 — RECIPROCAL-RANK FUSION of the lexical and semantic rankers
  // (the other half of hybrid retrieval: q98 CASCADES lexical→semantic,
  // which can only rerank what BM25 already surfaced; RRF FUSES two
  // independent top-k lists so a doc the lexical ranker missed entirely
  // can still win on semantic rank — the standard ensemble in every
  // production search stack, score = Σ 1/(K + rank_i), K = 60).
  // Determinism: ranks are row_number over each BOUNDED top-100 list
  // (bm25/cosine ties broken by doc_id — the q98-proven orders), the
  // fused score is a sum of at most two IEEE divisions of exact small
  // integers evaluated in fixed order (lexical term first), rounded
  // once for the output boundary; docs missing from a list contribute
  // nothing for it (COALESCE 0 — the rank-only convention, no score
  // normalization to disagree on). Scale shape: both funnels are
  // corpus-shuffle-free (BM25 = broadcast stats + TakeOrdered; cosine =
  // codegen'd literal-vector projection + TakeOrdered); everything after
  // is a full-outer join of two 100-row tables — O(1) at any corpus
  // size.
  val q208: QueryDef = QueryDef.sql(
    "q208_rrf_fusion",
    s"""WITH ${graft.text.TextAnalysis.bm25Duck},
       |lex AS (
       |  SELECT doc_id, bm25,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
       |  FROM (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100)),
       |sem AS (
       |  SELECT vec_id AS doc_id, cos_sim,
       |    row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r_sem
       |  FROM (SELECT vec_id, $cosToQvDuck AS cos_sim
       |        FROM embeddings ORDER BY cos_sim DESC, vec_id LIMIT 100))
       |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       |  lex.r_lex, sem.r_sem,
       |  round(COALESCE(1.0 / (60 + lex.r_lex), 0)
       |      + COALESCE(1.0 / (60 + sem.r_sem), 0), 8) AS rrf
       |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |ORDER BY rrf DESC, doc_id
       |LIMIT 20""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val lex = graft.text.TextAnalysis.q69.fn(s, d)
      .orderBy(desc("bm25"), asc("doc_id")).limit(100)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(desc("bm25"), asc("doc_id"))))
      .select(col("doc_id"), col("r_lex"))
    val sem = bruteTopK(s, d, 100)
      .withColumn("r_sem",
        row_number().over(Window.orderBy(desc("cos_sim"), asc("vec_id"))))
      .select(col("vec_id").as("sdoc_id"), col("r_sem"))
    lex.join(sem, col("doc_id") === col("sdoc_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("sdoc_id")).as("doc_id"),
        col("r_lex"), col("r_sem"),
        round(coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0)), 8).as("rrf"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(20)
  }

  // ──────────────────── NSW graph ANN (q100) ────────────────────────

  /** Within-cell / hub-layer kNN degree of the NSW adjacency. */
  private[graft] val NswM = 8
  private[graft] val NswBuckets = 32

  private def nswEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        sqrt(VectorExprs.dotProduct(col("embedding"), col("embedding"))).as("nrm"))

  /** Primary-cell membership and one HUB per quantizer cell — the
    * member MOST CENTRAL to its cell (max cosine to the cell seed, id
    * tiebreak), so the hub actually represents the region it portals
    * into. ≈ √n hubs (the cell count scales ⌈√n⌉).
    */
  private def nswCells(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val assign = graft.dedup.Dedup.seedCellAssignments(s, d)
      .select(col("vec_id"), col("cell"), col("c"), col("crank"))
    val hubs = assign.filter(col("crank") === 1)
      .groupBy("cell")
      .agg(max(struct(col("c"), (-col("vec_id")).as("negid"))).as("m"))
      .select(col("cell"), (-col("m.negid")).as("hub"))
    // members portal to their TWO nearest cells' hubs: a boundary vector
    // whose own cell hub routes poorly for a query is still reachable
    // through the neighboring region's hub
    (assign.filter(col("crank") <= 2).select("vec_id", "cell"), hubs)
  }

  /** The 2-layer navigable-small-world adjacency: (src, dst, emb, nrm)
    * with the DESTINATION vector denormalized onto the edge — graph-ANN
    * storage keeps vectors with the adjacency so a search hop reads
    * exactly one table. Three undirected edge families:
    *   (a) top-[[NswM]] within-cell cosine neighbors (the O(n²/cells)
    *       approxKnnGraph build), symmetrized — the local web;
    *   (b) member ↔ its cell's hub — region portals (hub degree is the
    *       cell population, O(√n): the same per-probe row volume as an
    *       IVF cell read);
    *   (c) hub ↔ hub top-[[NswM]] cosine links (√n hubs broadcast-join
    *       — O(n) pairs once, at build time) — the coarse routing layer
    *       that lets greedy search cross regions in one hop.
    * A round-4-style uniform random rewiring was measured first and
    * dropped: recall fell to 0.4-0.5 at sf0.1 because random links
    * don't follow the similarity gradient; the hub layer restores
    * navigability with the same asymptotic edge count.
    */
  private[graft] def buildNswAdjacency(s: SparkSession, d: String): DataFrame = {
    val emb = nswEmb(s, d)
    val knn = approxKnnGraph(s, d, NswM)
    val (cells, hubs) = nswCells(s, d)
    val memberHub = cells.join(hubs, "cell")
      .filter(col("vec_id") =!= col("hub"))
      .select(col("vec_id").as("id_a"), col("hub").as("id_b"))
    val hubVecs = hubs.join(emb, col("hub") === col("vec_id"))
      .select(col("hub"), col("embedding"), col("nrm"))
    val hw = Window.partitionBy("id_a").orderBy(desc("cos"), asc("id_b"))
    val hubHub = hubVecs
      .select(col("hub").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
      .join(broadcast(hubVecs.select(col("hub").as("id_b"),
        col("embedding").as("eb"), col("nrm").as("nb"))), col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorExprs.dotProduct(col("ea"), col("eb")) / (col("na") * col("nb")))
          .as("cos"))
      .withColumn("rk", dense_rank().over(hw))
      .filter(col("rk") <= NswM)
      .select("id_a", "id_b")
    val undirected = (df: DataFrame) => df.unionByName(
      df.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    undirected(knn).unionByName(undirected(memberHub))
      .unionByName(undirected(hubHub))
      .distinct()
      .join(emb.withColumnRenamed("vec_id", "id_b"), "id_b")
      .select(col("id_a").as("src"), col("id_b").as("dst"),
        col("embedding").as("emb"), col("nrm"),
        // the physical layout key: src's bucket as a PARTITION column,
        // so a hop's frontier filter prunes directories at the scan
        // (q56's cell_id treatment — a bucketBy layout is ignored here
        // because the planner auto-disables bucketed reading for scans
        // with no join/aggregate on the bucket key)
        pmod(col("id_a"), lit(NswBuckets.toLong)).as("pbucket"))
  }

  /** Persist the NSW graph: the adjacency partitioned on `pbucket`
    * (= src mod [[NswBuckets]] — a hop's `pbucket IN (...)` filter
    * becomes PartitionFilters at the scan, plan-asserted) and the ≈√n
    * hub vectors as the tiny entry-layer table, so entry selection
    * scans √n rows instead of the corpus.
    */
  def writeNswTables(s: SparkSession, d: String, adjTable: String,
      entryTable: String): Unit = {
    buildNswAdjacency(s, d).write.mode("overwrite")
      .partitionBy("pbucket")
      .option("path",
        s"${s.sessionState.conf.warehousePath}/graft-nsw/$adjTable")
      .saveAsTable(adjTable)
    val (_, hubs) = nswCells(s, d)
    hubs.join(nswEmb(s, d), col("hub") === col("vec_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .write.mode("overwrite")
      .option("path",
        s"${s.sessionState.conf.warehousePath}/graft-nsw/$entryTable")
      .saveAsTable(entryTable)
  }

  private val nswMemo = new graft.Memo[(SparkSession, String), (String, String)]("sim.nswTables")
  private[graft] def nswTables(s: SparkSession, d: String): (String, String) =
    nswMemo((s, d)) {
      val tok = graft.Memos.pathToken(d)
      val t = (s"graft_nsw_adj_$tok", s"graft_nsw_entry_$tok")
      writeNswTables(s, d, t._1, t._2)
      t
    }

  /** One search hop: the frontier's out-edges scored against the query —
    * a partition-pruned scan of the adjacency (PlanSpec asserts the
    * frontier's pbucket IN (...) lands in PartitionFilters), never a
    * pass over the corpus.
    */
  private[graft] def nswHop(s: SparkSession, d: String,
      frontier: Seq[Long], adjTable: Option[String] = None,
      qv: Array[Double] = qvArray): DataFrame = {
    val qn = math.sqrt(sqNorm(qv))
    val buckets = frontier.map(_ % NswBuckets).distinct
    s.table(adjTable.getOrElse(nswTables(s, d)._1))
      .filter(col("pbucket").isin(buckets: _*) && col("src").isin(frontier: _*))
      .select(col("dst"),
        (VectorExprs.dotProduct(col("emb"), typedlit(qv)) / (col("nrm") * lit(qn)))
          .as("cos"))
  }

  /** Greedy beam search over the persisted NSW graph. Per-query work is
    * sub-linear in corpus size: an O(√n) entry scan, then at most
    * `maxHops` hops × `expand` expanded nodes, each contributing its
    * out-edges — O(M) for a member, O(cell population) = O(√n) for a
    * hub — so a search touches O(hops·expand·√n) rows where every flat
    * ANN tier scans Ω(n). That recall-per-row economics is the whole
    * point of graph ANN. Driver state (beam, visited set) is a few
    * hundred ids; every per-hop read is a bounded `take` asserted
    * non-truncated. Deterministic: all orderings tie-break on id.
    * Returns (top-k, nodes visited).
    */
  private[graft] def nswSearch(s: SparkSession, d: String, k: Int,
      beam: Int = 96, expand: Int = 8, maxHops: Int = 20,
      tables: Option[(String, String)] = None,
      qv: Array[Double] = qvArray): (Seq[(Long, Double)], Int) = {
    val (adjT, entryT) = tables.getOrElse(nswTables(s, d))
    val qn = math.sqrt(sqNorm(qv))
    // seed the WHOLE beam from the hub layer (the entry scan is O(√n)
    // either way): if a region disappoints, the queue falls back to the
    // next-best hub instead of dead-ending — IVF multi-probe ordering,
    // but adaptive
    val entry = s.table(entryT)
      .select(col("vec_id"),
        (VectorExprs.dotProduct(col("embedding"), typedlit(qv)) / (col("nrm") * lit(qn)))
          .as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .take(beam)
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val visited = scala.collection.mutable.Set[Long](entry.map(_._1): _*)
    val expanded = scala.collection.mutable.Set[Long]()
    var best = entry.sortBy { case (id, c) => (-c, id) }
    // HNSW's ef-search queue, batched: each hop expands the `expand`
    // BEST NOT-YET-EXPANDED beam members (not merely last hop's
    // arrivals — a hop that betters nothing must not end the search
    // while promising beam nodes remain unexplored)
    def pickFrontier(): Seq[Long] =
      best.collect { case (id, _) if !expanded.contains(id) => id }.take(expand)
    // ef-search termination: once the current top-k are all expanded and
    // the best unexpanded candidate scores below the k-th, another hop
    // can only shuffle ranks past k — stop. (Strict <: an unexpanded
    // tie with the k-th still gets its hop. The batch search applies
    // the IDENTICAL rule per query — parity is spec-asserted.)
    def converged(): Boolean = {
      val kth = best(math.min(k, best.length) - 1)._2
      best.take(k).forall { case (id, _) => expanded.contains(id) } &&
        best.collectFirst { case (id, c) if !expanded.contains(id) => c }
          .forall(_ < kth)
    }
    var frontier = pickFrontier()
    var hops = 0
    while (hops < maxHops && frontier.nonEmpty && !converged()) {
      expanded ++= frontier
      val perHopCap = 1 << 16
      val rows = nswHop(s, d, frontier, Some(adjT), qv).take(perHopCap)
      require(rows.length < perHopCap, "NSW hop read overflow")
      val fresh = rows.map(r => r.getLong(0) -> r.getDouble(1))
        .filter { case (id, _) => !visited.contains(id) }
        .groupBy(_._1).map { case (id, g) => id -> g.map(_._2).max }.toSeq
      visited ++= fresh.map(_._1)
      best = (best ++ fresh).sortBy { case (id, c) => (-c, id) }.take(beam)
      frontier = pickFrontier()
      hops += 1
    }
    (best.take(k), visited.size)
  }

  /** INCREMENTAL NSW maintenance: append a batch of (vec_id, embedding)
    * rows to a persisted adjacency under the snapshot's FROZEN geometry
    * — same seed cells, same hubs; new nodes never become hubs (the
    * appendToIndexTable posture, applied to the graph). Per batch
    * vector, three undirected edge families land: top-[[NswM]]
    * same-cell cosine neighbors among snapshot ∪ batch, the REVERSE
    * links into those neighbors' pbucket partitions (parquet partition
    * dirs take NEW files — existing files are never read or rewritten,
    * spec-asserted), and hub portals for its two nearest cells. Work is
    * O(batch × cell population) per refresh; the hub entry table is
    * unchanged.
    */
  def appendToNswTables(s: SparkSession, d: String, adjTable: String,
      batch: DataFrame): Unit = {
    val bc = graft.dedup.Dedup.seedCellAssignmentsFor(
      batch.select("vec_id", "embedding"),
      graft.dedup.Dedup.seedVectors(s, d)).cache()
    try {
      val (_, hubs) = nswCells(s, d)
      // kNN candidates over ALL multi-assigned cells on both sides —
      // the same candidate space the one-shot approxKnnGraph build uses
      val snapC = graft.dedup.Dedup.seedCellAssignments(s, d)
        .select(col("cell"), col("vec_id").as("id_b"),
          col("embedding").as("eb"), col("nrm").as("nb"))
      val cands = snapC.unionByName(bc.select(col("cell"),
        col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb")))
      val w = Window.partitionBy("id_a").orderBy(desc("cos"), asc("id_b"))
      val knn = bc
        .select(col("cell"), col("vec_id").as("id_a"),
          col("embedding").as("ea"), col("nrm").as("na"))
        .join(cands, Seq("cell"))
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"),
          (VectorExprs.dotProduct(col("ea"), col("eb")) / (col("na") * col("nb")))
            .as("cos"))
        .withColumn("rk", dense_rank().over(w))
        .filter(col("rk") <= NswM)
        .select("id_a", "id_b")
      val memberHub = bc.filter(col("crank") <= 2).join(hubs, "cell")
        .filter(col("vec_id") =!= col("hub"))
        .select(col("vec_id").as("id_a"), col("hub").as("id_b"))
      val undirected = (df: DataFrame) => df.unionByName(
        df.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      val allVecs = nswEmb(s, d).unionByName(
        bc.filter(col("crank") === 1).select("vec_id", "embedding", "nrm"))
      undirected(knn).unionByName(undirected(memberHub)).distinct()
        .join(allVecs.withColumnRenamed("vec_id", "id_b"), "id_b")
        .select(col("id_a").as("src"), col("id_b").as("dst"),
          col("embedding").as("emb"), col("nrm"),
          pmod(col("id_a"), lit(NswBuckets.toLong)).as("pbucket"))
        .write.mode("append").insertInto(adjTable)
    } finally { bc.unpersist(); () }
  }

  /** One BATCH hop: every live query's frontier out-edges scored in a
    * single partition-pruned adjacency pass. The frontier — O(live
    * queries × expand) rows with the query vector denormalized on —
    * BROADCASTS; the adjacency is the streamed probe side, so it never
    * shuffles (plan-asserted), and the literal `pbucket IN (...)` filter
    * (the union of the frontier's buckets, a ≤[[NswBuckets]]-element
    * set collected per hop) reaches the scan as PartitionFilters exactly
    * like the single-query hop's. Returns (qid, node, cos).
    */
  private[graft] def nswBatchHop(s: SparkSession, adjTable: String,
      frontier: DataFrame, buckets: Seq[Long]): DataFrame = {
    val adj = s.table(adjTable).filter(col("pbucket").isin(buckets: _*))
    adj.join(broadcast(frontier), adj("src") === frontier("node"))
      .select(col("qid"), col("dst").as("node"),
        (VectorExprs.dotProduct(col("emb"), col("qvec")) / (col("nrm") * col("qnrm")))
          .as("cos"))
  }

  /** HIERARCHICAL entry seeding for huge query tables (opt-in via
    * [[nswBatchSearch]]'s `entryProbes`). Flat seeding scores every
    * query against ALL H ≈ √n hubs — the quadratic corner of the batch
    * probe at, say, 1M queries × 10k hubs. Here ⌈√H⌉ SUPER-HUBS (a
    * deterministic stride over the hub table — IVF with unrefined
    * centers; hubs are already cell-central, so a stride sample spreads
    * over the space) route first: each query scores the super-hubs,
    * keeps `probes` (plus any super within `margin` cosine of its best
    * — ambiguous queries widen themselves, IVF multi-probe style), and
    * scores only the hubs ASSIGNED to those super-hubs (one broadcast
    * nearest-super assignment, computed per call over the √n-row hub
    * table; every super's own routing score re-enters the beam free of
    * charge). Per-query hub scores drop from H to
    * ⌈√H⌉ + probes·H/⌈√H⌉ = O(n^(1/4)) — spec-measured. The beam may
    * seed below `beam` rows; hops refill it.
    *
    * PAIR WITH `expand` ≥ 12 in [[nswBatchSearch]]: the routed entry
    * seeds a narrower beam than flat's, recovered by a wider per-hop
    * expansion. Measured at sf0.1 (recall@10 vs exact): flat entry
    * 0.879, hierarchical at expand=8 0.868, at expand=12 0.921 — the
    * per-hop frontier width, not the entry tier, was the deficit
    * (probes 3→20 and margin 0→0.1 all land within 0.868-0.882 at
    * expand=8, converging exactly to flat at degenerate probes).
    */
  private[graft] def nswHierarchicalSeeds(s: SparkSession, entryT: String,
      q: DataFrame, beam: Int, probes: Int = 5,
      margin: Double = 0.0): DataFrame = {
    val hubs = s.table(entryT)
      .select(col("vec_id").as("node"), col("embedding"), col("nrm"))
    val hcount = hubs.count()
    val stride = math.max(1L, math.round(math.sqrt(hcount.toDouble)))
    // hrk is 1-based, so (hrk - 1) % stride == 0 keeps every stride'th
    // hub STARTING FROM THE FIRST — and degrades correctly to "every
    // hub" at stride == 1, where the old `hrk % stride === 1` form
    // matched nothing (x % 1 is always 0) and silently emptied the beam
    val supers = hubs
      .withColumn("hrk", row_number().over(Window.orderBy(asc("node"))))
      .filter(pmod(col("hrk") - 1, lit(stride)) === lit(0L))
      .select(col("node").as("gid"), col("embedding").as("ge"),
        col("nrm").as("gn"))
    // non-super hubs keyed by their nearest super; the supers themselves
    // stay OUT of the assignment (each is trivially its own nearest) —
    // their query scores are already paid for during routing, so the
    // seed union below re-uses them instead of re-scoring via a group
    val byHub = Window.partitionBy("node").orderBy(desc("gcos"), asc("gid"))
    val assign = hubs.crossJoin(broadcast(supers))
      .select(col("node"), col("embedding"), col("nrm"), col("gid"),
        (VectorExprs.dotProduct(col("embedding"), col("ge")) /
          (col("nrm") * col("gn"))).as("gcos"))
      .withColumn("rk", row_number().over(byHub)).filter(col("rk") === 1)
      .filter(col("gid") =!= col("node"))
      .select("gid", "node", "embedding", "nrm")
    val byQ = Window.partitionBy("qid").orderBy(desc("gcos"), asc("gid"))
    val scoredSupers = q.crossJoin(broadcast(supers))
      .select(col("qid"), col("qvec"), col("qnrm"), col("gid"),
        (VectorExprs.dotProduct(col("qvec"), col("ge")) /
          (col("qnrm") * col("gn"))).as("gcos"))
    val wQ = Window.partitionBy("qid")
    val routed = scoredSupers
      .withColumn("rk", row_number().over(byQ))
      .withColumn("gmax", max("gcos").over(wQ))
      .filter(col("rk") <= probes ||
        col("gcos") >= col("gmax") - lit(margin))
      .select("qid", "qvec", "qnrm", "gid")
    // seed candidates = EVERY super's already-computed score (they cost
    // nothing extra and anchor the beam even when no probed group holds
    // them) ∪ the probed groups' members — disjoint by construction, so
    // the beam rank needs no dedup
    val byCos = Window.partitionBy("qid").orderBy(desc("cos"), asc("node"))
    scoredSupers
      .select(col("qid"), col("gid").as("node"), col("gcos").as("cos"))
      .union(routed.join(broadcast(assign), "gid")
        .select(col("qid"), col("node"),
          (VectorExprs.dotProduct(col("embedding"), col("qvec")) /
            (col("nrm") * col("qnrm"))).as("cos")))
      .withColumn("rk", row_number().over(byCos)).filter(col("rk") <= beam)
      .select(col("qid"), col("node"), col("cos"), lit(false).as("expanded"))
  }

  /** Multi-query NSW probe: [[nswSearch]] for a query TABLE. The
    * per-query search state — beam (qid, node, cos, expanded) and
    * visited (qid, node) — lives in DataFrames, never on the driver, so
    * a 10k-query batch costs the same ~maxHops driver-coordinated rounds
    * as ONE query: each hop amortizes a single partition-pruned
    * adjacency pass across every query still searching (the per-query
    * economics that make graph ANN serve an offline top-k join, not
    * just point lookups). Per-query semantics are IDENTICAL to the
    * single-query search — same whole-beam hub seeding, same
    * best-unexpanded frontier rule, same visited-set admission, same
    * (cos desc, id asc) tie-breaks — node-for-node parity is
    * spec-asserted. A query whose beam is fully expanded simply stops
    * contributing frontier rows; the loop ends when every query has
    * (or at maxHops). Lineage is truncated per hop (localCheckpoint,
    * the PageRank treatment) so round-N planning cost stays flat.
    *
    * `queries`: (qid: Long, qvec: Array[Double|Float]). For corpora
    * where O(queries·expand) overflows a broadcast, chunk the query
    * table and union — rounds stay ~maxHops per chunk.
    * Returns (qid, node, cos) — top-`k` per qid.
    */
  def nswBatchSearch(s: SparkSession, d: String, queries: DataFrame, k: Int,
      beam: Int = 96, expand: Int = 8, maxHops: Int = 20,
      tables: Option[(String, String)] = None,
      entryProbes: Option[Int] = None,
      entryMargin: Double = 0.0): DataFrame = {
    val (adjT, entryT) = tables.getOrElse(nswTables(s, d))
    val q = queries.select(col("qid"), col("qvec"),
      sqrt(VectorExprs.dotProduct(col("qvec"), col("qvec"))).as("qnrm")).cache()
    // iteration shuffle width follows the BEAM TABLE's volume (queries ×
    // beam ≈ its row count), not the session default — pageRankCore's
    // rule: a small probe batch must not pay maxHops × near-empty sort
    // tasks, a huge one still fans out to 4× cluster parallelism. The
    // count also eagerly materializes the query cache.
    val parts = math.max(1L, math.min(q.count() * beam / 50000L + 1L,
      s.sparkContext.defaultParallelism * 4L)).toInt
    val byCos = Window.partitionBy("qid").orderBy(desc("cos"), asc("node"))
    // ONE window pass — a single exchange+sort on qid — both TRUNCATES a
    // candidate beam to `beam` rows and computes every per-hop annotation
    // the loop reads (the r13 rework: the old loop paid one window job
    // for the annotations plus a second rank job for the truncation, and
    // its visited-set checkpoint recomputed the hop join a second time —
    // 4 jobs per hop where the search owes 2):
    //   rk    global (cos desc, id) rank — beam cut and top-k liveness;
    //   urk   rank among the UNEXPANDED (a running count in the same
    //         sort order — for an unexpanded row inside the beam every
    //         better unexpanded row is also inside, so this equals the
    //         old per-(qid, expanded)-partition row_number, without the
    //         second exchange that partition key forced);
    //   tu/kth/bestu  the ef-search liveness terms (single-query rule
    //         verbatim — beam-restricted via rk, strict-< stop);
    //   fr    the frontier flag: top-`expand` unexpanded of a live query.
    def annotate(cand: DataFrame): DataFrame = {
      val wq = Window.partitionBy("qid")
      val run = byCos.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cand
        .repartition(parts, col("qid"))
        .withColumn("rk", row_number().over(byCos))
        .withColumn("urk",
          sum(when(col("expanded"), 0).otherwise(1)).over(run))
        .withColumn("tu",
          max(when(col("rk") <= k && !col("expanded"), 1).otherwise(0)).over(wq))
        .withColumn("kth", min(when(col("rk") <= k, col("cos"))).over(wq))
        .withColumn("bestu",
          max(when(!col("expanded") && col("rk") <= beam, col("cos"))).over(wq))
        .filter(col("rk") <= beam)
        .withColumn("fr", !col("expanded") && col("urk") <= expand &&
          col("bestu").isNotNull && (col("tu") === 1 || col("bestu") >= col("kth")))
        .select("qid", "node", "cos", "expanded", "fr")
    }
    // seed every query's WHOLE beam from the √n hub layer (one
    // broadcast-entry pass over the query table), exactly like the
    // single-query take(beam) — or, for huge query tables, route
    // through the super-hub layer first (entryProbes, O(n^1/4) hub
    // scores per query instead of O(√n)); the seed pass runs through
    // the same annotate so hop 1 starts from a flagged beam
    val entry = s.table(entryT)
      .select(col("vec_id").as("node"), col("embedding"), col("nrm"))
    var beamDf = annotate(entryProbes.map(p =>
        nswHierarchicalSeeds(s, entryT, q, beam, p, entryMargin))
      .getOrElse(q.crossJoin(broadcast(entry))
        .select(col("qid"), col("node"),
          (VectorExprs.dotProduct(col("embedding"), col("qvec")) /
            (col("nrm") * col("qnrm"))).as("cos"))
        .select(col("qid"), col("node"), col("cos"), lit(false).as("expanded"))))
      .localCheckpoint()
    // the visited set is a UNION of already-materialized pieces — the
    // checkpointed seed beam plus each hop's persisted `fresh` (cached as
    // a side effect of the beam checkpoint job) — so maintaining it costs
    // no job of its own (the old eager visited checkpoint re-ran the hop
    // join); the per-hop anti-join reads the cached pieces in place
    var visitedDf = beamDf.select("qid", "node")
    val freshFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var hops = 0
    var live = true
    // try/finally (ADVICE r13): a failed hop job mid-search must not leak
    // up to maxHops persisted `fresh` frames into the session's cache for
    // its lifetime — unpersist them on ANY exit path
    try {
    while (hops < maxHops && live) {
      // one tiny driver read over the checkpointed beam doubles as the
      // liveness probe and the partition-pruning literal (≤ NswBuckets
      // values); converged queries contribute no frontier rows, so the
      // amortized hop shrinks as the batch drains
      val buckets = beamDf.filter(col("fr"))
        .select(pmod(col("node"), lit(NswBuckets.toLong)).as("nbucket"))
        .distinct().collect().map(_.getLong(0)).toSeq
      if (buckets.isEmpty) live = false
      else {
        val frontier = beamDf.filter(col("fr"))
          .select(col("qid"), col("node"))
          .join(q, "qid")
        val fresh = nswBatchHop(s, adjT, frontier, buckets)
          .groupBy("qid", "node").agg(max("cos").as("cos"))
          .join(visitedDf, Seq("qid", "node"), "left_anti")
          .persist()
        freshFrames += fresh
        beamDf = annotate(beamDf
            .select(col("qid"), col("node"), col("cos"),
              (col("expanded") || col("fr")).as("expanded"))
            .unionByName(fresh
              .select(col("qid"), col("node"), col("cos"),
                lit(false).as("expanded"))))
          .localCheckpoint()
        visitedDf = visitedDf.unionByName(fresh.select("qid", "node"))
        hops += 1
      }
    }
    } finally {
      q.unpersist()
      // the result reads only the final CHECKPOINTED beam — the cached
      // fresh pieces existed for the visited-set anti-joins and can drop now
      freshFrames.foreach(_.unpersist())
    }
    beamDf
      .withColumn("rk", row_number().over(byCos)).filter(col("rk") <= k)
      .select(col("qid"), col("node"), col("cos"))
  }

  /** STREAMING NSW probe — the highest-recall ANN tier's streaming face
    * (annProbeStream covers the IVF+PQ tier; this covers the graph).
    * The graph search is a driver-coordinated hop loop, so it cannot
    * run as one declarative streaming plan; each micro-batch's queries
    * instead run the SAME [[nswBatchSearch]] against the PERSISTED
    * frozen-geometry graph tables — per-batch results equal the batch
    * path on the same rows definitionally (node-for-node spec), and the
    * adjacency keeps the batch hop's plan shape every trigger: the
    * partition-pruned probe side of a broadcast-frontier join, never
    * shuffled (q102's plan spec, same code path). `sink` receives each
    * batch's (qid, node, cos) top-k with its batchId — the foreachBatch
    * idempotence treatment (e.g. [[graft.operators.Incremental
    * .idempotentAppend]]'s post-data-commit batchId ledger, the
    * composition StreamAnnSpec replays end-to-end) is the caller's
    * choice of sink.
    *
    * The search levers pass straight through to [[nswBatchSearch]]:
    * `entryProbes = Some(p)` turns on HIERARCHICAL ROUTED ENTRY
    * ([[nswHierarchicalSeeds]] — O(n^(1/4)) hub scores per query
    * instead of the flat O(√n) entry sweep), the right streaming
    * posture once the hub layer outgrows per-trigger full scoring;
    * pair it with `expand` ≥ 12 (the measured recall lever — see
    * nswHierarchicalSeeds' scaladoc). Streamed routed results equal
    * the routed batch path node-for-node (StreamAnnSpec).
    */
  def nswProbeStream(s: SparkSession, d: String, queryStream: DataFrame,
      k: Int, sink: (DataFrame, Long) => Unit,
      tables: Option[(String, String)] = None,
      beam: Int = 96, expand: Int = 8, maxHops: Int = 20,
      entryProbes: Option[Int] = None, entryMargin: Double = 0.0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          sink(nswBatchSearch(s, d, batch, k, beam, expand, maxHops,
            tables = tables, entryProbes = entryProbes,
            entryMargin = entryMargin), batchId)
      }

  // q102 — BATCH NSW ANN: the multi-query probe as a catalog operator.
  // Every ~53rd corpus vector becomes a query; one distributed beam
  // search returns all of their top-10 neighbor lists (self-match
  // included — rank 1 sanity). Approximate by design → rows-only;
  // node-for-node single-query parity, recall ≥ 0.9 vs exact, and the
  // broadcast-frontier/no-adjacency-shuffle plan are spec-asserted.
  val q102: QueryDef = QueryDef.rowsOnly("q102_nsw_batch_ann") { (s, d) =>
    val queries = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(53L)) === lit(1L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    nswBatchSearch(s, d, queries, 10)
      .select(col("qid"), col("node").as("vec_id"),
        round(col("cos"), 8).as("cos_sim"))
      .orderBy(asc("qid"), desc("cos_sim"), asc("vec_id"))
  }

  // q105 — HARD-NEGATIVE MINING (contrastive training pairs): for each
  // query vector, the nearest neighbors whose LABEL DIFFERS — the
  // near-miss examples a contrastive/embedding trainer wants. One
  // distributed batch beam search (q102's machinery, k widened to a
  // funnel) supplies candidates; labels arrive by an ids-only join
  // (O(queries·k) rows, never the corpus); same-label hits — and the
  // query itself — drop; the top-5 negatives per query survive. At
  // corpus scale this is THE shape: ANN funnel + narrow label join, no
  // O(n²) pair stage. Approximate by design → rows-only; a spec pins
  // the label property, per-query bounds, and recall vs the exact
  // different-label top-5.
  //
  // Funnel width scales with the corpus (like [[adcBudget]]): a query's
  // nearest neighborhood fills with SAME-LABEL near-duplicates as the
  // corpus grows (each doc's replicas/near-dups share its label), so a
  // fixed 15-candidate funnel can run dry after the label filter — the
  // r9 sf1 checkpoint measured per-query negative counts dropping to
  // {4,2,1}. 15 per 5k vectors (the tuned baseline), floor 15, cap 200;
  // candidate volume stays O(queries·funnel), never the corpus.
  val q105: QueryDef = QueryDef.rowsOnly("q105_hard_negatives") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(pmod(col("vec_id"), lit(53L)) === lit(1L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val byCos = Window.partitionBy("qid").orderBy(desc("cos"), asc("node"))
    val funnel = math.min(200L,
      math.max(15L, 15L * Regime.embeddings(s, d) / 5000L)).toInt
    nswBatchSearch(s, d, queries.select("qid", "qvec"), funnel,
      beam = math.max(96, 2 * funnel), expand = 24, maxHops = 8)
      .join(emb.select(col("vec_id").as("node"), col("label")), "node")
      .join(broadcast(queries.select("qid", "qlabel")), "qid")
      .filter(col("label") =!= col("qlabel"))
      .withColumn("rk", row_number().over(byCos)).filter(col("rk") <= 5)
      .select(col("qid"), col("node").as("neg_id"), col("label").as("neg_label"),
        round(col("cos"), 8).as("cos_sim"))
      .orderBy(asc("qid"), desc("cos_sim"), asc("neg_id"))
  }

  // q100 — NSW GRAPH ANN: the highest-recall-per-probe tier of the ANN
  // family (q51 LSH, q53 IVF, q54/q55 PQ, q77 SQ8 are flat compressed
  // scans; this walks a persisted 2-layer neighbor graph). Greedy beam
  // search from the √n hub layer over the partition-pruned adjacency —
  // per-query cost O(hops·expand·√n) vs every flat tier's Ω(n) scan
  // (see nswSearch). Measured at the defaults: recall@10 = 1.00 vs
  // exact q50 at sf0.001/0.01/0.1, visited fraction 0.90 → 0.54 as n
  // grows 500 → 2000. Approximate by design, search state driver-held
  // → rows-only; recall ≥ 0.9 and the shrinking visited fraction are
  // spec-asserted.
  val q100: QueryDef = QueryDef.rowsOnly("q100_nsw_ann") { (s, d) =>
    val ids = nswSearch(s, d, 10)._1.map(_._1)
    Tables.embeddings(s, d)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("label"), cosToQv.as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
  }

  /** MMR (maximal marginal relevance) greedy selection over a bounded
    * candidate pool: `score(i) = λ·rel(i) − (1−λ)·max_{j∈selected}
    * cos(i, j)`, relevance = cosine to the fixed query vector. The
    * DISTRIBUTED part is candidate generation — exact top-`poolSize` by
    * relevance via TakeOrderedAndProject (partition heaps, no full
    * sort) — and the greedy loop runs on the collected pool: an
    * O(poolSize·k) rerank over a CONSTANT budget independent of corpus
    * size, the standard serving-side diversity pass (the same bounded
    * shape as q105's hard-negative rerank). Returns
    * (rank, vec_id, label, relevance, mmr_score).
    */
  private[graft] def mmrSelect(s: SparkSession, d: String, k: Int = 10,
      poolSize: Int = 50, lambda: Double = 0.7)
      : Seq[(Int, Long, Int, Double, Double)] = {
    val pool = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        cosToQv.as("rel"))
      .orderBy(desc("rel"), asc("vec_id"))
      .limit(poolSize)
      .collect() // bounded: poolSize rows — the rerank budget, not the corpus
    val ids = pool.map(_.getLong(0))
    val labels = pool.map(_.getInt(1))
    val rels = pool.map(_.getDouble(3))
    // unit-normalize once; pairwise sim is then a plain dot product
    val unit = pool.map { r =>
      val e = r.getSeq[Float](2).toArray.map(_.toDouble)
      val n = math.sqrt(e.map(x => x * x).sum)
      e.map(_ / n)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val selected = scala.collection.mutable.ArrayBuffer[Int]()
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Int, Double, Double)]()
    while (selected.length < math.min(k, pool.length)) {
      var bestI = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < pool.length) {
        if (!selected.contains(i)) {
          val maxSim =
            if (selected.isEmpty) 0.0
            else selected.map(j => dot(unit(i), unit(j))).max
          val score = lambda * rels(i) - (1 - lambda) * maxSim
          // deterministic: strictly-better score wins; ties keep the
          // earlier (higher-relevance, lower-id) pool position
          if (score > bestScore) { bestScore = score; bestI = i }
        }
        i += 1
      }
      selected += bestI
      out += ((selected.length, ids(bestI), labels(bestI), rels(bestI),
        bestScore))
    }
    out.toSeq
  }

  // q139 — MMR DIVERSE TOP-K: the training-data/serving selection pass
  // that trades raw relevance for coverage — near-duplicate results are
  // penalized by their similarity to what's already picked, so the k
  // results span the query's neighborhood instead of stacking one
  // cluster. Greedy argmax is order-dependent → rows-only; the spec
  // replays the selection independently and asserts the diversity
  // property (mean pairwise cosine of the MMR set strictly below the
  // plain top-k set's).
  val q139: QueryDef = QueryDef.rowsOnly("q139_mmr_select") { (s, d) =>
    import s.implicits._
    mmrSelect(s, d)
      .toDF("rank", "vec_id", "label", "relevance", "mmr_score")
      .select(col("rank"), col("vec_id"), col("label"),
        round(col("relevance"), 8).as("relevance"),
        round(col("mmr_score"), 8).as("mmr_score"))
      .orderBy("rank")
  }

  /** Greedy k-center (Gonzalez farthest-point) coreset selection: each
    * round picks the point farthest from every center chosen so far — the
    * classic 2-approximation to the k-center cover, and the "maximally
    * spread exemplars" data-selection pass (seed sets for active
    * learning / labeling budgets). Distributed shape: the state is ONE
    * DataFrame carrying a running `min_sq` (squared distance to the
    * nearest center), updated per round as `min(min_sq, ‖x‖² − 2·x·c +
    * ‖c‖²)` — all codegen'd DotProduct against the broadcast center
    * literal, NO shuffle; the round's argmax is a 1-row
    * TakeOrderedAndProject. k driver-paced rounds move k rows to the
    * driver total; lineage is truncated per round (lazy localCheckpoint,
    * the q78 posture — checkpoint stride is the lever if k grows).
    * Returns (pick_order, vec_id, label, radius_after) where
    * radius_after = covering radius of the first `pick_order` centers.
    */
  private[graft] def kCenterSelect(s: SparkSession, d: String, k: Int = 16)
      : Seq[(Int, Long, Int, Double)] = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        VectorExprs.dotProduct(col("embedding"), col("embedding")).as("sqn"))
    // deterministic seed: the max-norm point (vec_id tiebreak) — no RNG,
    // so both engines and the spec replay agree on the full sequence
    val first = base.orderBy(desc("sqn"), asc("vec_id")).limit(1).head()
    var center: (Long, Int, Array[Double], Double) = (
      first.getLong(0), first.getInt(1),
      first.getSeq[Float](2).toArray.map(_.toDouble), first.getDouble(3))
    var state = base.withColumn("min_sq", lit(Double.MaxValue))
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Int, Double)]()
    var r = 1
    while (r <= k) {
      val cVec = center._3
      val cSq = center._4
      state = state
        .withColumn("min_sq",
          least(col("min_sq"),
            col("sqn") - lit(2.0) * VectorExprs.dotProduct(col("embedding"),
              typedlit(cVec)) + lit(cSq)))
        .localCheckpoint(false)
      val far = state.orderBy(desc("min_sq"), asc("vec_id")).limit(1).head()
      // guard tiny negative from float cancellation on the center itself
      val radius = math.sqrt(math.max(far.getDouble(4), 0.0))
      out += ((r, center._1, center._2, radius))
      if (r < k) center = (far.getLong(0), far.getInt(1),
        far.getSeq[Float](2).toArray.map(_.toDouble), far.getDouble(3))
      r += 1
    }
    out.toSeq
  }

  // q140 — K-CENTER CORESET: greedy farthest-point exemplar selection
  // with the per-pick covering radius — the audit row says "after i
  // centers, every point sits within radius_after of one" (monotone
  // non-increasing by construction; the curve's flattening point is the
  // natural coreset size). Iterative greedy → rows-only; the spec
  // replays the sequence densely and pins the 2-approx-style dominance
  // over a naive prefix pick.
  val q140: QueryDef = QueryDef.rowsOnly("q140_kcenter_coreset") { (s, d) =>
    import s.implicits._
    kCenterSelect(s, d)
      .toDF("pick_order", "vec_id", "label", "radius_after")
      .select(col("pick_order"), col("vec_id"), col("label"),
        round(col("radius_after"), 6).as("radius_after"))
      .orderBy("pick_order")
  }

  /** Input row for [[coresetStream]]. */
  case class StreamVec(vec_id: Long, embedding: Seq[Float])
  /** Doubling-algorithm state: current centers + the separation
    * threshold r. Size is O(k·dim) — CONSTANT, never grows with the
    * stream (the whole point: a coreset is the bounded summary).
    */
  case class CoresetState(n_seen: Long, ids: Seq[Long],
      vecs: Seq[Seq[Double]], r: Double)
  /** One row per trigger: the live coreset snapshot. */
  case class CoresetSnap(n_seen: Long, n_centers: Int, r: Double,
      center_ids: Seq[Long])

  /** STREAMING k-center maintenance — the live face of q140's greedy
    * coreset, via the doubling algorithm (Charikar et al., "Incremental
    * clustering and dynamic information retrieval", STOC 1997): keep ≤ k
    * centers pairwise > r apart; a point farther than r from every
    * center becomes one; on overflow (k+1 centers) double r and thin to
    * a maximal pairwise->r subset, repeating until ≤ k. Maintains an
    * 8-approximate k-center cover of EVERYTHING seen, in O(k·dim) state
    * — the bounded-summary contract a streaming state store demands
    * (contrast q140's batch greedy, which re-scans the corpus per pick).
    *
    * Spark shape: a single constant group routes every vector through
    * one mapGroupsWithState fold (the algorithm is inherently
    * sequential); state is one CoresetState, one snapshot row emits per
    * trigger. At cluster scale the lever is composable coresets: run
    * this per partition/shard key and k-center the union of the shard
    * coresets — same merge-and-reduce shape as treeAggregate. Points
    * fold in vec_id order WITHIN a trigger, so a fixed batch split is
    * deterministic end-to-end (spec-pinned).
    */
  def coresetStream(vecs: org.apache.spark.sql.Dataset[StreamVec],
      k: Int = 16): org.apache.spark.sql.Dataset[CoresetSnap] = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def dist(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      math.sqrt(acc)
    }
    vecs
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[CoresetState, CoresetSnap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, batch: Iterator[StreamVec], state: GroupState[CoresetState]) =>
          val st = state.getOption.getOrElse(
            CoresetState(0L, Seq.empty, Seq.empty, 0.0))
          var ids = st.ids.toVector
          var ctr = st.vecs.map(_.toArray).toVector
          var r = st.r
          var seen = st.n_seen
          batch.toArray.sortBy(_.vec_id).foreach { p =>
            seen += 1
            val v = p.embedding.toArray.map(_.toDouble)
            val dmin = if (ctr.isEmpty) Double.PositiveInfinity
                       else ctr.map(c => dist(v, c)).min
            if (dmin > r) {
              ids :+= p.vec_id; ctr :+= v
              while (ctr.length > k) {
                // double the separation threshold (seeded by the current
                // min pairwise distance — guarantees the thinning below
                // removes at least one center) and keep a maximal
                // pairwise->r subset in center-arrival order
                val minPair = (for {
                  i <- ctr.indices; j <- (i + 1) until ctr.length
                } yield dist(ctr(i), ctr(j))).min
                r = math.max(2 * r, minPair)
                val keepIdx = scala.collection.mutable.ArrayBuffer[Int]()
                ctr.indices.foreach { i =>
                  if (keepIdx.forall(j => dist(ctr(i), ctr(j)) > r))
                    keepIdx += i
                }
                ids = keepIdx.map(ids).toVector
                ctr = keepIdx.map(ctr).toVector
              }
            }
          }
          state.update(CoresetState(seen, ids, ctr.map(_.toSeq), r))
          Iterator(CoresetSnap(seen, ids.length, r, ids.sorted))
      }
  }

  /** Mutable buffer for [[CoresetSketch]]: current centers + separation
    * threshold. O(k·dim) regardless of input size.
    */
  case class CoresetBuf(var ids: Vector[Long],
      var vecs: Vector[Array[Double]], var r: Double)

  /** ONE-PASS distributed k-center via a MERGEABLE coreset sketch — the
    * composable-coreset path [[coresetStream]]'s doc promises and the
    * 100 TB alternative to q140's k-round greedy: each partition folds
    * its rows through the doubling rule locally (map-side), partial
    * sketches MERGE by folding one side's centers into the other under
    * the max of the two thresholds (a center represents its points
    * within r, so folding centers preserves the cover with one extra r
    * of slack — the standard merge-and-reduce analysis), and the final
    * ≤k centers arrive after ONE shuffle of O(partitions·k·dim) bytes.
    * Contract: the COVERING-RADIUS bound is parallelism-independent
    * (spec-asserted at several partitionings); center IDENTITIES are
    * not — merge order picks among equally-valid covers. Use q140 when
    * the exact greedy sequence matters; use this when the data is too
    * big to scan k times.
    */
  class CoresetSketch(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Array[Double]), CoresetBuf, (Seq[Long], Double)] {
    private def dist(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      math.sqrt(acc)
    }
    private def foldPoint(b: CoresetBuf, id: Long, v: Array[Double]): Unit = {
      val dmin = if (b.vecs.isEmpty) Double.PositiveInfinity
                 else b.vecs.map(c => dist(v, c)).min
      if (dmin > b.r) {
        b.ids :+= id; b.vecs :+= v
        while (b.vecs.length > k) {
          val minPair = (for {
            i <- b.vecs.indices; j <- (i + 1) until b.vecs.length
          } yield dist(b.vecs(i), b.vecs(j))).min
          b.r = math.max(2 * b.r, minPair)
          val keep = scala.collection.mutable.ArrayBuffer[Int]()
          b.vecs.indices.foreach { i =>
            if (keep.forall(j => dist(b.vecs(i), b.vecs(j)) > b.r)) keep += i
          }
          b.ids = keep.map(b.ids).toVector
          b.vecs = keep.map(b.vecs).toVector
        }
      }
    }
    override def zero: CoresetBuf = CoresetBuf(Vector.empty, Vector.empty, 0.0)
    override def reduce(b: CoresetBuf, row: (Long, Array[Double])): CoresetBuf = {
      foldPoint(b, row._1, row._2); b
    }
    override def merge(a: CoresetBuf, b: CoresetBuf): CoresetBuf = {
      // a center of b represents its points within b.r — adopt the
      // looser threshold FIRST so the fold keeps that representation
      a.r = math.max(a.r, b.r)
      b.ids.zip(b.vecs).sortBy(_._1).foreach { case (id, v) =>
        foldPoint(a, id, v) }
      a
    }
    override def finish(b: CoresetBuf): (Seq[Long], Double) = (b.ids.sorted, b.r)
    override def bufferEncoder: org.apache.spark.sql.Encoder[CoresetBuf] =
      org.apache.spark.sql.Encoders.javaSerialization[CoresetBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[(Seq[Long], Double)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.javaSerialization[Seq[Long]],
        org.apache.spark.sql.Encoders.scalaDouble)
  }

  /** One-pass whole-corpus coreset: (sorted center ids, threshold r). */
  def onePassCoreset(s: SparkSession, d: String, k: Int = 16)
      : (Seq[Long], Double) = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .groupByKey(_ => 0)
      .agg(new CoresetSketch(k).toColumn)
      .take(1).head._2
  }

  val all: Seq[QueryDef] = Seq(q38, q50, q51, q52, q53, q54, q55, q56, q57,
    q58, q59, q77, q79, q98, q100, q102, q105, q133, q139, q140, q148,
    q156, q158, q208, q210)
}
