package graft

import org.apache.spark.sql.functions._

/** The fixed-codebook quantizer gate (r12): above
  * `Regime.QuantizerGateRows` vectors the blocking/IVF quantizer
  * freezes — cell count stops at FixedK and the codebook comes from a
  * bounded-sample KMeans fit — so per-row assignment cost turns linear
  * (n·k) instead of the √n-seed family's n·√n. Every oracle-checked SF
  * sits below the gate, so this spec forces a tiny gate to exercise the
  * frozen tier at fixture scale: routing, plan shape (exchange-free
  * assignment), q44-shape candidate recall, q58-shape quota semantics,
  * and q133's batch IVF recall, all under the trained codebook.
  */
class FixedCodebookSpec extends SparkSpec {

  /** Forces the frozen tier at fixture scale (n = 500 > 64). */
  private val ForcedGate = 64L

  private lazy val vecs = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private lazy val frozenAssigns = dedup.Dedup.seedCellAssignmentsFor(
    vecs, dedup.Dedup.quantizerCodebook(spark, sfDir, ForcedGate)).cache()

  /** Exact top-`k` cosine pairs (id_a < id_b) — the recall reference. */
  private def exactTopPairs(k: Int): Seq[(Long, Long)] = {
    val nrm = sqrt(functions.VectorExprs.dotProduct(col("embedding"), col("embedding")))
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      nrm.as("nrm_a"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      nrm.as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(functions.VectorExprs.dotProduct(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")), 8).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("id_a"), asc("id_b"))
      .limit(k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("kForCount: √n rule below the gate, frozen FixedK above, continuous at the gate") {
    import graft.ml.Centroids._
    import graft.Regime.QuantizerGateRows
    assert(kForCount(500L, QuantizerGateRows) == 23)
    assert(kForCount(2000L, QuantizerGateRows) == 45)
    // sf1 (20k vectors) is below the gate — the oracle-checked tiers are
    // bit-identical to the pre-gate rule
    assert(kForCount(20000L, QuantizerGateRows) == 142)
    assert(kForCount(QuantizerGateRows, QuantizerGateRows) == FixedK)
    assert(kForCount(QuantizerGateRows + 1, QuantizerGateRows) == FixedK)
    assert(kForCount(200000L, QuantizerGateRows) == FixedK) // sf10
    assert(kForCount(100000000000L, QuantizerGateRows) == FixedK) // 100 TB
  }

  test("gate routing: seed rows below the gate, trained centroid ids 0..k-1 above it") {
    val seeds = dedup.Dedup.seedVectors(spark, sfDir)
    val lowest = vecs.orderBy("vec_id").limit(seeds.length)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(seeds.map(_._1).toSeq == lowest,
      "below the gate the codebook must be the lowest-vec_id data rows (oracle-replayable)")
    val frozen = dedup.Dedup.quantizerCodebook(spark, sfDir, ForcedGate)
    val n = Regime.embeddings(spark, sfDir)
    assert(frozen.map(_._1).toSeq == (0L until frozen.length.toLong),
      "frozen-tier cell ids must be the centroid indices")
    assert(frozen.length == graft.ml.Centroids.kForCount(n, ForcedGate))
    assert(frozen.forall(_._2.length == 64))
  }

  test("frozen-tier assignment stays one exchange-free projection (plan guard)") {
    val plan = dedup.Dedup.seedCellAssignmentsFor(
      vecs, dedup.Dedup.quantizerCodebook(spark, sfDir, ForcedGate))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"frozen-tier assignment must not shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"frozen-tier assignment must score centroid literals, not join:\n$plan")
  }

  test("frozen-tier q44 blocking keeps recall of the exact top-50 near-dup pairs") {
    val cand = dedup.Dedup.pairsFromCells(frozenAssigns)
    val nrm = sqrt(functions.VectorExprs.dotProduct(col("embedding"), col("embedding")))
    val va = vecs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      nrm.as("nrm_a"))
    val vb = vecs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      nrm.as("nrm_b"))
    val got = cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(functions.VectorExprs.dotProduct(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")), 8).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("id_a"), asc("id_b"))
      .limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactTopPairs(50).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.8,
      s"frozen-tier q44 recall $recall vs exact top-50 (16 trained cells, m=4)")
  }

  test("residual sub-split: gated off below the gate, bounded bits above, near-dup recall survives forced bits") {
    import graft.Regime.QuantizerGateRows
    // below the gate the sub-split NEVER activates (bits = 0 → sub ≡ 0 →
    // pairsFromCells is bit-identical to the unsplit join)
    assert(dedup.Dedup.subSplitBits(500L) == 0)
    assert(dedup.Dedup.subSplitBits(20000L) == 0)
    assert(dedup.Dedup.subSplitBits(QuantizerGateRows) == 0)
    // above it: enough bits for ~TargetBlockPop per block, capped at 12
    assert(dedup.Dedup.subSplitBits(200000L) == 6) // sf10: 200k·4/(256·64) = 48.8 → 6
    assert(dedup.Dedup.subSplitBits(100000000000L) == 12)
    // forced bits over a PLANTED near-dup fixture (the base corpus's
    // top-50 cosines are only ~0.43 — no dup structure at 500 vectors;
    // the sub-split's contract is NEAR-DUP pairs, cos ≈ 1, exactly what
    // the scale fixtures plant as ±5e-3 clusters): every planted clone
    // pair whose members share a coarse cell must STAY co-blocked under
    // the sign sub-key (per-bit agreement ~0.9955 at θ ≈ 0.014).
    import spark.implicits._
    val base = vecs.limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rnd = new scala.util.Random(7L)
    val planted = base.flatMap { case (id, e) =>
      (0 until 5).map { c =>
        (id * 10 + c + 1000000L,
          e.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f).toSeq)
      }
    }.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val assigns = dedup.Dedup.seedCellAssignmentsFor(planted,
      dedup.Dedup.quantizerCodebook(spark, sfDir, ForcedGate)).cache()
    val clonePairs = base.flatMap { case (id, _) =>
      for (i <- 0 until 5; j <- (i + 1) until 5)
        yield (id * 10 + i + 1000000L, id * 10 + j + 1000000L)
    }.toSet
    val unsplit = dedup.Dedup.pairsFromCells(assigns)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val split = dedup.Dedup.pairsFromCells(assigns, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sub-split may only prune, never invent pairs
    assert(split.subsetOf(unsplit))
    val inCell = clonePairs.intersect(unsplit) // clone pairs the coarse blocking finds
    assert(inCell.size >= (clonePairs.size * 0.9).toInt,
      s"fixture degenerate: coarse blocking found only ${inCell.size}/${clonePairs.size}")
    val kept = clonePairs.intersect(split)
    val recall = kept.size.toDouble / inCell.size
    assert(recall >= 0.9,
      s"sub-split lost near-dup pairs: $recall (${kept.size}/${inCell.size} at 6 bits)")
  }

  test("frozen-tier q58 cell-balanced sample: quota honored, total = Σ min(quota, pop), deterministic") {
    val quota = 5
    def sample() = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cell").orderBy("vec_id")
      frozenAssigns.filter(col("crank") === 1)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= quota)
        .select("cell", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    val s1 = sample()
    assert(s1 == sample(), "frozen-tier sample must be deterministic")
    val perCell = s1.groupBy(_._1).view.mapValues(_.size)
    assert(perCell.values.forall(_ <= quota))
    val pops = frozenAssigns.filter(col("crank") === 1)
      .groupBy("cell").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expectTotal = pops.values.map(p => math.min(p, quota.toLong)).sum
    assert(s1.size.toLong == expectTotal,
      s"sample size ${s1.size} != Σ min(quota, pop) $expectTotal")
    // trained centroids must actually spread the corpus: every cell of a
    // 16-cell codebook over 500 vectors should be populated
    assert(pops.size == dedup.Dedup.quantizerCodebook(spark, sfDir, ForcedGate).length,
      s"unpopulated trained cells: ${pops.size}")
  }

  test("q133 batch IVF under the frozen codebook keeps mean recall vs exact top-10") {
    val cents = graft.ml.Centroids.modelFor(spark, sfDir, ForcedGate)
      .clusterCenters.map(_.toArray)
    val queries = Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(53L)) === lit(2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = sim.Similarity.ivfBatchTopK(spark, sfDir, queries, 10,
        centsOverride = cents)
      .select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact per-query top-10 via one broadcast pair pass
    val byCos = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos_sim"), asc("vec_id"))
    val exact = Tables.embeddings(spark, sfDir)
      .crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        round(functions.VectorExprs.cosineSim(col("embedding"), col("qvec")), 8)
          .as("cos_sim"))
      .withColumn("rk", row_number().over(byCos))
      .filter(col("rk") <= 10)
      .select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == exact.keySet)
    val recalls = exact.map { case (q, ids) =>
      ids.intersect(got.getOrElse(q, Set.empty)).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"frozen-tier batch IVF mean recall $mean")
  }
}
