package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

class OperatorSemanticsSpec extends SparkSpec {

  test("q50 top-1 really is the max-cosine row (brute recheck)") {
    val top = sim.Similarity.q50.fn(spark, sfDir).collect()
    val all = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        VectorExprs.cosineSim(col("embedding"),
          expr("transform(sequence(1, 64), i -> (CAST((i * 37) % 19 AS DOUBLE) - 9) / 10)")).as("c"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val bestBrute = all.maxBy(_._2)
    assert(top.head.getAs[Long]("vec_id") == bestBrute._1)
    assert(math.abs(top.head.getAs[Double]("cos_sim") - bestBrute._2) < 1e-7)
    // descending and within [-1, 1]
    val sims = top.map(_.getAs[Double]("cos_sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("q23 split fractions approximate 78/97") {
    val rows = ml.MlPrep.q23.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("n")).toMap
    val frac = rows("train").toDouble / (rows("train") + rows("test"))
    assert(math.abs(frac - 78.0 / 97.0) < 0.05, s"train fraction $frac")
  }

  test("q62 pred is the argmax of the marker scores") {
    val rows = text.TextAnalysis.q62.fn(spark, sfDir).collect()
    rows.foreach { r =>
      val scores = Map(
        "en" -> r.getAs[Int]("s_en"), "es" -> r.getAs[Int]("s_es"),
        "de" -> r.getAs[Int]("s_de"), "fr" -> r.getAs[Int]("s_fr"),
        "zh" -> r.getAs[Int]("s_zh"))
      val best = scores.values.max
      assert(scores(r.getAs[String]("pred")) == best,
        s"doc ${r.getAs[Long]("doc_id")}: pred not argmax")
    }
  }

  test("q53 IVF mean top-10 recall >= 0.9 vs exact over the query set") {
    val nProbe = sim.Similarity.ivfNProbe(ml.Centroids.centers(spark, sfDir).length)
    val r = meanRecall(q => sim.Similarity.ivfTopK(spark, sfDir, nProbe, 10, q)
      .collect().map(_.getAs[Long]("vec_id")).toSet)
    assert(r >= 0.9, s"IVF mean recall@10 $r (probes=$nProbe)")
  }

  test("q77 SQ8 top-10 recall >= 0.9 vs exact q50 top-10, scores within quantization error") {
    val exact = sim.Similarity.q50.fn(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val sq8rows = sim.Similarity.q77.fn(spark, sfDir).collect()
    val sq8 = sq8rows.map(_.getAs[Long]("vec_id")).toSet
    val recall = exact.intersect(sq8).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@10 $recall")
    // 8-bit per-dim quantization: the approximate cosine must sit within
    // a small absolute error of the exact rerank score
    sq8rows.foreach { r =>
      val err = math.abs(r.getAs[Double]("cos_sim") - r.getAs[Double]("approx_cos"))
      assert(err < 0.02, s"vec ${r.getAs[Long]("vec_id")}: SQ8 cos error $err")
    }
  }

  test("q100 NSW beam search: recall >= 0.9 vs exact q50, sub-linear visit growth") {
    def run(d: String): (Double, Int, Long) = {
      val exact = sim.Similarity.q50.fn(spark, d).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      val (top, visitedCount) = sim.Similarity.nswSearch(spark, d, 10)
      val recall = exact.intersect(top.map(_._1).toSet).size.toDouble / exact.size
      (recall, visitedCount, Tables.embeddings(spark, d).count())
    }
    val (r1, v1, n1) = run(sfDir)
    assert(r1 >= 0.9, s"NSW recall@10 $r1 at $sfDir (visited $v1)")
    val (r2, v2, n2) = run("/root/testdata/sf0.01")
    assert(r2 >= 0.9, s"NSW recall@10 $r2 at sf0.01 (visited $v2)")
    // the scale story: the visited fraction FALLS as the corpus grows —
    // per-query work is O(hops·expand·√n) against every flat tier's
    // Ω(n) scan (at these tiny test corpora the fraction is large;
    // what the spec pins is its direction of travel)
    val (r3, v3, n3) = run("/root/testdata/sf0.1")
    assert(r3 >= 0.9, s"NSW recall@10 $r3 at sf0.1 (visited $v3)")
    assert(n3 > n1 && v3 < n3, s"sf0.1 search must not visit the whole graph ($v3/$n3)")
    assert(v3.toDouble / n3 < v1.toDouble / n1,
      s"visited fraction must shrink with n: ${v1}/$n1 -> ${v3}/$n3")
    info(f"recall $r1%.2f/$r2%.2f/$r3%.2f, visited frac ${v1.toDouble / n1}%.2f -> ${v3.toDouble / n3}%.2f")
    // the catalog entry surfaces the same ids with exact rerank scores
    val viaCatalog = sim.Similarity.q100.fn(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val (top1, _) = sim.Similarity.nswSearch(spark, sfDir, 10)
    assert(viaCatalog == top1.map(_._1).toSet)
  }

  test("q102 batch NSW probe: node-for-node single-query parity, recall >= 0.9 vs exact") {
    val queries = Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(53L)) === lit(1L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = sim.Similarity.nswBatchSearch(spark, sfDir, queries, 10)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.map(r => (r.getLong(1), r.getDouble(2)))
          .sortBy { case (id, c) => (-c, id) }.toSeq
      }
    val qvecs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    assert(batch.keySet == qvecs.map(_._1).toSet, "one result group per query")
    // node-for-node, score-for-score parity with the single-query search:
    // DotProduct promotes floats to double per element, so the batch
    // probe's float qvec scores bit-match the double-literal path
    qvecs.foreach { case (qid, qv) =>
      val (single, _) = sim.Similarity.nswSearch(spark, sfDir, 10, qv = qv)
      assert(batch(qid).map(_._1) == single.map(_._1),
        s"qid $qid: batch nodes ${batch(qid).map(_._1)} != single ${single.map(_._1)}")
      batch(qid).zip(single).foreach { case ((_, bc), (_, sc)) =>
        assert(math.abs(bc - sc) < 1e-12, s"qid $qid: cos $bc != $sc")
      }
    }
    // recall vs the exact brute-force top-10 of each query
    val all = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val recalls = qvecs.map { case (qid, qv) =>
      val exact = all.map { case (id, v) => id -> cos(qv, v) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      exact.intersect(batch(qid).map(_._1).toSet).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"batch NSW mean recall@10 $mean (${recalls.toList})")
    info(f"batch NSW: ${qvecs.length} queries, mean recall@10 $mean%.3f")
  }

  test("q103 budget mix: histogram prune shrinks the window input and is lossless") {
    import org.apache.spark.sql.expressions.Window
    val (cands, tt) = text.TextAnalysis.budgetCandidates(spark, sfDir)
    val corpus = Tables.documents(spark, sfDir).count()
    val nc = cands.count()
    assert(nc < corpus,
      s"the quality-histogram prune must shrink the window input ($nc/$corpus)")
    // the UNPRUNED greedy replay — the naive whole-corpus window the
    // plan deliberately avoids — must select the exact same rows
    val byQ = Window.partitionBy("source")
      .orderBy(desc("qkey"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = text.TextAnalysis.budgetScored(spark, sfDir)
      .withColumn("cum", sum("n_tok").over(byQ))
      .withColumn("quota", floor(lit(0.25) * lit(tt) * col("w") / lit(50.0)))
      .filter(col("cum") - col("n_tok") < col("quota"))
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q103_token_budget_mix")(spark, sfDir)
      .select("doc_id", "cum_tok").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive, "pruned selection diverges from the naive window")
    // greedy semantics: each source fills to (or crosses) its quota
    // unless it ran out of documents entirely
    val perSrc = SparkEntry.queries("q103_token_budget_mix")(spark, sfDir)
      .groupBy("source").agg(max("cum_tok").as("got"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val srcDocs = Tables.documents(spark, sfDir).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perSrc.foreach { case (src, (cum, n)) =>
      val w = src.drop(3).toInt % 4 + 1
      val quota = math.floor(0.25 * tt * w / 50.0).toLong
      assert(cum >= quota || n == srcDocs(src),
        s"$src stopped at $cum tokens below quota $quota with docs left")
    }
  }

  test("expand is the NSW recall lever: widening 8 -> 12 lifts flat recall past 0.91 at sf0.1") {
    // r6's hierarchical-entry analysis measured that per-hop frontier
    // width, not entry seeding, binds family recall. This pins the
    // LEVER itself on the flat search: expand 8 → 12 must lift mean
    // recall, and the wide setting must clear 0.91 (measured: flat@8
    // 0.879, flat@12 0.918; the hierarchical pairing below reaches
    // 0.921 and carries the 0.92 bar) — so a regression in the
    // frontier ranking shows up here before it shows up as a
    // mysteriously-sunk family recall.
    val d = "/root/testdata/sf0.1"
    val queries = Tables.embeddings(spark, d)
      .filter(pmod(col("vec_id"), lit(53L)) === lit(1L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def run(expand: Int): Map[Long, Set[Long]] =
      sim.Similarity.nswBatchSearch(spark, d, queries, 10, expand = expand)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val narrow = run(8)
    val wide = run(12)
    val emb = Tables.embeddings(spark, d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dd = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dd += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dd / math.sqrt(na * nb)
    }
    def meanRecall(got: Map[Long, Set[Long]]): Double = {
      val rs = emb.filter(_._1 % 53 == 1).map { case (qid, qv) =>
        val exact = emb.map { case (id, v) => id -> cos(qv, v) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        exact.intersect(got.getOrElse(qid, Set.empty)).size.toDouble / exact.size
      }
      rs.sum / rs.length
    }
    val (r8, r12) = (meanRecall(narrow), meanRecall(wide))
    info(f"flat entry: recall@10 $r8%.3f at expand=8 -> $r12%.3f at expand=12")
    assert(r12 > r8, s"widening the frontier must lift recall ($r8 -> $r12)")
    assert(r12 >= 0.91, s"flat expand=12 must clear 0.91, got $r12")
  }

  test("hierarchical batch-NSW entry: recall holds while hub scores per query shrink") {
    // sf0.1: ~71 hubs — the smallest corpus where a √H super-layer has
    // room to undercut the flat entry (at sf0.01's 23 hubs the two
    // tiers cost the same, which is itself the asymptotic point: the
    // win GROWS with n)
    val d = "/root/testdata/sf0.1"
    val queries = Tables.embeddings(spark, d)
      .filter(pmod(col("vec_id"), lit(53L)) === lit(1L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val probes = 5
    // expand = 12: the hierarchical entry's documented pairing — the
    // routed seed beam is narrower than flat's, recovered by a wider
    // per-hop expansion (measured at sf0.1: flat entry itself recalls
    // 0.879 on this query set, hierarchical+expand=8 0.868,
    // hierarchical+expand=12 0.921 — the entry tier was never the
    // deficit, the per-hop frontier width was)
    val got = sim.Similarity
      .nswBatchSearch(spark, d, queries, 10, expand = 12,
        entryProbes = Some(probes))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val emb = Tables.embeddings(spark, d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dd = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dd += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dd / math.sqrt(na * nb)
    }
    val qvecs = emb.filter(_._1 % 53 == 1)
    val recalls = qvecs.map { case (qid, qv) =>
      val exact = emb.map { case (id, v) => id -> cos(qv, v) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      exact.intersect(got.getOrElse(qid, Set.empty)).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.length
    // at the documented expand=12 pairing the bar is 0.92 (measured
    // 0.921) — above the family's 0.9 floor, resting on the lever that
    // actually moves recall (per-hop frontier width)
    assert(mean >= 0.92, s"hierarchical-entry mean recall@10 $mean at expand=12")

    // accounting, independently re-derived: per-query hub scores under
    // the stride-super routing = |supers| (scored once, re-used as both
    // router and free seed anchors) + Σ sizes of the probed groups
    // (supers excluded from assignment — never re-scored), which must
    // undercut the flat H hub scores per query
    val (_, entryT) = sim.Similarity.nswTables(spark, d)
    val hubs = emb.map(_._1).toSet
      .intersect(spark.table(entryT).select("vec_id")
        .collect().map(_.getLong(0)).toSet)
      .toSeq.sorted
    val hCount = hubs.length
    val stride = math.max(1L, math.round(math.sqrt(hCount.toDouble)))
    val supers = hubs.zipWithIndex
      .collect { case (n, i) if i % stride == 0 => n }
    val hubVec = emb.toMap
    def nearestSuper(h: Long) =
      supers.map(g => g -> cos(hubVec(h), hubVec(g)))
        .minBy { case (g, c) => (-c, g) }._1
    val superSet = supers.toSet
    val groupSize = hubs.filterNot(superSet)
      .groupBy(nearestSuper).map { case (g, m) => g -> m.size }
      .withDefaultValue(0)
    val scored = qvecs.map { case (_, qv) =>
      val top = supers.map(g => g -> cos(qv, hubVec(g)))
        .sortBy { case (g, c) => (-c, g) }.take(probes).map(_._1)
      supers.length + top.map(groupSize).sum
    }
    val meanScored = scored.sum.toDouble / scored.length
    info(f"mean recall@10 $mean%.3f; hub scores/query $meanScored%.1f vs flat $hCount")
    assert(meanScored < 0.8 * hCount,
      s"routing must undercut the flat entry: $meanScored vs $hCount")
  }

  test("q105 hard negatives: labels differ, bounds hold, recall >= 0.8 vs exact") {
    val rows = sim.Similarity.q105.fn(spark, sfDir).collect()
    val emb = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val labelOf = emb.map(e => e._1 -> e._3).toMap
    // every mined negative carries a label different from its query's,
    // never IS the query, and each query yields at most 5
    rows.foreach { r =>
      val (qid, neg) = (r.getAs[Long]("qid"), r.getAs[Long]("neg_id"))
      assert(neg != qid, s"query $qid mined itself")
      assert(r.getAs[Int]("neg_label") == labelOf(neg), "neg_label must be the corpus label")
      assert(labelOf(neg) != labelOf(qid), s"qid $qid mined a same-label 'negative' $neg")
    }
    val perQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(perQ.values.forall(_.length <= 5))
    // recall vs the EXACT different-label top-5 (driver-side brute force)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val recalls = emb.filter(_._1 % 53 == 1).map { case (qid, qv, ql) =>
      val exact = emb.filter(e => e._3 != ql)
        .map { case (id, v, _) => id -> cos(qv, v) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
      val got = perQ.getOrElse(qid, Array.empty)
        .map(_.getAs[Long]("neg_id")).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, s"hard-negative mean recall@5 $mean")
    info(f"hard negatives: ${recalls.length} queries, mean recall@5 $mean%.3f")
  }

  test("q107 sketch set algebra: union/intersection estimates track the exact overlaps") {
    val rows = text.TextAnalysis.q107.fn(spark, sfDir).collect()
    assert(rows.length == 6) // C(4,2) source pairs
    rows.foreach { r =>
      val (ea, eb, eu, ei) = (r.getAs[Long]("est_a"), r.getAs[Long]("est_b"),
        r.getAs[Long]("est_union"), r.getAs[Long]("est_inter"))
      val (xa, xb, xi) = (r.getAs[Long]("exact_a"), r.getAs[Long]("exact_b"),
        r.getAs[Long]("exact_inter"))
      def relErr(est: Long, exact: Long) =
        math.abs(est - exact).toDouble / math.max(exact, 1L)
      assert(relErr(ea, xa) <= 0.05 && relErr(eb, xb) <= 0.05,
        s"per-source estimate drift: $ea/$xa, $eb/$xb")
      assert(relErr(ei, xi) <= 0.10,
        s"inclusion-exclusion intersection drift: $ei vs $xi")
      // set-algebra sanity on the estimates themselves
      assert(eu >= math.max(ea, eb) && eu <= ea + eb, s"union outside bounds: $eu")
      assert(ei <= math.min(ea, eb), s"intersection above min: $ei")
    }
  }

  test("q76 sketch heavy hitters match exact counts and the exact top-k set") {
    val rows = text.TextAnalysis.q76Sketch(spark, sfDir).collect()
    assert(rows.length == 20)
    // the tracked-item budget (8192) dwarfs this corpus's vocabulary, so
    // the frequent-items estimates must be exact here
    rows.foreach { r =>
      assert(r.getAs[Long]("est_cnt") == r.getAs[Long]("exact_cnt"),
        s"term ${r.getAs[String]("term")}: est ${r.getAs[Long]("est_cnt")} != exact")
    }
    val exactTop = Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy("term").count()
      .orderBy(desc("count"), asc("term"))
      .limit(20).collect().map(_.getString(0)).toSet
    assert(rows.map(_.getAs[String]("term")).toSet == exactTop)
  }

  test("q86 BPE merge sequence replays a dense driver-side reference exactly") {
    val kMerges = 64
    val words = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
    val fullFreq = words.groupBy(identity).map { case (w, a) => w -> a.length.toLong }
    // the documented prune contract, implemented independently: largest
    // frequency floor whose types cover >= bpeCoverage of token mass,
    // capped at bpeMaxTypes types (every type at the floor is kept)
    val hist = fullFreq.values.groupBy(identity)
      .map { case (f, a) => f -> a.size.toLong }.toArray.sortBy(-_._1)
    val total = hist.map { case (f, n) => f * n }.sum.toDouble
    var mass = 0L; var kept = 0L
    var floor = if (hist.nonEmpty) hist(0)._1 else 1L
    var done = false
    for ((f, n) <- hist if !done) {
      if (kept + n > text.TextAnalysis.bpeMaxTypes && kept > 0) done = true
      else {
        mass += f * n; kept += n; floor = f
        if (mass >= text.TextAnalysis.bpeCoverage * total) done = true
      }
    }
    val freq = fullFreq.filter { case (_, f) => f >= floor }
    var syms: Map[String, List[String]] =
      freq.keys.map(w => w -> w.split("").toList).toMap
    val ref = scala.collection.mutable.ListBuffer[(String, String, Long)]()
    var exhausted = false
    for (_ <- 1 to kMerges if !exhausted) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, s) <- syms; p <- s.zip(s.tail))
        counts(p) = counts.getOrElse(p, 0L) + freq(w)
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l2, r2), c2) => (-c2, l2, r2) }
        ref += ((l, r, c))
        syms = syms.map { case (w, s) =>
          val out = s.foldLeft(List.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == l && x == r)
              acc.init :+ (l + r)
            else acc :+ x
          }
          w -> out
        }
      }
    }
    val dist = text.TextAnalysis.bpeMerges(spark, sfDir, kMerges)
    assert(dist == ref.toList,
      s"merge sequences diverge:\n  dist: $dist\n  ref:  ${ref.toList}")
    assert(dist.length >= 64, s"corpus saturated at ${dist.length} merges; " +
      "the k>=64 contract needs a deeper vocabulary")

    // the DISTRIBUTED pair-count shape (map-side partials over the type
    // table) agrees with the in-memory trainer's first selection
    val topPair = text.TextAnalysis.bpePairCounts(spark, sfDir).take(1).head
    assert((topPair.getString(0), topPair.getString(1), topPair.getLong(2)) ==
      ((dist.head._1, dist.head._2, dist.head._3)),
      "distributed pair count disagrees with the in-memory first merge")

    // and the ENCODE side: per-doc BPE token counts under those merges
    // equal the reference encoder — merges applied in rank order, one
    // full greedy pass each, over EVERY corpus word (including any the
    // prune dropped from training)
    val refTokens: Map[String, Int] = fullFreq.keys.map { w =>
      var s = w.split("").toList
      for ((l, r, _) <- ref)
        s = s.foldLeft(List.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
          else acc :+ x
        }
      w -> s.length
    }.toMap
    val expected = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.split("\\s+").map(refTokens).sum).toMap
    val got = text.TextAnalysis.q87.fn(spark, sfDir)
      .select("doc_id", "n_bpe_tok").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected, "q87 encode counts diverge from the reference encoder")
  }

  test("q116 token ids replay the reference encoder; shards pack a contiguous id stream") {
    val kMerges = 64
    // the merge SEQUENCE is reference-replayed by the q86 test above;
    // here the ID CONTRACT is re-derived independently: alphabet =
    // distinct corpus chars sorted (ids 0..A-1), merged types at
    // A + rank, first writer wins on duplicates
    val merges = text.TextAnalysis.bpeMerges(spark, sfDir, kMerges)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val alphabet = docs.flatMap(_._2.trim.split("\\s+"))
      .flatMap(_.toCharArray.map(String.valueOf)).distinct.sorted
    val idOf = scala.collection.mutable.HashMap[String, Int]()
    alphabet.zipWithIndex.foreach { case (c, i) => idOf.getOrElseUpdate(c, i) }
    merges.zipWithIndex.foreach { case ((l, r, _), i) =>
      idOf.getOrElseUpdate(l + r, alphabet.length + i)
    }
    val wordMemo = scala.collection.mutable.HashMap[String, Seq[Int]]()
    def refIds(t: String): Seq[Int] =
      t.trim.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
        wordMemo.getOrElseUpdate(w, {
          var s = w.split("").filter(_.nonEmpty).toList
          for ((l, r, _) <- merges)
            s = s.foldLeft(List.empty[String]) { (acc, x) =>
              if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
              else acc :+ x
            }
          s.map(idOf)
        })
      }
    val expected = docs.map { case (id, t) => id -> refIds(t) }.toMap
    val got = text.TextAnalysis.tokenIdSequences(spark, sfDir)
      .select("doc_id", "ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got == expected, "q116 id sequences diverge from the reference encoder")
    // totals tie to q87 exactly, and the training corpus has no OOV
    val counts = text.TextAnalysis.q87.fn(spark, sfDir)
      .select("doc_id", "n_bpe_tok").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (id, ids) =>
      assert(ids.length == counts(id), s"doc $id: ${ids.length} ids != q87")
      assert(!ids.contains(-1), s"doc $id: OOV id in the training corpus")
    }

    // the CATALOG projection is scalar-only (the driver checker can't
    // sort array cells); its digest must pin exactly the raw sequences
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString
    val catalog = SparkEntry.queries("q116_token_ids")(spark, sfDir)
      .select("doc_id", "n_ids", "ids_hash").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(catalog.keySet == expected.keySet, "q116 catalog row set diverges")
    catalog.foreach { case (id, (n, h)) =>
      assert(n == expected(id).length, s"doc $id: catalog n_ids diverges")
      val want = hex(sha.digest(expected(id).mkString(",").getBytes("UTF-8")))
      assert(h == want, s"doc $id: catalog ids_hash diverges from raw ids")
    }

    // the SHARD SINK's promise: reading one shard in (pack_id,
    // pack_offset) order and concatenating `ids` reconstructs that
    // shard's contiguous token stream, and every doc's ids begin at
    // global position pack_id*512 + pack_offset
    val out = java.nio.file.Files.createTempDirectory("graft_id_shards").toString
    text.TextAnalysis.writeTrainingShards(spark, sfDir, out)
    val back = spark.read.parquet(out)
      .select("shard", "pack_id", "pack_offset", "doc_id", "ids").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getSeq[Int](4)))
    back.groupBy(_._1).foreach { case (shard, rows) =>
      val ordered = rows.sortBy { case (_, p, o, id, _) => (p, o, id) }
      assert(ordered.map(_._4).toSeq ==
        docs.map(_._1).filter(_ % 8 == shard).toSeq,
        s"shard $shard: doc order broken")
      var pos = 0L
      ordered.foreach { case (_, packId, packOff, docId, ids) =>
        assert(packId * 512L + packOff == pos,
          s"shard $shard doc $docId: placement says ${packId * 512L + packOff}, stream is at $pos")
        assert(ids == expected(docId), s"shard $shard doc $docId: ids diverge")
        pos += ids.length
      }
    }
  }

  test("q35 projection preserves neighborhood structure (kNN pairs land close)") {
    // The sf test embeddings carry no label structure (1-NN label accuracy
    // ≈ the 10-class prior), so the honest invariant is the one the
    // refinement actually optimizes: vectors adjacent in the kNN graph
    // must sit closer in the 2-d embedding than average pairs do.
    val pts = ml.GanQueries.q35.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Double]("y1"), r.getAs[Double]("y2")))
      .toMap
    assert(pts.nonEmpty)
    val knn = sim.Similarity.q52.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    def dist(a: Long, b: Long): Double = {
      val (x1, y1) = pts(a); val (x2, y2) = pts(b)
      math.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))
    }
    val nbrMean = knn.map { case (a, b) => dist(a, b) }.sum / knn.length
    val ids = pts.keys.toArray.sorted
    // deterministic "random" pair sample: stride pairs
    val sample = ids.indices.map(i => (ids(i), ids((i * 7 + 13) % ids.length)))
      .filter { case (a, b) => a != b }
    val allMean = sample.map { case (a, b) => dist(a, b) }.sum / sample.length
    val ratio = nbrMean / allMean
    assert(ratio < 0.7, s"kNN-pair/average distance ratio $ratio — structure not preserved")
  }

  // Recall bars are MEANS over a deterministic set of in-corpus queries
  // (vec_id % 29 == 3, ~18 of 500): single-query recall@10 moves 0.1 per
  // missed neighbor, so a one-query assertion flips on every corpus
  // regeneration (it did, in round 7) while the operator is unchanged.
  private lazy val recallQueries: Array[Array[Double]] =
    Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 29 === 3)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  private def meanRecall(approx: Array[Double] => Set[Long]): Double = {
    val rs = recallQueries.map { q =>
      val exact = sim.Similarity.bruteTopK(spark, sfDir, 10, q).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      exact.intersect(approx(q)).size.toDouble / exact.size
    }
    rs.sum / rs.length
  }

  test("q133 batch IVF: per-query parity with single-query ivfTopK, mean recall >= 0.85") {
    val nProbe = sim.Similarity.ivfNProbe(ml.Centroids.centers(spark, sfDir).length)
    val queries = Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(53L)) === lit(2L))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    assert(queries.nonEmpty)
    val batch = sim.Similarity.q133.fn(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(r => (-r.getAs[Double]("cos_sim"), r.getAs[Long]("vec_id")))
          .map(_.getAs[Long]("vec_id")).toSeq
      }
    val recalls = queries.map { case (qid, q) =>
      val single = sim.Similarity.ivfTopK(spark, sfDir, nProbe, 10, q).collect()
        .map(_.getAs[Long]("vec_id")).toSeq
      // batch and single-query searches are the SAME algorithm — node-for-node
      assert(batch(qid) == single, s"qid $qid: batch ${batch(qid)} != single $single")
      val exact = sim.Similarity.bruteTopK(spark, sfDir, 10, q).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      exact.intersect(single.toSet).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.85, s"batch IVF mean recall@10 $mean over ${queries.length} queries")
  }

  test("q54 PQ mean top-10 recall >= 0.8 vs exact over the query set") {
    val r = meanRecall(q => sim.Similarity.pqTopK(spark, sfDir, 10, q)
      .collect().map(_.getAs[Long]("vec_id")).toSet)
    assert(r >= 0.8, s"PQ mean recall@10 $r over ${recallQueries.length} queries")
  }

  test("q55 IVF+PQ mean top-10 recall >= 0.75 vs exact over the query set") {
    lazy val index = sim.Similarity.compressedIndex(spark, sfDir)
    val r = meanRecall(q => sim.Similarity.probeCompressed(spark, sfDir, index, q)
      .collect().map(_.getAs[Long]("vec_id")).toSet)
    assert(r >= 0.75, s"IVF+PQ mean recall@10 $r (two approximations compose)")
  }

  test("q90 sketches stay inside their error bounds vs the exact columns") {
    val rows = operators.Relational.q90.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_orders").toDouble
      val exact = r.getAs[Long]("exact_orders").toDouble
      // HLL++ at rsd=0.02: allow 5 sigma
      assert(math.abs(approx - exact) <= math.max(0.1 * exact, 5),
        s"HLL estimate $approx too far from exact $exact")
      val med = r.getAs[Double]("approx_median")
      assert(med > 0, "median sketch must be positive on prices")
    }
  }

  test("q52 grid join with small chunks matches the single-broadcast result") {
    val whole = sim.Similarity.q52.fn(spark, sfDir).collect().toSeq
    // force a real multi-chunk grid (sf0.001 has ~100 vectors)
    val grid = sim.Similarity.q52TopKAgg(spark, sfDir, maxBuildRows = 16L)
      .collect().toSeq
    assert(grid == whole, s"chunked pair join must cover the same pair set")
  }

  test("q57 approximate kNN graph recalls >= 0.75 of the exact q52 edges (sf0.001 and sf0.01)") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val exact = sim.Similarity.q52.fn(spark, dir).select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = sim.Similarity.q57.fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = exact.intersect(approx).size.toDouble / exact.size
      assert(recall >= 0.75, s"approx kNN graph recall $recall at $dir")
    }
  }

  test("gated kNN edges: exact tier below the gate, blocked tier above it — same contract") {
    // Below ExactKnnMaxRows the gate must return the exact grid-join
    // result verbatim (the catalog behavior at every test SF)...
    val exact = sim.Similarity.q52TopKAgg(spark, sfDir, k = 3).collect().toSeq
    val gated = sim.Similarity.knnEdges(spark, sfDir, 3).collect().toSeq
    assert(gated == exact, "gate must pick the exact tier below the threshold")
    // ...and with the threshold forced below the corpus, the SAME public
    // gate must route to the blocked tier (the sf1 catalog behavior),
    // whose output honors the identical (id_a, rn, id_b, cos_sim)
    // contract: rn dense from 1 per id_a, ordered by (round-8 cos desc,
    // id_b), at most k rows per vector, no self-edges.
    val blocked = sim.Similarity.knnEdges(spark, sfDir, 3, maxExactRows = 1L)
      .collect().toSeq
    assert(blocked.nonEmpty)
    blocked.groupBy(_.getLong(0)).foreach { case (ida, rows) =>
      val byRn = rows.sortBy(_.getInt(1))
      assert(byRn.map(_.getInt(1)) == (1 to rows.size).toSeq, s"rn gap for $ida")
      assert(rows.size <= 3, s"more than k neighbors for $ida")
      assert(rows.forall(_.getLong(2) != ida), s"self-edge for $ida")
      val keys = byRn.map(r => (-r.getDouble(3), r.getLong(2)))
      assert(keys == keys.sorted, s"neighbor order broken for $ida")
    }
  }

  test("blocked kNN tier recall >= 0.75 of the exact edges at k=3 and k=10 (sf0.001, sf0.01)") {
    // The gate's approx tier must stay a faithful stand-in for the exact
    // tier it replaces above ExactKnnMaxRows: measured recall of the
    // exact edge set (measured ~0.85-0.95 here; floor pinned with slack).
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01"); k <- Seq(3, 10)) {
      val exact = sim.Similarity.q52TopKAgg(spark, dir, k = k)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val blocked = sim.Similarity.blockedKnnEdges(spark, dir, k)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = exact.intersect(blocked).size.toDouble / exact.size
      assert(recall >= 0.75, s"blocked kNN recall@$k $recall at $dir")
    }
  }

  test("blocked candidate pairs grow sub-quadratically across scale factors") {
    // The quantizer's cell count scales as max(16, ceil(sqrt(n))), so the
    // blocked pair volume should grow ~n^1.5, not the n^2 a fixed cell
    // count degrades to. Measure the realized growth exponent between
    // sf0.01 (n=500, 23 cells) and sf0.1 (n=2000, 45 cells) — the two
    // test corpora whose row counts actually differ.
    val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val Seq((n1, c1), (n2, c2)) = dirs.map { d =>
      (Regime.embeddings(spark, d).toDouble,
        dedup.Dedup.embeddingCandidatePairs(spark, d).count().toDouble)
    }
    val exponent = math.log(c2 / c1) / math.log(n2 / n1)
    assert(exponent <= 1.85,
      s"candidate growth exponent $exponent ($c1 pairs @ n=$n1 -> $c2 pairs @ n=$n2); " +
        "quadratic would be 2.0 — the cell count must scale with the corpus")
  }

  test("q56 persisted-index probe returns exactly q55's one-shot results") {
    val oneShot = sim.Similarity.q55.fn(spark, sfDir).collect().toSeq
    val indexed = sim.Similarity.q56.fn(spark, sfDir).collect().toSeq
    assert(indexed == oneShot,
      s"index probe must match the in-flight build:\n$indexed\nvs\n$oneShot")
  }

  test("q42 minhash estimates stay in [0,1] with ordered pairs") {
    val rows = dedup.Dedup.q42.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      val e = r.getAs[Double]("est_jaccard")
      assert(e >= 0.0 && e <= 1.0)
    }
  }

  test("q44 LSH-blocked near-dup pairs: true cosines, high recall vs brute top-k") {
    val out = dedup.Dedup.q44.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cos_sim")))
    assert(out.nonEmpty)
    val vecs = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // every reported cosine is the true pair cosine (blocking never
    // distorts scores, only prunes candidates)
    out.foreach { case (a, b, c) =>
      assert(a < b)
      assert(math.abs(c - cos(vecs(a), vecs(b))) < 1e-7, s"pair ($a,$b)")
    }
    // recall vs the exact brute-force top-k of the same size
    val ids = vecs.keys.toSeq.sorted
    val brute = (for (i <- ids; j <- ids if i < j) yield {
      val c = math.rint(cos(vecs(i), vecs(j)) * 1e8) / 1e8
      (i, j, c)
    }).sortBy(t => (-t._3, t._1, t._2)).take(out.length)
    val recall = out.map(t => (t._1, t._2)).toSet
      .intersect(brute.map(t => (t._1, t._2)).toSet).size.toDouble / brute.length
    assert(recall >= 0.8, s"blocked recall $recall vs brute top-${brute.length}")
  }

  test("q117 leakage split: total, hash-consistent, and actually leak-free") {
    val out = dedup.Dedup.q117.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // total assignment: one row per doc, only the three buckets
    assert(out.keySet == docs.keySet)
    assert(out.values.toSet.subsetOf(Set("train", "test", "quarantined")))
    // the base hash rule is respected: test docs are exactly the hash
    // rule's test bucket; quarantine only ever demotes TRAIN docs
    def base(id: Long) =
      if (((id % 1000003L) * 2654435761L % 97L) < 78) "train" else "test"
    out.foreach { case (id, s) =>
      if (base(id) == "test") assert(s == "test", s"doc $id: test must stay test")
      else assert(s != "test", s"doc $id: train can only stay or quarantine")
    }
    // the guarantee the operator sells: NO surviving train doc shares a
    // 20-char gram with any test doc, and every quarantined doc does
    def grams(t: String): Set[String] =
      if (t.length < 20) Set.empty
      else (0 to t.length - 20).map(i => t.substring(i, i + 20)).toSet
    val testGrams = docs.collect { case (id, t) if out(id) == "test" => grams(t) }
      .flatten.toSet
    out.foreach { case (id, s) =>
      val leaks = grams(docs(id)).exists(testGrams)
      if (s == "train") assert(!leaks, s"doc $id kept in train but shares a gram with test")
      if (s == "quarantined") assert(leaks, s"doc $id quarantined without a shared gram")
    }
  }

  test("q118 fertility is exactly the q60 x q62 composition grouped by predicted language") {
    val counts = text.TextAnalysis.q60.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_ws_tok").toLong, r.getAs[Int]("n_re_tok").toLong))).toMap
    val pred = text.TextAnalysis.q62.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred")).toMap
    val expect = pred.groupBy(_._2).map { case (l, m) =>
      val ids = m.keys.toSeq
      l -> ((m.size.toLong, ids.map(counts(_)._1).sum, ids.map(counts(_)._2).sum))
    }
    val rows = text.TextAnalysis.q118.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("pred")).toSet == expect.keySet)
    rows.foreach { r =>
      val (n, ws, re) = expect(r.getAs[String]("pred"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("ws_tokens") == ws)
      assert(r.getAs[Long]("re_tokens") == re)
      // fertility leaves as the single IEEE division of the two exact sums
      assert(r.getAs[Double]("fertility") == re.toDouble / ws)
    }
  }

  test("q120 chunking replays densely: stride-48/size-64 windows, 16-token overlap") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim.split("\\s+").toSeq).toMap
    val out = text.TextAnalysis.q120.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        ((r.getAs[Int]("n_tok_chunk"), r.getAs[String]("chunk_hash")))).toMap
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val expect = docs.flatMap { case (id, toks) =>
      (0 to (toks.size - 1) / 48).map { i =>
        val chunk = toks.slice(48 * i, 48 * i + 64)
        (id, i.toLong) -> ((chunk.size, md5(chunk.mkString(" "))))
      }
    }
    assert(out == expect)
    // consecutive full chunks overlap by exactly 16 tokens
    docs.foreach { case (_, toks) =>
      if (toks.size >= 112) {
        val a = toks.slice(0, 64); val b = toks.slice(48, 112)
        assert(a.drop(48) == b.take(16))
      }
    }
  }

  test("q121 shuffle shard: dense per-shard positions in key order, total and reproducible") {
    val out = ml.MlPrep.q121.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"), r.getAs[Long]("pos")))
    val ids = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(out.map(_._1).toSet == ids)
    def skey(id: Long) = (id % 1000003L) * 2654435761L % 1000000007L
    out.foreach { case (id, sh, _) => assert(sh == (skey(id) % 16).toInt) }
    // per shard: pos is exactly 1..n and follows ascending (skey, doc_id)
    out.groupBy(_._2).foreach { case (_, rows) =>
      val byPos = rows.sortBy(_._3)
      assert(byPos.map(_._3).toSeq == (1L to rows.size.toLong))
      val keys = byPos.map(r => (skey(r._1), r._1)).toSeq
      assert(keys == keys.sorted, "pos must follow ascending (skey, doc_id)")
    }
    // it IS a shuffle: within some shard, doc_ids are not in natural order
    assert(out.groupBy(_._2).exists { case (_, rows) =>
      val inPos = rows.sortBy(_._3).map(_._1).toSeq
      inPos != inPos.sorted
    }, "the permutation must not be the identity order")
    // reproducible: a second run is identical row-for-row
    val again = ml.MlPrep.q121.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"), r.getAs[Long]("pos")))
    assert(again.toSet == out.toSet)
  }

  test("q122 contamination report replays densely per benchmark") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def grams(t: String): Set[String] =
      if (t.length < 20) Set.empty
      else (0 to t.length - 20).map(i => t.substring(i, i + 20)).toSet
    val evalSets = (0 to 2).map { b =>
      b -> docs.collect { case (id, t) if id % 50 == b => grams(t) }.flatten.toSet
    }.toMap
    val train = docs.filter { case (id, _) => id % 50 >= 3 }
    val expect = evalSets.flatMap { case (b, eg) =>
      val shared = train.toSeq.map { case (id, t) => (grams(t) & eg).size }
        .filter(_ > 0)
      if (shared.isEmpty) None
      else Some(b -> ((shared.size.toLong, shared.map(_.toLong).sum, shared.max.toLong)))
    }
    val rows = dedup.Dedup.q122.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("eval_set")).toSet == expect.keySet)
    rows.foreach { r =>
      val (n, hits, mx) = expect(r.getAs[Int]("eval_set"))
      assert(r.getAs[Long]("n_contaminated") == n)
      assert(r.getAs[Long]("n_gram_hits") == hits)
      assert(r.getAs[Long]("max_shared") == mx)
      assert(r.getAs[Double]("contamination_rate") == n.toDouble / train.size)
    }
  }

  test("q123 OOV rate replays densely against the q101 vocab and covers every token") {
    val docs = Tables.documents(spark, sfDir).select("lang", "text").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("text").trim.split("\\s+").toSeq))
    val freqs = docs.flatMap(_._2).groupBy(identity).map { case (t, o) => t -> o.size }
    val vocab = freqs.filter(_._2 >= 2).toSeq
      .sortBy { case (t, f) => (-f, t) }.take(32768).map(_._1).toSet
    val expect = docs.groupBy(_._1).map { case (lang, ds) =>
      val toks = ds.flatMap(_._2)
      lang -> ((toks.size.toLong, toks.count(t => !vocab(t)).toLong))
    }
    val rows = text.TextAnalysis.q123.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet == expect.keySet)
    rows.foreach { r =>
      val (n, oov) = expect(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_tok") == n)
      assert(r.getAs[Long]("n_oov") == oov)
      assert(r.getAs[Double]("oov_rate") == oov.toDouble / n)
    }
    // every corpus token is counted exactly once across languages
    assert(rows.map(_.getAs[Long]("n_tok")).sum == docs.map(_._2.size).sum)
  }

  test("q124 temperature mix: probabilities normalize and match the dense pow schedule") {
    val st = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text").trim.split("\\s+").length.toLong))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    val z = st.values.map(n => math.pow(n.toDouble, 0.3)).sum
    val rows = text.TextAnalysis.q124.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("source")).toSet == st.keySet)
    rows.foreach { r =>
      val n = st(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_tok") == n)
      val p = math.pow(n.toDouble, 0.3) / z
      assert(math.abs(r.getAs[Double]("p_sample") - p) < 1e-7)
      assert(math.abs(r.getAs[Double]("epochs_at_1m") - p * 1e6 / n) < 1e-5)
    }
    // the schedule is a distribution, and small sources are upweighted
    // relative to their raw share (alpha < 1 flattens)
    assert(math.abs(rows.map(_.getAs[Double]("p_sample")).sum - 1.0) < 1e-6)
    val total = st.values.sum.toDouble
    val smallest = rows.minBy(_.getAs[Long]("n_tok"))
    assert(smallest.getAs[Double]("p_sample") > smallest.getAs[Long]("n_tok") / total)
  }

  test("q125 survivorship picks each cluster's longest member and flags upgrades vs q45") {
    val lens = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").length).toMap
    val q45rows = dedup.Dedup.q45.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("keep_id")))).toMap
    val rows = dedup.Dedup.q125.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("cluster_id")).toSet == q45rows.keySet)
    // members per cluster from the same label propagation q45 published
    rows.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val (n, keepFirst) = q45rows(cid)
      assert(r.getAs[Long]("n_members") == n)
      assert(r.getAs[Long]("first_id") == keepFirst)
      val survivor = r.getAs[Long]("survivor_id")
      assert(r.getAs[Int]("survivor_len") == lens(survivor))
      assert(r.getAs[Boolean]("upgraded") == (survivor != keepFirst))
      // the survivor is at least as long as the keep-first doc
      assert(lens(survivor) >= lens(keepFirst))
    }
  }

  test("q126 novelty replays densely: first-occurrence attribution in doc_id order") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim.split("\\s+").toSeq)
      .sortBy(_._1)
    def shingles(toks: Seq[String]): Set[String] =
      if (toks.size < 8) Set.empty
      else (0 to toks.size - 8).map(i => toks.slice(i, i + 8).mkString(" ")).toSet
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    val expect = docs.flatMap { case (id, toks) =>
      val sh = shingles(toks)
      if (sh.isEmpty) None
      else {
        sh.foreach(s => if (!firstSeen.contains(s)) firstSeen(s) = id)
        Some(id -> sh)
      }
    }.toMap
    val rows = text.TextAnalysis.q126.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == expect.keySet)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val sh = expect(id)
      val novel = sh.count(s => firstSeen(s) == id)
      assert(r.getAs[Long]("n_shingles") == sh.size.toLong)
      assert(r.getAs[Long]("n_novel") == novel.toLong)
      assert(r.getAs[Double]("novelty") == novel.toDouble / sh.size)
    }
    // the first qualifying doc is 100% novel by construction
    val firstDoc = expect.keys.min
    assert(rows.find(_.getAs[Long]("doc_id") == firstDoc).get
      .getAs[Double]("novelty") == 1.0)
  }

  test("q127 histogram: integer-exact log2 buckets, conserved totals, monotone cumulative") {
    val lens = Tables.documents(spark, sfDir).select("text").collect()
      .map(_.getAs[String]("text").trim.split("\\s+").length.toLong)
    def bucket(n: Long): Int =
      if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    val expect = lens.groupBy(bucket).map { case (b, xs) =>
      (1L << b) -> ((xs.size.toLong, xs.sum))
    }
    val rows = text.TextAnalysis.q127.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("max_len")).toSet == expect.keySet)
    rows.foreach { r =>
      val (n, tok) = expect(r.getAs[Long]("max_len"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_tok") == tok)
      // every doc in the bucket fits in max_len and overflows max_len/2
      assert(r.getAs[Long]("max_len") >= 1)
    }
    // conservation + monotone cumulative ending at exactly 1.0
    assert(rows.map(_.getAs[Long]("n_docs")).sum == lens.length.toLong)
    assert(rows.map(_.getAs[Long]("n_tok")).sum == lens.sum)
    val fracs = rows.sortBy(_.getAs[Long]("max_len")).map(_.getAs[Double]("cum_tok_frac"))
    assert(fracs.zip(fracs.tail).forall { case (a, b) => a <= b })
    assert(fracs.last == 1.0)
  }

  test("q128 provenance matrix is exactly the q42 pairs rolled up by source") {
    val srcs = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val pairs = dedup.Dedup.q42.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("est_jaccard")))
    val expect = pairs.groupBy { case (a, b, _) =>
      val (sa, sb) = (srcs(a), srcs(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, ps) =>
      k -> ((ps.size.toLong,
        BigDecimal(ps.map(_._3).sum / ps.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val rows = dedup.Dedup.q128.fn(spark, sfDir).collect()
    assert(rows.map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b"))).toSet
      == expect.keySet)
    rows.foreach { r =>
      val k = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b"))
      val (n, mj) = expect(k)
      assert(r.getAs[Long]("n_pairs") == n)
      assert(math.abs(r.getAs[Double]("mean_jaccard") - mj) < 1e-6, s"$k")
    }
    // conservation: every candidate pair lands in exactly one cell
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == pairs.length.toLong)
  }

  test("q129 diversity metrics match a dense per-doc recompute") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = text.TextAnalysis.q129.fn(spark, sfDir).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val toks = docs(r.getAs[Long]("doc_id")).trim.split("\\s+").toSeq
      val cnts = toks.groupBy(identity).map(_._2.size)
      val n = toks.size
      assert(r.getAs[Int]("n_tok") == n)
      assert(r.getAs[Int]("n_types") == cnts.size)
      assert(r.getAs[Double]("ttr") == cnts.size.toDouble / n)
      assert(r.getAs[Double]("hapax_ratio")
        == cnts.count(_ == 1).toDouble / cnts.size)
      val ent = math.log(n) - cnts.map(c => c * math.log(c)).sum / n
      assert(math.abs(r.getAs[Double]("entropy") - ent) < 1e-5)
      assert(r.getAs[Boolean]("low_diversity") == (cnts.size * 20 < n * 7))
    }
  }

  test("q129 plan is exchange-free: pure scan, no shuffle before the dump sort") {
    val plan = text.TextAnalysis.q129.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the only allowed exchange is the final orderBy's range partitioning
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), plan.take(2000))
  }

  test("q130 slope matches a dense least-squares fit and looks Zipf-like") {
    val tf = Tables.documents(spark, sfDir).select("source", "text").collect()
      .flatMap(r => r.getAs[String]("text").trim.split("\\s+")
        .map(t => (r.getAs[String]("source"), t)))
      .groupBy(identity).map { case ((s, t), g) => (s, t, g.size.toLong) }
    val rows = text.TextAnalysis.q130.fn(spark, sfDir).collect()
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val ranked = tf.filter(_._1 == src).toSeq
        .sortBy { case (_, t, f) => (-f, t) }.take(100).zipWithIndex
        .map { case ((_, _, f), i) => (math.log(i + 1.0), math.log(f.toDouble)) }
      assert(r.getAs[Int]("n_terms") == ranked.size)
      val n = ranked.size.toDouble
      val (mx, my) = (ranked.map(_._1).sum / n, ranked.map(_._2).sum / n)
      val sxx = ranked.map(p => (p._1 - mx) * (p._1 - mx)).sum
      val sxy = ranked.map(p => (p._1 - mx) * (p._2 - my)).sum
      val slope = sxy / sxx
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-4, src)
      assert(math.abs(r.getAs[Double]("intercept") - (my - slope * mx)) < 1e-4)
      // a frequency-ranked curve can only fall, and r2 is a valid fraction
      assert(slope < 0 && r.getAs[Double]("r2") >= 0 && r.getAs[Double]("r2") <= 1)
    }
  }

  test("q131 per-source signature is the elementwise min (MinHash union property)") {
    val docSigs = Tables.documents(spark, sfDir)
      .select(col("source"), VectorExprs.minHashSig(col("text")).as("sig"))
      .collect().map(r => r.getAs[String]("source") -> r.getSeq[Long](1))
    val unionSig = docSigs.groupBy(_._1).map { case (s, g) =>
      s -> (0 until 16).map(j => g.map(_._2(j)).min)
    }
    val rows = dedup.Dedup.q131.fn(spark, sfDir).collect()
    val sources = unionSig.keySet.toSeq.sorted
    // every unordered pair exactly once, canonically ordered
    assert(rows.length == sources.size * (sources.size - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      assert(a < b)
      val m = (0 until 16).count(j => unionSig(a)(j) == unionSig(b)(j))
      assert(r.getAs[Int]("n_perm_match") == m, s"($a,$b)")
      assert(r.getAs[Double]("est_jaccard") == m / 16.0)
    }
  }

  test("q119 packing audit: window math is exact and packing dominates padding") {
    val counts = text.TextAnalysis.q60.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_ws_tok").toLong).toMap
    val byShard = counts.groupBy { case (id, _) => (id % 8).toInt }
    val rows = text.TextAnalysis.q119.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("shard")).toSet == byShard.keySet)
    rows.foreach { r =>
      val toks = byShard(r.getAs[Int]("shard")).values.toSeq
      val total = toks.sum
      val packed = (total + 511) / 512
      val padded = toks.map(t => (t + 511) / 512).sum
      assert(r.getAs[Long]("n_docs") == toks.size.toLong)
      assert(r.getAs[Long]("total_tok") == total)
      assert(r.getAs[Long]("packed_windows") == packed)
      assert(r.getAs[Long]("padded_windows") == padded)
      // contiguous packing can never need MORE windows than pad-per-doc,
      // and utilization of the packed stream is in (0, 1]
      assert(packed <= padded)
      val util = r.getAs[Double]("packed_util")
      assert(util == total.toDouble / (packed * 512L))
      assert(util > 0.0 && util <= 1.0)
    }
  }

  test("q146 BPE size sweep: prefix property, monotone totals, q87 consistency") {
    // greedy BPE training is incremental — the m-merge tokenizer must be
    // EXACTLY the first m merges of the 64-merge run (the property the
    // one-train sweep stands on)
    val m64 = text.TextAnalysis.bpeMerges(spark, sfDir, 64)
    val m16 = text.TextAnalysis.bpeMerges(spark, sfDir, 16)
    assert(m64.take(16) === m16, "prefix property violated")

    val rows = text.TextAnalysis.q146.fn(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(0, 8, 16, 32, 64))
    val totals = rows.map(_.getLong(1))
    // every extra merge can only shrink (or keep) the corpus token count
    totals.zip(totals.tail).foreach { case (a, b) =>
      assert(b <= a, s"token total grew with more merges: $a -> $b") }
    assert(totals.head > totals.last,
      "64 merges must actually compress this corpus")
    // the 64-merge total ties exactly to q87's per-doc counts
    val q87Total = text.TextAnalysis.q87.fn(spark, sfDir)
      .agg(sum("n_bpe_tok")).take(1).head.getLong(0)
    assert(totals.last === q87Total)
  }
}
