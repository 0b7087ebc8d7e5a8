package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExprs
import graft.ml.Gan
import graft.multimodal.Binary

class EdgeCaseSpec extends SparkSpec {

  test("BpeTrainer degenerate vocabularies: empty, single-char, exhaustion, ties") {
    import graft.text.BpeTrainer
    // empty type table → no merges
    assert(BpeTrainer.train(Array.empty, 10) == Nil)
    // single-character words carry no pairs → no merges
    assert(BpeTrainer.train(Array(("a", 5L), ("b", 3L)), 10) == Nil)
    // exhaustion: "ab"×2 fully merges in 1 round even with k=10
    assert(BpeTrainer.train(Array(("ab", 2L)), 10) == List(("a", "b", 2L)))
    // deterministic tie-break (count desc, left asc, right asc):
    // "ab" and "cd" both freq 1 → (a,b) merges first
    val merges = BpeTrainer.train(Array(("ab", 1L), ("cd", 1L)), 2)
    assert(merges == List(("a", "b", 1L), ("c", "d", 1L)))
    // overlapping run "aaa": greedy left fold counts (a,a) twice per
    // word occurrence, merges to [aa, a], then (aa, a)
    val run = BpeTrainer.train(Array(("aaa", 2L)), 3)
    assert(run == List(("a", "a", 4L), ("aa", "a", 2L)))
    // incremental bookkeeping equals a naive recount after many merges
    val types = Array(("abab", 3L), ("abc", 2L), ("bc", 5L), ("cab", 1L))
    val inc = BpeTrainer.train(types, 6)
    var syms = types.map { case (w, f) => (w.split("").toList, f) }
    val naive = scala.collection.mutable.ListBuffer[(String, String, Long)]()
    var stop = false
    for (_ <- 1 to 6 if !stop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((s, f) <- syms; p <- s.zip(s.tail)) counts(p) = counts.getOrElse(p, 0L) + f
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), c) = counts.minBy { case ((l2, r2), c2) => (-c2, l2, r2) }
        naive += ((l, r, c))
        syms = syms.map { case (s, f) =>
          (s.foldLeft(List.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
            else acc :+ x
          }, f)
        }
      }
    }
    assert(inc == naive.toList, s"incremental $inc vs naive ${naive.toList}")
  }

  test("BpeTrainer sustains a realistic merge count over a deep synthetic vocabulary") {
    // deterministic Zipfian type table with enough combinatorial depth
    // that 1024 merges don't exhaust: words are length-4..12 strings
    // over a 26-letter alphabet from an LCG, freq ~ 1/rank
    val rnd = new java.util.Random(42)
    val types = Array.tabulate(5000) { i =>
      val len = 4 + rnd.nextInt(9)
      val w = new StringBuilder
      (0 until len).foreach(_ => w += ('a' + rnd.nextInt(26)).toChar)
      (w.toString, math.max(1L, 100000L / (i + 1)))
    }.distinctBy(_._1)
    val k = 1024
    val t0 = System.nanoTime()
    val merges = graft.text.BpeTrainer.train(types, k)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(merges.length == k, s"vocabulary exhausted at ${merges.length} merges")
    // counts must be non-increasing is NOT guaranteed by BPE (a merged
    // symbol can create a more frequent pair), but every count must be
    // positive and the first equals the true max adjacent-pair mass
    assert(merges.forall(_._3 > 0))
    val firstCounts = scala.collection.mutable.Map[(String, String), Long]()
    for ((w, f) <- types; p <- w.split("").toSeq.zip(w.split("").toSeq.tail))
      firstCounts(p) = firstCounts.getOrElse(p, 0L) + f
    val trueMax = firstCounts.minBy { case ((l, r), c) => (-c, l, r) }
    assert(merges.head == ((trueMax._1._1, trueMax._1._2, trueMax._2)))
    // the in-memory loop is the point of the constant-job design: a
    // thousand merges must complete in seconds, not as 1024 cluster jobs
    assert(secs < 30.0, f"BpeTrainer took $secs%.1f s for $k merges")
    info(f"$k merges over ${types.length} types in $secs%.2f s")
  }

  test("BpeTrainer reaches a production 32k-merge vocabulary in seconds") {
    // the merge count a real tokenizer ships with, over a type table at
    // the bpeMaxTypes scale: the lazy-heap winner selection makes the
    // whole fit O(updates log H) — no per-merge scan of the pair space,
    // no per-merge cluster job
    val rnd = new java.util.Random(7)
    val types = Array.tabulate(60000) { i =>
      val len = 6 + rnd.nextInt(11)
      val w = new StringBuilder
      (0 until len).foreach(_ => w += ('a' + rnd.nextInt(26)).toChar)
      (w.toString, math.max(1L, 1000000L / (i + 1)))
    }.distinctBy(_._1)
    val k = 32768
    val t0 = System.nanoTime()
    val merges = graft.text.BpeTrainer.train(types, k)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(merges.length == k, s"vocabulary exhausted at ${merges.length} merges")
    assert(merges.forall(_._3 > 0))
    assert(merges.map(m => (m._1, m._2)).distinct.length == k,
      "a pair must never be selected twice")
    assert(secs < 60.0, f"BpeTrainer took $secs%.1f s for $k merges")
    info(f"$k merges over ${types.length} types in $secs%.2f s")
  }

  test("CosineSim handles nulls and length mismatch gracefully") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(1.0, 2.0, 3.0))), // length mismatch → min length
      (None, Some(Array(1.0, 2.0))))                          // null → null
      .toDF("a", "b")
    val out = df.select(VectorExprs.cosineSim(col("a"), col("b"))).collect()
    assert(!out(0).isNullAt(0)) // computed over the common prefix
    assert(out(1).isNullAt(0))
  }

  test("CharNgrams of short/empty strings is empty, not an error") {
    import spark.implicits._
    val out = Seq("", "ab").toDF("t")
      .select(VectorExprs.charNgrams(col("t"), 3)).collect()
    assert(out.forall(_.getSeq[String](0).isEmpty))
  }

  test("PqEncode/AdcScoreVec propagate nulls; zero vector encodes without error") {
    import spark.implicits._
    val books = Array(1.0, 0.0, 0.0, 1.0) // 1 subspace, 2 codes, dim 2
    val df = Seq(Some(Array(0.0f, 0.0f)), None).toDF("e")
    val out = df.select(
      VectorExprs.pqEncode(col("e"), books, 1, 2, 2).as("c")).collect()
    // zero vector → 0/0 normalization is NaN-distance; argmin keeps the
    // initial best=-1 … it must not throw, and ties/NaNs stay deterministic
    assert(!out(0).isNullAt(0))
    assert(out(1).isNullAt(0), "null embedding must encode to null")
    val df2 = Seq((Some(Array(1.0, 0.0)), Some(Seq(0))), (None, Some(Seq(0))))
      .toDF("q", "codes")
    val adc = df2.select(
      VectorExprs.adcScoreVec(col("q"), col("codes"), books, 1, 2, 2).as("a")).collect()
    assert(adc(0).getDouble(0) == 0.0)
    assert(adc(1).isNullAt(0), "null query must score null")
  }

  test("decodeStub: empty payload yields finite features") {
    val f = Binary.decodeStub(Array.emptyByteArray)
    assert(f.length == 8 && f.forall(v => !v.isNaN && !v.isInfinite))
    val g = Binary.decodeStub("hello".getBytes)
    assert(math.abs(g.sum - 1.0) < 1e-9) // histogram normalizes to 1
  }

  test("GAN trains on a single-partition dataset (degenerate parallelism)") {
    import spark.implicits._
    val rng = new java.util.Random(5)
    val tiny = (0 until 40).map(i => (i.toLong, Array.fill(64)(rng.nextDouble())))
      .toDF("vec_id", "x").repartition(1)
    val model = Gan.train(tiny, Gan.Config(rounds = 1, batchSize = 16))
    assert(model.dParams.forall(p => !p.isNaN))
    assert(model.generate(new Array[Double](8)).forall(v => v >= 0 && v <= 1))
  }

  test("sessionize (q13) and funnel (q92) agree on event totals") {
    val sessions = operators.Relational.q13.fn(spark, sfDir)
    val totalEvents = sessions.agg(sum("n_events")).head.getLong(0)
    assert(totalEvents == Tables.events(spark, sfDir).count())
  }

  test("TopKNbrAgg: exact ties rank by id, epsilon-close values all survive to the rounded order") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    // group 1: an exact three-way tie at 0.5 plus a better 0.9 — the tie
    // ranks by id; group 2: two values 3e-9 apart that round to the SAME
    // 8-decimal value, so the final order flips to the smaller id even
    // though the larger id had the (unrounded) larger cosine
    val rows = Seq(
      (1L, 10L, 0.5), (1L, 12L, 0.5), (1L, 11L, 0.5), (1L, 13L, 0.9),
      (2L, 21L, 0.123456784), (2L, 20L, 0.123456781),
      (3L, 30L, 0.7)) // fewer than k entries
      .toDF("id_a", "id_b", "cos_sim")
    val topk = GraftBridge.column(functions.TopKNbrAgg(
      GraftBridge.expression(col("cos_sim")),
      GraftBridge.expression(col("id_b")), 3).toAggregateExpression())
    val out = rows.repartition(4).groupBy("id_a").agg(topk.as("nbrs"))
      .select(col("id_a"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("id_a"), col("pos"), col("nbr._1").as("c"), col("nbr._2").as("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toList
    assert(out.filter(_._1 == 1L).map(t => (t._3, t._4)) ==
      List((0.9, 13L), (0.5, 10L), (0.5, 11L)))
    // both round to 0.12345678; smaller id wins the rounded tie
    assert(out.filter(_._1 == 2L).map(t => (t._3, t._4)) ==
      List((0.12345678, 20L), (0.12345678, 21L)))
    assert(out.filter(_._1 == 3L).map(t => (t._3, t._4)) == List((0.7, 30L)))
  }

  test("ZOrder degenerate inputs: constant dimension, single file, tiny table") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("zedge").toString
    // constant second dimension: scale span guards against /0, every row
    // quantizes to cell 0 on that axis, the write still round-trips
    val const = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("a", "b")
    graft.sources.ZOrder.writeZOrderedN(const, s"$base/c", Seq("a", "b"), 2)
    assert(spark.read.parquet(s"$base/c").count() == 3)
    // one file requested: range partitioning to a single partition
    val one = Seq((5L, 5L)).toDF("a", "b")
    graft.sources.ZOrder.writeZOrderedN(one, s"$base/o", Seq("a", "b"), 1, curve = "hilbert")
    assert(spark.read.parquet(s"$base/o").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 5L)))
  }

  test("mergeAggregates edges: empty delta is identity, disjoint keys union") {
    import spark.implicits._
    val base = Seq((1L, 2L, 100L), (2L, 1L, 50L)).toDF("k", "n", "cents")
    val emptyDelta = Seq.empty[(Long, Long, Long)].toDF("k", "n", "cents")
    val same = graft.operators.Incremental
      .mergeAggregates(base, emptyDelta, "k", Seq("n", "cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(same.toSeq == Seq((1L, 2L, 100L), (2L, 1L, 50L)))
    val disjoint = Seq((3L, 4L, 7L)).toDF("k", "n", "cents")
    val merged = graft.operators.Incremental
      .mergeAggregates(base, disjoint, "k", Seq("n", "cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(merged.toSeq == Seq((1L, 2L, 100L), (2L, 1L, 50L), (3L, 4L, 7L)))
  }

  test("HilbertIndex null and boundary behavior") {
    import spark.implicits._
    val df = Seq((Some(0L), Some(0L)), (Some(31L), Some(31L)), (None, Some(1L)))
      .toDF("x", "y")
    val out = df.select(
      graft.functions.SpatialExprs.hilbertIndexN(Seq(col("x"), col("y")), 5).as("d"))
      .collect()
    assert(out(0).getLong(0) == 0L)              // origin is curve start
    assert(!out(1).isNullAt(0) && out(1).getLong(0) < 1024L)
    assert(out(2).isNullAt(0), "null input must yield null, not a crash")
  }

  test("jacobiEigen degenerate matrices: identity, diagonal, rank-deficient") {
    import graft.ml.Whitening.jacobiEigen
    val (li, vi) = jacobiEigen(Array.tabulate(4, 4)((i, j) => if (i == j) 1.0 else 0.0))
    assert(li.forall(l => math.abs(l - 1.0) < 1e-12))
    // orthonormality survives the no-rotation path
    for (a <- 0 until 4; b <- 0 until 4) {
      val dot = (0 until 4).map(i => vi(i)(a) * vi(i)(b)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-12)
    }
    val (ld, _) = jacobiEigen(Array(
      Array(5.0, 0.0, 0.0), Array(0.0, -2.0, 0.0), Array(0.0, 0.0, 0.5)))
    assert(ld.sorted.zip(Seq(-2.0, 0.5, 5.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // rank-1: outer(u, u) with u = (1, 2) → eigvals {0, 5}
    val (lr, _) = jacobiEigen(Array(Array(1.0, 2.0), Array(2.0, 4.0)))
    assert(lr.sorted.zip(Seq(0.0, 5.0)).forall { case (a, b) => math.abs(a - b) < 1e-10 })
  }

  test("absorbConv degenerate chains: certain conversion, no conversion, full removal") {
    import graft.operators.Relational.absorbConv
    val certain = Seq(("START", "click", 3L), ("click", "CONV", 3L))
    assert(math.abs(absorbConv(certain, Set.empty) - 1.0) < 1e-12)
    val never = Seq(("START", "click", 3L), ("click", "DROP", 3L))
    assert(absorbConv(never, Set.empty) == 0.0)
    // removing the only path cuts conversion to zero
    assert(absorbConv(certain, Set("click")) == 0.0)
    // a 50/50 branch
    val half = Seq(("START", "click", 2L), ("click", "CONV", 1L), ("click", "DROP", 1L))
    assert(math.abs(absorbConv(half, Set.empty) - 0.5) < 1e-12)
  }

  test("q150/q161 on a degenerate single-length corpus: cuts collapse, one stage") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-degenerate")
    (1L to 20L).map(i => (i, "word " * 10, "en", "srcA", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val w = text.TextAnalysis.q150.fn(spark, dir.toString).collect()
    assert(w.length == 1)
    assert(w.head.getAs[Long]("p05") == 50L && w.head.getAs[Long]("p95") == 50L)
    assert(w.head.getAs[Double]("mean_raw") == w.head.getAs[Double]("mean_winsor"))
    val c = text.TextAnalysis.q161.fn(spark, dir.toString).collect()
    assert(c.length == 1 && c.head.getAs[Int]("stage") == 1)
    assert(c.head.getAs[Long]("n_docs") == 20L)
  }
}
