package graft

import org.apache.spark.sql.functions._

/** Dense driver replays + structural invariants for the round-10 operator
  * batch (q204 prefix-filter set-similarity join, q205 ACF, q206 TWAP,
  * q207 equi-depth histogram, q208 RRF fusion). Each operator is
  * recomputed from raw collected rows in plain Scala and compared
  * value-for-value — the same discipline as the r8 analytics batch.
  */
class R10OperatorsSpec extends SparkSpec {

  // ── q204: the prefix-filter lemma is a GUARANTEE, not a recall target ──

  private def gramSet(t: String): Set[String] =
    if (t.length < 20) Set.empty
    else (0 to t.length - 20).map(i => t.substring(i, i + 20)).toSet

  test("q204 prefix-filter join equals the brute-force O(n²) Jaccard join") {
    val tau = 0.5
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> gramSet(r.getString(1)))
      .filter(_._2.nonEmpty).toMap
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if BigDecimal(j).setScale(8, BigDecimal.RoundingMode.HALF_EVEN) >= tau
    } yield (a, b, inter.toLong)).toSet
    val got = dedup.Dedup.prefixFilterJoin(spark, sfDir, tau, takeN = 1 << 20)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("inter"))).toSet
    assert(got == brute,
      s"missed=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("q204 factored+gated big-corpus plan equals brute force under a forced gate") {
    // forces the past-the-gate plan (df=1 factoring + identical-core
    // collapse + the extended-prefix AND gate) onto the spec fixture and
    // proves it is LOSSLESS — pair-for-pair equal to the brute-force
    // O(n²) join, i.e. the same bar the pinned small-corpus plan passes
    val tau = 0.5
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> gramSet(r.getString(1)))
      .filter(_._2.nonEmpty).toMap
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if BigDecimal(j).setScale(8, BigDecimal.RoundingMode.HALF_EVEN) >= tau
    } yield (a, b, inter.toLong)).toSet
    val got = dedup.Dedup.prefixFilterJoin(spark, sfDir, tau, takeN = 1 << 20,
        gateDocs = 0L)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("inter"))).toSet
    assert(got == brute,
      s"missed=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty, "fixture must contain qualifying pairs")
  }

  test("q204 factored plan's top-k threshold raise is exact (planted witnesses)") {
    // The r13 raise: with >= takeN same-core pairs, the takeN-th best
    // same-core jaccard J0 certifies the output's cut line and the
    // cross-core prefix machinery reruns at tauRun = max(tau, J0 - 1e-7).
    // Planted corpus: 3 clusters x 8 replicas (identical 50-token cores,
    // one df=1 single each -> J = 50/52) plus one cross-core near-dup
    // pair (60-token cores differing in one token, J = 59/61) that BEATS
    // the same-core witnesses and must still surface through the raised
    // blocking. Expected top-5 is computed by brute force over the same
    // planted sets.
    import spark.implicits._
    val S = 1000L // tids below S are df=1 singles
    def doc(id: Long, core: Seq[Long], single: Option[Long]) = {
      val toks = (core ++ single.toSeq).sorted
      (id, toks, toks.length.toLong)
    }
    val clusters = for {
      c <- 0 until 3; m <- 0 until 8
      core = (0 until 50).map(i => 2000L + 100L * c + i)
    } yield doc(10L * c + 10L + m, core, Some(8L * c + m))
    val crossA = doc(100L, (0 until 60).map(3000L + _), None)
    val crossB = doc(101L, (0 until 59).map(3000L + _) :+ 3100L, None)
    val all = clusters :+ crossA :+ crossB
    val docsDf = all.toDF("doc_id", "toks", "n")
    val got = dedup.Dedup.prefixFilterJoinFactored(
        spark, docsDf, singles = S, tau = 0.5, takeN = 5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("jaccard")))
    val sets = all.map { case (id, toks, _) => id -> toks.toSet }.toMap
    val brute = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size
      j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.5
    } yield (a, b, inter.toLong, sa.size.toLong, sb.size.toLong, j))
      .sortBy { case (a, b, _, _, _, j) => (-j, a, b) }
      .take(5)
    assert(got.length == 5, s"expected 5 rows, got ${got.length}")
    got.zip(brute).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3 &&
        g._4 == e._4 && g._5 == e._5 && math.abs(g._6 - e._6) < 1e-9,
        s"row mismatch: got $g expected $e")
    }
    // the cross-core near-dup must head the list: it beats the witnesses
    assert(got.head._1 == 100L && got.head._2 == 101L && got.head._3 == 59L)
  }

  test("q204 reported intersections equal the recomputed gram-set overlaps") {
    // every surviving pair must share at least one token — and with
    // exact verification the reported inter must equal |A∩B| recomputed
    val rows = dedup.Dedup.q204.fn(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> gramSet(r.getString(1)))
      .toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      assert((docs(a) & docs(b)).size.toLong == r.getAs[Long]("inter"))
      assert(r.getAs[Long]("n_a") == docs(a).size.toLong)
      assert(r.getAs[Long]("n_b") == docs(b).size.toLong)
    }
  }

  // ── q205: dense ACF replay + the null-corpus honesty bar ──

  test("q205 ACF replays densely; the null corpus stays inside the noise band") {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(expr("ts_us div 3600000000").as("h"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = operators.Relational.q205.fn(spark, sfDir).collect()
    assert(rows.length == 36)
    rows.foreach { r =>
      val lag = r.getAs[Long]("lag")
      val pairs = hourly.toSeq.flatMap { case (h, n) =>
        hourly.get(h + lag).map(n2 => (n, n2)) }
      val np = pairs.size.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val expect = (np.toDouble * sxy - sx.toDouble * sy) /
        (math.sqrt(np.toDouble * sxx - sx.toDouble * sx) *
         math.sqrt(np.toDouble * syy - sy.toDouble * sy))
      assert(r.getAs[Long]("np") == np, s"lag $lag pair count")
      assert(math.abs(r.getAs[Double]("r") - expect) < 1e-8, s"lag $lag r")
    }
    // honesty: the generator's arrivals are uniform — a correct ACF must
    // NOT report a strong period (q167's A/A convention). 0.25 is ~2.5×
    // the 2/√n white-noise band at the smallest SF.
    assert(rows.forall(r => math.abs(r.getAs[Double]("r")) < 0.25),
      "ACF hallucinated structure on an aperiodic corpus")
    assert(rows.count(_.getAs[Boolean]("is_top")) == 1, "exactly one top lag")
    val top = rows.filter(_.getAs[Boolean]("is_top")).head
    val best = rows.filter(_.getAs[Long]("lag") >= 2)
      .maxBy(r => (r.getAs[Double]("r"), -r.getAs[Long]("lag")))
    assert(top.getAs[Long]("lag") == best.getAs[Long]("lag"))
  }

  // ── q206: dense TWAP replay ──

  test("q206 time-weighted averages replay densely from raw events") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        expr("cast(round(value * 100) as bigint)").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1).view.mapValues { rows =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val segs = sorted.zip(sorted.tail).map { case (a, b) =>
        (BigInt(a._4) * BigInt(b._3 - a._3), b._3 - a._3) }
      if (segs.isEmpty) None
      else {
        val svd = segs.map(_._1).sum
        val sd = segs.map(_._2).sum
        Some(svd.toDouble / sd.toDouble / 100)
      }
    }.toMap.collect { case (u, Some(t)) => u -> t }
    val expect = byUser.values.groupBy(t => math.floor(t).toLong)
      .map { case (b, ts) => b -> (ts.size.toLong, ts.sum / ts.size) }
    val rows = streaming.Events.q206.fn(spark, sfDir).collect()
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val (users, avg) = expect(b)
      assert(r.getAs[Long]("users") == users, s"bucket $b users")
      // avg is a multi-term double mean (rounded to 6 in the operator;
      // the replay sums in a different order) — compare at that grain
      assert(math.abs(r.getAs[Double]("avg_twap") - avg) < 2e-6, s"bucket $b avg")
    }
  }

  // ── q207: conservation + depth invariants ──

  test("q207 equi-depth bins conserve rows and cents, tile the range, and balance") {
    val rows = operators.Relational.q207.fn(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("bin"))
    assert(rows.map(_.getAs[Long]("bin")).toSeq == (0L until 16L))
    val li = Tables.lineitem(spark, sfDir)
      .select(expr("cast(round(l_extendedprice * 100) as bigint)").as("c"))
      .agg(count(lit(1)).as("n"), sum("c").as("s")).collect()(0)
    assert(rows.map(_.getAs[Long]("rows_in_bin")).sum == li.getLong(0))
    assert(rows.map(_.getAs[Long]("sum_cents")).sum == li.getLong(1))
    // bins tile the value axis in order without overlap
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a.getAs[Long]("hi_cents") < b.getAs[Long]("lo_cents")) }
    // equi-depth at bucket granularity: depths within 2× of each other
    val depths = rows.map(_.getAs[Long]("rows_in_bin"))
    assert(depths.max.toDouble / depths.min <= 2.0,
      s"bin depths too skewed: min=${depths.min} max=${depths.max}")
  }

  // ── q208: dense RRF replay ──

  test("q208 RRF fusion replays densely from the two funnels") {
    val lex = text.TextAnalysis.q69.fn(spark, sfDir)
      .orderBy(desc("bm25"), asc("doc_id")).limit(100).collect()
      .map(r => r.getAs[Long]("doc_id")).zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val semRanks = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.functions.VectorExprs.cosineSim(col("embedding"),
          expr("transform(sequence(1, 64), i -> (CAST((i * 37) % 19 AS DOUBLE) - 9) / 10)")).as("c"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, c) => (-c, id) }.take(100).map(_._1).zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val fused = (lex.keySet ++ semRanks.keySet).toSeq.map { d =>
      val s = lex.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        semRanks.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (d, BigDecimal(s).setScale(8, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    }.sortBy { case (d, s) => (-s, d) }.take(20)
    val rows = sim.Similarity.q208.fn(spark, sfDir).collect()
    assert(rows.length == fused.length)
    rows.zip(fused).foreach { case (r, (d, s)) =>
      assert(r.getAs[Long]("doc_id") == d)
      assert(math.abs(r.getAs[Double]("rrf") - s) < 1e-9)
    }
    // fusion must be able to surface a doc the lexical funnel missed —
    // the property that distinguishes RRF from q98's cascade
    assert(rows.exists(r => r.isNullAt(r.fieldIndex("r_lex"))),
      "no semantic-only doc in the fused top-20 (cascade-equivalent)")
  }

  // ── q209: dense Spearman/Pearson replay with exact BigInt sums ──

  test("q209 rank and linear correlations replay densely from raw rows") {
    val raw = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        expr("cast(round(l_quantity) as bigint)").as("qv"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rows = operators.Relational.q209.fn(spark, sfDir).collect()
    val byFlag = raw.groupBy(_._1)
    assert(rows.length == byFlag.size)
    rows.foreach { r =>
      val flag = r.getAs[String]("flag")
      val g = byFlag(flag)
      val n = g.length
      assert(r.getAs[Long]("n") == n.toLong)
      // twice-mid-ranks per variable (bucket granularity for price)
      def ranks2(vals: Seq[Long]): Map[Long, BigInt] = {
        val cnt = vals.groupBy(identity).view.mapValues(_.size).toMap
        val sorted = cnt.keys.toSeq.sorted
        var cum = 0L
        sorted.map { v =>
          val c = cnt(v); val r2 = BigInt(2) * cum + c + 1; cum += c
          v -> r2
        }.toMap
      }
      val rx = ranks2(g.map(_._2).toSeq)
      val ry = ranks2(g.map(_._3 / 1000).toSeq)
      def pearson(xs: Seq[BigInt], ys: Seq[BigInt]): Double = {
        val nn = BigInt(n)
        val sx = xs.sum; val sy = ys.sum
        val sxx = xs.map(x => x * x).sum; val syy = ys.map(y => y * y).sum
        val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
        (nn.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
          (math.sqrt(nn.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
           math.sqrt(nn.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
      }
      val spearman = pearson(g.map(t => rx(t._2)).toSeq,
        g.map(t => ry(t._3 / 1000)).toSeq)
      val linear = pearson(g.map(t => BigInt(t._2)).toSeq,
        g.map(t => BigInt(t._3)).toSeq)
      assert(math.abs(r.getAs[Double]("spearman") - spearman) < 1e-7,
        s"flag $flag spearman")
      assert(math.abs(r.getAs[Double]("pearson") - linear) < 1e-7,
        s"flag $flag pearson")
      // quantity and price are independent in the generator: both
      // coefficients must sit near zero (the q167 A/A convention), and
      // Spearman on ranks must broadly agree with Pearson on values here
      assert(math.abs(spearman) < 0.15 && math.abs(linear) < 0.15,
        s"flag $flag correlation hallucinated on independent columns")
    }
  }

  // ── q210: mutual pairs derive exactly from the verified kNN edges ──

  test("q210 mutual-kNN pairs equal the reciprocal subset of the q52 graph") {
    val edges = sim.Similarity.q52.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("rn"), r.getAs[Double]("cos_sim")))
    val byPair = edges.map(e => (e._1, e._2) -> e).toMap
    val labels = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expect = edges.filter { case (a, b, _, _) =>
      a < b && byPair.contains((b, a))
    }.map { case (a, b, rnAb, cos) =>
      val (_, _, rnBa, cosRev) = byPair((b, a))
      assert(cos == cosRev, s"asymmetric cos on mutual pair ($a,$b)")
      (a, b, rnAb, rnBa, cos, labels(a) == labels(b))
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = sim.Similarity.q210.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("rn_ab"), r.getAs[Int]("rn_ba"),
        r.getAs[Double]("cos_sim"), r.getAs[Boolean]("same_label"))).toSeq
    assert(got == expect,
      s"mutual sets differ: got ${got.size}, expect ${expect.size}")
    assert(expect.nonEmpty, "no mutual pairs at this SF — vacuous test")
    // the generator's labels are independent of embedding geometry, so
    // the agreement rate lands near the 1/|labels| chance floor — the
    // audit's value is precisely that it MEASURES this honestly (a real
    // corpus with label-aligned embeddings reads high); no structure bar.
  }

  // ── q211/q212: hypothesis tests replay densely; nulls stay null ──

  test("q211 one-way ANOVA replays from raw cents with exact integer sums") {
    val raw = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val g = raw.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = g.size
    val n = raw.length
    val s = g.values.map(v => BigInt(v.sum)).sum
    val s2 = g.values.map(_.map(c => BigInt(c) * c).sum).sum
    def q(x: BigInt, y: Long): BigInt =
      BigDecimal(x.toDouble * x.toDouble / y.toDouble)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
    val tb = g.values.map(v => q(BigInt(v.sum), v.size)).sum
    val sterm = q(s, n)
    val fExp = ((tb - sterm).toDouble / (k - 1)) / ((s2 - tb).toDouble / (n - k))
    val etaExp = (tb - sterm).toDouble / (s2 - sterm).toDouble
    val row = operators.Relational.q211.fn(spark, sfDir).collect().head
    assert(row.getAs[Long]("n_groups") == k && row.getAs[Long]("n") == n)
    assert(math.abs(row.getAs[Double]("f_stat") - fExp) < 1e-5)
    assert(math.abs(row.getAs[Double]("eta_sq") - etaExp) < 1e-5)
    // priority and spend are independent in the generator: the A/A
    // convention — no hallucinated segmentation effect
    assert(row.getAs[Double]("eta_sq") < 0.01, "effect size on a null corpus")
  }

  test("q212 chi-square replays from the dense contingency table") {
    val raw = Tables.orders(spark, sfDir)
      .select("o_orderpriority", "o_orderstatus").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = raw.length.toLong
    val prios = raw.map(_._1).distinct.sorted
    val sts = raw.map(_._2).distinct.sorted
    val cnt = raw.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rt = prios.map(p => p -> raw.count(_._1 == p).toLong).toMap
    val ct = sts.map(st => st -> raw.count(_._2 == st).toLong).toMap
    val t8 = (for { p <- prios; st <- sts } yield {
      val o = cnt.getOrElse((p, st), 0L)
      val num = o.toDouble * n.toDouble - rt(p).toDouble * ct(st).toDouble
      BigDecimal(1e8 * (num * num) / (n.toDouble * rt(p).toDouble * ct(st).toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
    }).sum
    val chi2Exp = t8.toDouble / 1e8
    val row = operators.Relational.q212.fn(spark, sfDir).collect().head
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("df") == (prios.size - 1) * (sts.size - 1))
    assert(math.abs(row.getAs[Double]("chi2") - chi2Exp) < 1e-5)
    val vExp = math.sqrt(chi2Exp / (n.toDouble * math.min(prios.size - 1, sts.size - 1)))
    assert(math.abs(row.getAs[Double]("cramers_v") - vExp) < 1e-5)
    // A/A: under independence chi2 ~ mean df, sd sqrt(2·df) — a fixed
    // Cramér's-V bar would shrink with n and fail small SFs by design
    val df = (prios.size - 1) * (sts.size - 1)
    assert(row.getAs[Double]("chi2") < df + 6 * math.sqrt(2.0 * df),
      "chi2 beyond 6 sigma of the null on independent columns")
  }

  // ── q213: PSI replays densely; the baseline week reads exactly 0 ──

  test("q213 weekly PSI replays from the dense smoothed histograms") {
    val raw = Tables.events(spark, sfDir)
      .select(expr("ts_us div 604800000000").as("wk"),
        expr("cast(round(value * 100) as bigint) div 500").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dom = raw.map(_._2).distinct.sorted
    val weeks = raw.map(_._1).distinct.sorted
    val wk0 = weeks.min
    val byWk = raw.groupBy(_._1)
    def probs(wk: Long): Map[Long, Double] = {
      val rows = byWk(wk)
      val c = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      dom.map(b => b ->
        (c.getOrElse(b, 0L) + 1).toDouble / (rows.size + dom.size).toDouble).toMap
    }
    val p0 = probs(wk0)
    val got = operators.Relational.q213.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("wk"), r.getAs[Long]("n_events"), r.getAs[Double]("psi")))
    assert(got.map(_._1).toSeq == weeks.toSeq)
    got.foreach { case (wk, nev, psi) =>
      assert(nev == byWk(wk).size.toLong)
      val pw = probs(wk)
      val t9 = dom.map { b =>
        BigDecimal(1e9 * (pw(b) - p0(b)) * math.log(pw(b) / p0(b)))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      }.sum
      val expPsi = BigDecimal(t9.toDouble / 1e9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(psi - expPsi) < 1e-9, s"week $wk")
    }
    assert(got.find(_._1 == wk0).get._3 == 0.0, "baseline week must read 0")
    // the generator's weekly value mix is stationary, but finite-sample
    // PSI has a null mean of ~(B−1)·(1/n₀ + 1/n_w) (chi-square-like), so
    // a fixed industry bar (0.25) would encode the corpus size and fail
    // small SFs by design — bound each week at 3× its own null mean
    val n0 = byWk(wk0).size.toDouble
    got.filter(_._1 != wk0).foreach { case (wk, nev, psi) =>
      val nullMean = (dom.size - 1) * (1.0 / n0 + 1.0 / nev)
      assert(psi < 3.0 * nullMean,
        s"week $wk psi=$psi beyond 3x the null mean $nullMean")
    }
    assert(got.length >= 2, "need at least one non-baseline week")
  }

  // ── q214: MI replays densely; independent features carry ~no signal ──

  test("q214 per-feature MI replays from the dense joint counts") {
    val raw = Tables.part(spark, sfDir)
      .select(col("p_brand"), col("p_type"),
        expr("cast(p_size div 10 as string)").as("sz"),
        expr("cast(round(p_retailprice * 100) as bigint) >= 95000").as("t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    val feats: Map[String, Array[(String, Boolean)]] = Map(
      "brand" -> raw.map(r => (r._1, r._4)),
      "ptype" -> raw.map(r => (r._2, r._4)),
      "size_decade" -> raw.map(r => (r._3, r._4)))
    val got = ml.MlPrep.q214.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("feature") ->
        (r.getAs[Long]("n_values"), r.getAs[Double]("mi_nats"))).toMap
    assert(got.keySet == feats.keySet)
    feats.foreach { case (f, rows) =>
      val n = rows.length
      val cvt = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cv = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val ctt = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val t9 = cvt.map { case ((v, t), c) =>
        BigDecimal(1e9 * (c.toDouble / n)
          * math.log((c.toDouble * n) / (cv(v).toDouble * ctt(t).toDouble)))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      }.sum
      assert(got(f)._1 == cv.size.toLong, s"$f n_values")
      val expMi = BigDecimal(t9.toDouble / 1e9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(f)._2 - expMi) < 1e-9, s"$f mi")
      // price is independent of every categorical in the generator: MI
      // must sit near 0 (and never below it beyond quantization slack)
      assert(got(f)._2 > -1e-6 && got(f)._2 < 0.05, s"$f mi=${got(f)._2}")
    }
  }

  // ── q215: the sweep replays from q67's verified scores; curves are
  //    monotone dials ──

  test("q215 retention sweep replays from the verified per-doc scores") {
    val scores = text.TextAnalysis.q67.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("logprob")).toMap
    val meta = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filter(t => scores.contains(t._1))
    def bucket(lp: Double): Long =
      math.floor(math.round(lp * 1e6).toDouble / 10000.0).toLong
    val taus = (-190 to -155 by 5).map(_.toLong)
    val bySource = meta.groupBy(_._2)
    val got = text.TextAnalysis.q215.fn(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Double]("tau"),
        r.getAs[Long]("docs_kept"), r.getAs[Long]("chars_kept"),
        r.getAs[Double]("frac_docs"), r.getAs[Double]("frac_chars")))
    assert(got.length == bySource.size * taus.size)
    got.foreach { case (src, tau, dk, ck, fd, fc) =>
      val rows = bySource(src)
      val t100 = math.round(tau * 100)
      val kept = rows.filter(t => bucket(scores(t._1)) >= t100)
      assert(dk == kept.size.toLong, s"$src tau=$tau docs")
      assert(ck == kept.map(_._3).sum, s"$src tau=$tau chars")
      assert(fd == dk.toDouble / rows.size && fc >= 0.0 && fc <= 1.0)
    }
    // retention is a dial: non-increasing in tau within every source
    got.groupBy(_._1).foreach { case (src, rows) =>
      val byTau = rows.sortBy(_._2).map(_._3)
      assert(byTau.zip(byTau.tail).forall { case (a, b) => a >= b },
        s"$src retention not monotone: ${byTau.toSeq}")
    }
  }

  // ── q216: Mann–Whitney replays densely at bucket granularity ──

  test("q216 Mann-Whitney U replays from the dense bucket histogram") {
    val raw = Tables.orders(spark, sfDir)
      .select((col("o_orderstatus") === "F").as("ga"),
        expr("cast(round(o_totalprice * 100) as bigint) div 1000").as("pb"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    val buckets = raw.map(_._2).distinct.sorted
    val ca = raw.filter(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cb = raw.filterNot(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val na = raw.count(_._1).toLong
    val nb = raw.size - na
    var cum = 0L
    var ra2 = BigInt(0)
    var st = BigInt(0)
    buckets.foreach { b =>
      val a = ca.getOrElse(b, 0L); val bb = cb.getOrElse(b, 0L)
      val t = a + bb
      val r2 = BigInt(2) * cum + t + 1
      ra2 += BigInt(a) * r2
      st += BigInt(t) * t * t - t
      cum += t
    }
    val u2 = ra2.toDouble - na.toDouble * (na.toDouble + 1)
    val n = na.toDouble + nb.toDouble
    val zExp = (u2 - na.toDouble * nb) /
      (2.0 * math.sqrt(na.toDouble * nb / 12.0 * ((n + 1) - st.toDouble / (n * (n - 1)))))
    val row = operators.Relational.q216.fn(spark, sfDir).collect().head
    assert(row.getAs[Long]("n_a") == na && row.getAs[Long]("n_b") == nb)
    assert(math.abs(row.getAs[Double]("u_a") - u2 / 2.0) <= math.ulp(u2) * 4)
    assert(math.abs(row.getAs[Double]("z_score") - zExp) < 1e-5)
    // status and spend are independent in the generator (A/A): the
    // standardized U stays inside a wide null band
    assert(math.abs(row.getAs[Double]("z_score")) < 6.0,
      s"z=${row.getAs[Double]("z_score")} on independent columns")
  }
}
