package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Dense replays + structural invariants for the round-11 operator batch
  * (q217 incremental prefix-filter dedup). The headline claims are
  * (a) append == rebuild: refreshing against the frozen snapshot index
  * yields pair-for-pair the output a from-scratch rebuild with FRESH df
  * statistics yields — the prefix lemma holds under any consistent total
  * order and verification is exact, so the frozen order can change
  * candidate sets but never answers; and (b) the corpus index tables are
  * never re-shuffled by a refresh.
  */
class R11OperatorsSpec extends SparkSpec {

  test("q217 incremental refresh == full fresh-df rebuild, restricted to batch-involved pairs") {
    val tau = 0.5
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("jaccard"))).toSet
    val inc = rows(dedup.Dedup.incrementalPrefixJoin(spark, sfDir, tau, takeN = 1 << 20))
    // the rebuild reference: q204's one-shot join over corpus ∪ batch
    // with df counted FRESH over the union — a different token order
    // than the frozen snapshot's, which is exactly the point
    val rebuild = rows(dedup.Dedup.prefixFilterJoin(spark, sfDir, tau, takeN = 1 << 20))
      .filter(t => t._1 % 10 == 0 || t._2 % 10 == 0)
    assert(inc == rebuild,
      s"missed=${(rebuild -- inc).take(5)} extra=${(inc -- rebuild).take(5)}")
    assert(inc.nonEmpty, "fixture must contain batch-involved near-dup pairs")
    // and every emitted pair involves a batch doc (corpus-corpus pairs
    // were settled when the snapshot was built)
    inc.foreach { t =>
      assert(t._1 % 10 == 0 || t._2 % 10 == 0, s"corpus-corpus pair leaked: $t")
    }
  }

  test("q217 gated refresh (forced) == ungated refresh == fresh-df rebuild") {
    // forces the past-the-gate snapshot rule (extended prefixes + the
    // per-pair AND gate on shared-token counts) and proves the refresh
    // output is unchanged — the gate is a theorem, not a recall knob
    val tau = 0.5
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("jaccard"))).toSet
    val ungated = rows(dedup.Dedup.incrementalPrefixJoin(spark, sfDir, tau,
      takeN = 1 << 20))
    val gated = rows(dedup.Dedup.incrementalPrefixJoin(spark, sfDir, tau,
      takeN = 1 << 20, gateDocs = 0L))
    assert(gated == ungated,
      s"missed=${(ungated -- gated).take(5)} extra=${(gated -- ungated).take(5)}")
    assert(gated.nonEmpty, "fixture must contain batch-involved pairs")
  }

  test("q217 plan: corpus index tables are read in place, never under a refresh exchange") {
    val df = dedup.Dedup.incrementalPrefixJoin(spark, sfDir, 0.5, takeN = 100)
    val plan = df.queryExecution.sparkPlan
    def scansUnder(p: SparkPlan): Seq[String] = p.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    val all = scansUnder(plan)
    assert(all.exists(_.contains("graft_pf_prefix")),
      s"candidate join must read the persisted prefix table:\n$plan")
    assert(all.exists(_.contains("graft_pf_docs")),
      s"verification must read the persisted doc-artifact table:\n$plan")
    // no corpus index scan may sit below a shuffle: the refresh moves
    // batch-derived rows INTO the buckets, never the buckets themselves
    val shuffledScans = plan.collect { case e: ShuffleExchangeExec => e }
      .flatMap(scansUnder)
    Seq("graft_pf_prefix", "graft_pf_docs").foreach { t =>
      assert(!shuffledScans.exists(_.contains(t)),
        s"$t was re-shuffled by the refresh:\n$plan")
    }
  }

  test("q218 Theil-Sen and OLS slopes equal the dense pairwise replay") {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts_us div 3600000000").as("hi"))
      .groupBy("event_type", "hi").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val h0 = rows.map(_._2).min
    val byType = rows.groupBy(_._1)
    val got = operators.Relational.q218.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == byType.keySet)
    byType.foreach { case (et, hs) =>
      val pts = hs.map(t => (t._2 - h0, t._3)).sortBy(_._1)
      val slopes = (for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield (pts(j)._2 - pts(i)._2).toDouble /
          (pts(j)._1 - pts(i)._1).toDouble).sorted
      val cnt = slopes.length
      // median = avg of sorted positions (cnt+1)/2 and cnt/2+1 (1-based)
      val med = (slopes((cnt + 1) / 2 - 1) + slopes(cnt / 2)) / 2
      val m = pts.length.toDouble
      val (sx, sy) = (pts.map(_._1).sum.toDouble, pts.map(_._2).sum.toDouble)
      val sxy = pts.map(p => BigInt(p._1) * p._2).sum.toDouble
      val sxx = pts.map(p => BigInt(p._1) * p._1).sum.toDouble
      val ols = (m * sxy - sx * sy) / (m * sxx - sx * sx)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val row = got(et)
      assert(row.getAs[Long]("n_hours") == pts.length.toLong)
      assert(row.getAs[Long]("n_pairs") == cnt.toLong)
      assert(row.getAs[Double]("ts_slope") == r6(med), s"$et ts")
      assert(row.getAs[Double]("ols_slope") == r6(ols), s"$et ols")
    }
  }

  test("q219 rank-eval equals the dense BM25 + NDCG replay; metrics non-degenerate") {
    val terms = Seq("filter", "join", "merge", "scan", "spark")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("tk")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = docs.length.toDouble
    val avgdl = r6(docs.map(_._2.length).sum / n)
    val got = text.TextAnalysis.q219.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    terms.foreach { t =>
      val tf = docs.map { case (id, tk) => (id, tk.count(_ == t), tk.length) }
      val df = tf.count(_._2 > 0).toDouble
      val scored = tf.map { case (id, f, dl) =>
        val bm = r6(math.log((n - df + 0.5) / (df + 0.5) + 1) * (f * 2.2) /
          (f + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        (id, bm, math.max(math.min(f - 2, 3), 0))
      }
      val top10 = scored.sortBy(s => (-s._2, s._1)).take(10)
      def q9(x: Double) = math.round(1e9 * x)
      val dcg9 = top10.zipWithIndex.map { case ((_, _, rel), i) =>
        q9((math.pow(2, rel) - 1) / (math.log(i + 2) / math.log(2)))
      }.sum
      val hist = scored.groupBy(_._3).map { case (k, v) => k -> v.size }
      val (c3, c2, c1) = (hist.getOrElse(3, 0), hist.getOrElse(2, 0), hist.getOrElse(1, 0))
      val idcg9 = (1 to 10).map { p =>
        val rel = if (p <= c3) 3 else if (p <= c3 + c2) 2
          else if (p <= c3 + c2 + c1) 1 else 0
        q9((math.pow(2, rel) - 1) / (math.log(p + 1) / math.log(2)))
      }.sum
      val firstRel = top10.zipWithIndex.find(_._1._3 > 0).map(_._2 + 1)
      val row = got(t)
      assert(row.getAs[Long]("n_rel") == scored.count(_._3 > 0).toLong)
      assert(row.getAs[Double]("rr_at_10") ==
        r6(firstRel.map(1.0 / _).getOrElse(0.0)), s"$t rr")
      assert(row.getAs[Double]("ndcg_at_10") ==
        r6(if (idcg9 == 0) 0.0 else dcg9.toDouble / idcg9), s"$t ndcg")
      // honest scale-invariant bounds only (a strict < 1 would encode
      // the corpus size — at sf0.001 a term's top-10 can be ideally
      // ordered; sf0.01 measures 0.63-0.81): DCG can never beat IDCG
      val ndcg = row.getAs[Double]("ndcg_at_10")
      assert(ndcg > 0.0 && ndcg <= 1.0, s"$t ndcg out of range: $ndcg")
    }
  }

  test("q217 catalog entry is bounded and ordered like q204") {
    val out = dedup.Dedup.q217.fn(spark, sfDir).collect()
    assert(out.length <= 100)
    val js = out.map(_.getAs[Double]("jaccard"))
    assert(js.sameElements(js.sortBy(-_)), "rows must order by jaccard desc")
    out.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.5)
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      assert(a < b, s"pair ids must be ordered: ($a, $b)")
    }
  }
}
