package graft

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorExprs
import graft.ml.Centroids

/** The quantizer memos' cold-build path: the native L2-normalize kernel
  * against the lambda form it replaced, the concurrent PQ fits and the
  * pinned k-means solver against a sequential `auto`-solver reference
  * fit, and the repartitioned kNN-graph join against the plan without
  * the repartition.
  */
class QuantizerSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The `transform`/`aggregate` form `Centroids.unitVec` used before
    * the kernel: cast to array<double>, divide by the sqrt of the
    * left-to-right sum of squares.
    */
  private def lambdaUnit(c: Column): Column = {
    val e = c.cast("array<double>")
    val nrm = sqrt(aggregate(e, lit(0d), (a, x) => a + x * x))
    transform(e, x => x / nrm)
  }

  private def bits(r: Row, i: Int): Option[Seq[Option[Long]]] =
    if (r.isNullAt(i)) None
    else Some(r.getSeq[java.lang.Double](i).map(d =>
      Option(d).map(x => java.lang.Double.doubleToRawLongBits(x))))

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Edge cases as float or double arrays: ordinary rows, a zero vector,
    * a null element, -0.0 only, NaN, an empty array and a null array.
    */
  private def edgeRows(elem: DataType): DataFrame = {
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      Seq(3.0, 4.0), Seq(0.1, -0.7, 1e-3, 2.5), Seq(1e-200, 1e-200),
      Seq(0.0, 0.0, 0.0), Seq(1.0, null, 2.0), Seq(-0.0, -0.0),
      Seq(Double.NaN, 1.0), Seq(), null)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("v", ArrayType(elem, containsNull = true))))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row(i, Option(r).map(_.map(x => if (x == null) null
        else if (elem == FloatType) java.lang.Float.valueOf(x.floatValue)
        else x)).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private def assertSameBits(df: DataFrame, a: Column, b: Column, what: String): Unit = {
    val got = df.select(col("id"), a.as("a"), b.as("b")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(bits(r, 1) == bits(r, 2), s"$what: row ${r.get(0)}")
    }
  }

  test("l2Normalize equals the lambda form bit for bit, edge cases included") {
    for (elem <- Seq(FloatType, DoubleType)) {
      val df = edgeRows(elem)
      withConf("spark.sql.ansi.enabled" -> "false") {
        assertSameBits(df, VectorExprs.l2Normalize(col("v")), lambdaUnit(col("v")),
          s"non-ANSI $elem")
      }
      withConf("spark.sql.ansi.enabled" -> "true") {
        // zero-norm rows raise: the squares of 1e-200 underflow to 0, and
        // -0.0 squares to +0.0
        val zero = col("id").isin(2, 3, 5)
        assertSameBits(df.filter(!zero), VectorExprs.l2Normalize(col("v")),
          lambdaUnit(col("v")), s"ANSI $elem")
        def err(c: Column) = intercept[Exception] {
          df.filter(zero).select(c).collect()
        }
        val ours = err(VectorExprs.l2Normalize(col("v")))
        val theirs = err(lambdaUnit(col("v")))
        assert(ours.getMessage.contains("DIVIDE_BY_ZERO"), ours.getMessage)
        assert(theirs.getMessage.contains("DIVIDE_BY_ZERO"), theirs.getMessage)
      }
    }
    // the fixture corpus (array<float>) and the probe path's former
    // query normalization over array<double>
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id").as("id"),
      col("embedding").as("v"), col("embedding").cast("array<double>").as("q"))
    assertSameBits(emb, VectorExprs.l2Normalize(col("v")), lambdaUnit(col("v")),
      "corpus")
    assertSameBits(emb, VectorExprs.l2Normalize(col("q")),
      transform(col("q"), x => x / sqrt(VectorExprs.dotProduct(col("q"), col("q")))),
      "probe query form")
  }

  test("l2Normalize compiles with codegen fallback disabled") {
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = Tables.embeddings(spark, sfDir)
        .select(VectorExprs.l2Normalize(col("embedding")).as("u"))
      // would throw if the generated code failed to compile
      assert(df.filter(col("u").isNotNull).count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project"), s"expected WSCG-starred Project in:\n$plan")
    }
  }

  test("coarse model and PQ codebooks equal a sequential auto-solver reference fit") {
    val base = Tables.embeddings(spark, sfDir)
    val n = Regime.embeddings(spark, sfDir)
    assert(n <= Regime.QuantizerGateRows, "fixture must sit in the sqrt(n) tier")
    val refCenters = new KMeans()
      .setK(Centroids.kForCount(n, Regime.QuantizerGateRows))
      .setSeed(666L).setMaxIter(10).setFeaturesCol("fvec")
      .fit(base.withColumn("fvec", array_to_vector(lambdaUnit(col("embedding")))))
      .clusterCenters.map(_.toArray.toSeq).toSeq
    assert(Centroids.model(spark, sfDir).clusterCenters.map(_.toArray.toSeq).toSeq
      == refCenters)

    val subDim = 64 / Centroids.PqSub
    val unit = base.select(lambdaUnit(col("embedding")).as("e"))
    val refBooks = (0 until Centroids.PqSub).map { sub =>
      new KMeans()
        .setK(Centroids.PqCodes).setSeed(666L + sub).setMaxIter(5).setFeaturesCol("fvec")
        .fit(unit.select(array_to_vector(
          slice(col("e"), sub * subDim + 1, subDim)).as("fvec")))
        .clusterCenters.map(_.toArray.toSeq).toSeq
    }
    assert(Centroids.pqCodebooks(spark, sfDir).map(_.map(_.toSeq).toSeq).toSeq == refBooks)
  }

  /** The kNN graph as planned before side `a` was repartitioned on the
    * cell key.
    */
  private def unrepartitionedKnnGraph(k: Int): DataFrame = {
    val cells = graft.dedup.Dedup.seedCellAssignments(spark, sfDir)
    val a = cells.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
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

  private def edges(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("approxKnnGraph's edges equal the un-repartitioned plan's") {
    for (k <- Seq(1, 3, 10)) {
      val got = edges(sim.Similarity.approxKnnGraph(spark, sfDir, k))
      assert(got.nonEmpty)
      assert(got == edges(unrepartitionedKnnGraph(k)), s"k = $k")
    }
  }

  test("without broadcast joins the repartition adds no shuffle exchange") {
    def exchanges(df: DataFrame): Int =
      collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val before = exchanges(unrepartitionedKnnGraph(3))
      // pinned: the cell-key exchange on each join side and the id_a
      // exchange shared by the window and the distinct
      assert(before == 3)
      assert(exchanges(sim.Similarity.approxKnnGraph(spark, sfDir, 3)) <= before)
    }
  }
}
