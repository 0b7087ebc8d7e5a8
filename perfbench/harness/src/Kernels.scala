package graft.perfbench

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TopKNbrAgg, VectorExprs}

/** The `functions` layer on its own: the native dot-product projection
  * and the bounded top-k aggregate over a cached frame of seeded 64-d
  * vectors, each timed as the median of five runs, in ns per input row.
  */
object Kernels {
  private val Rows = 200000

  def measure(spark: SparkSession, seed: Long): Map[String, Double] = {
    val v = spark.range(Rows)
      .select(col("id"), array((0 until 64).map(i => rand(seed * 64 + i)): _*).as("v"))
      .cache()
    v.count()
    val q = typedlit(Array.tabulate(64)(i => math.sin(seed + i)))
    def nsPerRow(action: => Unit): Double = {
      val t = (0 until 5).map { _ =>
        val t0 = System.nanoTime(); action; (System.nanoTime() - t0).toDouble
      }.sorted
      t(2) / Rows
    }
    val dot = nsPerRow(v.agg(sum(VectorExprs.dotProduct(col("v"), q))).collect())
    val topk = GraftBridge.column(TopKNbrAgg(
      GraftBridge.expression(element_at(col("v"), 1)),
      GraftBridge.expression(col("id")), 10).toAggregateExpression())
    val top = nsPerRow(v.groupBy(pmod(col("id"), lit(1000L))).agg(topk.as("t")).collect())
    v.unpersist()
    Map("functions.dot_ns_per_row" -> dot, "functions.topk_ns_per_row" -> top)
  }
}
