package graft.ml

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Regime, Tables}
import graft.functions.VectorExprs
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Trained coarse quantizer shared by q33 (cluster audit) and q53 (IVF
  * probe): one MLlib KMeans fit over the embeddings, memoized per
  * (session, dir) so catalog queries pay the iterative fit once. The
  * driver only ever holds the model's O(k·d) centroid matrix — cluster
  * state never leaves the executors during the fit (MLlib's treeAggregate
  * implementation).
  *
  * SPHERICAL: vectors are L2-normalized before the fit, so the
  * quantizer's Euclidean metric coincides with cosine (|u−c|² = 2−2cosθ
  * on the unit sphere). Downstream ANN queries rerank by cosine — an
  * unnormalized quantizer puts cosine-near, norm-far vectors in
  * un-probed cells and recall collapses.
  *
  * SOLVER: both fits pin MLlib's `block` solver. The default `auto`
  * first runs a Summarizer pass (two jobs, one full feature pass) to
  * measure sparsity, then picks `block` whenever at least half the
  * entries are non-zero — always, for dense embeddings. Pinning it skips
  * that pass and yields the same centers (checked equal under auto,
  * block and row at sf0.001, sf0.01 and sf0.1).
  */
object Centroids {

  /** Floor on the cell count (sf0.001-sized corpora). */
  val MinK = 16

  /** Frozen-tier cell count: ⌈√[[graft.Regime.QuantizerGateRows]]⌉. */
  val FixedK = 256

  /** Coarse-quantizer cell count — max(16, ⌈√n⌉) capped at [[FixedK]]
    * above the [[graft.Regime.QuantizerGateRows]] gate: per-cell
    * population grows like √n up to the gate (sub-quadratic cell-blocked pair volume),
    * then the codebook freezes so assignment cost turns linear.
    * Consumers read the count off the fitted model's centroid matrix,
    * so nothing else hard-codes it.
    */
  private[graft] def kForCount(n: Long, gateRows: Long): Int =
    math.max(MinK,
      math.ceil(math.sqrt(math.min(n, gateRows).toDouble)).toInt)

  /** The L2-normalized embedding as an MLlib vector column (the native
    * [[graft.functions.L2Normalize]] kernel, bit-identical to the
    * `transform`/`aggregate` SQL form, see there).
    */
  def unitVec: Column =
    array_to_vector(VectorExprs.l2Normalize(col("embedding")))

  private val memo = new graft.Memo[(SparkSession, String, Long), KMeansModel]("ml.kmeans")

  def model(s: SparkSession, dir: String): KMeansModel =
    modelFor(s, dir, Regime.QuantizerGateRows)

  /** [[model]] with the gate exposed — FixedCodebookSpec forces a tiny
    * gate to exercise the frozen tier at fixture scale; the catalog
    * always calls through [[model]] with the production gate. The memo
    * keys on the gate, so a forced fit is never served to the catalog.
    */
  private[graft] def modelFor(s: SparkSession, dir: String,
      gateRows: Long): KMeansModel =
    memo((s, dir, gateRows)) {
      val n = Regime.embeddings(s, dir)
      val base = Tables.embeddings(s, dir)
      // Frozen tier: fit on a deterministic stride sample of ≤ gateRows
      // vectors — training cost is bounded by the sample no matter how
      // large the corpus, and the sample is a pure function of the data
      // (vec_id mod stride), so the codebook is reproducible without any
      // stored state.
      val src = (if (Regime.frozenCodebook(n, gateRows)) {
        val stride = (n + gateRows - 1) / gateRows
        base.filter(pmod(col("vec_id"), lit(stride)) === 0)
      } else base).withColumn("fvec", unitVec)
      new KMeans()
        .setK(kForCount(n, gateRows)).setSeed(666L).setMaxIter(10)
        .setSolver("block").setFeaturesCol("fvec")
        .fit(src)
    }

  /** Centroid vectors as plain arrays — O(k·d), safe to embed as plan
    * literals / ship in a closure.
    */
  def centers(s: SparkSession, dir: String): Array[Array[Double]] =
    model(s, dir).clusterCenters.map(_.toArray)

  /** Product-quantization codebooks: the 64-d space split into `nSub`
    * subspaces, each with its own `codesPerSub`-centroid KMeans fit over
    * the subvectors. Memoized per (session, dir); the driver holds the
    * O(nSub · codes · subDim) codebook matrix — the whole point of PQ is
    * that this is the ONLY uncompressed vector state anyone keeps.
    *
    * CONCURRENT FITS: the sub-codebooks are independent, so the `PqSub`
    * fits are submitted together from a fixed pool of `PqSub` threads.
    * Each fit is a chain of small jobs, one task each over a small
    * corpus (the embeddings table is one parquet partition), so one fit
    * after another leaves all but one core idle; side by side they fill
    * the cores (sf0.1 on 4 cores: 6.3 s → 2.4 s). Every fit has its own
    * seed and reads the same cached rows, so the codebooks are the
    * sequential ones bit for bit. The pool is created inside
    * the call: its threads inherit the caller's Spark local properties
    * (job group, description). The fit body must not enter any memo —
    * the call already runs inside [[pqMemo]]'s build.
    */
  val PqSub = 8
  val PqCodes = 16
  private val pqMemo =
    new graft.Memo[(SparkSession, String), Array[Array[Array[Double]]]]("ml.pqCodebooks")

  def pqCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqMemo((s, dir)) {
      val subDim = 64 / PqSub
      // spherical: codebooks fit on L2-normalized vectors, matching the
      // cosine rerank downstream (see `unitVec` note)
      val base = Tables.embeddings(s, dir)
        .select(VectorExprs.l2Normalize(col("embedding")).as("e")).cache()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(PqSub)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val fits = (0 until PqSub).map { sub =>
          Future {
            val sv = base.select(array_to_vector(
              slice(col("e"), sub * subDim + 1, subDim)).as("fvec"))
            new KMeans()
              .setK(PqCodes).setSeed(666L + sub).setMaxIter(5)
              .setSolver("block").setFeaturesCol("fvec")
              .fit(sv)
              .clusterCenters.map(_.toArray)
          }
        }
        Await.result(Future.sequence(fits), Duration.Inf).toArray
      } finally {
        pool.shutdown()
        base.unpersist()
      }
    }
}
