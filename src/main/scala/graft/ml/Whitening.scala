package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, QueryDef, Tables}
import graft.functions.VectorExprs

/** ZCA/Mahalanobis whitening of the embedding space (the PCA-family
  * preprocessing step the reference's pipeline surface implies — ipynb
  * cell 2 imports PCA/scalers; whitening is the rotation-free variant
  * serving anomaly scoring): fit is ONE treeAggregate producing the
  * O(d²) sufficient statistics (Σx, Σxxᵀ, n), the 64×64 eigendecomp runs
  * driver-side (a constant-size model artifact, the k-means-centroid
  * class), and the scoring pass is a single codegen'd projection of the
  * corpus against the broadcast-literal model — no shuffle, no second
  * aggregate.
  *
  * Correctness anchor: over the FITTED sample, mean Mahalanobis² is
  * exactly the dimension (tr(C⁻¹C) = d) and each whitened coordinate has
  * population variance exactly 1 — algebraic identities the spec asserts,
  * not approximations.
  */
object Whitening {

  /** Fitted model: mean, inverse covariance (flattened d×d), and the
    * top-k whitening rows v_j/√λ_j (flattened k×d, eigenvalue-descending).
    */
  final case class Model(mean: Array[Double], cinv: Array[Double],
      wrows: Array[Double], k: Int, dim: Int)

  private val memo = new Memo[(SparkSession, String), Model]("ml.whitening")

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (classic
    * textbook algorithm — Golub & Van Loan §8.5): returns (eigenvalues,
    * eigenvector COLUMNS v) with a = v · diag(λ) · vᵀ. O(n³) per sweep;
    * n is the embedding dim (a constant), so this is driver-side model
    * math, not data-proportional work.
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < 64 && offNorm > 1e-18) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
              else 1.0 / (theta - math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Fit (or reuse) the whitening model for a corpus: one treeAggregate
    * over the embeddings, eigendecomp at the driver, memoized per
    * (session, dir) like the IVF quantizer.
    */
  def model(s: SparkSession, d: String, k: Int = 2): Model =
    memo((s, d)) {
      import s.implicits._
      val dim = 64
      // (Σx, Σxxᵀ upper triangle flattened full, n) in one pass;
      // merge is elementwise add — associative, treeAggregate-safe
      val (sx, sxx, n) = Tables.embeddings(s, d)
        .select(col("embedding").cast("array<double>")).as[Array[Double]]
        .rdd.treeAggregate((new Array[Double](dim), new Array[Double](dim * dim), 0L))(
          seqOp = { case ((sx, sxx, n), x) =>
            var i = 0
            while (i < dim) {
              sx(i) += x(i)
              var j = 0
              val off = i * dim
              while (j < dim) { sxx(off + j) += x(i) * x(j); j += 1 }
              i += 1
            }
            (sx, sxx, n + 1)
          },
          combOp = { case ((a1, a2, n1), (b1, b2, n2)) =>
            var i = 0
            while (i < dim) { a1(i) += b1(i); i += 1 }
            i = 0
            while (i < dim * dim) { a2(i) += b2(i); i += 1 }
            (a1, a2, n1 + n2)
          }, depth = 2)
      val mean = sx.map(_ / n)
      val cov = Array.tabulate(dim, dim)((i, j) =>
        sxx(i * dim + j) / n - mean(i) * mean(j))
      val (lam, v) = jacobiEigen(cov)
      // ridge floor: degenerate directions get a tiny positive eigenvalue
      // so C⁻¹ stays bounded (full-rank corpora are untouched)
      val floor = math.max(lam.max, 1e-12) * 1e-9
      val lamSafe = lam.map(l => math.max(l, floor))
      val cinv = new Array[Double](dim * dim)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) {
          var acc = 0.0
          var r = 0
          while (r < dim) { acc += v(i)(r) * v(j)(r) / lamSafe(r); r += 1 }
          cinv(i * dim + j) = acc
          j += 1
        }
        i += 1
      }
      // top-k whitening rows, eigenvalue-descending: row_j = v(:,j)/√λ_j
      val order = lamSafe.indices.sortBy(r => -lamSafe(r)).take(k)
      val wrows = new Array[Double](k * dim)
      order.zipWithIndex.foreach { case (r, jj) =>
        val s0 = 1.0 / math.sqrt(lamSafe(r))
        var ii = 0
        while (ii < dim) { wrows(jj * dim + ii) = v(ii)(r) * s0; ii += 1 }
      }
      Model(mean, cinv, wrows, k, dim)
    }

  // q153 — Mahalanobis whitening audit: per-vector Mahalanobis² against
  // the corpus covariance (the covariance-aware outlier score q38's
  // cell-mean heuristic approximates) + the top-2 whitened coordinates
  // (the ZCA/PCA view). Scoring is one codegen'd projection — model as
  // referenced objects, corpus never shuffles; the outlier flag uses the
  // χ²-motivated d + 3√(2d) tail bound. Driver-side work is O(d³) model
  // math only. zlib-free but eigendecomp-dependent → rows-only; the
  // algebraic identities (mean d² = dim, whitened population variance =
  // 1) are WhiteningSpec's exact bars.
  val q153: QueryDef = QueryDef.rowsOnly("q153_mahalanobis_whitening") { (s, d) =>
    val m = model(s, d)
    val thresh = m.dim + 3.0 * math.sqrt(2.0 * m.dim)
    val w = VectorExprs.whitenProject(col("embedding"), m.mean, m.wrows, m.k)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        VectorExprs.mahalanobisSq(col("embedding"), m.mean, m.cinv).as("msq"),
        w.getItem(0).as("w1r"), w.getItem(1).as("w2r"))
      .select(col("vec_id"), col("label"),
        round(col("msq"), 6).as("maha_sq"),
        round(col("w1r"), 6).as("w1"), round(col("w2r"), 6).as("w2"),
        (col("msq") > thresh).as("is_outlier"))
      .orderBy("vec_id")
  }

  // q157 — per-dimension embedding DRIFT audit (the "did the encoder or
  // the data shift" check run whenever a new batch lands next to a
  // standing corpus — a silent model-version bump or domain shift shows
  // up as correlated per-dim mean movement long before downstream recall
  // degrades). The catalog entry demonstrates on a deterministic 70/30
  // hash split of one corpus (so the oracle can replay it); the
  // production pairing is corpus-snapshot vs SnapshotTable delta. Scale
  // shape: posexplode multiplies rows by dim (64×) but feeds straight
  // into a map-side-partial groupBy(dim) — the shuffle moves O(dims ·
  // partitions) partial rows, never the corpus; output is O(dims).
  // avg is a multi-term double aggregate → round-6 (q147 precedent);
  // the flag threshold is exact-integer-free but applied to the ROUNDED
  // delta so both engines flag identically.
  val q157: QueryDef = QueryDef.sql(
    "q157_embedding_drift",
    """WITH x AS (
      |  SELECT ((vec_id % 1000003) * 2654435761) % 10 < 7 AS is_a,
      |    unnest(embedding) AS v,
      |    generate_subscripts(embedding, 1) AS dim
      |  FROM embeddings)
      |SELECT CAST(dim AS INTEGER) AS dim,
      |  round(avg(CASE WHEN is_a THEN CAST(v AS DOUBLE) END), 6) AS mean_a,
      |  round(avg(CASE WHEN NOT is_a THEN CAST(v AS DOUBLE) END), 6) AS mean_b,
      |  round(avg(CASE WHEN is_a THEN CAST(v AS DOUBLE) END)
      |      - avg(CASE WHEN NOT is_a THEN CAST(v AS DOUBLE) END), 6) AS delta,
      |  abs(round(avg(CASE WHEN is_a THEN CAST(v AS DOUBLE) END)
      |      - avg(CASE WHEN NOT is_a THEN CAST(v AS DOUBLE) END), 6)) > 0.05 AS drifted
      |FROM x GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions._
    Tables.embeddings(s, d)
      .select((col("vec_id") % 1000003L * 2654435761L % 10L < 7L).as("is_a"),
        posexplode(col("embedding")).as(Seq("dim0", "v")))
      .select(col("is_a"), (col("dim0") + 1).cast("int").as("dim"),
        col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(
        round(avg(when(col("is_a"), col("v"))), 6).as("mean_a"),
        round(avg(when(!col("is_a"), col("v"))), 6).as("mean_b"),
        round(avg(when(col("is_a"), col("v")))
          - avg(when(!col("is_a"), col("v"))), 6).as("delta"))
      .select(col("dim"), col("mean_a"), col("mean_b"), col("delta"),
        (abs(col("delta")) > 0.05).as("drifted"))
      .orderBy("dim")
  }

  val all: Seq[QueryDef] = Seq(q153, q157)
}
