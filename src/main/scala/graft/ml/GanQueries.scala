package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** The reference's representation-learning surface as catalog entries
  * (rows-only: iterative training is not SQL-expressible).
  */
object GanQueries {

  // q28 — PCA projection of the embeddings (ipynb imports PCA as the
  // comparison representation): MLlib PCA = one distributed Gram
  // aggregation + a broadcast projection pass.
  val q28: QueryDef = QueryDef.rowsOnly("q28_pca_project") { (s, d) =>
    val src = Tables.embeddings(s, d)
      .withColumn("fvec", array_to_vector(col("embedding").cast("array<double>")))
    val model = new PCA().setInputCol("fvec").setOutputCol("pc").setK(2).fit(src)
    model.transform(src)
      .select(col("vec_id"), col("label"),
        vector_to_array(col("pc")).getItem(0).as("pc1"),
        vector_to_array(col("pc")).getItem(1).as("pc2"))
      .orderBy("vec_id")
  }

  // q29 — distributed param-averaged GAN training; output the
  // discriminator's learned representation per row [java :337-364 uses
  // these features for transfer learning] via `featureDigest`.
  val q29: QueryDef = QueryDef.rowsOnly("q29_gan_train_features") { (s, d) =>
    featureDigest(s, d, Gan.Config())
  }

  /** Per row of the scaled embeddings: the trained discriminator's
    * feature vector as a scalar digest (dim, rounded sum, rounded L2
    * norm) plus its score, so the driver's rows-only check can sort the
    * frame — raw array columns are not pandas-sortable.
    */
  private def featureDigest(s: SparkSession, d: String, cfg: Gan.Config): DataFrame = {
    val (model, data) = Gan.trainOnEmbeddings(s, d, cfg)
    val bc = s.sparkContext.broadcast(model)
    import s.implicits._
    data.rdd.map { r =>
      val id = r.getLong(0)
      val x = r.getSeq[Double](1).toArray
      val f = bc.value.disFeatures(x)
      val sum = f.sum
      val norm = math.sqrt(f.map(v => v * v).sum)
      (id, f.length,
        math.rint(sum * 1e6) / 1e6,
        math.rint(norm * 1e6) / 1e6,
        bc.value.disScore(x))
    }.toDF("vec_id", "n_features", "feat_sum", "feat_norm", "d_score")
      .orderBy("vec_id")
  }

  // q30 — latent linspace-grid generation [java :382-389: numGenSamples²
  // grid over a 2-d latent manifold; higher z dims pinned to 0].
  val q30: QueryDef = QueryDef.rowsOnly("q30_gan_generate") { (s, d) =>
    val (model, _) = Gan.trainOnEmbeddings(s, d)
    val bc = s.sparkContext.broadcast(model)
    val nGrid = 10
    import s.implicits._
    val grid = for (i <- 0 until nGrid; j <- 0 until nGrid) yield (i, j)
    // Generated sample emitted as a sortable digest (dim + rounded
    // sum/norm) rather than a raw array column — see q29 note.
    s.sparkContext.parallelize(grid, 4).map { case (i, j) =>
      val z = new Array[Double](bc.value.cfg.zDim)
      z(0) = -1.0 + 2.0 * i / (nGrid - 1)
      z(1) = -1.0 + 2.0 * j / (nGrid - 1)
      val sample = bc.value.generate(z)
      val sum = sample.sum
      val norm = math.sqrt(sample.map(v => v * v).sum)
      (i, j, sample.length,
        math.rint(sum * 1e6) / 1e6,
        math.rint(norm * 1e6) / 1e6,
        bc.value.disScore(sample))
    }.toDF("grid_i", "grid_j", "sample_dim", "sample_sum", "sample_norm", "d_score")
      .orderBy("grid_i", "grid_j")
  }

  // q31 — transfer learning: frozen discriminator features → multinomial
  // softmax head (MLlib LogisticRegression), deterministic hash split,
  // per-row predictions + split accuracy [java :337-364, ipynb cell 6].
  val q31: QueryDef = QueryDef.rowsOnly("q31_transfer_classify") { (s, d) =>
    val (model, data) = Gan.trainOnEmbeddings(s, d)
    val bc = s.sparkContext.broadcast(model)
    import s.implicits._
    val feats = data.rdd.map { r =>
      val id = r.getLong(0)
      (id, bc.value.disFeatures(r.getSeq[Double](1).toArray))
    }.toDF("vec_id", "features")
    val labeled = feats
      .join(Tables.embeddings(s, d).select("vec_id", "label"), "vec_id")
      .withColumn("fvec", array_to_vector(col("features")))
      .withColumn("split",
        when((col("vec_id") % 1000003L * 2654435761L % 97L) < 78, "train").otherwise("test"))
    val lr = new LogisticRegression()
      .setFeaturesCol("fvec").setLabelCol("label")
      .setFamily("multinomial").setMaxIter(15).setRegParam(0.01)
    val fitted = lr.fit(labeled.filter(col("split") === "train"))
    val pred = fitted.transform(labeled)
      .select(col("vec_id"), col("label"), col("split"),
        col("prediction").cast("int").as("prediction"))
      .withColumn("correct", (col("label") === col("prediction")).cast("int"))
    val acc = pred.groupBy("split")
      .agg((sum("correct") / count(lit(1))).as("split_accuracy"))
    pred.join(broadcast(acc), "split")
      .select("vec_id", "label", "split", "prediction", "correct", "split_accuracy")
      .orderBy("vec_id")
  }

  // q33 — distributed KMeans clustering (MLlib) over the embeddings: the
  // trained-centroid coarse quantizer behind a production IVF index.
  // The fitted model is shared with q53 via `Centroids` (memoized per
  // session+dir), so the IVF probe path really queries these centroids.
  val q33: QueryDef = QueryDef.rowsOnly("q33_kmeans_cluster") { (s, d) =>
    // same normalized feature column the quantizer was fitted on
    val src = Tables.embeddings(s, d).withColumn("fvec", Centroids.unitVec)
    val model = Centroids.model(s, d)
    model.transform(src)
      .groupBy(col("prediction").as("cluster"))
      .agg(count(lit(1)).as("n"), min("vec_id").as("min_vec"), max("vec_id").as("max_vec"))
      .orderBy("cluster")
  }

  // q36 — the reference's CONVOLUTIONAL GAN family (conv→pool→dense
  // discriminator, dense→upsample→conv generator, java :118-221) trained
  // with the same parameter-averaging loop on the 8×8 embedding grid;
  // the same `featureDigest` output as q29.
  val q36: QueryDef = QueryDef.rowsOnly("q36_conv_gan_features") { (s, d) =>
    featureDigest(s, d, Gan.Config(arch = "conv"))
  }

  /** q37's co-trained (model, head) and the labeled rows it trained on,
    * cached: built once per (session, dir), like `Gan.trainOnEmbeddings`.
    */
  private[graft] val coTrainMemo =
    new graft.Memo[(SparkSession, String), (Gan.Model, Array[Double], DataFrame)](
      "ml.ganCoTrain", _._3.unpersist())

  // q37 — per-batch GAN/classifier CO-TRAINING [java :408-511 trains dis,
  // gan, and the CV model inside one batch loop]: the softmax head learns
  // on the evolving CONV discriminator's pooled features (the reference's
  // CV model is the CNN), parameter-averaged alongside both GAN nets.
  // Per-row predictions + correctness digest.
  val q37: QueryDef = QueryDef.rowsOnly("q37_cotrain_classify") { (s, d) =>
    val (model, head, labeled) = coTrainMemo((s, d)) {
      val labeled = Gan.scaled01(Tables.embeddings(s, d), 64)
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
        .cache()
      val (model, head) = Gan.trainCoTrained(labeled, nClasses = 10, Gan.Config(arch = "conv"))
      (model, head, labeled)
    }
    val bcM = s.sparkContext.broadcast(model)
    val bcH = s.sparkContext.broadcast(head)
    import s.implicits._
    labeled.select("vec_id", "x", "label").rdd.map { r =>
      val id = r.getLong(0)
      val x = r.getSeq[Double](1).toArray
      val label = r.getInt(2)
      val pred = Gan.headPredict(bcH.value, bcM.value.disFeatures(x), 10)
      (id, label, pred, if (pred == label) 1 else 0)
    }.toDF("vec_id", "label", "prediction", "correct").orderBy("vec_id")
  }

  // q35 — t-SNE-style 2-d projection (gan.ipynb cell 2 imports TSNE
  // alongside PCA): deterministic PCA init, then a neighbor-embedding
  // refinement that pulls each point toward the mean of its approximate
  // kNN neighbors (attraction half of t-SNE's objective; the repulsion
  // term is what Barnes-Hut approximates and is out of scope). Every
  // iteration is one join + aggregate on vec_id — distributed, no driver
  // state. The neighbor graph comes from the seed-cell blocking (pairs
  // only inside IVF cells + top-3 rerank with a map-side WindowGroupLimit)
  // — the O(n²/cells) scale path, not the exact all-pairs graph.
  val q35: QueryDef = QueryDef.rowsOnly("q35_tsne_project") { (s, d) =>
    val src = Tables.embeddings(s, d)
      .withColumn("fvec", array_to_vector(col("embedding").cast("array<double>")))
    val pca = new PCA().setInputCol("fvec").setOutputCol("pc").setK(2).fit(src)
    val y0 = pca.transform(src)
      .select(col("vec_id"), col("label"),
        vector_to_array(col("pc")).getItem(0).as("y1"),
        vector_to_array(col("pc")).getItem(1).as("y2"))
      .cache()
    val knn = graft.sim.Similarity.approxKnnGraphCached(s, d, 3)
    var y = y0
    // Few strong attraction steps: each iteration is 2 shuffles on the
    // id key regardless of data volume, so iteration count — not row
    // count — is the latency driver; 4×α=0.45 contracts like 8×α=0.3.
    val alpha = 0.45
    for (iter <- 1 to 4) {
      val next = y.join(
          knn.join(y.select(col("vec_id").as("id_b"), col("y1").as("ny1"), col("y2").as("ny2")), "id_b")
            .groupBy(col("id_a").as("vec_id"))
            .agg(avg("ny1").as("m1"), avg("ny2").as("m2")),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          (col("y1") * (1 - alpha) + coalesce(col("m1"), col("y1")) * alpha).as("y1"),
          (col("y2") * (1 - alpha) + coalesce(col("m2"), col("y2")) * alpha).as("y2"))
      // truncate lineage once mid-loop; otherwise stay lazy — fewer jobs
      y = if (iter == 2) next.localCheckpoint() else next
    }
    // the iteration-2 checkpoint cut y0 from y's lineage
    y0.unpersist()
    y.select(col("vec_id"), col("label"),
        round(col("y1"), 6).as("y1"), round(col("y2"), 6).as("y2"))
      .orderBy("vec_id")
  }

  val all: Seq[QueryDef] = Seq(q28, q29, q30, q31, q33, q35, q36, q37, VectorAgg.q34, VectorAgg.q144, VectorAgg.q180)
}
