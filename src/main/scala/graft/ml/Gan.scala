package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed GAN trainer: synchronous parameter averaging, Spark-first.
  *
  * Re-expresses the adversarial loop of dl4jGANComputerVision.java:408-511
  * — per minibatch: train the discriminator on real (smoothed label ~1)
  * and generated (label ~0) samples, then train the generator through the
  * frozen discriminator with target 1 — with the reference's
  * ParameterAveragingTrainingMaster (:325-330) mapped onto Spark
  * primitives. Every round of every trainer is one [[averagingRound]]:
  * the driver broadcasts the current parameters, every partition runs
  * local minibatch SGD over its rows, and the batch-weighted copies are
  * collected and summed on the driver in partition order, so the average
  * is bit-stable at any partition count. Communication is
  * O(nParams · partitions) per round, independent of row count — rows
  * stream through executor partitions, so the same loop holds on a
  * 1000-executor cluster.
  */
object Gan {

  final case class Config(
      dataDim: Int = 64,
      zDim: Int = 8,
      hidden: Int = 32,
      rounds: Int = 4,
      batchSize: Int = 50,
      lrD: Double = 0.02,
      lrG: Double = 0.01,
      realLabel: Double = 0.95, // label smoothing (reference :405-406)
      seed: Long = 666L,        // reference's numberOfTheBeast (:75)
      arch: String = "mlp",     // "mlp" | "conv" (reference's CNN family)
      // Local-step cap between parameter averages. Synchronous averaging
      // of NONCONVEX nets only works while the locally-trained replicas
      // stay close to the broadcast point they started from; with the cap
      // tied to partition size, 10× more data meant 10× more local SGD
      // steps per round, the replicas diverged, and their average
      // destroyed the learned features (measured at the r9 sf1
      // checkpoint: the co-trained head fell to chance, 0.095). Capping
      // local batches per round — the local-SGD treatment: sync
      // frequency follows STEPS, not epochs — keeps divergence bounded at
      // any corpus size; a per-round rotating window keeps the full
      // partition participating across rounds. 12 = the ~sf0.1 per-round
      // batch count every accuracy bar was tuned at.
      maxBatchesPerRound: Int = 12)

  /** Discriminator for the configured architecture: the reference's CNN
    * (conv→pool→conv→pool→dense, :118-165) maps to [[ConvDis]] on the 8×8
    * embedding grid; "mlp" is the dense family.
    */
  private[ml] def mkDis(cfg: Config): Net =
    if (cfg.arch == "conv") {
      require(cfg.dataDim == 64, "conv arch expects 64-d (8x8) inputs")
      new ConvDis
    } else new Mlp2(cfg.dataDim, cfg.hidden, 1, sigmoidOut = true)

  /** Generator: the reference's upsampling CNN (:173-221) maps to
    * [[ConvGen]]; "mlp" is the dense family.
    */
  private[ml] def mkGen(cfg: Config): Net =
    if (cfg.arch == "conv") new ConvGen(cfg.zDim)
    else new Mlp2(cfg.zDim, cfg.hidden, cfg.dataDim, sigmoidOut = true)

  final case class Model(cfg: Config, dParams: Array[Double], gParams: Array[Double]) {
    @transient lazy val dis: Net = mkDis(cfg)
    @transient lazy val gen: Net = mkGen(cfg)

    def disFeatures(x: Array[Double]): Array[Double] = dis.features(dParams, x)
    def disScore(x: Array[Double]): Double = dis.fwd(dParams, x)._2(0)
    def generate(z: Array[Double]): Array[Double] = gen.fwd(gParams, z)._2
  }

  /** Min-max scale each embedding dimension to [0,1] (the reference's
    * /255 pixel normalization, gan.ipynb cell 2) — elementwise min/max via
    * [[ArrayMinMaxScaler.minMax]], then a broadcast rescale pass.
    */
  def scaled01(df: DataFrame, dim: Int): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col("vec_id"), col("embedding")).rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val bc = spark.sparkContext.broadcast(ArrayMinMaxScaler.minMax(rdd.map(_._2), dim))
    import spark.implicits._
    rdd.map { case (id, v) =>
      val (mn, mx) = bc.value
      val out = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        val range = mx(i) - mn(i)
        out(i) = if (range > 0) (v(i) - mn(i)) / range else 0.5
        i += 1
      }
      (id, out)
    }.toDF("vec_id", "x")
  }

  /** Estimated batches per partition (≥1) — sizes the rotating
    * local-step window (see Config.maxBatchesPerRound).
    */
  private def estBatchesPerPart(rows: Long, parts: Int, batchSize: Int): Int =
    math.max(1L, (rows / math.max(parts, 1) + batchSize - 1) / batchSize).toInt

  /** Is batch index `bi` inside round `round`'s modular
    * [start, start+cap) window over a `span`-batch partition?
    *
    * `span` is the FLEET-AVERAGE estimate, so a partition holding more
    * batches than it wraps `bi % span` and maps several physical batches
    * onto each window slot — selection alone would run a multiple of
    * `cap` local steps there. Callers therefore pair this with a HARD
    * per-partition counter ([[localRound]]) that stops taking
    * batches at `cap` regardless of how many match the window: the
    * window provides cross-round ROTATION (coverage), the counter
    * provides the divergence cap, and the cap holds under partition
    * skew by construction.
    */
  private def inRoundWindow(bi: Int, round: Int, span: Int, cap: Int): Boolean =
    if (span <= cap) true
    else {
      val pos = bi % span
      val start = (round * cap) % span
      val end = (start + cap) % span
      if (start < end) pos >= start && pos < end
      else pos >= start || pos < end
    }

  /** One partition's local SGD for adversarial round `round`: streams
    * fixed-size batches off the iterator (only one batch is ever
    * resident, not the whole partition) and runs `step` on each with the
    * partition's round-seeded RNG. The rotating [[inRoundWindow]] picks
    * WHICH batches this round visits, and the hard `taken < cap` counter
    * bounds HOW MANY — at most `cfg.maxBatchesPerRound` local steps per
    * partition per round, even when the partition holds more batches than
    * the fleet-average span estimate. Returns the batches run.
    */
  private def localRound[T](it: Iterator[T], pid: Int, round: Int, span: Int,
      cfg: Config)(step: (Seq[T], java.util.Random) => Unit): Long = {
    val rng = new java.util.Random(cfg.seed + round * 7919L + pid * 131L)
    val cap = cfg.maxBatchesPerRound
    var taken = 0
    it.grouped(cfg.batchSize).zipWithIndex.foreach { case (b, bi) =>
      if (taken < cap && inRoundWindow(bi, round, span, cap)) { step(b, rng); taken += 1 }
    }
    taken
  }

  /** One synchronous parameter-averaging round — the reference's
    * ParameterAveragingTrainingMaster step, and the one place the
    * trainers broadcast, combine and average. The driver broadcasts
    * `params`; every non-empty partition clones them and runs `local`,
    * which steps the copies in place over the partition's rows and
    * returns the batches it ran. Each copy is weighted by its batch
    * count; the weighted copies are collected and summed on the driver
    * in partition order (a fixed order, so the average is bit-stable at
    * any partition count; driver bytes per round stay partitions ×
    * nParams × 8) and divided by the total. With no batch run the round
    * returns `params` unchanged.
    */
  private def averagingRound[T](rdd: RDD[T], params: Seq[Array[Double]])(
      local: (Int, Iterator[T], Seq[Array[Double]]) => Long): Seq[Array[Double]] = {
    val bc = rdd.sparkContext.broadcast(params)
    val parts = try rdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val p = bc.value.map(_.clone())
        val batches = local(pid, it, p)
        // arrays, not a Seq: a serialized Scala collection would grow
        // every task result by its class descriptors
        Iterator((p.map(_.map(_ * batches)).toArray, batches))
      }
    }.collect() finally bc.destroy()
    val n = parts.map(_._2).sum
    if (n == 0) params
    else params.indices.map { j =>
      val sum = new Array[Double](params(j).length)
      for ((p, _) <- parts) {
        var i = 0
        while (i < sum.length) { sum(i) += p(j)(i); i += 1 }
      }
      sum.map(_ / n)
    }
  }

  /** One adversarial minibatch step, in place on `d` and `g`. */
  private def adversarialStep(dis: Net, gen: Net, d: Array[Double], g: Array[Double],
      xs: Seq[Array[Double]], rng: java.util.Random, cfg: Config): Unit = {
    // --- discriminator step: real→realLabel, fake→(1−realLabel),
    // interleaved so sequential SGD carries no recency bias toward
    // either class.
    xs.foreach { x =>
      val (cd, o) = dis.fwd(d, x)
      dis.bwd(d, x, cd, Array(o(0) - cfg.realLabel), cfg.lrD, update = true)
      val z = Array.fill(cfg.zDim)(rng.nextDouble() * 2 - 1)
      val fake = gen.fwd(g, z)._2
      val (cf, of) = dis.fwd(d, fake)
      dis.bwd(d, fake, cf, Array(of(0) - (1.0 - cfg.realLabel)), cfg.lrD, update = true)
    }
    // --- generator step through the frozen discriminator, target 1
    // (one G step per two D samples, like the reference's 2:1
    // dis:gen data ratio, java :412-421 vs :463-466)
    for (_ <- 0 until (xs.length + 1) / 2) {
      val z = Array.fill(cfg.zDim)(rng.nextDouble() * 2 - 1)
      val (cg, fake) = gen.fwd(g, z)
      val (cd, o) = dis.fwd(d, fake)
      val dx = dis.bwd(d, fake, cd, Array(o(0) - 1.0), 0.0, update = false)
      // chain through the generator's sigmoid output
      val dOutG = new Array[Double](cfg.dataDim)
      var i = 0
      while (i < cfg.dataDim) {
        dOutG(i) = dx(i) * fake(i) * (1.0 - fake(i))
        i += 1
      }
      gen.bwd(g, z, cg, dOutG, cfg.lrG, update = true)
    }
  }

  /** Train on a (vec_id, x: Array[Double]) DataFrame. The rows are
    * cached for the rounds' repeated passes and released when training
    * ends, so repeated calls do not pile up cached copies.
    */
  def train(data: DataFrame, cfg: Config = Config()): Model = {
    val rdd = data.select("x").queryExecution.toRdd.map(_.getArray(0).toDoubleArray()).cache()
    try trainRounds(rdd, cfg) finally rdd.unpersist()
  }

  private def trainRounds(rdd: RDD[Array[Double]], cfg: Config): Model = {
    val dis = mkDis(cfg)
    val gen = mkGen(cfg)
    val span = estBatchesPerPart(rdd.count(), rdd.getNumPartitions, cfg.batchSize)
    var p = Seq(dis.init(cfg.seed), gen.init(cfg.seed + 1))
    for (round <- 0 until cfg.rounds)
      p = averagingRound(rdd, p) { case (pid, it, Seq(d, g)) =>
        localRound(it, pid, round, span, cfg)(adversarialStep(dis, gen, d, g, _, _, cfg))
      }
    Model(cfg, p(0), p(1))
  }

  /** Per-batch GAN + classifier CO-TRAINING — the reference's loop trains
    * dis, gan, AND the transfer CV model inside the same batch iteration
    * (dl4jGANComputerVision.java:408-511), rather than fitting the head
    * after the GAN converges. Input rows are (vec_id, x, label); per
    * batch each partition runs the adversarial dis/gen steps and then a
    * softmax-head SGD step on the CURRENT discriminator's features; all
    * three parameter vectors are averaged in one [[averagingRound]].
    * Returns the GAN model plus the trained head (a linear-softmax layer
    * over the dis features, like the reference's dense+softmax head,
    * :337-364). The (x, label) rows stay cached through the co-training
    * rounds and are released on return.
    */
  def trainCoTrained(data: DataFrame, nClasses: Int, cfg: Config = Config(),
      lrHead: Double = 0.05): (Model, Array[Double]) = {
    val rdd = data.select("x", "label").queryExecution.toRdd
      .map(r => (r.getArray(0).toDoubleArray(), r.getInt(1)))
      .cache()
    try coTrainRounds(rdd, nClasses, cfg, lrHead) finally rdd.unpersist()
  }

  private def coTrainRounds(rdd: RDD[(Array[Double], Int)], nClasses: Int,
      cfg: Config, lrHead: Double): (Model, Array[Double]) = {
    val dis = mkDis(cfg)
    val gen = mkGen(cfg)
    val nFeat = {
      val probe = new Array[Double](cfg.dataDim)
      dis.features(dis.init(cfg.seed), probe).length
    }
    val span = estBatchesPerPart(rdd.count(), rdd.getNumPartitions, cfg.batchSize)
    var p = Seq(dis.init(cfg.seed), gen.init(cfg.seed + 1),
      new Array[Double](nFeat * nClasses + nClasses)) // zero-init softmax head
    for (round <- 0 until cfg.rounds)
      p = averagingRound(rdd, p) { case (pid, it, Seq(d, g, h)) =>
        localRound(it, pid, round, span, cfg) { (batch, rng) =>
          adversarialStep(dis, gen, d, g, batch.map(_._1), rng, cfg)
          // classifier step on the CURRENT dis features (co-training)
          batch.foreach { case (x, label) => headStep(h, dis.features(d, x), label, nClasses, lrHead) }
        }
      }
    val Seq(dP, gP, hCo) = p
    // Head-polish rounds: the co-trained head chased a MOVING feature
    // space — every averaging round changed the discriminator under it,
    // so the averaged head lags the final features (the lag grows with
    // corpus size: more local steps per round = bigger feature jumps;
    // the r9 sf1 checkpoint measured the co-trained head at ~chance
    // while q31's train-after LR head passed). Two head-only rounds
    // over the FROZEN final features close that gap — linear-softmax
    // SGD with O(nParams·partitions) sync like every other round, and
    // NO local-step cap: the cap guards nonconvex feature divergence,
    // while the frozen-feature head objective is convex — averaging
    // full-partition passes is safe and every row contributes. Only the
    // head is averaged (averaging an unchanged vector is not bit-exact).
    // The frozen features are computed once, inside the first polish
    // round's job, and cached for the second.
    val feats = rdd.map { case (x, label) => (dis.features(dP, x), label) }.cache()
    try {
      var hP = Seq(hCo)
      for (_ <- 0 until 2)
        hP = averagingRound(feats, hP) { case (_, it, Seq(h)) =>
          var batches = 0L
          it.grouped(cfg.batchSize).foreach { batch =>
            batch.foreach { case (f, label) => headStep(h, f, label, nClasses, lrHead) }
            batches += 1
          }
          batches
        }
      (Model(cfg, dP, gP), hP.head)
    } finally feats.unpersist()
  }

  /** The softmax head's logits over feature vector `f`: the head is
    * `nFeat × nClasses` weights (feature-major) then `nClasses` biases.
    */
  private def headLogits(h: Array[Double], f: Array[Double], nClasses: Int): Array[Double] = {
    val nFeat = f.length
    val logits = new Array[Double](nClasses)
    var k = 0
    while (k < nClasses) {
      var a = h(nFeat * nClasses + k)
      var i = 0
      while (i < nFeat) { a += f(i) * h(i * nClasses + k); i += 1 }
      logits(k) = a
      k += 1
    }
    logits
  }

  /** One softmax-cross-entropy SGD step of the head, in place on `h`. */
  private def headStep(h: Array[Double], f: Array[Double], label: Int, nClasses: Int,
      lr: Double): Unit = {
    val nFeat = f.length
    val logits = headLogits(h, f, nClasses)
    val mx = logits.max
    var zsum = 0.0
    var k = 0
    while (k < nClasses) { logits(k) = math.exp(logits(k) - mx); zsum += logits(k); k += 1 }
    k = 0
    while (k < nClasses) {
      val dOut = logits(k) / zsum - (if (k == label) 1.0 else 0.0)
      h(nFeat * nClasses + k) -= lr * dOut
      var i = 0
      while (i < nFeat) { h(i * nClasses + k) -= lr * f(i) * dOut; i += 1 }
      k += 1
    }
  }

  /** Softmax-head prediction over a feature vector: the first class whose
    * logit beats −∞ and every earlier logit (0 if none does).
    */
  def headPredict(hP: Array[Double], f: Array[Double], nClasses: Int): Int = {
    val logits = headLogits(hP, f, nClasses)
    var best = 0
    var bestV = Double.NegativeInfinity
    var k = 0
    while (k < nClasses) {
      if (logits(k) > bestV) { bestV = logits(k); best = k }
      k += 1
    }
    best
  }

  private val memo = new graft.Memo[(SparkSession, String, Config), (Model, DataFrame)](
    "ml.gan", _._2.unpersist())

  /** Train on the sf `embeddings` table, min-max scaled. Memoized per
    * (session, dir, config): the catalog's feature/generate/classify
    * queries share one trained model instead of re-running the
    * adversarial loop. The session instance is part of the key (reference
    * equality) so a new session never receives a cached DataFrame bound
    * to a stopped one.
    */
  def trainOnEmbeddings(s: SparkSession, dir: String, cfg: Config = Config()): (Model, DataFrame) =
    memo((s, dir, cfg)) {
      val data = scaled01(Tables.embeddings(s, dir), cfg.dataDim).cache()
      (train(data, cfg), data)
    }
}
