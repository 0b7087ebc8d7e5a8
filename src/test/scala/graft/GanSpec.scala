package graft

import java.nio.ByteBuffer
import java.security.MessageDigest
import graft.ml.Gan
import org.apache.spark.sql.DataFrame

class GanSpec extends SparkSpec {

  test("training is deterministic and parameters stay finite") {
    val cfg = Gan.Config(rounds = 2)
    val (m1, _) = Gan.trainOnEmbeddings(spark, sfDir, cfg)
    val (m2, _) = Gan.trainOnEmbeddings(spark, sfDir, cfg)
    assert(m1.dParams.toSeq == m2.dParams.toSeq, "dis params not deterministic")
    assert(m1.gParams.toSeq == m2.gParams.toSeq, "gen params not deterministic")
    assert(m1.dParams.forall(p => !p.isNaN && !p.isInfinite))
    assert(m1.gParams.forall(p => !p.isNaN && !p.isInfinite))
  }

  test("discriminator separates real from generated after training") {
    val (model, data) = Gan.trainOnEmbeddings(spark, sfDir, Gan.Config(rounds = 4))
    val reals = data.limit(100).collect().map(_.getSeq[Double](1).toArray)
    val realScore = reals.map(model.disScore).sum / reals.length
    val rng = new java.util.Random(1)
    val fakes = Array.fill(100)(model.generate(Array.fill(model.cfg.zDim)(rng.nextDouble() * 2 - 1)))
    val fakeScore = fakes.map(model.disScore).sum / fakes.length
    assert(realScore > fakeScore,
      s"real avg $realScore should exceed fake avg $fakeScore")
    assert(fakes.forall(_.forall(v => v >= 0.0 && v <= 1.0)), "generator range [0,1]")
  }

  test("conv GAN trains deterministically and separates real from generated") {
    val cfg = Gan.Config(rounds = 3, arch = "conv")
    val (m1, data) = Gan.trainOnEmbeddings(spark, sfDir, cfg)
    val (m2, _) = Gan.trainOnEmbeddings(spark, sfDir, cfg)
    assert(m1.dParams.toSeq == m2.dParams.toSeq, "conv dis params not deterministic")
    assert(m1.dParams.forall(p => !p.isNaN && !p.isInfinite))
    assert(m1.gParams.forall(p => !p.isNaN && !p.isInfinite))
    val reals = data.limit(100).collect().map(_.getSeq[Double](1).toArray)
    val realScore = reals.map(m1.disScore).sum / reals.length
    val rng = new java.util.Random(1)
    val fakes = Array.fill(100)(m1.generate(Array.fill(m1.cfg.zDim)(rng.nextDouble() * 2 - 1)))
    val fakeScore = fakes.map(m1.disScore).sum / fakes.length
    assert(realScore > fakeScore, s"conv: real avg $realScore should exceed fake avg $fakeScore")
    assert(fakes.forall(_.forall(v => v >= 0.0 && v <= 1.0)), "conv generator range [0,1]")
    // the conv discriminator's feature vector is the 32-d pooled map
    assert(m1.disFeatures(reals.head).length == 32)
  }

  test("co-trained head: finite params, deterministic, beats the uniform prior") {
    val rows = ml.GanQueries.q37.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val acc = rows.map(_.getAs[Int]("correct")).sum.toDouble / rows.length
    assert(acc > 0.11, s"co-trained accuracy $acc not above the 10-class prior")
    ml.GanQueries.coTrainMemo.clear() // retrain rather than read the memo
    val again = ml.GanQueries.q37.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("prediction")).toSeq ==
      again.map(_.getAs[Int]("prediction")).toSeq, "co-training not deterministic")
  }

  test("scaled01 maps every dimension into [0,1]") {
    val scaled = Gan.scaled01(Tables.embeddings(spark, sfDir), 64)
    val rows = scaled.collect().map(_.getSeq[Double](1))
    assert(rows.nonEmpty)
    assert(rows.forall(_.forall(v => v >= 0.0 && v <= 1.0)))
  }

  /** First 8 bytes of SHA-256 over the big-endian raw bits of the params. */
  private def digest(params: Array[Double]*): String = {
    val bb = ByteBuffer.allocate(params.map(_.length).sum * 8)
    params.foreach(_.foreach(v => bb.putLong(java.lang.Double.doubleToRawLongBits(v))))
    MessageDigest.getInstance("SHA-256").digest(bb.array()).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  private def scaled = Gan.scaled01(Tables.embeddings(spark, sfDir), 64)
  private def labeled(x: DataFrame) =
    x.join(Tables.embeddings(spark, sfDir).select("vec_id", "label"), "vec_id")

  // (sf fixture, arch) -> (train digest, co-train digest), default Config,
  // recorded with the per-trainer treeAggregate averaging that the shared
  // averaging round replaced: single-partition results must not move
  private val golden = Map(
    ("sf0.001", "mlp") -> ("ee09f2fb9ae92c75", "6d84486e2c810181"),
    ("sf0.001", "conv") -> ("f81bacf2e48dc8ee", "6521915fab6a8ed1"),
    ("sf0.01", "mlp") -> ("f1d655ad4bd31980", "b8b891af8e775878"),
    ("sf0.01", "conv") -> ("72504571b2a77897", "60040dec07ace0ca"),
    ("sf0.1", "mlp") -> ("cb905348bc32f4e9", "f07ef7050cb52ff6"),
    ("sf0.1", "conv") -> ("5b7e6da826439fe7", "f65b1d209ce79a21"))

  for (arch <- Seq("mlp", "conv")) test(s"$arch train and co-train match the golden digests") {
    val want = golden.get((new java.io.File(sfDir).getName, arch))
    assume(want.isDefined, s"no golden digests for $sfDir")
    val x = scaled
    assert(x.rdd.getNumPartitions == 1, "goldens are single-partition runs")
    val cfg = Gan.Config(arch = arch)
    val m = Gan.train(x, cfg)
    val (cm, head) = Gan.trainCoTrained(labeled(x), nClasses = 10, cfg)
    assert((digest(m.dParams, m.gParams), digest(cm.dParams, cm.gParams, head)) == want.get)
  }

  // (sf fixture, arch) -> (train digest, co-train digest) on the
  // 4-partition frame below, default Config: the single-partition
  // goldens cannot see a change that only moves multi-partition results
  private val golden4 = Map(
    ("sf0.001", "mlp") -> ("91b6c85d3219e7eb", "71d0828c8182b12b"),
    ("sf0.001", "conv") -> ("9a72511946627a15", "e9f056563cde3c51"),
    ("sf0.01", "mlp") -> ("2e9a9067e0638c92", "3995322526fd959a"),
    ("sf0.01", "conv") -> ("973f3019f1b98db8", "f5ed0aa1256a83db"),
    ("sf0.1", "mlp") -> ("0ebffb29346fc196", "e4dd260d0aa361e0"),
    ("sf0.1", "conv") -> ("b9d193ee7e441454", "ecd70471e81f4459"))

  private def fourParts[A](body: (DataFrame, DataFrame) => A): A = {
    val x = scaled.repartition(4).cache()
    val lx = labeled(x).cache()
    try body(x, lx) finally { lx.unpersist(); x.unpersist() }
  }

  for (arch <- Seq("mlp", "conv")) test(s"$arch train and co-train match the 4-partition golden digests") {
    val want = golden4.get((new java.io.File(sfDir).getName, arch))
    assume(want.isDefined, s"no 4-partition golden digests for $sfDir")
    fourParts { (x, lx) =>
      assert(x.rdd.getNumPartitions == 4, "4-partition goldens")
      val cfg = Gan.Config(arch = arch)
      val m = Gan.train(x, cfg)
      val (cm, head) = Gan.trainCoTrained(lx, nClasses = 10, cfg)
      assert((digest(m.dParams, m.gParams), digest(cm.dParams, cm.gParams, head)) == want.get)
    }
  }

  test("averages are bit-stable on a 4-partition frame") {
    fourParts { (x, lx) =>
      assert(x.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0) == 4)
      for (arch <- Seq("mlp", "conv")) {
        val cfg = Gan.Config(arch = arch)
        val (a, b) = (Gan.train(x, cfg), Gan.train(x, cfg))
        assert(digest(a.dParams, a.gParams) == digest(b.dParams, b.gParams), s"$arch train")
        val (ca, ha) = Gan.trainCoTrained(lx, nClasses = 10, cfg)
        val (cb, hb) = Gan.trainCoTrained(lx, nClasses = 10, cfg)
        assert(digest(ca.dParams, ca.gParams, ha) == digest(cb.dParams, cb.gParams, hb),
          s"$arch co-train")
      }
    }
  }

  test("one job per averaging round, after the input-cache job") {
    val x = scaled.cache()
    val lx = labeled(x).cache()
    lx.count()
    try {
      val cfg = Gan.Config(rounds = 3)
      assert(jobsOf(Gan.train(x, cfg)) == 1 + cfg.rounds)
      // the co-training rounds plus two head-polish rounds
      assert(jobsOf(Gan.trainCoTrained(lx, nClasses = 10, cfg)) == 1 + cfg.rounds + 2)
    } finally { lx.unpersist(); x.unpersist() }
  }
}
