package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkEntry, Tables}
import graft.ml.{Centroids, Gan}
import graft.sim.Similarity

/** One timed call into the program. Times are wall-clock epoch ms for
  * attribution, and nanoTime-based ms for the durations.
  */
final case class OpRec(op: String, module: String, pass: Int, start: Long,
    end: Long, wallMs: Double, buildMs: Double, planMs: Double,
    execMs: Double, error: String, rows: Long, digest: String,
    extra: Map[String, Double])

/** The benchmark's JVM side: a fresh session on `local[cores]`, one client
  * issuing one op at a time — a cold pass, then warm passes until the
  * measuring time is spent. It only records; `perfbench/run.py` turns the
  * records into metrics and checks them against `perfbench/expected.json`.
  *
  * Arguments are `key=value`: sf, inputs, kinds, out,
  * warehouse, tables, prefix, cold_prefix, ops, modules, orders, seconds,
  * min_warm, trace, cores, and conf.<spark key> for each pinned setting.
  */
object Harness {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    def list(k: String) = a.getOrElse(k, "").split(",").filter(_.nonEmpty).toSeq
    val cores = a("cores").toInt
    val sf = a("sf")
    val out = Paths.get(a("out"))

    // ---- set-up: session built, the workload's tables resolved ----------
    // the pinned session settings (`session` in workloads.json) arrive as
    // conf.<key>=<value>; the warehouse is this run's own, never the repo's
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config(a.collect { case (k, v) if k.startsWith("conf.") => k.stripPrefix("conf.") -> v })
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis() - jvmStartMs
    val tr0 = System.nanoTime()
    val inputs = new Inputs(spark, sf, a("inputs"), cores, list("tables"), list("kinds"))
    val resolveMs = (System.nanoTime() - tr0) / 1e6
    val setupMs = System.currentTimeMillis() - jvmStartMs
    val setupJson = s""""setup_ms":$setupMs,"session_ms":$sessionMs,"resolve_ms":$resolveMs"""

    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val minWarm = a("min_warm").toInt
    val modules = list("ops").zip(list("modules")).toMap ++
      (list("prefix") ++ list("cold_prefix")).map(o => o -> Ops.moduleOf(o))
    val orders = new String(Files.readAllBytes(Paths.get(a("orders"))), "UTF-8")
      .linesIterator.map(_.split(",").map(_.toInt).toSeq).toVector
    inputs.prepare()
    val ops = new Ops(spark, sf, inputs)
    val rec = new Recorder
    val sc = spark.sparkContext
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    var attached = false
    def attach(on: Boolean): Unit = if (on != attached) {
      org.apache.spark.ListenerBridge.drain(sc)
      if (on) { sc.addSparkListener(rec); cls.listenerManager.register(rec) }
      else { sc.removeSparkListener(rec); cls.listenerManager.unregister(rec) }
      attached = on
    }

    var peakStorage = 0L
    def storageNow(): Long = sc.getRDDStorageInfo.map(_.memSize).sum
    val records = ArrayBuffer[OpRec]()
    val passes = ArrayBuffer[String]()
    val catalogOps = list("ops")

    def runPass(p: Int): Unit = {
      // a traced run alternates: the cold pass and odd warm passes carry
      // the listeners, even warm passes run bare to measure their cost
      val traced = trace && (p == 0 || p % 2 == 1)
      attach(traced)
      // The cold pass runs the ops in their listed order: a fresh
      // session's first op pays its first-use costs, and how much depends
      // on the op, so a drawn first op would make the cold pass a lottery.
      // Warm passes run them in the seed's order for that pass.
      val prefix = if (p == 0) list("cold_prefix") else list("prefix")
      val order = if (p == 0) catalogOps else orders(p % orders.size).map(catalogOps)
      val mine = ArrayBuffer[OpRec]()
      for (name <- prefix ++ order) {
        val r = ops.run(name, modules(name), p)
        mine += r
        val s = storageNow()
        if (s > peakStorage) peakStorage = s
      }
      records ++= mine
      val layers =
        if (traced) {
          org.apache.spark.ListenerBridge.drain(sc)
          Layers.of(mine.toSeq, rec, cores, ops.stepCap)
            .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
        } else ""
      passes += s"""{"pass":$p,"traced":$traced,"wall_ms":${Json.num(mine.map(_.wallMs).sum)},""" +
        s""""layers":{$layers}}"""
    }

    runPass(0)
    val warmStart = System.nanoTime()
    var p = 1
    while (p <= minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      runPass(p); p += 1
    }
    attach(false)

    // traced runs only: memo residency after graft.Bench's forced-GC
    // protocol, and the functions kernels on their own
    val resident = if (!trace) -1L else {
      System.gc(); Thread.sleep(1000)
      val first = storageNow()
      System.gc(); Thread.sleep(1000)
      math.min(first, storageNow())
    }
    val kernels = if (trace) Kernels.measure(spark, inputs.seed) else Map.empty[String, Double]

    val recJson = records.map { r =>
      s"""{"op":"${r.op}","module":"${r.module}","pass":${r.pass},""" +
        s""""wall_ms":${Json.num(r.wallMs)},"build_ms":${Json.num(r.buildMs)},""" +
        s""""plan_ms":${Json.num(r.planMs)},"exec_ms":${Json.num(r.execMs)},""" +
        s""""error":${Json.str(r.error)},"rows":${r.rows},""" +
        s""""digest":${Json.str(r.digest)},"extra":{""" +
        r.extra.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",") + "}}"
    }.mkString("[", ",\n", "]")
    val kJson = kernels.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    val oracle = SparkEntry.oracleSql.keySet
    val json =
      s"""{$setupJson,"peak_storage_bytes":$peakStorage,"resident_storage_bytes":$resident,""" +
      s""""oracle_ops":${oracle.toSeq.sorted.map(Json.str).mkString("[", ",", "]")},""" +
      s""""kernels":{$kJson},"passes":${passes.mkString("[", ",\n", "]")},""" +
      s""""ops":$recJson}"""
    Files.write(out, json.getBytes("UTF-8"))
    spark.stop()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
}

/** The workload's inputs. Construction is set-up: the sf tables the
  * workload reads and the generated files are resolved (schemas read).
  * [[prepare]] loads the generated inputs — the GAN matrix cached with one
  * partition per core, the vectors collected — before the cold pass, so
  * neither set-up nor any op is charged for it.
  */
final class Inputs(spark: SparkSession, sf: String, dir: String, cores: Int,
    tables: Seq[String], kinds: Seq[String]) {
  tables.foreach(t => if (t == "events") Tables.events(spark, sf).schema
    else Tables.load(spark, sf, t).schema)
  private def file(name: String) = spark.read.parquet(s"$dir/$name.parquet")
  private val files =
    (if (kinds.contains("gan")) Seq("gan_train", "gan_test") else Nil) ++
    (if (kinds.contains("vectors")) Seq("append_batches", "queries") else Nil)
  files.foreach(f => file(f).schema)
  private val meta = new String(Files.readAllBytes(Paths.get(dir, "meta.txt")), "UTF-8")
    .linesIterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
  val seed: Long = meta("seed").toLong

  lazy val ganTrain: DataFrame = {
    val df = file("gan_train").select("vec_id", "x", "label").repartition(cores).cache()
    df.count()
    df
  }
  lazy val ganRows: Long = meta("gan_train_rows").toLong
  lazy val ganTest: Array[(Array[Double], Int)] =
    file("gan_test").select("x", "label").collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getInt(1)))

  private def vecs(name: String, idCol: String, vecCol: String) =
    file(name).select("pass", idCol, vecCol).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Number](2).map(_.doubleValue).toArray))
      .groupBy(_._1).map { case (p, rs) => p -> rs.map(r => (r._2, r._3)).sortBy(_._1).toSeq }
  /** Per pass: the vectors appended to the index, and the probe queries. */
  lazy val batches: Map[Int, Seq[(Long, Array[Double])]] =
    vecs("append_batches", "vec_id", "embedding")
  lazy val queries: Map[Int, Seq[(Long, Array[Double])]] = vecs("queries", "qid", "qvec")
  lazy val corpus: Seq[(Long, Array[Double])] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq

  def prepare(): Unit = {
    if (kinds.contains("gan")) { ganTrain; ganTest }
    if (kinds.contains("vectors")) { batches; queries; corpus }
  }
}

/** The ops a workload is made of, by name: catalog queries (`q…`) and the
  * direct calls into `ml` and `sim`.
  */
final class Ops(spark: SparkSession, sf: String, in: Inputs) {
  private val catalog = SparkEntry.queries
  /** A self-query's id: the appended vector's id plus this. */
  private val SelfBase = 1000000000000L
  private val ganCfg = Gan.Config()
  val stepCap: Long = ganCfg.maxBatchesPerRound.toLong * ganCfg.batchSize
  /** Every vector appended so far, for the exact top-10 the probes are
    * scored against.
    */
  private val appended = ArrayBuffer[(Long, Array[Double])]()

  /** What a call returned, for the checks: row count, digest (catalog
    * ops), figures for the metrics, a probe's (query id, rank, vec_id)
    * hits, and a trained model with its softmax head.
    */
  private case class Res(rows: Long, digest: String = null,
      extra: Map[String, Double] = Map.empty, hits: Seq[(Long, Int, Long)] = Nil,
      model: Option[Gan.Model] = None, head: Option[Array[Double]] = None)

  def run(name: String, module: String, pass: Int): OpRec = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tb = t0 // end of build (catalog ops)
    var tp = t0 // end of plan (catalog ops)
    val res = Try {
      if (name.startsWith("q")) {
        val df = catalog(name)(spark, sf)
        tb = System.nanoTime()
        val q = Ops.digestFrame(df)
        q.queryExecution.executedPlan
        tp = System.nanoTime()
        val r = q.collect()(0)
        Res(r.getLong(0), Option(r.get(1)).map(_.toString).orNull)
      } else direct(name, pass)
    }
    val t1 = System.nanoTime()
    val end = System.currentTimeMillis()
    // the checks run after the timed call
    val (out, error) = res match {
      case Success(r) => check(name, pass, r)
      case Failure(e) => (Res(-1), e.getClass.getSimpleName + ": " +
        Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))
    }
    val ms = (x: Long) => x / 1e6
    OpRec(name, module, pass, start, end, ms(t1 - t0), ms(tb - t0), ms(tp - tb),
      ms(t1 - tp), error, out.rows, out.digest, out.extra)
  }

  private def batchFrame(pass: Int): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false)))
    val rows = in.batches(pass).map { case (id, v) => Row(id, v.map(_.toFloat).toSeq) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The pass's seeded queries plus one self-query per vector appended in
    * this pass.
    */
  private def queryFrame(pass: Int): DataFrame = {
    val schema = StructType(Seq(StructField("query_id", LongType, false),
      StructField("qvec", ArrayType(DoubleType, false), false)))
    val rows = (in.queries(pass) ++ in.batches(pass).map { case (id, v) => (SelfBase + id, v) })
      .map { case (id, v) => Row(id, v.toSeq) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def direct(name: String, pass: Int): Res = name match {
    case "gan.train.mlp" | "gan.train.conv" =>
      val cfg = ganCfg.copy(arch = name.stripPrefix("gan.train."))
      Res(in.ganRows, extra = Map("rows_x_rounds" -> (in.ganRows * cfg.rounds).toDouble),
        model = Some(Gan.train(in.ganTrain, cfg)))
    case "gan.cotrain.mlp" | "gan.cotrain.conv" =>
      val cfg = ganCfg.copy(arch = name.stripPrefix("gan.cotrain."))
      val (m, h) = Gan.trainCoTrained(in.ganTrain, 10, cfg)
      Res(in.ganRows, extra = Map("rows_x_rounds" -> (in.ganRows * cfg.rounds).toDouble),
        model = Some(m), head = Some(h))
    case "memo.gan_embeddings" =>
      Res(1, model = Some(Gan.trainOnEmbeddings(spark, sf)._1))
    case "memo.kmeans" =>
      Res(Centroids.model(spark, sf).clusterCenters.length)
    case "memo.knn_graph" =>
      Res(Similarity.approxKnnGraphCached(spark, sf, 3).count())
    case "memo.ivf_index" =>
      Similarity.indexTable(spark, sf); Res(1)
    case "sim.ivf_append" =>
      Similarity.appendToIndexTable(spark, sf, Similarity.indexTable(spark, sf), batchFrame(pass))
      Res(in.batches(pass).size)
    case "sim.ann_probe" =>
      val rows = Similarity.annProbe(spark, sf, queryFrame(pass), 10)
        .select("query_id", "rank", "vec_id").collect()
      Res(rows.length, hits = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
  }

  /** The checks that need the harness's own state. Returns the result to
    * record and the failed check, or null.
    */
  private def check(name: String, pass: Int, r: Res): (Res, String) = name match {
    case "sim.ivf_append" =>
      appended ++= in.batches(pass)
      (r, null)
    case "sim.ann_probe" =>
      // recall@10 against exact top-10 by cosine over the corpus plus
      // every vector appended so far
      val byQ = r.hits.groupBy(_._1)
      def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
      val pool = (in.corpus ++ appended).map { case (id, v) => (id, unit(v)) }
      val recalls = in.queries(pass).map { case (qid, qv) =>
        val qu = unit(qv)
        val exact = pool.map { case (id, v) => (id, v.indices.map(i => v(i) * qu(i)).sum) }
          .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
        byQ.getOrElse(qid, Nil).count(h => h._2 <= 10 && exact(h._3)) / 10.0
      }
      // annProbe ranks by ADC over PQ codes with no exact rerank: another
      // vector's code can sit closer to a query than the query's own code,
      // so an appended vector must come back within its self-query's top
      // 10, not necessarily first
      val selfs = in.batches(pass).map(_._1)
      val missing = selfs.count(id => !byQ.getOrElse(SelfBase + id, Nil).exists(_._3 == id))
      (r.copy(hits = Nil, extra = Map("recall_at_10" -> recalls.sum / recalls.size)),
        if (missing > 0) s"$missing of ${selfs.size} appended vectors missing from their self-query's top 10"
        else null)
    case _ =>
      val acc = for (m <- r.model; h <- r.head) yield
        "head_acc" -> in.ganTest.count { case (x, y) =>
          Gan.headPredict(h, m.disFeatures(x), 10) == y }.toDouble / in.ganTest.length
      val finite = r.model.forall(m => (m.dParams ++ m.gParams).forall(v => !v.isNaN && !v.isInfinite))
      (r.copy(extra = r.extra ++ acc), if (finite) null else "non-finite model parameters")
  }
}

object Ops {
  def moduleOf(op: String): String =
    if (op.startsWith("gan.") || op == "memo.gan_embeddings" || op == "memo.kmeans") "ml"
    else "sim"

  /** The op's result reduced to one row by one action: its row count and
    * an order-insensitive digest (sum of per-row hashes) with doubles
    * rounded to 6 places.
    */
  def digestFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("d"))
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(c)
    case _ => c
  }
}
