package graft

import org.apache.spark.sql.types._

/** `Bench.run` tags each query pass with its own job group, so every
  * Spark job of a run lands in exactly one pass's ledger, and each timed
  * query's record carries its cold and warm cost and the memos its cold
  * pass built.
  */
class BenchSpec extends SparkSpec {
  private val names =
    Seq("q01_pricing_summary", "q03_join_agg", "q29_gan_train_features")

  // one run on a memo-free session, shared by the tests below, with the
  // jobs an independent listener counted while it ran
  private lazy val (result, runJobs) = {
    Memos.clearAll()
    var r: Bench.Run = null
    val jobs = jobsOf { r = Bench.run(spark, sfDir, names, 1) }
    (r, jobs)
  }

  test("every queried name gets a record with rows, cold and warm ledgers") {
    assert(result.errors.isEmpty, result.errors)
    assert(result.records.keySet == names.toSet)
    for ((n, r) <- result.records) {
      assert(r.rows > 0L, n)
      assert(r.residentBytes >= 0L, n)
      assert(r.warm.wallS == result.reps(n).min, n)
      for (l <- Seq(r.cold, r.warm)) {
        assert(l.wallS > 0.0 && l.jobs >= 0 && l.stages >= 0, n)
        assert(l.tasks >= 0L && l.taskMs >= 0L && l.cpuMs >= 0L, n)
        assert(l.gcMs >= 0L && l.stageWallMs >= 0L, n)
        assert(l.top.size <= math.min(5, l.stages), n)
        assert(l.top.map(_.wallMs) == l.top.map(_.wallMs).sorted.reverse, n)
        assert(l.top.forall(_.site.nonEmpty), n)
      }
      assert(r.cold.jobs > 0, s"$n: its cold pass must run a job")
    }
  }

  test("each record's artifact JSON has the documented fields and types") {
    import spark.implicits._
    val json = result.records.values.map(Bench.recordJson).toSeq
    val schema = spark.read.json(json.toDS()).schema
    val ledger = StructType(Seq(
      StructField("cpu_ms", LongType), StructField("gc_ms", LongType),
      StructField("jobs", LongType), StructField("stage_wall_ms", LongType),
      StructField("stages", LongType), StructField("task_ms", LongType),
      StructField("tasks", LongType),
      StructField("top_stages", ArrayType(StructType(Seq(
        StructField("site", StringType), StructField("task_ms", LongType),
        StructField("tasks", LongType), StructField("wall_ms", LongType))))),
      StructField("wall_s", DoubleType)))
    def shape(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
      case a: ArrayType => ArrayType(shape(a.elementType))
      case o => o
    }
    val fields = shape(schema).asInstanceOf[StructType].fields.map(f => f.name -> f.dataType).toMap
    assert(fields.keySet == Set("cold", "memos", "resident_bytes", "rows", "warm"))
    assert(fields("cold") == ledger && fields("warm") == ledger)
    assert(fields("rows") == LongType && fields("resident_bytes") == LongType)
    assert(fields("memos").isInstanceOf[StructType])
  }

  test("every job of the run is attributed to exactly one query pass") {
    val attributed = result.records.values.map(r => r.cold.jobs + r.warm.jobs).sum
    assert(runJobs > 0)
    assert(attributed == runJobs, s"$attributed of $runJobs jobs attributed")
  }

  test("a memo-building query's cold pass pays the build and names the memo") {
    val r = result.records("q29_gan_train_features")
    assert(r.cold.jobs > r.warm.jobs, s"cold ${r.cold.jobs} vs warm ${r.warm.jobs}")
    assert(r.memos.toMap.get("ml.gan").exists(_ > 0), r.memos)
    assert(!result.records("q01_pricing_summary").memos.toMap.contains("ml.gan"))
  }

  test("Report.quote round-trips quotes, backslashes and control chars through JSON") {
    import spark.implicits._
    val s = "a\"b\\c\td\re\u0001f\ng"
    val back = spark.read.json(Seq(s"""{"v":${Report.quote(s)}}""").toDS())
    assert(back.columns.toSeq == Seq("v"), "the line must parse, not land in _corrupt_record")
    assert(back.as[String].collect().toSeq == Seq(s))
  }
}
