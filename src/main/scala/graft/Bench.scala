package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import scala.collection.mutable

/** Steady-state benchmark over every catalog query.
  *
  * Protocol (designed so two back-to-back runs agree per-query, not just
  * in total, on a noisy shared box):
  *   - pass 0 (warm-up, untimed result): every query once in name order —
  *     charges one-time memoized builds (trained quantizers, persisted
  *     index tables, cluster labels) and JIT/codegen to warm-up, not to
  *     rep 1 of whichever query runs first;
  *   - passes 1..3 INTERLEAVED across queries (q1,q2,…,qN, q1,q2,…):
  *     a noise burst lands on one rep of many queries instead of all
  *     three consecutive reps of one query, so per-query min-of-3 stays
  *     comparable between runs;
  *   - per-query time = min of the 3 interleaved reps.
  *
  * Artifacts:
  *   - stdout: ONE JSON line {"metric","value","unit","queries","sf"} —
  *     the driver contract, unchanged;
  *   - `SPARK_GRAFT_BENCH_OUT` (default BENCH_FULL_<n>c.json in the cwd): the
  *     COMPLETE per-query result — all reps, the per-query coefficient
  *     of variation over those reps (queries with cv > 0.35 are listed
  *     under `high_variance`: mechanically computed shared-box noise,
  *     replacing BASELINE.md's hand-maintained bimodal list),
  *     storage-memory high-water (visibility into the session memos'
  *     cache pressure), and, when BASELINE_QUERIES.json is present, the
  *     per-query ratio vs baseline with >2x outliers called out — both
  *     the raw list and `baseline_outliers_over_2x_stable`, the
  *     subset whose reps agree (low cv): the list that actually means
  *     "regression". Log-tail truncation of the stdout line cannot lose
  *     queries from this file. Its `records` hold each timed query's
  *     [[Record]]: the cold pass (memo builds included) and the warm rep.
  *
  * Per-query dev run: `SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_OUT=
  * /tmp/p.json tools/run_main.sh graft.Bench <query>...`
  */
object Bench {
  /** One of a pass's slowest stages, named by its first `graft.` frame. */
  final case class StageCost(site: String, wallMs: Long, taskMs: Long, tasks: Int)

  /** One query pass: wall time, and the Spark cost (task time is
    * executorRunTime) of everything run under its job group.
    */
  final case class Ledger(wallS: Double, jobs: Int, stages: Int, tasks: Long,
      taskMs: Long, cpuMs: Long, gcMs: Long, stageWallMs: Long, top: Seq[StageCost])

  /** A timed query: its cold pass, its reported (min) warm rep, and the
    * storage resident and [[Memo]] entries added after the cold pass.
    */
  final case class Record(rows: Long, cold: Ledger, warm: Ledger,
      residentBytes: Long, memos: Seq[(String, Int)])

  /** Per-query times of passes 1..n (errored reps absent) and records. */
  final case class Run(reps: Map[String, Vector[Double]], errors: Map[String, String],
      storageHighWater: Long, records: Map[String, Record])

  /** Memory held by cached RDD blocks right now. */
  private def resident(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** Sums Spark cost per job group. A stage finds its group in the local
    * properties it was submitted with, which AQE's stage threads capture
    * and Centroids' pool threads inherit from the query's thread.
    */
  private final class Ledgers extends SparkListener {
    private final class Acc {
      var jobs, stages = 0
      var tasks, taskMs, cpuMs, gcMs, wallMs = 0L
      var top = Vector.empty[StageCost]
    }
    private val groupOf = mutable.Map[Int, String]()
    private val accs = mutable.Map[String, Acc]()
    // SparkContext.SPARK_JOB_GROUP_ID is package-private
    private def group(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      accs.getOrElseUpdate(group(e.properties), new Acc).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      groupOf(e.stageInfo.stageId) = group(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      groupOf.remove(i.stageId).foreach { g =>
        val a = accs.getOrElseUpdate(g, new Acc)
        val m = i.taskMetrics
        val wall = (for (c <- i.completionTime; s <- i.submissionTime) yield c - s).getOrElse(0L)
        // a broadcast build's stage name is an opaque future frame; the
        // first graft.* frame of the call-site stack names the operator
        val site = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.Bench"))
          .map(_.trim.take(90)).getOrElse(i.name.take(70))
        a.stages += 1; a.tasks += i.numTasks; a.taskMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1000000; a.gcMs += m.jvmGCTime; a.wallMs += wall
        a.top = (a.top :+ StageCost(site, wall, m.executorRunTime, i.numTasks))
          .sortBy(-_.wallMs).take(5)
      }
    }
    def ledger(g: String, wallS: Double): Ledger = synchronized {
      val a = accs.getOrElse(g, new Acc)
      Ledger(wallS, a.jobs, a.stages, a.tasks, a.taskMs, a.cpuMs, a.gcMs, a.wallMs, a.top)
    }
  }

  /** Run `names`: pass 0 (cold), then `nReps` timed passes interleaved
    * across queries, each under the job group `<query>#<pass>`.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], nReps: Int): Run = {
    val sc = spark.sparkContext
    val ledgers = new Ledgers
    val reps = mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)
    // a query that THROWS must not masquerade as a fast rep — record the
    // failure so the artifact (and the 2x gate's reader) can see it
    val errors = mutable.Map[String, String]()
    // query -> (cold wall s, rows, resident bytes, memo entries added)
    val cold = mutable.Map[String, (Double, Long, Long, Seq[(String, Int)])]()
    var storageHighWater = 0L
    sc.addSparkListener(ledgers)
    try {
      for (rep <- 0 to nReps; name <- names) {
        val memosBefore = if (rep == 0) Memos.held.toMap else Map.empty[String, Int]
        sc.setJobGroup(s"$name#$rep", name)
        val t0 = System.nanoTime()
        val rows =
          try Some(SparkEntry.queries(name)(spark, sfDir).count())
          catch { case e: Throwable => errors(name) = Report.error(e); None }
          finally sc.clearJobGroup()
        val dt = (System.nanoTime() - t0) / 1e9
        // a rep that threw is time-to-exception, not a timing — recording it
        // would turn a broken query into a phantom speedup (the r7 failure
        // mode: 18 dead queries "ran" in 0.05s and the total looked best-ever)
        if (rep > 0 && rows.nonEmpty) reps(name) = reps(name) :+ dt
        val used = resident(spark)
        storageHighWater = math.max(storageHighWater, used)
        if (rep == 0) rows.foreach { n =>
          val added = Memos.held.collect { case (m, k) if k > memosBefore.getOrElse(m, 0) =>
            m -> (k - memosBefore.getOrElse(m, 0)) }
          cold(name) = (dt, n, used, added)
        }
      }
      GraftBridge.drainListeners(sc)
    } finally sc.removeSparkListener(ledgers)
    // errored queries get no record, as they get no timing
    val records = cold.collect { case (n, (coldS, rows, used, memos))
        if !errors.contains(n) && reps(n).nonEmpty =>
      val r = reps(n)
      val best = r.indexOf(r.min)
      n -> Record(rows, ledgers.ledger(s"$n#0", coldS),
        ledgers.ledger(s"$n#${best + 1}", r(best)), used, memos)
    }
    Run(reps.toMap, errors.toMap, storageHighWater, records.toMap)
  }

  private def ledgerJson(l: Ledger): String =
    s"""{"wall_s":${l.wallS},"jobs":${l.jobs},"stages":${l.stages},"tasks":${l.tasks},""" +
      s""""task_ms":${l.taskMs},"cpu_ms":${l.cpuMs},"gc_ms":${l.gcMs},""" +
      s""""stage_wall_ms":${l.stageWallMs},"top_stages":""" +
      l.top.map(t => s"""{"site":${Report.quote(t.site)},"wall_ms":${t.wallMs},""" +
        s""""task_ms":${t.taskMs},"tasks":${t.tasks}}""").mkString("[", ",", "]}")

  private[graft] def recordJson(r: Record): String =
    s"""{"rows":${r.rows},"resident_bytes":${r.residentBytes},"memos":""" +
      r.memos.sortBy(_._1).map { case (m, k) => s"${Report.quote(m)}:$k" }.mkString("{", ",", "}") +
      s""","cold":${ledgerJson(r.cold)},"warm":${ledgerJson(r.warm)}}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // full artifacts are named by core count so a low-core scaling run
    // minutes later cannot overwrite the main run's per-query record
    // (r13 lost its 32-core full artifact exactly that way)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_FULL_${cpus}c.json")
    val spark = Session.local(cpus)

    // dev-only: extra args restrict the run to the named queries (the
    // driver always invokes with no args → full catalog)
    val only = args.toSet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    // dev-only: timed-rep count (default 3, the driver protocol). Large
    // one-off SFs (the sf1 scale checkpoint) use 2 to keep wall-clock
    // sane; min-of-2 interleaved is still a defensible steady-state read.
    val nReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val Run(reps, errors, storageHighWater, records) = run(spark, sfDir, names, nReps)
    // errored queries carry no timing at all: absent from per-query times,
    // the total, cv, and the baseline comparison — present only in `errors`
    val timedNames = names.filter(n => reps.contains(n) && !errors.contains(n))
    val best = timedNames.map(n => n -> reps(n).min).toMap
    // per-query dispersion over the interleaved reps: cv = stddev/mean.
    // A query whose reps swing wildly on a shared box (bimodal cache /
    // scheduler behavior) is NOISE-flagged mechanically — BASELINE.md
    // used to hand-list such queries; the artifact now computes it.
    val cv = timedNames.map { n =>
      val r = reps(n)
      val mean = r.sum / r.size
      val sd = math.sqrt(r.map(x => (x - mean) * (x - mean)).sum / r.size)
      n -> (if (mean > 0) sd / mean else 0.0)
    }.toMap
    val HighCv = 0.35
    val highVariance = timedNames.filter(cv(_) > HighCv)

    // optional baseline gate: BASELINE_QUERIES.json = {"qNN_name": sec}
    val baseline: Map[String, Double] =
      scala.util.Try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BASELINE_QUERIES.json")), "UTF-8")
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    val outliers = best.flatMap { case (n, t) =>
      baseline.get(n).collect { case b if b > 0 && t > 2 * b => n -> (t / b) }
    }
    // the gate that means "regression": over 2x baseline AND the reps
    // agree with each other (low cv) — a >2x flag with scattered reps
    // is the box, not the code
    val stableOutliers = outliers.filter { case (n, _) => cv(n) <= HighCv }

    def fmtMap(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val qs = fmtMap(best.map { case (k, v) => k -> v.toString })
    val total = best.values.sum
    val sf = Report.quote(sfDir)
    // storage-memory budget (VERDICT-r8 #8): the session memos (persisted
    // NSW adjacency, MV snapshots, cached cluster labels) must stay a
    // bounded CACHE, not a data-proportional resident set — the ceiling
    // is deliberately SF-independent so a scale jump that silently turns
    // memos linear (the executor-OOM precursor on a real cluster) fails
    // the run instead of surfacing as an OOM two scale-ups later.
    // The GATED number is the END-OF-RUN resident set (memos only): the
    // sf1 checkpoint showed raw high-water also catches per-query
    // TRANSIENT working caches plus async-unpersist lag (q105's ~370 MB
    // released caches sampled before the executor drops them) — a
    // spillable working set that legitimately scales with data and says
    // nothing about memo growth. Measured residents: ~20 MB at sf0.1,
    // 61 MB at sf1 (sublinear — √n seed structures). High-water stays
    // reported for working-set visibility. The end sample retries after
    // a pause so lazy unpersists from the final queries don't inflate it.
    val storageBudget = sys.env.getOrElse(
      "SPARK_GRAFT_STORAGE_BUDGET_BYTES", (1L << 30).toString).toLong
    val residentEnd = {
      val first = resident(spark)
      if (first > storageBudget) {
        // Transient RDD-level persists (localCheckpoint artifacts whose
        // plans went out of scope with their query) are reaped by the
        // ContextCleaner only after a driver GC surfaces their weak
        // refs — on a big heap that GC may never have happened by
        // end-of-run, so they'd masquerade as resident memos. Force the
        // GC so the gate reads what is actually HELD: memo-map caches
        // and any leaked .cache() (both CacheManager-pinned, GC-immune)
        // stay visible; collectable working-set garbage does not.
        System.gc(); Thread.sleep(3000)
        val second = resident(spark)
        if (second > storageBudget) {
          System.gc(); Thread.sleep(5000); resident(spark)
        } else second
      } else first
    }
    val overBudget = residentEnd > storageBudget
    // rc gate: a round with ANY errored query is an invalid benchmark run —
    // stamp it in both artifacts and exit non-zero so the harness cannot
    // freeze a baseline or claim all-green coverage over a red catalog.
    // rc=2: timings fine but the memo cache blew its ceiling.
    val rc = if (errors.nonEmpty) 1 else if (overBudget) 2 else 0
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"sf":$sf,
         |"storage_mem_high_water_bytes":$storageHighWater,
         |"storage_resident_end_bytes":$residentEnd,
         |"storage_budget_bytes":$storageBudget,"storage_over_budget":$overBudget,
         |"queries":$qs,
         |"reps":${fmtMap(reps.map { case (k, v) => k -> v.mkString("[", ",", "]") })},
         |"cv":${fmtMap(cv.map { case (k, v) => k -> f"$v%.3f" })},
         |"high_variance":${highVariance.sorted.map(n => s"\"$n\"").mkString("[", ",", "]")},
         |"baseline_ratio":${fmtMap(best.flatMap { case (n, t) =>
              baseline.get(n).collect { case b if b > 0 =>
                n -> f"${t / b}%.3f" } })},
         |"baseline_outliers_over_2x":${fmtMap(outliers.map { case (k, v) => k -> f"$v%.2f" })},
         |"baseline_outliers_over_2x_stable":${fmtMap(stableOutliers.map { case (k, v) => k -> f"$v%.2f" })},
         |"errors":${fmtMap(errors.map { case (k, v) => k -> Report.quote(v) })},
         |"records":${fmtMap(records.map { case (k, r) => k -> recordJson(r) })}}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      full.getBytes("UTF-8"))
    if (overBudget)
      System.err.println(s"[bench] STORAGE OVER BUDGET: end-of-run resident " +
        s"$residentEnd B > ceiling $storageBudget B — memo growth is " +
        "no longer bounded; see storage_resident_end_bytes trend in BENCH_HISTORY")
    if (errors.nonEmpty)
      System.err.println(s"[bench] QUERIES THREW: " +
        errors.toSeq.sortBy(_._1).map { case (n, e) => s"$n ($e)" }.mkString(", "))
    if (outliers.nonEmpty)
      System.err.println(s"[bench] >2x-vs-baseline outliers " +
        s"(${stableOutliers.size} stable of ${outliers.size}): " +
        outliers.toSeq.sortBy(-_._2).map { case (n, r) =>
          f"$n $r%.2fx${if (cv(n) > HighCv) " (high-cv)" else ""}" }.mkString(", "))

    // the driver contract: exactly one JSON line, same keys as ever (rc
    // added: 0 = every catalog query ran; 1 = invalid run, see `errors`)
    println(s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"queries":$qs,"sf":$sf}""")
    // ADDITION (r14, VERDICT-r13 item 2): with 234 queries the contract
    // line is ~15 KB and the driver retains only a 2000-char stdout tail,
    // so it has parsed nothing since r05. Print a SECOND, SHORT summary
    // line LAST — small enough that any tail capture holds it whole. The
    // full per-query record lives in the $outPath artifact (per-config
    // name, committed); the contract line above is unchanged.
    println(s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"n_queries":${timedNames.size},"cpus":$cpus,"full_artifact":${Report.quote(outPath)},"sf":$sf}""")
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
