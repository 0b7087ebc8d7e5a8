package graft

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
  *     queries from this file.
  */
object Bench {
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
    val reps = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // a query that THROWS must not masquerade as a fast rep — record the
    // failure so the artifact (and the 2x gate's reader) can see it
    val errors = scala.collection.mutable.Map[String, String]()
    var storageHighWater = 0L
    def noteStorage(): Unit = {
      val used = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      if (used > storageHighWater) storageHighWater = used
    }
    for (rep <- 0 to nReps; name <- names) {
      val t0 = System.nanoTime()
      var ok = true
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable =>
        ok = false
        errors(name) = e.getClass.getSimpleName +
          Option(e.getMessage).map(m => ": " + m.linesIterator.next().take(120))
            .getOrElse("")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // a rep that threw is time-to-exception, not a timing — recording it
      // would turn a broken query into a phantom speedup (the r7 failure
      // mode: 18 dead queries "ran" in 0.05s and the total looked best-ever)
      if (rep > 0 && ok) reps(name) = reps(name) :+ dt
      noteStorage()
    }
    // errored queries carry no timing at all: absent from per-query times,
    // the total, cv, and the baseline comparison — present only in `errors`
    val timedNames = names.filter(n => reps(n).nonEmpty && !errors.contains(n))
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
    def residentNow(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    val residentEnd = {
      val first = residentNow()
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
        val second = residentNow()
        if (second > storageBudget) {
          System.gc(); Thread.sleep(5000); residentNow()
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
      s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"sf":"$sfDir",
         |"storage_mem_high_water_bytes":$storageHighWater,
         |"storage_resident_end_bytes":$residentEnd,
         |"storage_budget_bytes":$storageBudget,"storage_over_budget":$overBudget,
         |"queries":$qs,
         |"reps":${fmtMap(reps.toMap.map { case (k, v) => k -> v.mkString("[", ",", "]") })},
         |"cv":${fmtMap(cv.map { case (k, v) => k -> f"$v%.3f" })},
         |"high_variance":${highVariance.sorted.map(n => s"\"$n\"").mkString("[", ",", "]")},
         |"baseline_ratio":${fmtMap(best.flatMap { case (n, t) =>
              baseline.get(n).collect { case b if b > 0 =>
                n -> f"${t / b}%.3f" } })},
         |"baseline_outliers_over_2x":${fmtMap(outliers.map { case (k, v) => k -> f"$v%.2f" })},
         |"baseline_outliers_over_2x_stable":${fmtMap(stableOutliers.map { case (k, v) => k -> f"$v%.2f" })},
         |"errors":${fmtMap(errors.toMap.map { case (k, v) =>
              k -> ("\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"") })}}"""
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
    println(s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"queries":$qs,"sf":"$sfDir"}""")
    // ADDITION (r14, VERDICT-r13 item 2): with 234 queries the contract
    // line is ~15 KB and the driver retains only a 2000-char stdout tail,
    // so it has parsed nothing since r05. Print a SECOND, SHORT summary
    // line LAST — small enough that any tail capture holds it whole. The
    // full per-query record lives in the $outPath artifact (per-config
    // name, committed); the contract line above is unchanged.
    println(s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"n_queries":${timedNames.size},"cpus":$cpus,"full_artifact":"$outPath","sf":"$sfDir"}""")
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
