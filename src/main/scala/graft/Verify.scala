package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev-only: extra args select a subset of queries to dump
    val only = args.drop(2).toSet
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    // a query that fails before dumping must leave an explicit artifact —
    // the r7 round shipped with 18 broken queries silently ABSENT from
    // CORRECTNESS (no dump → no row), which no pass-count diff could flag
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // rows-only queries (no DuckDB oracle) get their invariant checks run
    // HERE, on the same freshly-computed result the dump writes, so every
    // catalog id carries an explicit machine-readable pass/fail in round
    // artifacts (oracle ids via the driver's DuckDB compare, rows-only
    // ids via rows_only_checks.json) — see RowsOnlyChecks.
    val oracleIds = SparkEntry.oracleSql.keySet
    val roChecks = scala.collection.mutable.LinkedHashMap[String, (String, String, Seq[String])]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        if (!oracleIds(name)) RowsOnlyChecks.checks.get(name) match {
          case Some(c) =>
            val fails = try c.run(spark, sfDir, df)
              catch { case e: Throwable => Seq("check threw " + Report.error(e)) }
            roChecks(name) = (c.spec, c.invariant, fails)
          case None =>
            roChecks(name) = ("", "NO CHECK REGISTERED",
              Seq("rows-only query without a RowsOnlyChecks entry"))
        }
      }
      catch { case e: Throwable =>
        errors(name) = Report.error(e)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    import Report.{quote => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // errors.json: one entry per failed query (empty object on a clean
    // pass), so a red query surfaces as a diffable artifact even though
    // the successful dumps are still written and compared. Exit stays 0:
    // partial correctness data beats none if the driver bails on rc != 0.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // rows_only_checks.json: {query: {pass, spec, invariant, failures}}.
    // A filtered dev run (query-name args) must not clobber the full
    // manifest a prior full run wrote into the same outDir — it only
    // rewrites when it covers at least the ids already on disk, so the
    // driver's artifact is always the widest manifest produced there.
    val roPath = Paths.get(s"$outDir/rows_only_checks.json")
    val priorIds: Set[String] =
      if (only.nonEmpty && Files.exists(roPath))
        "\"(q\\d+[a-z0-9_]*)\"\\s*:\\s*\\{".r
          .findAllMatchIn(Files.readString(roPath)).map(_.group(1)).toSet
      else Set.empty
    if ((priorIds -- roChecks.keySet).isEmpty)
      Files.writeString(roPath,
        roChecks.map { case (k, (spec, inv, fails)) =>
          s"${q(k)}: {${q("pass")}: ${fails.isEmpty}, ${q("spec")}: ${q(spec)}, " +
            s"${q("invariant")}: ${q(inv)}, ${q("failures")}: " +
            fails.map(q).mkString("[", ",", "]") + "}"
        }.mkString("{", ",", "}"))
    else
      System.err.println(s"[verify] filtered run: keeping the existing " +
        s"${priorIds.size}-id rows_only_checks.json (this run checked " +
        s"${roChecks.size})")
    val roFail = roChecks.collect { case (k, (_, _, f)) if f.nonEmpty => k }
    if (roFail.nonEmpty)
      System.err.println(s"[verify] ${roFail.size} ROWS-ONLY CHECKS FAILED: " +
        roFail.mkString(", "))
    else if (roChecks.nonEmpty)
      System.err.println(s"[verify] ${roChecks.size} rows-only checks passed")
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} QUERIES FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
