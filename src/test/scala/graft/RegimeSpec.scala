package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The corpus-size regime: footer row counts equal `count()` without a
  * Spark job, each fixture's gate decisions are pinned, and q109's band
  * AND-gate, forced, narrows the candidate set.
  */
class RegimeSpec extends SparkSpec {

  /** The three fixture scales, beside the spec fixture. */
  private def fixture(sf: String): String = s"${new java.io.File(sfDir).getParent}/$sf"
  private val fixtures = Seq("sf0.001", "sf0.01", "sf0.1").map(fixture)

  private def count(d: String, t: String): Long =
    (if (t == "events") Tables.events(spark, d) else Tables.load(spark, d, t)).count()

  /** Runs `body` on a fresh corpus dir (fresh memo keys) holding
    * `multi`: 3 files of several row groups each, and `empty`: no rows.
    */
  private def withTables(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("regime")
    val d = dir.toString
    try {
      spark.range(0, 30000).repartition(3)
        .selectExpr("id", "id * 7 AS v")
        .write.option("parquet.block.size", "16384")
        .parquet(Tables.path(d, "multi"))
      spark.range(0).write.parquet(Tables.path(d, "empty"))
      body(d)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("footer row counts equal count() for every fixture table") {
    for (d <- fixtures; t <- Tables.names)
      assert(Regime.rows(spark, d, t) == count(d, t), s"$t at $d")
  }

  test("footer row counts equal count() for a multi-file, multi-row-group table and an empty one") {
    withTables { d =>
      val files = Tables.load(spark, d, "multi").inputFiles
      val conf = spark.sparkContext.hadoopConfiguration
      val groups = files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try r.getRowGroups.size finally r.close()
      }
      assert(files.length == 3 && groups.forall(_ > 1),
        s"fixture must span several files and row groups: ${groups.toSeq}")
      assert(Regime.rows(spark, d, "multi") == 30000L)
      assert(Regime.rows(spark, d, "multi") == count(d, "multi"))
      assert(Regime.rows(spark, d, "empty") == 0L)
      assert(Regime.rows(spark, d, "empty") == count(d, "empty"))
    }
  }

  test("Regime.rows runs no Spark job") {
    withTables { d =>
      assert(jobsOf(Regime.rows(spark, d, "multi")) == 0)
      assert(jobsOf(Regime.rows(spark, d, "empty")) == 0)
      // the listener does see the count() a footer read replaces
      assert(jobsOf(Tables.load(spark, d, "multi").count()) > 0)
    }
  }

  test("each fixture's corpus sizes and gate decisions are pinned") {
    // (dir, embeddings, documents, quantizer cells)
    val pinned = Seq(
      (fixture("sf0.001"), 500L, 500L, 23),
      (fixture("sf0.01"), 500L, 500L, 23),
      (fixture("sf0.1"), 2000L, 5000L, 45))
    for ((d, nEmb, nDocs, k) <- pinned) {
      assert(Regime.embeddings(spark, d) == nEmb, d)
      assert(Regime.documents(spark, d) == nDocs, d)
      assert(Regime.exactKnn(spark, d), s"$d: exact kNN tier")
      assert(!Regime.frozenCodebook(nEmb), s"$d: sqrt(n) quantizer")
      assert(ml.Centroids.kForCount(nEmb, Regime.QuantizerGateRows) == k, d)
      assert(dedup.Dedup.subSplitBits(nEmb) == 0, d)
      assert(!Regime.andGated(spark, d), s"$d: single-band, pinned prefix plans")
      assert(nEmb < Regime.FanOutGateRows, s"$d: no scan fan-out")
    }
    // and each forced threshold flips its decision
    assert(!Regime.exactKnn(spark, sfDir, maxRows = 1L))
    assert(Regime.frozenCodebook(Regime.embeddings(spark, sfDir), gateRows = 64L))
    assert(Regime.andGated(spark, sfDir, gateDocs = 0L))
  }

  test("q109 band AND-gate, forced: two-band candidates are a non-empty subset of single-band ones") {
    def pairs(gateDocs: Long) = dedup.Dedup.q109Candidates(spark, sfDir, gateDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Regime.WideBandGateDocs)
    val both = pairs(0L)
    assert(both.nonEmpty, "forced gate must keep some candidates")
    assert(both.subsetOf(single), s"extra=${(both -- single).take(5)}")
    assert(both.size < single.size, "the AND-gate must cut candidates")
  }
}
