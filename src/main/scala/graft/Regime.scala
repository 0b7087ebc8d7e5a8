package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The corpus-size regime: every plan chosen by corpus size is decided
  * here, from a table's parquet-footer row count and one threshold per
  * gate. A spec forces a gate by passing a threshold to the entry point it
  * tests; a memo whose value depends on a gate decision keys on it.
  */
object Regime {

  /** Exact kNN tier (q52 and its graph consumers q141/q148/q189): at or
    * below this many vectors the exact all-pairs grid join runs (O(n²)
    * pairs — affordable, and the single-broadcast-chunk regime since it
    * equals `Similarity.MaxBuildRows`); above it `Similarity.knnEdges`
    * swaps in the cell-blocked tier. The sf1 checkpoint measured the
    * ungated exact tier at 17–21× wall growth on 10× data.
    */
  val ExactKnnMaxRows = 4096L

  /** Fixed-codebook gate for the quantizer family (`Centroids`, the
    * blocking codebook in `Dedup`): at or below it the cell count follows
    * max(16, ⌈√n⌉) and the KMeans fit reads the full corpus; above it the
    * codebook freezes at `Centroids.FixedK` = ⌈√gate⌉ cells fit on a
    * ≤gate-row stride sample, so per-row assignment cost stays O(k·d).
    * Every oracle-checked scale factor (sf0.01 = 500 … sf1 = 20,000
    * vectors) sits below it.
    */
  val QuantizerGateRows = 65536L

  /** Scan fan-out gate for long per-row CPU kernels over an unsplit input
    * (see [[fanOutWide]]): below it the kernel stays fused with the scan.
    */
  val FanOutGateRows = 65536L

  /** AND-amplification gate, in documents: past it q109 requires a
    * candidate to collide in BOTH MinHash bands (P = J¹⁶ instead of
    * 1−(1−J⁸)², a ~1500× cut on the J ≈ 0.4 candidate mass while keeping
    * ≥72% of J ≥ 0.98 near-dup pairs), and q204/q217 switch to the exact
    * factored / extended-prefix plans. It sits between sf1 (~60k docs,
    * gate off) and sf10 (~600k docs, gate on); oracles on gated queries
    * mirror the rule with a CASE on count(documents).
    */
  val WideBandGateDocs = 100000L

  private val rowsMemo = new Memo[(SparkSession, String, String), Long]("regime.rows")

  /** Row count of corpus table `table` under `d`: the sum of the record
    * counts in its parquet footers. `spark.read.parquet` would run a
    * schema-inference job, so the files are listed through Hadoop
    * directly (data files only: names starting with `_` or `.` are the
    * writer's markers, checksums and summary files, as Spark skips them).
    */
  def rows(s: SparkSession, d: String, table: String): Long =
    rowsMemo((s, d, table)) {
      val conf = s.sparkContext.hadoopConfiguration
      val root = new Path(Tables.path(d, table))
      val it = root.getFileSystem(conf).listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
          try r.getRecordCount finally r.close()
        }.sum
    }

  def embeddings(s: SparkSession, d: String): Long = rows(s, d, "embeddings")
  def documents(s: SparkSession, d: String): Long = rows(s, d, "documents")

  /** The exact kNN tier applies: at most `maxRows` vectors. */
  def exactKnn(s: SparkSession, d: String, maxRows: Long = ExactKnnMaxRows): Boolean =
    embeddings(s, d) <= maxRows

  /** The quantizer codebook is frozen: more than `gateRows` vectors. */
  def frozenCodebook(n: Long, gateRows: Long = QuantizerGateRows): Boolean =
    n > gateRows

  /** The AND-amplified plans apply: more than `gateDocs` documents. */
  def andGated(s: SparkSession, d: String, gateDocs: Long = WideBandGateDocs): Boolean =
    documents(s, d) > gateDocs

  /** Scan-width fan-out for LONG per-row CPU kernels over an unsplit
    * input (the unsplittable-input rule: repartition immediately after
    * the read). Fires only when BOTH
    *   (a) `rows >= FanOutGateRows` — the serial kernel would run long
    *       enough that one round-robin exchange of skinny rows is noise
    *       against it (measured at sf0.1: fanning out ~0.5 s kernels
    *       multiplied total task time ~20× in per-task overhead + GC churn
    *       and made wall WORSE — small kernels must stay fused with the
    *       scan), and
    *   (b) the frame's scan yields fewer splits than the cluster's
    *       parallelism (at 100 TB the file set out-splits the cluster, so
    *       this is the identity — no corpus exchange is ever added where
    *       data already fans out; the r13 measurement that rejected
    *       unconditional post-scan repartitions).
    *
    * Only order-free consumers may use this (integer/exact aggregates,
    * bounded top-k aggregates, per-row math): repartitioning reorders
    * rows, which would perturb last-ulp sums in cross-row double
    * aggregates.
    */
  def fanOutWide(df: DataFrame, rows: Long): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (rows >= FanOutGateRows && df.rdd.getNumPartitions < p) df.repartition(p)
    else df
  }
}
