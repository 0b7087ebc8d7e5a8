package graft.sources

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustered writes — multi-dimensional data
  * layout for scan pruning. Sorting a table on one column makes range
  * predicates on THAT column skip files via parquet min/max footers, but
  * destroys locality on every other column; interleaving the bits of two
  * (or more) dimensions into one sort key gives every dimension partial
  * locality, so a selective predicate on EITHER column — or a box on
  * both — touches a small fraction of the files. This is the lakehouse
  * OPTIMIZE/ZORDER layout rewrite, expressed as plain Spark: one stats
  * job, a codegen'd curve projection, a sampled range repartition on
  * the z-value, and a sorted parquet write. At 100 TB the payoff is at
  * the FILE LISTING and row-group level: footer stats bound each file's
  * (dim1, dim2) box, and the reader prunes without touching data. The
  * spec measures exactly that — per-file bounding boxes under a box
  * predicate vs a hash layout of the same file count.
  */
object ZOrder {

  /** N-dimensional Morton interleave: bit i of dimension j lands at
    * position i·n + j. `bits · dims` must fit a long's 63 value bits.
    */
  def zValueN(dims: Seq[Column], bits: Int): Column = {
    require(bits * dims.length <= 63, s"$bits bits x ${dims.length} dims overflows a long")
    val n = dims.length
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      dims.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
  }

  /** Write `df` to `path` as `files` parquet files clustered on `cols`
    * (any number of dimensions): one O(1)-row stats job, one bounded
    * sample job for the range bounds, then a single range exchange on
    * the curve value (the only shuffle) with an in-partition sort, so
    * every file's footer carries a tight N-D bounding box. `curve`: "morton" (the bit-interleave — cheapest,
    * but a box straddling the space's center seam touches many curve
    * segments) or "hilbert" (the Skilling walk,
    * [[graft.functions.HilbertIndexN]] — adjacent indices are always
    * adjacent cells, no seam in any dimension count; preferred when hot
    * predicates sit mid-range).
    */
  def writeZOrderedN(df: DataFrame, path: String, cols: Seq[String],
      files: Int, bits: Int = 16, curve: String = "morton"): Unit =
    statsFor(df, cols) match {
      case None => df.limit(0).write.mode("overwrite").parquet(path)
      case Some((rows, ranges)) =>
        val scaled = cols.zip(ranges).map { case (c, (lo, hi)) =>
          scaleTo(col(c), lo, hi, bits)
        }
        val z = curve match {
          case "morton"  => zValueN(scaled, bits)
          case "hilbert" => graft.functions.SpatialExprs.hilbertIndexN(scaled, bits)
          case other     => throw new IllegalArgumentException(s"unknown curve: $other")
        }
        byRange(df.withColumn("_z", z), "_z", files, rows)
          .drop("_z")
          .write.mode("overwrite").parquet(path)
    }

  /** `df` (`rows` rows) in `files` partitions of consecutive, sorted
    * ranges of the long column `key`, the bounds cut from a fixed-seed
    * sample (`repartitionByRange` seeds its sampler with the RDD id, so
    * its layout changes with how many RDDs the session made before).
    */
  def byRange(df: DataFrame, key: String, files: Int, rows: Long): DataFrame = {
    val points = 100 * files
    val sample = df.select(key).na.drop()
      .sample(withReplacement = false, math.min(1.0, points.toDouble / rows), 42L)
      .orderBy(key).take(10 * points).map(_.getLong(0))
    val bounds = (1 until files).flatMap(i => sample.lift(i * sample.length / files)).toArray
    val k = df.schema.fieldIndex(key)
    val parts = df.rdd
      .keyBy { r =>
        val i = if (r.isNullAt(k)) -1 else java.util.Arrays.binarySearch(bounds, r.getLong(k))
        if (i >= 0) i + 1 else -i - 1
      }
      .partitionBy(new HashPartitioner(files)) // key i in [0, files) → partition i
      .values
    df.sparkSession.createDataFrame(parts, df.schema).sortWithinPartitions(key)
  }

  /** One stats job for (row count, clustering columns' (min, max)),
    * guarding the degenerate inputs the curve can't scale: an EMPTY input
    * returns None (caller short-circuits to an empty write — a valid
    * table, zero files of data), and an entirely-null clustering column
    * fails loudly BY NAME instead of NPE-ing inside `getDouble`.
    */
  private def statsFor(df: DataFrame, cols: Seq[String])
      : Option[(Long, Seq[(Double, Double)])] = {
    val aggs = count(lit(1)) +: cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val st = df.agg(aggs.head, aggs.tail: _*).take(1).head
    if (st.getLong(0) == 0L) None
    else Some(st.getLong(0) -> cols.zipWithIndex.map { case (c, j) =>
      if (st.isNullAt(1 + 2 * j) || st.isNullAt(2 + 2 * j))
        throw new IllegalArgumentException(
          s"z-order clustering column '$c' is entirely null")
      (st.getDouble(1 + 2 * j), st.getDouble(2 + 2 * j))
    })
  }

  /** Scale a numeric column into [0, 2^bits) from its (lo, hi) stats —
    * the quantized coordinate the curve interleaves.
    */
  private def scaleTo(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    val span = math.max(hi - lo, 1e-300)
    val cells = (1L << bits) - 1
    least(greatest(
      floor((c.cast("double") - lit(lo)) / lit(span) * lit(cells + 1)),
      lit(0L)), lit(cells))
  }
}
