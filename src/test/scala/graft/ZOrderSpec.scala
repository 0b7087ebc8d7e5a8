package graft

import org.apache.spark.sql.functions._
import graft.sources.ZOrder

/** The z-order layout's whole value is measurable from parquet footers:
  * each file's (dim1, dim2) bounding box must be TIGHT, so a selective
  * box predicate intersects few files, where a hash layout of the same
  * file count smears every file across the full key space and a reader
  * can skip nothing.
  */
class ZOrderSpec extends SparkSpec {

  private def fileBoxes(path: String) =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_partkey")).as("lo1"), max(col("l_partkey")).as("hi1"),
        min(col("l_suppkey")).as("lo2"), max(col("l_suppkey")).as("hi2"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  test("z-ordered files bound a box predicate to a small fraction; hash layout can't skip") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_partkey", "l_suppkey", "l_quantity")
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    val (zp, hp, sp) = (s"$base/z", s"$base/h", s"$base/s")
    val files = 16
    ZOrder.writeZOrderedN(li, zp, Seq("l_partkey", "l_suppkey"), files)
    li.repartition(files).write.mode("overwrite").parquet(hp)
    li.repartitionByRange(files, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(sp)

    // box predicate: an eighth of each dimension's range — area ~1/64
    // of the key space (off the curve's center seam, where Morton
    // locality is at its documented worst)
    val (b1lo, b1hi, b2lo, b2hi) = (250L, 500L, 12L, 25L)
    def touched(boxes: Seq[(Long, Long, Long, Long)]): Int =
      boxes.count { case (lo1, hi1, lo2, hi2) =>
        !(hi1 < b1lo || lo1 > b1hi || hi2 < b2lo || lo2 > b2hi)
      }
    val (zb, hb) = (fileBoxes(zp).toSeq, fileBoxes(hp).toSeq)
    assert(zb.size == files && hb.size == files)
    val (zt, ht) = (touched(zb), touched(hb))
    info(s"files intersecting the box: z-order $zt/$files, hash $ht/$files")
    assert(zt <= files / 2,
      s"z-order must localize the box to few files, touched $zt/$files")
    assert(ht >= files - 1,
      s"hash layout should smear across ~all files, touched only $ht/$files")
    assert(zt < ht, "z-order must beat the hash layout")

    // the layout rewrite must not change the data: the box query returns
    // identical row multisets from both layouts
    def boxRows(p: String) = spark.read.parquet(p)
      .filter(col("l_partkey").between(b1lo, b1hi) &&
        col("l_suppkey").between(b2lo, b2hi))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(boxRows(zp) == boxRows(hp), "layouts must hold identical data")

    // single-dimension locality survives the interleave: a predicate on
    // EITHER column alone still skips a meaningful file fraction (this
    // is what a plain sort on one column destroys for the other)
    def touched1(boxes: Seq[(Long, Long, Long, Long)],
        lo: Long, hi: Long, dim2: Boolean): Int =
      boxes.count { case (lo1, hi1, lo2, hi2) =>
        if (dim2) !(hi2 < lo || lo2 > hi) else !(hi1 < lo || lo1 > hi)
      }
    val zt1 = touched1(zb, 875L, 1125L, dim2 = false)
    val zt2 = touched1(zb, 43L, 56L, dim2 = true)
    info(s"single-dim eighth-range scans: partkey $zt1/$files, suppkey $zt2/$files")
    assert(zt1 < files && zt2 < files,
      s"both single-dim predicates must skip at least one file ($zt1, $zt2)")

    // ...which is exactly what a plain one-column sort cannot do: it
    // skips perfectly on ITS column and not at all on the other
    val sb = fileBoxes(sp).toSeq
    val st1 = touched1(sb, 875L, 1125L, dim2 = false)
    val st2 = touched1(sb, 12L, 25L, dim2 = true)
    info(s"single-sort layout: partkey $st1/$files, suppkey $st2/$files")
    assert(st2 == files, "a partkey-sorted layout cannot skip on suppkey")
    assert(zt2 < st2, "z-order must beat the single-column sort on the second dim")
  }

  test("HilbertIndex: codegen == interpreted, bijective over the grid, unit-step curve") {
    import spark.implicits._
    val bits = 5 // the full 32x32 grid, exhaustively
    val cells = (0L until 32L).flatMap(x => (0L until 32L).map(y => (x, y)))
    val viaSpark = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.functions.SpatialExprs.hilbertIndexN(Seq(col("x"), col("y")), bits).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cells.foreach { case (x, y) =>
      assert(viaSpark((x, y)) == graft.functions.HilbertIndexN.encode(Array(x, y), bits),
        s"codegen/interpreted divergence at ($x,$y)")
    }
    // bijection onto [0, 1024) and the defining locality property:
    // consecutive indices are edge-adjacent cells (|dx|+|dy| == 1)
    val byD = viaSpark.toSeq.map { case ((x, y), d) => d -> (x, y) }.sortBy(_._1)
    assert(byD.map(_._1) == (0L until 1024L))
    byD.map(_._2).sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumps from ($x1,$y1) to ($x2,$y2)")
    }
  }

  test("3-D morton layout localizes a 3-D box; hash layout cannot") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_partkey", "l_suppkey", "l_quantity")
    val base = java.nio.file.Files.createTempDirectory("z3").toString
    val files = 16
    ZOrder.writeZOrderedN(li, s"$base/z",
      Seq("l_partkey", "l_suppkey", "l_quantity"), files)
    li.repartition(files).write.mode("overwrite").parquet(s"$base/h")
    def boxes3(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("lo1"), max("l_partkey").as("hi1"),
        min("l_suppkey").as("lo2"), max("l_suppkey").as("hi2"),
        min("l_quantity").as("lo3"), max("l_quantity").as("hi3"))
      .collect()
    // the first eighth of each dimension — 1/512 of the key volume
    def touched(path: String): Int = boxes3(path).count { r =>
      !(r.getLong(2) < 0L || r.getLong(1) > 250L ||
        r.getLong(4) < 0L || r.getLong(3) > 12L ||
        r.getDouble(6) < 1.0 || r.getDouble(5) > 7.0)
    }
    val (zt, ht) = (touched(s"$base/z"), touched(s"$base/h"))
    info(s"3-D box files touched: z-order $zt/$files, hash $ht/$files")
    assert(zt <= files / 2, s"3-D z-order must localize the box ($zt/$files)")
    assert(ht >= files - 1, s"hash layout should smear ($ht/$files)")
  }

  test("zValueN is a bijection onto the cube (exhaustive 8x8x8)") {
    import spark.implicits._
    val cells = for (x <- 0L until 8L; y <- 0L until 8L; z <- 0L until 8L)
      yield (x, y, z)
    val vals = cells.toDF("x", "y", "z")
      .select(ZOrder.zValueN(Seq(col("x"), col("y"), col("z")), 3).as("d"))
      .collect().map(_.getLong(0)).sorted
    assert(vals.toSeq == (0L until 512L), "3-D morton must hit every cell index once")
  }

  test("HilbertIndexN: codegen == interpreted, bijective, unit-step (exhaustive 16x16x16)") {
    import spark.implicits._
    val bits = 4
    val cells = for (x <- 0L until 16L; y <- 0L until 16L; z <- 0L until 16L)
      yield (x, y, z)
    // fallback=false: a doGenCode compile error must FAIL here, not
    // silently fall back to interpreted eval (mirrors CodegenSpec)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val viaSpark =
      try cells.toDF("x", "y", "z")
        .select(col("x"), col("y"), col("z"),
          graft.functions.SpatialExprs.hilbertIndexN(
            Seq(col("x"), col("y"), col("z")), bits).as("d"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      finally spark.conf.unset("spark.sql.codegen.fallback")
    cells.foreach { case (x, y, z) =>
      assert(viaSpark((x, y, z)) ==
        graft.functions.HilbertIndexN.encode(Array(x, y, z), bits),
        s"codegen/interpreted divergence at ($x,$y,$z)")
    }
    // bijection onto [0, 4096) and the defining locality property:
    // consecutive indices are edge-adjacent cells (Manhattan step 1)
    val byD = viaSpark.toSeq.map { case (c, d) => d -> c }.sortBy(_._1)
    assert(byD.map(_._1) == (0L until 4096L),
      "3-D hilbert must hit every cell index exactly once")
    byD.map(_._2).sliding(2).foreach { case Seq((x1, y1, z1), (x2, y2, z2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) == 1,
        s"curve jumps from ($x1,$y1,$z1) to ($x2,$y2,$z2)")
    }
    // 2-D degenerate case stays a Hilbert curve too (unit-step over 32x32)
    val cells2 = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val by2 = cells2
      .map(c => graft.functions.HilbertIndexN.encode(Array(c._1, c._2), 5) -> c)
      .sortBy(_._1)
    assert(by2.map(_._1) == (0L until 1024L))
    by2.map(_._2).sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
    }
  }

  test("3-D hilbert layout beats 3-D morton on the center-seam box") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_partkey", "l_suppkey", "l_quantity")
    val base = java.nio.file.Files.createTempDirectory("h3").toString
    val files = 16
    val cols = Seq("l_partkey", "l_suppkey", "l_quantity")
    ZOrder.writeZOrderedN(li, s"$base/m", cols, files)
    ZOrder.writeZOrderedN(li, s"$base/h", cols, files, curve = "hilbert")
    def boxes3(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("lo1"), max("l_partkey").as("hi1"),
        min("l_suppkey").as("lo2"), max("l_suppkey").as("hi2"),
        min("l_quantity").as("lo3"), max("l_quantity").as("hi3"))
      .collect()
    // a box straddling morton's high-bit seam in both HIGH-CARDINALITY
    // dims (quantity, with ~50 distinct values, stays wide open — its
    // "center seam" is quantization noise at this file count) — the
    // 3-D analogue of the 2-D center-seam test
    def touched(path: String): Int = boxes3(path).count { r =>
      !(r.getLong(2) < 875L || r.getLong(1) > 1125L ||
        r.getLong(4) < 43L || r.getLong(3) > 56L)
    }
    val (mt, ht) = (touched(s"$base/m"), touched(s"$base/h"))
    info(s"3-D center-box files touched: morton $mt/$files, hilbert $ht/$files")
    // the box is a SLAB (quantity unconstrained), so it inherently cuts
    // many curve segments, and the exact file count depends on where
    // the sampled range bounds fall (measured: morton 16/16, hilbert
    // 13/16). The stable claim is the relative one:
    // the seam forces morton to touch strictly more files than the
    // seam-free hilbert walk.
    assert(ht < mt, s"3-D hilbert must beat morton at the seam ($ht vs $mt)")
    assert(ht <= files - 1, s"3-D hilbert must skip files morton cannot ($ht/$files)")
  }

  test("hilbert layout beats morton where morton is weakest: the center-seam box") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_partkey", "l_suppkey", "l_quantity")
    val base = java.nio.file.Files.createTempDirectory("hilbert").toString
    val files = 16
    ZOrder.writeZOrderedN(li, s"$base/m", Seq("l_partkey", "l_suppkey"), files)
    ZOrder.writeZOrderedN(li, s"$base/h", Seq("l_partkey", "l_suppkey"), files,
      curve = "hilbert")
    // the centered box straddles Morton's high-bit seam in both dims
    val (b1lo, b1hi, b2lo, b2hi) = (875L, 1125L, 43L, 56L)
    def touched(path: String): Int = fileBoxes(path).count {
      case (lo1, hi1, lo2, hi2) =>
        !(hi1 < b1lo || lo1 > b1hi || hi2 < b2lo || lo2 > b2hi)
    }
    val (mt, ht) = (touched(s"$base/m"), touched(s"$base/h"))
    info(s"center-box files touched: morton $mt/$files, hilbert $ht/$files")
    assert(ht <= mt, s"hilbert must not lose to morton at the seam ($ht vs $mt)")
    assert(ht <= files / 2, s"hilbert must localize the centered box ($ht/$files)")
  }

  test("degenerate inputs: empty df writes an empty table; all-null column fails by name") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("zdegen").toString
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    ZOrder.writeZOrderedN(empty, s"$base/e2", Seq("a", "b"), 4)
    assert(spark.read.parquet(s"$base/e2").count() == 0)
    ZOrder.writeZOrderedN(empty, s"$base/en", Seq("a", "b"), 4)
    assert(spark.read.parquet(s"$base/en").count() == 0)
    val nullCol = Seq((1L, None: Option[Long]), (2L, None)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      ZOrder.writeZOrderedN(nullCol, s"$base/n", Seq("a", "b"), 4)
    }
    assert(ex.getMessage.contains("'b'"),
      s"error must name the null column: ${ex.getMessage}")
  }
}
