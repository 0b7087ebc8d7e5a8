package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Space-filling-curve expressions for clustered data layout. */
object SpatialExprs {

  /** Hilbert-curve index over ANY number of dimensions (each coordinate
    * in [0, 2^bits), `bits·dims ≤ 63`) → long — see [[HilbertIndexN]].
    */
  def hilbertIndexN(dims: Seq[Column], bits: Int): Column =
    GraftBridge.column(
      HilbertIndexN(dims.map(GraftBridge.expression), bits))
}

/** N-dimensional Hilbert index via Skilling's transpose algorithm
  * ("Programming the Hilbert curve", AIP Conf. Proc. 707, 2004): the
  * axes fold into the curve's "transposed" bit-matrix in place —
  * per-level undo of the sub-cube rotations, then a Gray encode — and
  * the index is the MSB-first interleave of the transposed coordinates.
  * O(dims·bits) per row, no allocation beyond one dims-length scratch
  * array. Unlike the Morton interleave, consecutive indices are
  * edge-adjacent cells in every dimension count (bijectivity +
  * unit-step are spec-exhausted at 2-D and 3-D), so there is no seam
  * where a small box predicate straddles distant curve positions.
  */
case class HilbertIndexN(children: Seq[Expression], bits: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(children.nonEmpty, "hilbert_n needs at least one dimension")
  require(bits >= 1 && bits * children.length <= 63,
    s"$bits bits x ${children.length} dims overflows a long")

  override def inputTypes: Seq[DataType] = Seq.fill(children.length)(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val xs = new Array[Long](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Long]
      i += 1
    }
    HilbertIndexN.encodeInPlace(xs, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val n = children.length
    val arr = ctx.freshName("dims")
    val evals = children.map(_.genCode(ctx))
    val setup = evals.zipWithIndex.map { case (e, i) =>
      s"""
         |if (!${ev.isNull}) {
         |  ${e.code}
         |  if (${e.isNull}) { ${ev.isNull} = true; }
         |  else { $arr[$i] = ${e.value}; }
         |}""".stripMargin
    }.mkString("\n")
    ev.copy(code =
      code"""
         |boolean ${ev.isNull} = false;
         |long ${ev.value} = -1L;
         |long[] $arr = new long[$n];
         |$setup
         |if (!${ev.isNull}) {
         |  ${ev.value} =
         |    graft.functions.HilbertIndexN$$.MODULE$$.encodeInPlace($arr, $bits);
         |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HilbertIndexN =
    copy(children = newChildren)
}

object HilbertIndexN {
  /** Axes → Hilbert index; mutates a COPY of `xsIn` (the safe public
    * face — callers keep their array).
    */
  def encode(xsIn: Array[Long], bits: Int): Long =
    encodeInPlace(java.util.Arrays.copyOf(xsIn, xsIn.length), bits)

  /** The zero-copy entry the expression's eval and generated
    * code use: both build a fresh per-row dims array already, so this
    * CONSUMES (mutates) `xs` — one dims-length allocation per row
    * total, not two.
    */
  def encodeInPlace(xs: Array[Long], bits: Int): Long = {
    val n = xs.length
    val m = 1L << (bits - 1)
    // undo the per-level sub-cube rotations (Skilling's "inverse undo")
    var q = m
    while (q > 1) {
      val p = q - 1
      var i = 0
      while (i < n) {
        if ((xs(i) & q) != 0L) xs(0) ^= p
        else { val t = (xs(0) ^ xs(i)) & p; xs(0) ^= t; xs(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode
    var i = 1
    while (i < n) { xs(i) ^= xs(i - 1); i += 1 }
    var t = 0L
    q = m
    while (q > 1) { if ((xs(n - 1) & q) != 0L) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < n) { xs(i) ^= t; i += 1 }
    // the index is the transposed coordinates interleaved MSB-first
    // (bit bits-1 of xs(0) is the index's most significant bit)
    var d = 0L
    var bit = bits - 1
    while (bit >= 0) {
      var j = 0
      while (j < n) {
        d = (d << 1) | ((xs(j) >> bit) & 1L)
        j += 1
      }
      bit -= 1
    }
    d
  }
}
