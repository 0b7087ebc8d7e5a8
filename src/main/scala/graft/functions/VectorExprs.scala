package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/text hot paths.
  *
  * The interpreted higher-order-function formulation
  * (`aggregate(zip_with(...))`) costs a closure call + boxing per element;
  * these expressions run one fused primitive loop per row — `CosineSim`
  * participates in whole-stage codegen via `doGenCode`, so a 4M-pair kNN
  * join stays inside one generated loop.
  */
object VectorExprs {

  private def toColumn(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)

  /** cosine(a, b) over numeric arrays → double. */
  def cosineSim(a: Column, b: Column): Column = toColumn(CosineSim(ex(a), ex(b)))

  /** dot(a, b) over numeric arrays → double (left-to-right accumulation). */
  def dotProduct(a: Column, b: Column): Column = toColumn(DotProduct(ex(a), ex(b)))

  /** Jaccard similarity of two string arrays (treated as sets). */
  def jaccardSim(a: Column, b: Column): Column = toColumn(JaccardSim(ex(a), ex(b)))

  /** Jaccard over pre-deduped, pre-sorted arrays (allocation-free merge). */
  def jaccardSimSorted(a: Column, b: Column): Column =
    toColumn(JaccardSim(ex(a), ex(b), assumeSorted = true))

  /** All character n-grams of a string. */
  def charNgrams(text: Column, n: Int): Column = toColumn(CharNgrams(ex(text), n))

  /** 64-bit SimHash of a token array (engine-portable polynomial token
    * hashes — see [[SimHash64]]).
    */
  def simHash64(tokens: Column): Column = toColumn(SimHash64(ex(tokens)))

  /** MinHash signature (`nPerm` affine permutations over `k`-char shingle
    * polynomial hashes — see [[MinHashSig]]).
    */
  def minHashSig(text: Column, k: Int = 5, nPerm: Int = 16): Column =
    toColumn(MinHashSig(ex(text), k, nPerm))

  /** Engine-portable polynomial hash of a string's code points. */
  def polyHash(text: Column): Column = toColumn(PolyHash(ex(text)))

  /** Min over `w`-code-point windows of the polynomial hash (winnowing-lite
    * fingerprint); at least one (possibly short) window for short strings.
    */
  def minWindowHash(text: Column, w: Int = 16): Column =
    toColumn(MinWindowHash(ex(text), w))

  /** Asymmetric-distance (ADC) score of a PQ `codes` row against a
    * query's precomputed code-distance table — see [[AdcScore]].
    */
  def adcScore(codes: Column, table: Array[Double], nSub: Int, nCodes: Int): Column =
    toColumn(AdcScore(ex(codes), table, nSub, nCodes))

  /** PQ code assignment of an `array<float>` vector against flattened
    * codebooks — see [[PqEncode]]. `books` is laid out
    * `[(sub·nCodes + code)·subDim + i]`; pass `nSub = 1, subDim = dim`
    * with a flattened centroid matrix for whole-vector nearest-cell
    * assignment.
    */
  def pqEncode(emb: Column, books: Array[Double], nSub: Int, nCodes: Int,
      subDim: Int): Column =
    toColumn(PqEncode(ex(emb), books, nSub, nCodes, subDim))

  /** ADC distance of a PQ `codes` row against an IN-ROW `array<double>`
    * query vector (normalized inside the expression — no per-query
    * driver-side distance table), for streaming probes where the query
    * arrives as data — see [[AdcScoreVec]].
    */
  def adcScoreVec(query: Column, codes: Column, books: Array[Double],
      nSub: Int, nCodes: Int, subDim: Int): Column =
    toColumn(AdcScoreVec(ex(query), ex(codes), books, nSub, nCodes, subDim))

  /** Whole-document BPE token count under a trained merge table
    * (flattened (left, right, merged) triples) — see [[BpeTokenCount]].
    */
  def bpeTokenCount(text: Column, merges: Array[String]): Column =
    toColumn(BpeTokenCount(ex(text), merges))

  /** Whole-document BPE token-ID sequence (array<int>) under a trained
    * merge table and an id vocabulary (index = id) — see [[BpeEncodeIds]].
    */
  def bpeEncodeIds(text: Column, merges: Array[String],
      vocab: Array[String]): Column =
    toColumn(BpeEncodeIds(ex(text), merges, vocab))

  /** DEFLATE-compressed byte length of a string's UTF-8 bytes — see
    * [[DeflateLen]].
    */
  def deflateLen(text: Column): Column = toColumn(DeflateLen(ex(text)))

  /** Exact intersection size of two pre-deduped, pre-sorted arrays
    * (string, int or long elements) — see [[InterCount]].
    */
  def interCountSorted(a: Column, b: Column): Column =
    toColumn(InterCount(ex(a), ex(b)))

  /** Lex-sorted string array → sorted int array of vocabulary ranks —
    * see [[EncodeSortedGrams]].
    */
  def encodeSortedGrams(a: Column, vocab: Array[String]): Column =
    toColumn(EncodeSortedGrams(ex(a), vocab))

  /** The row's L2-normalized copy as `array<double>` — see
    * [[L2Normalize]].
    */
  def l2Normalize(v: Column): Column = toColumn(L2Normalize(ex(v)))

  /** Per-cell spherical IVF scores as one array — see [[CellScores]]. */
  def cellScores(emb: Column, cents: Array[Array[Double]],
      divideByNorm: Boolean = true): Column =
    toColumn(CellScores(ex(emb), cents, divideByNorm))

  /** Spherical argmax cell id — see [[CellArgmax]]. */
  def cellArgmax(emb: Column, cents: Array[Array[Double]]): Column =
    toColumn(CellArgmax(ex(emb), cents))

  /** Top-m cells by (round-8 cosine desc, cell asc) — see
    * [[TopCellsByCosine]].
    */
  def topCellsByCosine(emb: Column, cells: Array[Long],
      cents: Array[Array[Double]], m: Int): Column =
    toColumn(TopCellsByCosine(ex(emb), cells, cents, m))

  /** Top-m cell ids by pre-normalized spherical score — see
    * [[TopCellsByScore]].
    */
  def topCellsByScore(emb: Column, cents: Array[Array[Double]], m: Int): Column =
    toColumn(TopCellsByScore(ex(emb), cents, m))

  /** Mahalanobis squared distance (x−μ)ᵀ M (x−μ) against literal μ and
    * flattened M — see [[MahalanobisSq]].
    */
  def mahalanobisSq(emb: Column, mean: Array[Double], m: Array[Double]): Column =
    toColumn(MahalanobisSq(ex(emb), mean, m))

  /** First-k whitened coordinates (rows · (x−μ)) against literal μ and
    * flattened projection rows — see [[WhitenProject]].
    */
  def whitenProject(emb: Column, mean: Array[Double], rows: Array[Double],
      k: Int): Column =
    toColumn(WhitenProject(ex(emb), mean, rows, k))
}

/** Mahalanobis squared distance (x−μ)ᵀ M (x−μ) of a numeric-array row
  * against a literal mean vector and flattened symmetric matrix M
  * (typically the inverse covariance — the whitening-space squared norm).
  * The fitted-sample identity mean(d²) = dim (tr(C⁻¹C)) is the spec's
  * correctness anchor. One fused O(d²) primitive loop per row; matrix and
  * mean ride along as referenced objects (NOT per-row literals — a 64×64
  * literal array expression would blow up codegen); codegen delegates to
  * [[compute]], keeping the projection inside whole-stage codegen.
  */
/** Shared numerics for the centroid-scoring expressions below: they
  * replace per-centroid LITERAL expression arrays (k struct literals of
  * dot products) whose generated code exceeds janino's 64 KB method
  * limit past k ≈ 100 — measured at sf1/sf10: every quantizer-family
  * projection fell back to INTERPRETED eval, the silent 3-10× tax this
  * module exists to avoid. The centroid matrix rides as a referenced
  * object; per-row cost is one fused k·d primitive loop inside
  * whole-stage codegen. All comparisons reproduce Spark SQL double
  * ordering (±0.0 equal, NaN greatest) so results are bit-identical to
  * the literal formulation they replace.
  */
private object CellNumerics {
  /** SQLOrderingUtil.compareDoubles semantics. */
  def cmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** [[cmp]] with NaN ranked BELOW every finite value — the descending
    * selection order of the slice(array_sort(struct(−c, cell))) form
    * these expressions replaced: −NaN = NaN sorts LAST ascending, so a
    * NaN score (zero-norm codebook entry ÷ 0) must lose to any finite
    * score, where raw Double.compare would rank it first.
    */
  def cmpNanLast(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if (xn && yn) 0 else if (xn) -1 else if (yn) 1 else cmp(x, y)
  }

  /** Spark's round(x, 8) (RoundBase double path) — TopKNbrAgg's round8. */
  def round8(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  /** dot(x, c) with [[DotProduct]]'s exact accumulation order. */
  def dot(a: ArrayData, float: Boolean, c: Array[Double]): Double = {
    val n = math.min(a.numElements(), c.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (float) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * c(i)
      i += 1
    }
    s
  }

  /** sqrt(dot(x, x)) — the row-norm column the literal plans hoisted. */
  def nrm(a: ArrayData, float: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (float) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** x / ‖x‖ over a numeric array, as `array<double>` — the quantizer
  * family's spherical normalization (coarse fit, PQ fit, probe queries).
  * The SQL form, `transform(x, e => e / sqrt(aggregate(x, 0d, (a, e) =>
  * a + e * e)))` over the `array<double>` cast, runs interpreted with a
  * lambda call and a boxed value per element; this is one fused loop
  * per row, in whole-stage codegen through the referenced [[compute]]
  * (a pass over the cached sf0.1 corpus, 2000×64 on 4 cores: ~650 ms
  * for the SQL form, ~150 ms here, ~140 ms for the bare cast).
  *
  * Bit-identical to the SQL form: float elements widen to double
  * before squaring (the cast comes first there), the norm is
  * [[CellNumerics.nrm]]'s left-to-right sum of squares, each element is
  * one IEEE division. The edge cases follow the lambda's SQL semantics:
  * a null element makes the norm null, so every element comes out null;
  * a zero norm over a non-empty row divides by zero, which is null per
  * element without ANSI and raises DIVIDE_BY_ZERO under it
  * (`failOnError`, read from the session's ANSI setting when the
  * expression is built, as `Divide` reads it).
  */
case class L2Normalize(child: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  /** float/double arrays pass through; anything else casts to
    * array<double>.
    */
  override def inputTypes: Seq[DataType] = Seq(child.dataType match {
    case t @ ArrayType(FloatType | DoubleType, _) => t
    case _ => ArrayType(DoubleType)
  })

  @transient private lazy val float = CellNumerics.isFloat(child)

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return new GenericArrayData(new Array[Any](n))
      i += 1
    }
    val nrm = CellNumerics.nrm(a, float)
    if (nrm == 0.0 && n > 0) {
      if (failOnError) throw GraftBridge.divideByZeroError()
      return new GenericArrayData(new Array[Any](n))
    }
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      out(i) = (if (float) a.getFloat(i).toDouble else a.getDouble(i)) / nrm
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("l2Normalize", this, classOf[L2Normalize].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

/** Per-cell spherical IVF scores s_c = (dot(x,c)·2)/‖x‖ − |c|² (or
  * without the norm division when the caller pre-normalized x) as one
  * array<double> — the probe side posexplodes it where it used to
  * explode k struct literals.
  */
case class CellScores(child: Expression, cents: Array[Array[Double]],
    divideByNorm: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient private lazy val sq: Array[Double] =
    cents.map(c => { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
  @transient private lazy val float = CellNumerics.isFloat(child)

  def compute(a: ArrayData): ArrayData = {
    val out = new Array[Double](cents.length)
    val n = if (divideByNorm) CellNumerics.nrm(a, float) else 1.0
    var ci = 0
    while (ci < cents.length) {
      val d = CellNumerics.dot(a, float, cents(ci))
      out(ci) = if (divideByNorm) d * 2 / n - sq(ci) else d * 2 - sq(ci)
      ci += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellScores", this, classOf[CellScores].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): CellScores =
    copy(child = newChild)
}

/** argmax cell under the spherical score (ties → lowest cell id) — the
  * corpus-side assignment in one fused loop; replaces
  * −array_max(struct(s, −ci) literals).nid.
  */
case class CellArgmax(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  @transient private lazy val sq: Array[Double] =
    cents.map(c => { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
  @transient private lazy val float = CellNumerics.isFloat(child)

  def compute(a: ArrayData): Int = {
    val n = CellNumerics.nrm(a, float)
    var best = 0
    var bestS = Double.NaN
    var ci = 0
    while (ci < cents.length) {
      val s = CellNumerics.dot(a, float, cents(ci)) * 2 / n - sq(ci)
      if (ci == 0 || CellNumerics.cmp(s, bestS) > 0) { best = ci; bestS = s }
      ci += 1
    }
    best
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellArgmax", this, classOf[CellArgmax].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): CellArgmax =
    copy(child = newChild)
}

/** Top-`m` cells by (round-8 cosine desc, cell id asc) as
  * array<struct<cell:bigint, c:double>> — the seed/codebook blocking
  * quantizer's per-row assignment (Dedup.seedCellAssignmentsFor, q58's
  * primary cell at m = 1), bit-identical to the
  * slice(array_sort(struct(−cos, cell) literals)) form it replaces:
  * cosine = round8(dot/(nrm·snrm)) with the identical operand order, and
  * the (−c, cell) sort reproduces SQL double ordering (±0.0 equal,
  * NaN — a zero-norm codebook entry's ÷0 — ranked LAST like −NaN sorts
  * last ascending, via [[CellNumerics.cmpNanLast]]).
  */
case class TopCellsByCosine(child: Expression, cells: Array[Long],
    cents: Array[Array[Double]], m: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("cell", LongType, nullable = false),
      StructField("c", DoubleType, nullable = false))), containsNull = false)
  @transient private lazy val snrm: Array[Double] =
    cents.map(c => { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; math.sqrt(s) })
  @transient private lazy val float = CellNumerics.isFloat(child)

  def compute(a: ArrayData): ArrayData = {
    val n = CellNumerics.nrm(a, float)
    val k = cents.length
    val cos = new Array[Double](k)
    var ci = 0
    while (ci < k) {
      cos(ci) = CellNumerics.round8(
        CellNumerics.dot(a, float, cents(ci)) / (n * snrm(ci)))
      ci += 1
    }
    // selection of the top-m by (c desc, cell asc): cells[] ascend by
    // construction, so a stable scan with cmp > 0 replacement reproduces
    // the array_sort order
    val take = math.min(m, k)
    val idx = Array.tabulate(k)(identity)
    // partial selection sort — m is tiny (≤ 4)
    var p = 0
    while (p < take) {
      var bi = p
      var i = p + 1
      while (i < k) {
        val c = CellNumerics.cmpNanLast(cos(idx(i)), cos(idx(bi)))
        if (c > 0 || (c == 0 && cells(idx(i)) < cells(idx(bi)))) bi = i
        i += 1
      }
      val t = idx(p); idx(p) = idx(bi); idx(bi) = t
      p += 1
    }
    val out = new Array[Any](take)
    p = 0
    while (p < take) {
      out(p) = org.apache.spark.sql.catalyst.InternalRow(cells(idx(p)), cos(idx(p)))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topCells", this, classOf[TopCellsByCosine].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): TopCellsByCosine =
    copy(child = newChild)
}

/** Top-`m` cell ids by (spherical score desc, cell id asc) over a
  * PRE-NORMALIZED vector (s = 2·dot − |c|²) as array<int> — probeScored's
  * per-query probe list in one projection, replacing the
  * slice(array_sort(struct(−s, ci) literals)) form (same codegen-limit
  * story as [[CellScores]]).
  */
case class TopCellsByScore(child: Expression, cents: Array[Array[Double]],
    m: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val sq: Array[Double] =
    cents.map(c => { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
  @transient private lazy val float = CellNumerics.isFloat(child)

  def compute(a: ArrayData): ArrayData = {
    val k = cents.length
    val sc = new Array[Double](k)
    var ci = 0
    while (ci < k) {
      sc(ci) = CellNumerics.dot(a, float, cents(ci)) * 2 - sq(ci)
      ci += 1
    }
    val take = math.min(m, k)
    val idx = Array.tabulate(k)(identity)
    var p = 0
    while (p < take) {
      var bi = p
      var i = p + 1
      while (i < k) {
        val c = CellNumerics.cmp(sc(idx(i)), sc(idx(bi)))
        if (c > 0 || (c == 0 && idx(i) < idx(bi))) bi = i
        i += 1
      }
      val t = idx(p); idx(p) = idx(bi); idx(bi) = t
      p += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(idx, take))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topCellsScore", this,
      classOf[TopCellsByScore].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): TopCellsByScore =
    copy(child = newChild)
}

case class MahalanobisSq(child: Expression, mean: Array[Double],
    m: Array[Double]) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  def compute(arr: ArrayData): Double = {
    val d = mean.length
    val diff = new Array[Double](d)
    var i = 0
    while (i < d) { diff(i) = arr.getFloat(i) - mean(i); i += 1 }
    var acc = 0.0
    var j = 0
    while (j < d) {
      var dot = 0.0
      var i2 = 0
      val off = j * d
      while (i2 < d) { dot += m(off + i2) * diff(i2); i2 += 1 }
      acc += diff(j) * dot
      j += 1
    }
    acc
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mahala", this, classOf[MahalanobisSq].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MahalanobisSq =
    copy(child = newChild)
}

/** First-k whitened coordinates of a numeric-array row: out_j =
  * rows_j · (x−μ) for j < k, rows flattened k×d. Same referenced-object
  * codegen economics as [[MahalanobisSq]].
  */
case class WhitenProject(child: Expression, mean: Array[Double],
    rows: Array[Double], k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  def compute(arr: ArrayData): GenericArrayData = {
    val d = mean.length
    val diff = new Array[Double](d)
    var i = 0
    while (i < d) { diff(i) = arr.getFloat(i) - mean(i); i += 1 }
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      var dot = 0.0
      var i2 = 0
      val off = j * d
      while (i2 < d) { dot += rows(off + i2) * diff(i2); i2 += 1 }
      out(j) = dot
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("whiten", this, classOf[WhitenProject].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WhitenProject =
    copy(child = newChild)
}

/** Exact |A ∩ B| of two pre-deduped, pre-sorted string arrays (the
  * integer numerator containment and overlap coefficients divide by —
  * [[JaccardSim]] returns the already-divided ratio, which can't recover
  * the directional containments |A∩B|/|A| vs |A∩B|/|B|). Allocation-free
  * two-pointer merge; codegen delegates to [[compute]] via a reference
  * object so surrounding operators stay in whole-stage codegen. Integer
  * output → downstream divisions are single IEEE ops over exact ints,
  * engine-identical unrounded.
  */
case class InterCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType

  // Element kind resolved once from the input schema: dictionary-encoded
  // id arrays (int/long — see Dict) run a primitive-compare merge, string
  // arrays the UTF8 one. Same two-pointer contract either way: both
  // inputs pre-deduped and sorted ASC by their natural order.
  @transient private lazy val elemKind: Int =
    left.dataType.asInstanceOf[ArrayType].elementType match {
      case IntegerType => 1
      case LongType    => 2
      case _           => 0
    }

  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    if (elemKind == 2) {
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    } else if (elemKind == 1) {
      while (i < na && j < nb) {
        val x = a.getInt(i); val y = b.getInt(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    } else {
      while (i < na && j < nb) {
        val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (cmp == 0) { inter += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    inter
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("interCount", this, classOf[InterCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): InterCount =
    copy(left = newLeft, right = newRight)
}

/** DEFLATE (zlib level 6) compressed byte length of a string's UTF-8
  * bytes — the Gopher/CCNet-style redundancy signal: natural text
  * compresses to a characteristic fraction, boilerplate/repetition
  * compresses far below it, and random noise not at all. Deterministic for
  * a fixed zlib level on a fixed JVM (the java.util.zip algorithm), so the
  * catalog treats it as rows-only (no cross-engine oracle). A per-thread
  * Deflater is `reset()` per row — no native-resource churn in the hot
  * loop; codegen delegates to [[compute]] via a reference object, keeping
  * the surrounding projection in whole-stage codegen.
  */
case class DeflateLen(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType

  @transient private lazy val local: ThreadLocal[java.util.zip.Deflater] =
    new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater =
        new java.util.zip.Deflater(6, false)
    }
  @transient private lazy val bufLocal: ThreadLocal[Array[Byte]] =
    new ThreadLocal[Array[Byte]] {
      override def initialValue(): Array[Byte] = new Array[Byte](8192)
    }

  def compute(s: UTF8String): Int = {
    val bytes = s.getBytes
    val d = local.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = bufLocal.get()
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deflateLen", this, classOf[DeflateLen].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}

/** Cosine similarity between two numeric arrays; whole-stage-codegen
  * friendly (single fused loop, no allocation).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** float/double arrays pass through untouched (no per-row array copy on
    * the hot path); anything else is implicitly cast to array<double>.
    */
  override def inputTypes: Seq[DataType] =
    Seq(left, right).map(_.dataType match {
      case t @ ArrayType(FloatType | DoubleType, _) => t
      case _ => ArrayType(DoubleType)
    })

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, ta, i); val y = get(b, tb, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(t: DataType, arr: String, i: String): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (ta, tb) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = ${getter(ta, a, i)};
         |  double y = ${getter(tb, b, i)};
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two numeric arrays, left-to-right accumulation;
  * whole-stage-codegen friendly like [[CosineSim]].
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def inputTypes: Seq[DataType] =
    Seq(left, right).map(_.dataType match {
      case t @ ArrayType(FloatType | DoubleType, _) => t
      case _ => ArrayType(DoubleType)
    })

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val x = ta match { case FloatType => a.getFloat(i).toDouble; case _ => a.getDouble(i) }
      val y = tb match { case FloatType => b.getFloat(i).toDouble; case _ => b.getDouble(i) }
      dot += x * y
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(t: DataType, arr: String, i: String): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (ta, tb) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (${getter(ta, a, i)}) * (${getter(tb, b, i)});
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Jaccard similarity |A∩B| / |A∪B| of two string arrays.
  *
  * With `assumeSorted` (inputs pre-deduped + `sort_array`ed upstream) the
  * intersection is an allocation-free two-pointer merge; otherwise a
  * HashSet pass. Codegen delegates to [[compute]] via a reference object,
  * so surrounding operators stay in whole-stage codegen.
  */
case class JaccardSim(left: Expression, right: Expression, assumeSorted: Boolean = false)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // see InterCount: dictionary-encoded int id arrays compare primitively
  @transient private lazy val sortedInts: Boolean = assumeSorted &&
    (left.dataType.asInstanceOf[ArrayType].elementType == IntegerType)

  def compute(a: ArrayData, b: ArrayData): Double = {
    if (sortedInts) {
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val x = a.getInt(i); val y = b.getInt(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val union = na + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union
    } else if (assumeSorted) {
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (cmp == 0) { inter += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
      val union = na + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union
    } else {
      val setA = new java.util.HashSet[UTF8String](a.numElements() * 2)
      var i = 0
      while (i < a.numElements()) { setA.add(a.getUTF8String(i)); i += 1 }
      val setB = new java.util.HashSet[UTF8String](b.numElements() * 2)
      i = 0
      while (i < b.numElements()) { setB.add(b.getUTF8String(i)); i += 1 }
      var inter = 0
      val it = setB.iterator()
      while (it.hasNext) if (setA.contains(it.next())) inter += 1
      val union = setA.size() + setB.size() - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaccard", this, classOf[JaccardSim].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

/** Dictionary-encode a LEX-SORTED, deduped string array to the sorted
  * int array of each element's rank in a lex-sorted vocabulary — the
  * per-row face of the gram dictionary (see graft.dedup.Dict): pair
  * joins then ship 4-byte ids instead of multi-byte UTF8 payloads, and
  * because the rank map is monotone the output is sorted without a
  * re-sort, so sorted-merge consumers ([[InterCount]], [[JaccardSim]]
  * assumeSorted) produce bit-identical counts over the encoded arrays.
  * The vocabulary rides as a referenced object (never a plan literal);
  * elements are found by binary search with the lower bound carried
  * forward across the sorted input (amortized sub-log). An element
  * missing from the vocabulary is an invariant violation (the vocab is
  * built from the same corpus) and fails loudly.
  */
case class EncodeSortedGrams(child: Expression, vocab: Array[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val v: Array[UTF8String] =
    vocab.map(UTF8String.fromString)

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Int](n)
    var i = 0
    var lo0 = 0 // input sorted asc → ranks ascend; window shrinks left-to-right
    while (i < n) {
      val s = a.getUTF8String(i)
      var lo = lo0; var hi = v.length - 1; var found = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = v(mid).compareTo(s)
        if (c == 0) { found = mid; lo = mid + 1; hi = mid - 1 }
        else if (c < 0) lo = mid + 1
        else hi = mid - 1
      }
      if (found < 0)
        throw new IllegalStateException(
          s"gram '$s' missing from the ${v.length}-entry dictionary")
      out(i) = found
      lo0 = found + 1
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("encodeGrams", this,
      classOf[EncodeSortedGrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): EncodeSortedGrams =
    copy(child = newChild)
}

/** All character (code-point) n-grams of a string as array<string>.
  *
  * Both eval and codegen run one zero-copy loop: code-point byte
  * boundaries are scanned once (UTF-8 continuation bytes have the
  * 10xxxxxx prefix), then each gram is a `UTF8String.fromBytes` window
  * sharing the input's byte array — no String materialization, no
  * per-gram copies. Code-point windows match SQL `substr` character
  * semantics, so the DuckDB oracle replays the identical gram set.
  */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(input: UTF8String): GenericArrayData = {
    val bs = input.getBytes
    val len = bs.length
    var nCh = 0
    var i = 0
    while (i < len) {
      if ((bs(i) & 0xc0) != 0x80) nCh += 1
      i += 1
    }
    val offs = new Array[Int](nCh + 1)
    var ci = 0
    i = 0
    while (i < len) {
      if ((bs(i) & 0xc0) != 0x80) { offs(ci) = i; ci += 1 }
      i += 1
    }
    offs(nCh) = len
    val count = math.max(nCh - n + 1, 0)
    val out = new Array[Any](count)
    i = 0
    while (i < count) {
      out(i) = UTF8String.fromBytes(bs, offs(i), offs(i + n) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bs = ctx.freshName("bs")
      val len = ctx.freshName("len")
      val nCh = ctx.freshName("nCh")
      val offs = ctx.freshName("offs")
      val ci = ctx.freshName("ci")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      s"""
         |byte[] $bs = $c.getBytes();
         |int $len = $bs.length;
         |int $nCh = 0;
         |for (int $i = 0; $i < $len; $i++) {
         |  if (($bs[$i] & 0xC0) != 0x80) $nCh++;
         |}
         |int[] $offs = new int[$nCh + 1];
         |int $ci = 0;
         |for (int $i = 0; $i < $len; $i++) {
         |  if (($bs[$i] & 0xC0) != 0x80) { $offs[$ci++] = $i; }
         |}
         |$offs[$nCh] = $len;
         |int $cnt = java.lang.Math.max($nCh - $n + 1, 0);
         |Object[] $out = new Object[$cnt];
         |for (int $i = 0; $i < $cnt; $i++) {
         |  $out[$i] = org.apache.spark.unsafe.types.UTF8String.fromBytes(
         |    $bs, $offs[$i], $offs[$i + $n] - $offs[$i]);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** 64-bit SimHash over a token array: per-bit ±1 votes of token hashes,
  * packed to a long.
  *
  * The token hash is ENGINE-PORTABLE by design (this is what lets the
  * DuckDB oracle replay q43 exactly): four independent polynomial hashes
  * over the token's code points, `h_k = fold((acc·B_k + cp) mod P_k)`,
  * each contributing 16 signature bits — bit (16k+j) of the signature is
  * bit j of h_k. Every operation is expressible as SQL list arithmetic on
  * non-overflowing BIGINTs in any engine.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  def compute(toks: ArrayData): Long = {
    val votes = new Array[Int](64)
    var t = 0
    while (t < toks.numElements()) {
      // allocation-free UTF-8 code-point walk (no toString per token)
      val s = toks.getUTF8String(t)
      val nb = s.numBytes()
      var h0 = 0L; var h1 = 0L; var h2 = 0L; var h3 = 0L
      var bi = 0
      while (bi < nb) {
        val cp = s.codePointFrom(bi)
        bi += UTF8String.numBytesForFirstByte(s.getByte(bi))
        h0 = (h0 * 131L + cp) % 1000000007L
        h1 = (h1 * 137L + cp) % 998244353L
        h2 = (h2 * 139L + cp) % 1000000021L
        h3 = (h3 * 149L + cp) % 999999937L
      }
      var k = 0
      while (k < 4) {
        val h = k match { case 0 => h0; case 1 => h1; case 2 => h2; case _ => h3 }
        var j = 0
        while (j < 16) {
          if (((h >>> j) & 1L) == 1L) votes(k * 16 + j) += 1 else votes(k * 16 + j) -= 1
          j += 1
        }
        k += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val t = ctx.freshName("t")
      val s = ctx.freshName("s")
      val nb = ctx.freshName("nb")
      val hs = ctx.freshName("hs")
      val bi = ctx.freshName("bi")
      val cp = ctx.freshName("cp")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $votes = new int[64];
         |for (int $t = 0; $t < $c.numElements(); $t++) {
         |  org.apache.spark.unsafe.types.UTF8String $s = $c.getUTF8String($t);
         |  int $nb = $s.numBytes();
         |  long[] $hs = new long[4];
         |  for (int $bi = 0; $bi < $nb; ) {
         |    int $cp = $s.codePointFrom($bi);
         |    $bi += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte($s.getByte($bi));
         |    $hs[0] = ($hs[0] * 131L + $cp) % 1000000007L;
         |    $hs[1] = ($hs[1] * 137L + $cp) % 998244353L;
         |    $hs[2] = ($hs[2] * 139L + $cp) % 1000000021L;
         |    $hs[3] = ($hs[3] * 149L + $cp) % 999999937L;
         |  }
         |  for (int $k = 0; $k < 4; $k++) {
         |    for (int $j = 0; $j < 16; $j++) {
         |      if ((($hs[$k] >>> $j) & 1L) == 1L) $votes[$k * 16 + $j]++;
         |      else $votes[$k * 16 + $j]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] >= 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** MinHash signature: min over k-code-point shingles of `nPerm` affine
  * permutations of the shingle's polynomial hash.
  *
  * ENGINE-PORTABLE by design (the DuckDB oracle replays q42 exactly):
  * shingle hash `h = fold((acc·131 + cp) mod 1e9+7)` over the shingle's
  * code points; permutation j is `((1103515245 + 12345j)·h + 1013904223 +
  * 7j) mod (2^31−1)` — every intermediate fits a BIGINT in any engine.
  * Both eval and codegen run one fused loop: code points are decoded
  * once per document, each shingle hash is k multiply-adds, and the
  * nPerm mins update in registers.
  */
case class MinHashSig(child: Expression, k: Int, nPerm: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(input: UTF8String): GenericArrayData = {
    val cps = input.toString.codePoints().toArray
    val nSh = math.max(cps.length - k + 1, 0)
    val mins = Array.fill(nPerm)(Long.MaxValue)
    var i = 0
    while (i < nSh) {
      var h = 0L
      var c = 0
      while (c < k) { h = (h * 131L + cps(i + c)) % 1000000007L; c += 1 }
      var j = 0
      while (j < nPerm) {
        val v = ((1103515245L + 12345L * j) * h + 1013904223L + 7L * j) % 2147483647L
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(m => if (m == Long.MaxValue) 0L else m): Array[Long])
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cps = ctx.freshName("cps")
      val nSh = ctx.freshName("nSh")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val cc = ctx.freshName("cc")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      s"""
         |int[] $cps = $c.toString().codePoints().toArray();
         |int $nSh = java.lang.Math.max($cps.length - $k + 1, 0);
         |long[] $mins = new long[$nPerm];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $nSh; $i++) {
         |  long $h = 0L;
         |  for (int $cc = 0; $cc < $k; $cc++) {
         |    $h = ($h * 131L + $cps[$i + $cc]) % 1000000007L;
         |  }
         |  for (int $j = 0; $j < $nPerm; $j++) {
         |    long $v = ((1103515245L + 12345L * $j) * $h + 1013904223L + 7L * $j) % 2147483647L;
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |for (int $j = 0; $j < $nPerm; $j++) {
         |  if ($mins[$j] == Long.MAX_VALUE) $mins[$j] = 0L;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Engine-portable polynomial hash of a string's code points:
  * `h = fold((acc·131 + cp) mod 1e9+7)` — replayable as SQL list
  * arithmetic in any engine (the DuckDB oracle uses `list_reduce`).
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  def compute(input: UTF8String): Long = {
    val nb = input.numBytes()
    var h = 0L
    var bi = 0
    while (bi < nb) {
      val cp = input.codePointFrom(bi)
      bi += UTF8String.numBytesForFirstByte(input.getByte(bi))
      h = (h * 131L + cp) % 1000000007L
    }
    h
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val nb = ctx.freshName("nb")
      val h = ctx.freshName("h")
      val bi = ctx.freshName("bi")
      val cp = ctx.freshName("cp")
      s"""
         |int $nb = $c.numBytes();
         |long $h = 0L;
         |for (int $bi = 0; $bi < $nb; ) {
         |  int $cp = $c.codePointFrom($bi);
         |  $bi += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte($c.getByte($bi));
         |  $h = ($h * 131L + $cp) % 1000000007L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Winnowing-lite fingerprint: min over `w`-code-point windows of the
  * polynomial hash (short strings get one short window). Code points are
  * decoded once; each window recomputes its hash in w multiply-adds —
  * O(len·w) fused, no allocation beyond the code-point buffer.
  */
case class MinWindowHash(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = LongType

  def compute(input: UTF8String): Long = {
    val cps = input.toString.codePoints().toArray
    val n = cps.length
    val nWin = math.max(n - w + 1, 1)
    var minH = Long.MaxValue
    var i = 0
    while (i < nWin) {
      val end = math.min(i + w, n)
      var h = 0L
      var c = i
      while (c < end) { h = (h * 131L + cps(c)) % 1000000007L; c += 1 }
      if (h < minH) minH = h
      i += 1
    }
    if (minH == Long.MaxValue) 0L else minH
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cps = ctx.freshName("cps")
      val n = ctx.freshName("n")
      val nWin = ctx.freshName("nWin")
      val minH = ctx.freshName("minH")
      val i = ctx.freshName("i")
      val end = ctx.freshName("end")
      val h = ctx.freshName("h")
      val cc = ctx.freshName("cc")
      s"""
         |int[] $cps = $c.toString().codePoints().toArray();
         |int $n = $cps.length;
         |int $nWin = java.lang.Math.max($n - $w + 1, 1);
         |long $minH = Long.MAX_VALUE;
         |for (int $i = 0; $i < $nWin; $i++) {
         |  int $end = java.lang.Math.min($i + $w, $n);
         |  long $h = 0L;
         |  for (int $cc = $i; $cc < $end; $cc++) {
         |    $h = ($h * 131L + $cps[$cc]) % 1000000007L;
         |  }
         |  if ($h < $minH) $minH = $h;
         |}
         |${ev.value} = ($minH == Long.MAX_VALUE) ? 0L : $minH;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinWindowHash =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) PQ scoring: the query's squared distance to
  * every codebook entry is precomputed driver-side into `table`
  * (nSub·nCodes doubles), and each row's approximate distance is nSub
  * table lookups summed left-to-right — one fused codegen loop with the
  * table attached ONCE as a referenced object, instead of nSub
  * `element_at` calls each embedding the full table literal in the plan.
  */
case class AdcScore(child: Expression, table: Array[Double], nSub: Int, nCodes: Int)
  extends UnaryExpression {
  override def dataType: DataType = DoubleType

  def compute(codes: ArrayData): Double = {
    var s = 0.0
    var sub = 0
    while (sub < nSub) {
      s += table(codes.getInt(sub) + sub * nCodes)
      sub += 1
    }
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tbl = ctx.addReferenceObj("adcTable", table, "double[]")
      val s = ctx.freshName("s")
      val sub = ctx.freshName("sub")
      s"""
         |double $s = 0.0;
         |for (int $sub = 0; $sub < $nSub; $sub++) {
         |  $s += $tbl[$c.getInt($sub) + $sub * $nCodes];
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AdcScore =
    copy(child = newChild)
}

/** Product-quantization encoder: L2-normalizes the input `array<float>`
  * vector, then for each of `nSub` contiguous subspaces picks the
  * argmin-‖·‖² entry of that subspace's codebook (ties keep the lowest
  * code id). Returns the `array<int>` code word.
  *
  * The codebook matrix rides along as ONE referenced object
  * (`addReferenceObj`) — the per-row work is a fused primitive loop
  * inside whole-stage codegen, so the index build stays a pure DataFrame
  * projection (columnar scan, pushdown, WSCG) instead of an RDD
  * `mapPartitions` pass. With `nSub = 1, subDim = dim` and a flattened
  * coarse-centroid matrix this same expression is the nearest-cell
  * assigner (argmin over whole-vector distances), so the IVF+PQ index
  * build is two PqEncode columns in one projection.
  */
case class PqEncode(child: Expression, books: Array[Double], nSub: Int,
    nCodes: Int, subDim: Int)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def compute(raw: ArrayData): ArrayData = {
    val dim = nSub * subDim
    var n2 = 0.0
    var i = 0
    while (i < dim) { val v = raw.getFloat(i).toDouble; n2 += v * v; i += 1 }
    val inv = 1.0 / math.sqrt(n2)
    val codes = new Array[Int](nSub)
    var sub = 0
    while (sub < nSub) {
      var best = -1
      var bestD = Double.MaxValue
      var c = 0
      while (c < nCodes) {
        var dist = 0.0
        i = 0
        while (i < subDim) {
          val dd = raw.getFloat(sub * subDim + i) * inv -
            books((sub * nCodes + c) * subDim + i)
          dist += dd * dd
          i += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      codes(sub) = best
      sub += 1
    }
    new GenericArrayData(codes)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, cIn => {
      val bk = ctx.addReferenceObj("pqBooks", books, "double[]")
      val n2 = ctx.freshName("n2")
      val inv = ctx.freshName("inv")
      val v = ctx.freshName("v")
      val codes = ctx.freshName("codes")
      val sub = ctx.freshName("sub")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val cc = ctx.freshName("cc")
      val dist = ctx.freshName("dist")
      val dd = ctx.freshName("dd")
      val i = ctx.freshName("i")
      s"""
         |double $n2 = 0.0;
         |for (int $i = 0; $i < ${nSub * subDim}; $i++) {
         |  double $v = (double) $cIn.getFloat($i);
         |  $n2 += $v * $v;
         |}
         |double $inv = 1.0 / java.lang.Math.sqrt($n2);
         |int[] $codes = new int[$nSub];
         |for (int $sub = 0; $sub < $nSub; $sub++) {
         |  int $best = -1;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $cc = 0; $cc < $nCodes; $cc++) {
         |    double $dist = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      double $dd = $cIn.getFloat($sub * $subDim + $i) * $inv
         |        - $bk[($sub * $nCodes + $cc) * $subDim + $i];
         |      $dist += $dd * $dd;
         |    }
         |    if ($dist < $bestD) { $bestD = $dist; $best = $cc; }
         |  }
         |  $codes[$sub] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** ADC distance Σ_sub ‖q_sub/‖q‖ − books[sub][codes[sub]]‖² of a PQ
  * `codes` row (right) against an `array<double>` query vector (left)
  * carried IN THE ROW — the streaming-probe variant of [[AdcScore]],
  * where the query arrives as data and no driver-side per-query distance
  * table exists. Arithmetic mirrors the driver-side `adcTable` build
  * exactly (per-element division by the query norm, left-to-right
  * accumulation), so for the same query vector the scores are
  * bit-identical to the batch path.
  */
case class AdcScoreVec(left: Expression, right: Expression,
    books: Array[Double], nSub: Int, nCodes: Int, subDim: Int)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType

  def compute(q: ArrayData, codes: ArrayData): Double = {
    val dim = nSub * subDim
    var n2 = 0.0
    var i = 0
    while (i < dim) { val v = q.getDouble(i); n2 += v * v; i += 1 }
    val qn = math.sqrt(n2)
    var s = 0.0
    var sub = 0
    while (sub < nSub) {
      val base = (sub * nCodes + codes.getInt(sub)) * subDim
      var dist = 0.0
      i = 0
      while (i < subDim) {
        val dd = q.getDouble(sub * subDim + i) / qn - books(base + i)
        dist += dd * dd
        i += 1
      }
      s += dist
      sub += 1
    }
    s
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qa, ca) => {
      val bk = ctx.addReferenceObj("adcVecBooks", books, "double[]")
      val n2 = ctx.freshName("n2")
      val v = ctx.freshName("v")
      val qn = ctx.freshName("qn")
      val s = ctx.freshName("s")
      val sub = ctx.freshName("sub")
      val base = ctx.freshName("base")
      val dist = ctx.freshName("dist")
      val dd = ctx.freshName("dd")
      val i = ctx.freshName("i")
      s"""
         |double $n2 = 0.0;
         |for (int $i = 0; $i < ${nSub * subDim}; $i++) {
         |  double $v = $qa.getDouble($i);
         |  $n2 += $v * $v;
         |}
         |double $qn = java.lang.Math.sqrt($n2);
         |double $s = 0.0;
         |for (int $sub = 0; $sub < $nSub; $sub++) {
         |  int $base = ($sub * $nCodes + $ca.getInt($sub)) * $subDim;
         |  double $dist = 0.0;
         |  for (int $i = 0; $i < $subDim; $i++) {
         |    double $dd = $qa.getDouble($sub * $subDim + $i) / $qn - $bk[$base + $i];
         |    $dist += $dd * $dd;
         |  }
         |  $s += $dist;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AdcScoreVec =
    copy(left = newLeft, right = newRight)
}

/** Whole-document BPE token counter: whitespace-tokenizes `child` (the
  * \s+ regex's char class, matching the engine's `tokensExpr`) and
  * applies the trained merge table to every token's character symbols,
  * returning the document's total post-merge token count.
  *
  * The merge table rides along as ONE referenced `String[]` of
  * (left, right, merged) triples; the per-row work is a single scan
  * over the text with an in-place symbol-buffer fold per token — no
  * higher-order-function lambdas, no per-step array allocation, and the
  * expression stays inside whole-stage codegen (the generated code calls
  * the static fold once per row). Replaces q87's k-nested interpreted
  * `aggregate(...)` folds.
  */
object BpeTokenCount {
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Post-merge symbol count of ONE token held in `buf[0, n)`. */
  private def foldToken(buf: Array[String], n0: Int, merges: Array[String]): Int = {
    var n = n0
    var m = 0
    while (m < merges.length) {
      val l = merges(m); val r = merges(m + 1); val lr = merges(m + 2)
      var out = 0
      var j = 0
      while (j < n) {
        if (out > 0 && buf(out - 1).equals(l) && buf(j).equals(r)) buf(out - 1) = lr
        else { buf(out) = buf(j); out += 1 }
        j += 1
      }
      n = out
      m += 3
    }
    n
  }

  /** Total post-merge token count of a whole document. */
  def count(text: String, merges: Array[String]): Int = {
    var total = 0
    var i = 0
    val len = text.length
    var buf = new Array[String](16)
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      var n = 0
      while (i < len && !isWs(text.charAt(i))) {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
        buf(n) = String.valueOf(text.charAt(i))
        n += 1
        i += 1
      }
      if (n > 0) total += foldToken(buf, n, merges)
    }
    total
  }

  /** Encode a whole document to BPE token IDS: the same whitespace split
    * and in-place merge fold as [[count]], then each surviving symbol
    * maps through `ids`. An unknown symbol (a character the vocabulary
    * never saw) emits -1 — an explicit OOV marker, never a silent drop,
    * so the id count always equals [[count]] under the same merges.
    */
  def encodeIds(text: String, merges: Array[String],
      ids: java.util.HashMap[String, Integer]): Array[Int] = {
    var out = new Array[Int](32)
    var total = 0
    var i = 0
    val len = text.length
    var buf = new Array[String](16)
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      var n = 0
      while (i < len && !isWs(text.charAt(i))) {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
        buf(n) = String.valueOf(text.charAt(i))
        n += 1
        i += 1
      }
      if (n > 0) {
        val m = foldToken(buf, n, merges)
        if (total + m > out.length)
          out = java.util.Arrays.copyOf(out,
            math.max(out.length * 2, total + m))
        var k = 0
        while (k < m) {
          val id = ids.get(buf(k))
          out(total) = if (id == null) -1 else id.intValue()
          total += 1
          k += 1
        }
      }
    }
    java.util.Arrays.copyOf(out, total)
  }
}

case class BpeTokenCount(child: Expression, merges: Array[String])
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  // shape-check at construction (= analysis time on the SQL surface):
  // foldToken strides the table in threes, so a ragged table would
  // otherwise throw ArrayIndexOutOfBounds per ROW at execution
  require(merges.length % 3 == 0,
    s"BPE merge table must be flat (left, right, merged) triples; " +
      s"got ${merges.length} elements")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    BpeTokenCount.count(input.asInstanceOf[UTF8String].toString, merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.addReferenceObj("bpeMerges", merges, "java.lang.String[]")
      s"${ev.value} = graft.functions.BpeTokenCount$$.MODULE$$.count($c.toString(), $m);"
    })

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object BpeEncodeIds {
  /** Vocab array → id lookup; INDEX IS THE ID. `putIfAbsent` so a merged
    * string two different merge rules both produce keeps its FIRST
    * (lowest-rank) id — deterministic, and the encoder can only emit
    * symbols it actually folded, so the duplicate's later slot is dead.
    */
  def buildIdMap(vocab: Array[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) {
      m.putIfAbsent(vocab(i), Integer.valueOf(i))
      i += 1
    }
    m
  }
}

/** [[BpeTokenCount]]'s sibling for the TERMINAL artifact: the document's
  * full BPE token-id sequence as `array<int>` — what a training-shard
  * sink actually packs. Same single-scan in-place fold (shared static
  * code), same one-referenced-object economics: the merge table and the
  * id map ride along once per plan, the generated code makes one static
  * call per row, and the primitive int[] result converts via
  * UnsafeArrayData with no per-element boxing. Id layout is the
  * vocabulary array's INDEX (alphabet first, merged types by rank — see
  * TextAnalysis.bpeIdVocab); unknown symbols emit -1 (explicit OOV).
  */
case class BpeEncodeIds(child: Expression, merges: Array[String],
    vocab: Array[String])
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(merges.length % 3 == 0,
    s"BPE merge table must be flat (left, right, merged) triples; " +
      s"got ${merges.length} elements")
  require(vocab.nonEmpty, "BPE id vocabulary must not be empty")

  @transient private lazy val idMap = BpeEncodeIds.buildIdMap(vocab)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      BpeTokenCount.encodeIds(
        input.asInstanceOf[UTF8String].toString, merges, idMap))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.addReferenceObj("bpeMerges", merges, "java.lang.String[]")
      val v = ctx.addReferenceObj("bpeIdMap", idMap, "java.util.HashMap")
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.BpeTokenCount$$.MODULE$$
         |  .encodeIds($c.toString(), $m, $v));""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeIds =
    copy(child = newChild)
}
