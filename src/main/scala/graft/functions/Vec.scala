package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Dense-vector kernels for the embedding operators.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * never enters whole-stage codegen — every element bounces through
  * the interpreted lambda evaluator, which dominated the pair-join
  * hot path of the similarity queries. This is the preferred
  * alternative from the build brief: a native codegen'd Catalyst
  * expression.
  *
  * Accumulation is a strict left-to-right double sum — bit-identical
  * to the fold it replaces and to DuckDB's `list_dot_product`, so the
  * oracle comparisons are unaffected.
  */
object Vec {
  /** Exact-fold squared distance of the quantized long vector's slice
    * [off, off + s.length) to the integer centroid (cnt, s):
    * acc += dbl(cnt*v[d] - s[d])^2 / dbl(cnt^2), strictly left to
    * right — the bit-identical twin of the aggregate(zip_with) fold
    * it replaces and of DuckDB's list_reduce replay. A vector too short
    * for the slice yields null, like the twin's zip_with null padding
    * (and never reads past the array's end).
    */
  def centroidDist(v: ArrayData, off: Int, cnt: Long, s: Array[Long]): java.lang.Double = {
    if (off + s.length > v.numElements()) return null
    val cc = (cnt * cnt).toDouble
    var acc = 0.0
    var d = 0
    while (d < s.length) {
      // a null ELEMENT (quantize maps null->null and only null whole
      // vectors are pre-filtered) must poison the distance exactly
      // like the HOF twin (null * y nulls the aggregate fold) — NOT
      // silently read 0 out of the slot
      if (v.isNullAt(off + d)) return null
      val t = (cnt * v.getLong(off + d) - s(d)).toDouble
      acc += t * t / cc
      d += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Left-to-right dot product; caller guarantees equal lengths and
    * no null elements (the codegen fast path when both inputs are
    * statically `containsNull = false`).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** Int8 quantization kernel — see [[QuantizeInt8]] for the exact
    * twin contract (null-element skipping, NaN-largest comparisons,
    * the otherwise(0) routing, long-floor casts).
    */
  def quantizeInt8(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var maxAbs = 0.0
    var has = false
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = math.abs(v.getDouble(i))
        // Spark's double ordering: NaN ranks above everything
        if (!has || java.lang.Double.compare(a, maxAbs) > 0) {
          maxAbs = a; has = true
        }
      }
      i += 1
    }
    // `when(maxAbs > 0)` under Spark's NaN-largest comparison: NaN
    // passes, a NULL maxAbs (all elements null) fails to otherwise(0)
    val positive = has &&
      (java.lang.Double.isNaN(maxAbs) || maxAbs > 0.0)
    val codes = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!positive) codes(i) = 0
      else if (v.isNullAt(i)) codes(i) = null
      else codes(i) =
        math.floor(v.getDouble(i) * 127.0 / maxAbs + 0.5).toLong.toInt
      i += 1
    }
    InternalRow(new GenericArrayData(codes),
      if (has) maxAbs / 127.0 else null)
  }

  /** General path: null on length mismatch OR any null element — the
    * same poisoning the `aggregate(zip_with(...))` fold exhibits
    * (null * y nulls the sum), so swapping the kernel in never turns
    * a null into garbage.
    */
  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}

/** Codegen'd dot product over two array<double> columns. Mismatched
  * lengths and null elements yield NULL — the same contract as
  * `aggregate(zip_with(...))`, whose null-padding poisons the sum
  * (relied on by callers that probe for dimension bugs).
  *
  * Declares its input types so the analyzer inserts casts (e.g. the
  * catalog's `array<float>` embeddings) or rejects non-numeric arrays
  * at analysis time, instead of `ArrayData.getDouble` silently reading
  * 8-byte doubles out of 4-byte float slots.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = true),
      ArrayType(DoubleType, containsNull = true))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  private def mayHaveNullElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (mayHaveNullElems) Vec.dotOrNull(x, y)
    else if (x.numElements() != y.numElements()) null
    else Vec.dot(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (mayHaveNullElems) {
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val r = ctx.freshName("vecDot")
        s"""
           |java.lang.Double $r = graft.functions.Vec.dotOrNull($a, $b);
           |if ($r == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $r.doubleValue();
           |}
         """.stripMargin
      })
    } else {
      nullSafeCodeGen(ctx, ev, (a, b) => {
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = graft.functions.Vec.dot($a, $b);
           |}
         """.stripMargin
      })
    }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** Codegen'd integer-centroid squared distance — replaces the
  * `aggregate(zip_with(...))` fold in the k-means / PQ ASSIGNMENT hot
  * path (k x dim interpreted lambda bounces per row; the HOF also
  * splits the whole-stage-codegen span of the scan). The kernel runs
  * the BIT-IDENTICAL left-to-right IEEE sequence the fold ran — one
  * long multiply-subtract, one double square, one division, one add
  * per dimension — so the DuckDB list_reduce oracles are unaffected
  * (pinned in KernelEquivalenceSpec). `offset` addresses a PQ
  * subspace slice directly, eliminating the per-row slice() copy.
  *
  * Null contract — identical to the HOF twin: a null VECTOR yields
  * null via the standard null-safe wrapper; a null ELEMENT, or a
  * vector shorter than the slice, poisons the fold to null (zip_with's
  * null-padding semantics), never a silently-wrong distance.
  */
case class CentroidDist(child: Expression, offset: Int, cnt: Long, s: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(org.apache.spark.sql.types.LongType, containsNull = true))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_dist"

  override protected def nullSafeEval(v: Any): Any =
    Vec.centroidDist(v.asInstanceOf[ArrayData], offset, cnt, s)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("centSums", s, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("centDist")
      s"""
         |java.lang.Double $r =
         |  graft.functions.Vec.centroidDist($c, $offset, ${cnt}L, $sRef);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidDist =
    copy(child = newChild)
}

/** Codegen'd symmetric int8 quantization — the bit-exact twin of the
  * HOF formulation it replaces in the scan hot path
  * (`array_max(transform(v, abs))` then
  * `floor(x * 127.0 / maxAbs + 0.5)` per element, `scale =
  * maxAbs / 127.0`), whose per-element interpreted lambda bounces
  * also split the scan's whole-stage-codegen span. Twin quirks
  * replicated exactly (pinned in KernelEquivalenceSpec):
  *   - maxAbs uses Spark's double ordering (NaN largest, via
  *     Double.compare) and SKIPS null elements like array_max;
  *   - the `when(maxAbs > 0, ...)` guard treats NaN as > 0 (Spark's
  *     NaN-largest comparison) and a NULL/zero maxAbs routes EVERY
  *     element — null ones included — to the otherwise(0) code;
  *   - `floor(...)` casts through long like Spark's Floor, so a NaN
  *     term yields code 0.
  * One observable difference: a NULL input VECTOR yields a null
  * STRUCT here (standard null-safe wrapper) where the HOF builds a
  * struct of null fields — every field read is null either way.
  */
case class QuantizeInt8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = true))
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = true)),
    StructField("scale", DoubleType)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "quantize_int8"

  override protected def nullSafeEval(v: Any): Any =
    Vec.quantizeInt8(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Vec.quantizeInt8($c)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}
