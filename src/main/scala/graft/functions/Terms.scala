package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Term-histogram kernel for the lexical operators. */
object Terms {

  /** One document's term histogram: each distinct non-null token once,
    * in first-occurrence order, with its count. The same (term, tf)
    * set as grouping the exploded tokens by (doc, term), without
    * leaving the row. Keys are compared as UTF-8 bytes, as Spark's
    * grouping compares strings.
    */
  def termCounts(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val slot = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    val terms = new Array[UTF8String](n)
    val tfs = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        val j = slot.get(t)
        if (j == null) {
          slot.put(t, m)
          terms(m) = t
          tfs(m) = 1L
          m += 1
        } else tfs(j) += 1L
      }
      i += 1
    }
    val out = new Array[Any](m)
    i = 0
    while (i < m) { out(i) = InternalRow(terms(i), tfs(i)); i += 1 }
    new GenericArrayData(out)
  }

  val TermCountType: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
}

/** Codegen'd per-document term histogram over an array<string> token
  * list: `array<struct<term: string, tf: bigint>>`. NULL for a NULL
  * array; null tokens are skipped.
  */
case class TermCounts(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType, containsNull = true))
  override def dataType: DataType = Terms.TermCountType
  override def prettyName: String = "term_counts"
  override protected def nullSafeEval(arr: Any): Any =
    Terms.termCounts(arr.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Terms.termCounts($c)")
  override protected def withNewChildInternal(c: Expression): TermCounts =
    copy(child = c)
}
