package graft.index.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term frequencies computed INSIDE the row: tokens array →
  * array<struct<term, tf>>. This is the index build's map-side combine —
  * the alternative, a corpus-wide `groupBy(docIntId, term)`, hash-aggregates
  * ~|tokens| rows under nearly-unique keys, so its aggregation map always
  * overflows to a sort at scale (measured super-linear past ~10^6 docs).
  * Here the combine happens per document in a ~50-entry map, and the only
  * shuffle left downstream is the one the posting merge genuinely needs.
  */
object TermCountsKernel {
  def termCounts(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    // insertion-ordered for determinism of output row order
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        val prev = m.get(t) // boxed: null marks a first occurrence
        // clone: keys must not alias a reusable input buffer
        if (prev == null) m.put(t.clone(), 1L) else m.put(t, prev + 1L)
      }
      i += 1
    }
    val out = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue))
      j += 1
    }
    new GenericArrayData(out)
  }
}

case class TermCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "term_counts"

  override protected def nullSafeEval(input: Any): Any =
    TermCountsKernel.termCounts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.index.expr.TermCountsKernel.termCounts($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TermCountsExprs {
  def termCounts(tokens: Column): Column =
    bridge.toColumn(TermCountsExpr(bridge.toExpression(tokens)))
}
