package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the DISTINCT word n-gram shingles of a
  * token array, in one pass.
  *
  * Replaces the composable form
  * {{{
  *   explode(transform(sequence(1, greatest(size(toks) - n + 1, 1)),
  *                     i -> array_join(slice(toks, i, n), ' ')))
  *     .filter(shingle =!= "").distinct()
  * }}}
  * with `explode(distinct_shingles(toks, n))`, which is faster twice
  * over:
  *   - the HOF chain (`transform`/`sequence`/`slice`/`array_join`) is
  *     evaluated INTERPRETED per element with a fresh intermediate
  *     array per window — this expression is one codegen'd kernel
  *     call per document;
  *   - per-document distinctness is established INSIDE the row
  *     (hash set over the windows), so the downstream `.distinct()` —
  *     a full Exchange + two HashAggregates over the shingle stream,
  *     the widest frame of every dedup pipeline — disappears from the
  *     plan. At 100 TB that shuffle is (tokens × n) bytes of the whole
  *     corpus; shingle dedup is a per-document property and never
  *     needed the network.
  *
  * Semantics are EXACTLY the replaced form (given unique doc ids, the
  * old cross-row distinct only ever deduped within a document):
  *   - 0 tokens  -> empty array (the old form emitted "" and filtered
  *     it);
  *   - 1..n-1 tokens -> ONE shingle joining all tokens (slice takes
  *     what exists);
  *   - >= n tokens -> size-n+1 windows, first-occurrence order,
  *     duplicates dropped.
  */
case class DistinctShingles(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"distinct_shingles requires (array<string>, int), got $other"
        )
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    DistinctShingles.shingle(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => s"${ev.value} = graft.functions.DistinctShingles$$.MODULE$$.shingle($a, $b);"
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): DistinctShingles = copy(left = newLeft, right = newRight)

  override def prettyName: String = "distinct_shingles"
}

object DistinctShingles {
  private val Sep = UTF8String.fromString(" ")

  def of(toks: Column, n: Column): Column = column(DistinctShingles(expression(toks), expression(n)))

  /** One-pass kernel: n-token windows joined by ' ', first-occurrence
    * order, per-document distinct. See the expression scaladoc for the
    * edge-case contract it replicates.
    */
  def shingle(toks: ArrayData, n: Int): ArrayData = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val m = toks.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[AnyRef])
    val ts = new Array[UTF8String](m)
    var i = 0
    while (i < m) { ts(i) = toks.getUTF8String(i); i += 1 }
    if (m <= n) {
      // one window of everything; a single window can't self-duplicate
      val joined = if (m == 1) ts(0) else UTF8String.concatWs(Sep, ts: _*)
      return new GenericArrayData(Array[AnyRef](joined))
    }
    val windows = m - n + 1
    val out = new java.util.LinkedHashSet[UTF8String](windows * 2)
    val buf = new Array[UTF8String](n)
    i = 0
    while (i < windows) {
      var j = 0
      while (j < n) { buf(j) = ts(i + j); j += 1 }
      out.add(if (n == 1) buf(0) else UTF8String.concatWs(Sep, buf: _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]])
  }
}
