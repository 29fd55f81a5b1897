package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the PORTABLE (md5-family) 56-bit
  * SimHash of a token array, in one pass per document.
  *
  * Replaces the composable pipeline in `Dedup.simHash`:
  * {{{
  *   explode(toks) -> groupBy(doc, tok).count          // Exchange 1
  *     -> h = md5num56(tok)
  *     -> groupBy(doc).agg(56 x sum(when(bit_j, cnt, -cnt)))  // Exchange 2
  *     -> 56-term bit assembly
  * }}}
  * The SimHash of a document is a function of its own token multiset —
  * a per-row property that never needed the network. This kernel
  * removes BOTH hash-aggregate Exchanges and the ~112-expression
  * aggregate tree (56 sum(when) + 56 bit terms, a large per-rep
  * Catalyst analysis/codegen cost) from every simhash query: screen,
  * incremental, band-index build, and the streaming twin.
  *
  * Bit-identical to the replaced form (PortableSimHashSpec proves it
  * through the full DataFrame path): per distinct token the md5num56
  * hash is computed once; vote_j = sum over instances of +/-1 by bit j
  * (exact long arithmetic, order-independent); bit_j = vote_j > 0.
  * Empty/absent token sets: the old explode emitted NO row for a doc
  * with zero tokens — callers must `.filter(isNotNull)` to keep that
  * contract (Dedup.simHash does).
  *
  * Portable: DuckDB recomputes the same value from md5, so
  * hash-checked queries keep passing.
  */
case class PortableSimHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"portable_simhash requires array<string>, got $other")
    }

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    if (toks.numElements() == 0) null
    else java.lang.Long.valueOf(PortableSimHash.simhash(toks))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      a => s"""
        |if ($a.numElements() == 0) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = graft.functions.PortableSimHash$$.MODULE$$.simhash($a);
        |}
      """.stripMargin
    )

  override protected def withNewChildInternal(newChild: Expression): PortableSimHash =
    copy(child = newChild)

  override def prettyName: String = "portable_simhash"
}

object PortableSimHash {
  /** One-pass kernel: md5num56 once per DISTINCT token (cached in a
    * local map), +/-1 vote per token INSTANCE per bit — identical to
    * counting instances first and weighting by count.
    */
  def simhash(toks: ArrayData): Long = {
    val m = toks.numElements()
    val hashCache = new java.util.HashMap[UTF8String, java.lang.Long](m * 2)
    val votes = new Array[Long](56)
    var i = 0
    while (i < m) {
      val t = toks.getUTF8String(i)
      var h = hashCache.get(t)
      if (h == null) {
        h = java.lang.Long.valueOf(Md5Num.hash(t.getBytes, 14))
        hashCache.put(t, h)
      }
      val hv = h.longValue()
      var j = 0
      while (j < 56) {
        if (((hv >>> j) & 1L) == 1L) votes(j) += 1L else votes(j) -= 1L
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 56) {
      if (votes(j) > 0L) out |= (1L << j)
      j += 1
    }
    out
  }

  def of(toks: Column): Column = column(PortableSimHash(expression(toks)))
}
