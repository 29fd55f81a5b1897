package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the first `nHex` hex digits of md5,
  * read as a BIGINT — the [[PortableHash]] value computed without the
  * string round-trip.
  *
  * The composable form `conv(substring(md5(x), 1, n), 16, 10)::long`
  * materializes a 32-char hex UTF8String per row, substrings it, and
  * parses it back through `NumberConverter` (base-16 string -> base-10
  * string -> long). This expression reads the needed bits straight off
  * the digest bytes: same md5, zero string traffic. It sits in the
  * hottest projection of the dedup family — once per (doc, shingle)
  * row for MinHash/LSH/fingerprints — so the per-row constant matters
  * at corpus scale.
  *
  * Value contract (bit-identical to the replaced form, property-tested
  * in Md5NumSpec): nHex=14 -> first 7 digest bytes big-endian (56 bits,
  * always a positive long); nHex=7 -> first 28 bits. NULL -> NULL.
  * String input hashes its UTF-8 bytes, exactly what `md5(string)`'s
  * implicit cast to binary does.
  */
case class Md5Num(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType | BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"md5num requires (string|binary, int), got $other")
    }

  private def isString: Boolean = left.dataType == StringType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val bytes =
      if (isString) a.asInstanceOf[UTF8String].getBytes else a.asInstanceOf[Array[Byte]]
    java.lang.Long.valueOf(Md5Num.hash(bytes, b.asInstanceOf[Int]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val bytes = if (isString) s"$a.getBytes()" else a
        s"${ev.value} = graft.functions.Md5Num$$.MODULE$$.hash($bytes, $b);"
      }
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Md5Num = copy(left = newLeft, right = newRight)

  override def prettyName: String = "md5num"
}

object Md5Num {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First `nHex` hex digits of md5(bytes) as a long: whole bytes
    * big-endian, plus the high nibble when `nHex` is odd. nHex <= 15
    * keeps the value positive in a signed 64-bit long.
    */
  def hash(bytes: Array[Byte], nHex: Int): Long = {
    require(nHex >= 1 && nHex <= 15, s"nHex must be in [1,15], got $nHex")
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    val full = nHex / 2
    while (i < full) {
      v = (v << 8) | (d(i) & 0xffL)
      i += 1
    }
    if ((nHex & 1) == 1) v = (v << 4) | ((d(full) & 0xf0L) >>> 4)
    v
  }

  def of(c: Column, nHex: Int): Column = column(Md5Num(expression(c), Literal(nHex)))
}
