package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one-pass 64-bit SimHash over a token
  * array.
  *
  * The composable formulation (explode -> 64 vote sums -> groupBy)
  * shuffles one row per TOKEN and aggregates 64 columns; this
  * expression computes the whole signature per document at scan time —
  * no explode, no shuffle, xxhash64 per token (Spark's own hash
  * kernel) instead of an md5 hex round-trip. Used as the production
  * path of `graft.ml.Dedup`; the md5-based composable variant remains
  * the DuckDB-oracle-checkable twin.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got $other"
        )
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, SimHash64.Seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** The per-token xxhash64 seed. */
  val Seed = 42L

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
}
