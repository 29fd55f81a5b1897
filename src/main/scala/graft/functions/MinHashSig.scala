package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: the full `numPerm`-permutation MinHash
  * signature of a token array's distinct n-gram shingle set, in one
  * pass per document — `minhash_sig(toks, n, numPerm)` ->
  * `array<long>` (NULL when the doc has no shingles, matching the old
  * aggregate's absent row).
  *
  * Replaces the composable pipeline in `Dedup.minHashSignatures`
  * (PortableMd5 family): explode the shingle set to (doc, shingle)
  * rows, md5num28 per row, then ONE groupBy(doc) Exchange carrying the
  * whole shingle stream to compute k min-aggregates. A MinHash
  * signature is a function of the document's own shingle set — a
  * per-row property that never needed the network. With this kernel
  * the signature frame is a pure scan-side projection; the only
  * remaining shuffles in LSH candidate generation are the band-key
  * joins, which are fundamental.
  *
  * Bit-identical to the replaced form (MinHashSigSpec proves it
  * through the full DataFrame path): same distinct shingle set
  * ([[DistinctShingles.shingle]] — THE same kernel `Dedup.shingles`
  * explodes), same 28-bit md5 base hash ([[Md5Num.hash]]), same affine
  * permutations `(h * a_i + b_i) % p` from [[PortableHash]] in exact
  * signed-64-bit arithmetic, same min.
  */
case class MinHashSig(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires (array<string>, int, int), got $other"
        )
    }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    MinHashSig.sigs(a.asInstanceOf[ArrayData], b.asInstanceOf[Int], c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b, c) => s"""
        |${ev.value} = graft.functions.MinHashSig$$.MODULE$$.sigs($a, $b, $c);
        |if (${ev.value} == null) { ${ev.isNull} = true; }
      """.stripMargin
    )

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression
  ): MinHashSig = copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  /** (a_i, b_i) permutation constants per signature width, cached —
    * the SAME [[PortableHash.minHashA]]/[[PortableHash.minHashB]]
    * family the aggregate form and the DuckDB oracle use.
    */
  private val abCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def abFor(k: Int): (Array[Long], Array[Long]) =
    abCache.computeIfAbsent(
      k,
      _ =>
        (
          Array.tabulate(k)(PortableHash.minHashA),
          Array.tabulate(k)(PortableHash.minHashB)
        )
    )

  /** One-pass kernel: distinct shingles in-row, one 28-bit md5 base
    * hash per shingle, k affine mins. Returns null when the shingle
    * set is empty (0 tokens).
    */
  def sigs(toks: ArrayData, n: Int, k: Int): ArrayData = {
    require(k >= 1, s"numPerm must be >= 1, got $k")
    val sh = DistinctShingles.shingle(toks, n)
    val cnt = sh.numElements()
    if (cnt == 0) return null
    val (as, bs) = abFor(k)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < cnt) {
      val h = Md5Num.hash(sh.getUTF8String(i).getBytes, 7)
      var j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % PortableHash.MinHashP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  def of(toks: Column, n: Int, numPerm: Int): Column =
    column(MinHashSig(expression(toks), Literal(n), Literal(numPerm)))
}
