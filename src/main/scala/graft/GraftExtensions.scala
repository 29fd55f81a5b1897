package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Makes the engine's native expressions callable from SQL.
  * [[Session.local]] installs it; any other session gets it with
  * `spark.sql.extensions=graft.GraftExtensions`. The Column APIs
  * (`VectorOps.dot`, `SimHash64.simhash64`, ...) build their
  * expressions directly and need no extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.checkedBuild))
    }
}

object GraftExtensions {

  /** One SQL function: its name, expression class, parameter names
    * (their count is the arity) and the builder of its expression.
    */
  final case class NativeFunction(
      name: String,
      cls: Class[_ <: Expression],
      params: Seq[String],
      build: Seq[Expression] => Expression
  ) {
    def checkedBuild(args: Seq[Expression]): Expression = {
      if (args.length != params.length)
        throw new IllegalArgumentException(
          s"$name takes (${params.mkString(", ")}), got ${args.length} arguments"
        )
      build(args)
    }
  }

  val functions: Seq[NativeFunction] = Seq(
    NativeFunction("simhash64", classOf[SimHash64], Seq("tokens"), a => SimHash64(a(0))),
    NativeFunction("portable_simhash", classOf[PortableSimHash], Seq("tokens"), a => PortableSimHash(a(0))),
    NativeFunction("unicode_tokens", classOf[UnicodeTokens], Seq("text"), a => UnicodeTokens(a(0))),
    NativeFunction("distinct_shingles", classOf[DistinctShingles], Seq("tokens", "n"), a => DistinctShingles(a(0), a(1))),
    NativeFunction("minhash_sig", classOf[MinHashSig], Seq("tokens", "n", "num_perm"), a => MinHashSig(a(0), a(1), a(2))),
    NativeFunction("md5num", classOf[Md5Num], Seq("value", "n_hex"), a => Md5Num(a(0), a(1))),
    NativeFunction("opt_barrier", classOf[OptimizerBarrier], Seq("expr"), a => OptimizerBarrier(a(0))),
    NativeFunction("vec_dot", classOf[VecDot], Seq("a", "b"), a => VecDot(a(0), a(1))),
    NativeFunction("vec_cosine", classOf[VecCosine], Seq("a", "b"), a => VecCosine(a(0), a(1))),
    NativeFunction("vec_scale_inv", classOf[VecScaleInv], Seq("v", "s"), a => VecScaleInv(a(0), a(1))),
    NativeFunction("vec_norm2", classOf[VecNorm2], Seq("v"), a => VecNorm2(a(0))),
    NativeFunction("tile_pack", classOf[TilePack], Seq("pos", "value", "slots"), a => TilePack.fromSql(a(0), a(1), a(2)))
  )
}
