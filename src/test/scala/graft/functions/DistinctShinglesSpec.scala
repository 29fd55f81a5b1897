package graft.functions

import graft.SparkSpec
import graft.ml.TextStats
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The fused `distinct_shingles` kernel must reproduce the composable
  * HOF-chain + cross-row-distinct form it replaced (one codegen
  * projection instead of interpreted HOFs + an Exchange).
  * Equivalence is checked through the full Dataframe path — tokenizer,
  * explode, and the old `.distinct()` — not just the kernel.
  */
class DistinctShinglesSpec extends SparkSpec {

  /** The exact earlier formulation of Dedup.shingles. */
  private def oldShingles(
      docs: org.apache.spark.sql.DataFrame,
      n: Int
  ): org.apache.spark.sql.DataFrame = {
    val toks = TextStats.tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(
        col("doc_id"),
        explode(
          expr(s"transform(sequence(1, greatest(size(toks) - ${n - 1}, 1)), i -> array_join(slice(toks, i, $n), ' '))")
        ).as("shingle")
      )
      .filter(col("shingle") =!= "")
      .distinct()
  }

  private def newShingles(docs: org.apache.spark.sql.DataFrame, n: Int) =
    graft.ml.Dedup.shingles(docs, "doc_id", "text", n)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("edge cases: empty text, sub-width docs, duplicate windows, CJK") {
    import spark.implicits._
    val d = Seq(
      (1L, ""), // no tokens -> no rows
      (2L, "   ,,, !!"), // punctuation only -> no rows
      (3L, "one"), // 1 token, n=3 -> one 1-token shingle
      (4L, "one two"), // 2 tokens, n=3 -> one 2-token shingle
      (5L, "a b c d e, a b c d e"), // repeated half collapses
      (6L, "我的朋友是谁 who is it"), // CJK char tokens mix
      (7L, null.asInstanceOf[String]) // NULL text -> no rows
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3, 4)) {
      assert(rows(newShingles(d, n)) == rows(oldShingles(d, n)), s"n=$n")
    }
    val n3 = rows(newShingles(d, 3))
    assert(!n3.exists(_._1 == 1L) && !n3.exists(_._1 == 2L) && !n3.exists(_._1 == 7L))
    assert(n3.filter(_._1 == 3L) == Set((3L, "one")))
    assert(n3.filter(_._1 == 4L) == Set((4L, "one two")))
    assert(
      n3.filter(_._1 == 5L).map(_._2) ==
        Set("a b c", "b c d", "c d e", "d e a", "e a b")
    )
  }

  test("property: fused kernel == HOF chain + distinct on random token soups") {
    import spark.implicits._
    val word = Gen.oneOf("a", "bb", "ccc", "朋", "42", "x1", "δ", "zz")
    val doc = Gen.listOf(word).map(_.mkString(" "))
    val docsGen = Gen.listOfN(8, doc)
    val p = Prop.forAll(docsGen, Gen.choose(1, 4)) { (texts: List[String], n: Int) =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      rows(newShingles(d, n)) == rows(oldShingles(d, n))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), p)
    assert(res.passed, res.status.toString)
  }

  test("real data: sf0.001 documents, n=2 and n=3") {
    val d = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
    for (n <- Seq(2, 3)) {
      assert(rows(newShingles(d, n)) == rows(oldShingles(d, n)), s"n=$n")
    }
  }
}
