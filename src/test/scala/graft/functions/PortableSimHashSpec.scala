package graft.functions

import graft.SparkSpec
import graft.ml.TextStats
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The one-pass `portable_simhash` kernel must be bit-identical to the
  * explode -> groupBy(doc, tok) -> 56-vote aggregate pipeline it
  * replaced in Dedup.simHash (the kernel removed two hash-aggregate
  * Exchanges). Checked through the full DataFrame path — tokenizer
  * included — against that exact earlier formulation.
  */
class PortableSimHashSpec extends SparkSpec {

  /** The exact earlier Dedup.simHash formulation. */
  private def oldSimHash(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toksDf = docs
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", PortableHash.md5num56(col("tok")))
    val bitVotes = (0 until 56).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("cnt")).otherwise(-col("cnt")))
        .as(s"v$j")
    }
    val voted = toksDf.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
    val hash = (0 until 56)
      .map(j => when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_ + _)
    voted.select(col("doc_id"), hash.as("simhash"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("edge cases: empty/punctuation/NULL docs absent, repeats weighted, CJK") {
    import spark.implicits._
    val d = Seq(
      (1L, ""),
      (2L, " ,,, !!"),
      (3L, null.asInstanceOf[String]),
      (4L, "one"),
      (5L, "repeat repeat repeat different"),
      (6L, "我的朋友是谁 who is it 😀"),
      (7L, "a b c d e f g h i j k l m n o p")
    ).toDF("doc_id", "text")
    val neu = rows(graft.ml.Dedup.simHash(d, "doc_id", "text"))
    assert(neu == rows(oldSimHash(d)))
    // docs 1-3 tokenize to nothing -> no simhash row in either form
    assert(!neu.exists(r => Set(1L, 2L, 3L)(r._1)) && neu.size == 4)
  }

  test("property: kernel == aggregate pipeline on random token soups") {
    import spark.implicits._
    val word = Gen.oneOf("a", "bb", "ccc", "朋", "42", "x1", "δ", "zz", "a") // repeat-heavy
    val doc = Gen.listOf(word).map(_.mkString(" "))
    val p = Prop.forAll(Gen.listOfN(6, doc)) { texts: List[String] =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      rows(graft.ml.Dedup.simHash(d, "doc_id", "text")) == rows(oldSimHash(d))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("plan: kernel evaluated ONCE — barrier blocks filter-pushdown duplication") {
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    val plan = graft.ml.Dedup.simHash(d, "doc_id", "text").queryExecution.optimizedPlan.toString
    assert(plan.split("portable_simhash").length - 1 == 1, plan)
  }

  test("real data: sf0.001 documents") {
    val d = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
    assert(rows(graft.ml.Dedup.simHash(d, "doc_id", "text")) == rows(oldSimHash(d)))
  }
}
