package graft.functions

import graft.SparkSpec
import graft.ml.{Dedup, TextStats}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The one-pass `minhash_sig` kernel must be bit-identical to the
  * explode -> md5num28 -> groupBy(doc).agg(k mins) aggregate it
  * replaced (the kernel removed the signature Exchange carrying the
  * shingle stream). Checked through the full DataFrame path against
  * that aggregate form — Dedup.shingles + Dedup.minHashSignatures.
  */
class MinHashSigSpec extends SparkSpec {

  private val K = 8

  private def oldSigs(docs: org.apache.spark.sql.DataFrame, n: Int) =
    Dedup.minHashSignatures(Dedup.shingles(docs, "doc_id", "text", n), "doc_id", K)

  private def newSigs(docs: org.apache.spark.sql.DataFrame, n: Int) =
    Dedup.minHashSignaturesFused(docs, "doc_id", "text", n, K)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Long]] =
    df.collect().map(r => (0 to K).map(r.getLong)).toSet

  test("edge cases: empty docs absent, sub-width docs, duplicate windows, CJK") {
    import spark.implicits._
    val d = Seq(
      (1L, ""),
      (2L, " ,,, !!"),
      (3L, null.asInstanceOf[String]),
      (4L, "one"),
      (5L, "one two"),
      (6L, "a b c d e, a b c d e"),
      (7L, "我的朋友是谁 who is it")
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val neu = rows(newSigs(d, n))
      assert(neu == rows(oldSigs(d, n)), s"n=$n")
      assert(!neu.exists(r => Set(1L, 2L, 3L)(r.head)), s"n=$n zero-shingle docs absent")
    }
  }

  test("property: kernel == aggregate on random token soups") {
    import spark.implicits._
    val word = Gen.oneOf("a", "bb", "ccc", "朋", "42", "x1", "δ", "zz")
    val doc = Gen.listOf(word).map(_.mkString(" "))
    val p = Prop.forAll(Gen.listOfN(6, doc), Gen.choose(1, 4)) { (texts: List[String], n: Int) =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      rows(newSigs(d, n)) == rows(oldSigs(d, n))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("plan: kernel evaluated ONCE — barrier blocks filter-pushdown duplication") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "")).toDF("doc_id", "text")
    val plan = newSigs(d, 3).queryExecution.optimizedPlan.toString
    assert(plan.split("minhash_sig").length - 1 == 1, plan)
  }

  test("real data: sf0.001 documents, n=3, full minHashNearDups pair parity") {
    val d = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
    assert(rows(newSigs(d, 3)) == rows(oldSigs(d, 3)))
    // end-to-end: the fused pipeline's pair set must equal the older
    // checkpointed-aggregate pipeline's (identical sig + cand + verify)
    val fused = Dedup
      .minHashNearDups(d, "doc_id", "text", 3, K, 4, 0.6)
      .select("d1", "d2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val sh = Dedup.shingles(d, "doc_id", "text", 3).localCheckpoint(false)
    val sig = Dedup.minHashSignatures(sh, "doc_id", K)
    val cand = Dedup.lshCandidates(sig, "doc_id", K, 4)
    val old = Dedup
      .jaccardPairs(sh, "doc_id", 0.6, candidates = Some(cand))
      .select("d1", "d2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(fused == old)
  }
}
