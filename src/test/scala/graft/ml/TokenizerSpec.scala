package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TokenizerSpec extends SparkSpec {

  // ---- BPE training ------------------------------------------------

  test("applyMerge is greedy left-to-right: leftmost pair wins, no re-merge in the same pass") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "a", "a")),
      (2L, Seq("a", "a", "a", "a")),
      (3L, Seq("a", "b", "a")),
      (4L, Seq("b"))
    ).toDF("id", "syms")
    val out = df
      .select(col("id"), BpeTrain.applyMerge(col("syms"), "a", "a").as("m"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    assert(out(1L) == Seq("aa", "a"), "odd run merges floor(n/2) pairs greedily")
    assert(out(2L) == Seq("aa", "aa"))
    assert(out(3L) == Seq("a", "b", "a"), "non-adjacent symbols never merge")
    assert(out(4L) == Seq("b"))
  }

  test("learnMerges finds the most frequent pair first, weighted by word frequency") {
    import spark.implicits._
    // "zz" appears in 6 docs, "xy" in 3: first merge must be (z, z</w>)
    // or (z, z) depending on counts — with words 'zz' (freq 6) and
    // 'xyx' (freq 3): pairs of zz = {(z,z):6, (z,</w>):6}; pairs of
    // xyx = {(x,y):3, (y,x):3, (x,</w>):3}. Tie 6-6 between (z,z) and
    // (z,</w>) breaks on left,right string order: '</w>' < 'z' so
    // (z, </w>) wins rank 1.
    val docs = (1 to 6).map(i => (i.toLong, if (i <= 3) "zz xyx" else "zz")).toDF("doc_id", "text")
    val (ms, dict) = BpeTrain.learnMerges(docs, "text", 2)
    assert(ms.head == BpeTrain.Merge(1, "z", "</w>", 6))
    assert(ms(1) == BpeTrain.Merge(2, "z", "z</w>", 6))
    val zz = dict.filter(col("word") === "zz").select("syms").head().getSeq[String](0)
    assert(zz == Seq("zz</w>"), s"after both merges 'zz' is one symbol, got $zz")
  }

  test("learnMerges stops early when no pairs remain") {
    import spark.implicits._
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    // words 'a','b': syms [a,</w>] — after merging each full word there
    // are single-symbol words only; requesting 10 merges must not loop
    val (ms, _) = BpeTrain.learnMerges(docs, "text", 10)
    assert(ms.size < 10)
    assert(ms.map(_.rank) == (1 to ms.size))
  }

  test("encodeTokens equals dict-lookup segmentation") {
    import spark.implicits._
    val docs = (1 to 20).map(i => (i.toLong, s"hello world hello h$i")).toDF("doc_id", "text")
    val (ms, dict) = BpeTrain.learnMerges(docs, "text", 5)
    val direct = docs
      .select(
        col("doc_id"),
        explode(BpeTrain.encodeTokens(TextStats.tokens(col("text")), ms)).as("syms")
      )
      .select(col("doc_id"), array_join(col("syms"), " ").as("seg"))
    val viaDict = docs
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("word"))
      .join(dict, Seq("word"))
      .select(col("doc_id"), array_join(col("syms"), " ").as("seg"))
    assert(
      direct.groupBy("doc_id", "seg").count().except(viaDict.groupBy("doc_id", "seg").count()).isEmpty
    )
  }

  test("learnMerges: the driver and distributed paths learn the same merges and dict") {
    import spark.implicits._
    // 'ａ' (U+FF41) and '𐐨' (U+10428) tie: Spark's UTF-8 byte order puts
    // 'ａ' first, UTF-16 order (String.compareTo) puts '𐐨' first
    val corpora = Seq(
      Seq("ａ 𐐨"),
      Seq("ａｂ 𐐨ｂ 𐐨ａ", "ａｂ 𐐨ｂ x𐐨 xａ 𝐚𝐚𝐚", "𝐚𝐚𝐚𝐚 ｂｂ ａａａ"),
      Seq("zz xyx", "zz xyx", "zz", "aaa aaaa abab", "ab ba")
    )
    def dict(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).sortBy(_._1).toSeq
    corpora.foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val (onDriver, driverDict) = BpeTrain.learnMergesWith(docs, "text", 12, BpeTrain.DriverMaxDictRows)
      val (distributed, distDict) = BpeTrain.learnMergesWith(docs, "text", 12, -1L)
      assert(onDriver == distributed, texts)
      def columns(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType.catalogString)
      assert(columns(driverDict) == columns(distDict))
      assert(dict(driverDict) == dict(distDict), texts)
    }
    val (first, _) = BpeTrain.learnMerges(Seq((1L, "ａ 𐐨")).toDF("doc_id", "text"), "text", 1)
    assert(first == Seq(BpeTrain.Merge(1, "ａ", "</w>", 1)))
  }

  // ---- BM25 --------------------------------------------------------

  test("bm25 scoreMicro is monotone in tf and penalizes long docs") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, 10L), // tf=1 dl=10
      (2L, 3L, 10L), // tf=3 same dl -> higher
      (3L, 3L, 40L)  // tf=3 longer doc -> lower than row 2
    ).toDF("id", "tf", "dl")
    val scored = rows
      .withColumn(
        "s",
        Bm25.scoreMicro(col("tf"), lit(5L), col("dl"), lit(100L), lit(20.0))
      )
      .collect()
      .map(r => r.getLong(0) -> r.getLong(3))
      .toMap
    assert(scored(2L) > scored(1L))
    assert(scored(2L) > scored(3L))
    assert(scored.values.forall(_ > 0))
  }

  test("bm25 postings carry one dl per doc and exact tf") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b")).toDF("doc_id", "text")
    val p = Bm25.postings(docs, "doc_id", "text").collect()
    val byKey = p.map(r => (r.getLong(0), r.getString(2)) -> (r.getLong(1), r.getLong(3))).toMap
    assert(byKey((1L, "a")) == (3L, 2L))
    assert(byKey((1L, "b")) == (3L, 1L))
    assert(byKey((2L, "b")) == (1L, 1L))
  }

  // ---- hashed classifier -------------------------------------------

  test("classifier logit is the exact integer sum of per-feature weights") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, ""), (3L, "alpha")).toDF("doc_id", "text")
    val out = HashedClassifier
      .score(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // doc 1: features {alpha, beta, "alpha beta"}; doc 3: {alpha}
    assert(out(1L)._1 == 3L)
    assert(out(2L) == ((0L, 0L, false)), "token-less doc scores a zero logit, not NULL")
    assert(out(3L)._1 == 1L)
    // hand-compute doc 3's weight through the same affine map
    val w = docs.sparkSession
      .range(1)
      .select(
        HashedClassifier
          .weightMicro(
            pmod(graft.functions.PortableHash.md5num28(lit("alpha")), lit(HashedClassifier.Buckets))
          )
          .as("w")
      )
      .head()
      .getLong(0)
    assert(out(3L)._2 == w)
    assert(out(3L)._3 == (w > 0))
    // weights stay inside the documented micro range
    assert(math.abs(w) <= 1000)
  }
}
