package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus-construction operators: connected-components dedup
  * clustering, plus sanity checks of the repetition / contamination /
  * stratified-sampling query shapes (their values are oracle-checked
  * end-to-end by the driver; here we pin the operator semantics on
  * hand-built inputs).
  */
class CorpusSpec extends SparkSpec {

  import spark.implicits._

  test("Bloom-filter membership: the broadcastable face of incremental exact dedup") {
    // scale path: the corpus's fingerprint Bloom is built once and
    // broadcast; a new crawl probes it map-side — no corpus join. The
    // filter must have NO false negatives (a missed dup poisons
    // training data), and its false-positive rate only costs a
    // second-stage exact check on the flagged subset.
    val corpus = (1L to 10000L).map(i => i * 2).toDF("fp") // even fingerprints
    val bloom = corpus.stat.bloomFilter("fp", 10000L, 0.01)
    val fn = corpus.collect().map(_.getLong(0)).count(x => !bloom.mightContain(x))
    assert(fn == 0, "Bloom filters never false-negative")
    val probes = (1L to 10000L).map(i => i * 2 + 1) // odd = disjoint
    val fpRate = probes.count(bloom.mightContain).toDouble / probes.size
    assert(fpRate <= 0.03, f"false-positive rate $fpRate%.4f should be near the configured 0.01")
  }

  private def ccOf(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup
      .connectedComponents(
        nodes.toDF("doc_id"),
        "doc_id",
        edges.toDF("d1", "d2")
      )
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("connectedComponents: two components + singletons") {
    val cc = ccOf(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L), Seq((1L, 2L), (2L, 3L), (5L, 6L)))
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents: long chain needs multiple propagation rounds") {
    val n = 12L
    val cc = ccOf(1L to n, (1L until n).map(i => (i, i + 1)))
    assert(cc == (1L to n).map(_ -> 1L).toMap)
  }

  test("connectedComponents: edge direction and duplicates don't matter") {
    val a = ccOf(Seq(1L, 2L, 3L), Seq((3L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents: 1000-node chain converges in O(log n) large/small-star rounds") {
    // adversarial diameter-999 chain: min-label propagation would need
    // ~999 rounds; large/small-star must finish in O(log n)
    val n = 1000L
    val (out, rounds) = Dedup.componentsWithStats(
      (1L to n).toDF("doc_id"),
      "doc_id",
      (1L until n).map(i => (i, i + 1)).toDF("d1", "d2"),
      maxIter = 50,
      srcCol = "d1",
      dstCol = "d2",
      driverMaxEdges = -1L
    )
    assert(rounds <= 20, s"expected O(log2(1000)) ≈ 10 rounds, got $rounds")
    val cc = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == (1L to n).map(_ -> 1L).toMap)
  }

  test("connectedComponents: custom src/dst column names") {
    val cc = Dedup
      .connectedComponents(
        Seq(1L, 2L, 3L).toDF("doc_id"),
        "doc_id",
        Seq((2L, 3L)).toDF("left_id", "right_id"),
        srcCol = "left_id",
        dstCol = "right_id"
      )
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(cc == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("connectedComponents: non-convergence throws instead of returning partial labels") {
    intercept[IllegalStateException] {
      Dedup.componentsWithStats(
        (1L to 40L).toDF("doc_id"),
        "doc_id",
        (1L until 40L).map(i => (i, i + 1)).toDF("d1", "d2"),
        maxIter = 1,
        srcCol = "d1",
        dstCol = "d2",
        driverMaxEdges = -1L
      )
    }
  }

  test("property: driver union-find and the star loop give the same min-reachable labels") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small ids, ids past 2^53 (where neighbours collapse as doubles)
    // and both ends of the long range
    val big = 1L << 53
    val idPool = (0L to 40L) ++ Seq(big - 1, big, big + 1, big + 2, Long.MaxValue - 1, Long.MaxValue, -3L)
    def shape(ids: Seq[Long]): Gen[Seq[(Long, Long)]] = Gen.oneOf(
      ids.zip(ids.drop(1)), // chain
      ids.drop(1).map(ids.head -> _), // star
      for (i <- ids; j <- ids if i < j) yield (i, j), // clique
      Seq.empty[(Long, Long)] // isolated nodes
    )
    val graph = for {
      sizes <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.choose(1, 7)))
      picked <- Gen.pick(math.min(sizes.sum, idPool.size), idPool)
      seed <- Gen.long
      ids = new scala.util.Random(seed).shuffle(picked.toSeq)
      comps = sizes.scanLeft(0)(_ + _).zip(sizes).map { case (o, n) => ids.slice(o, o + n) }.filter(_.nonEmpty)
      edges <- comps.foldLeft(Gen.const(Seq.empty[(Long, Long)]))((acc, c) => acc.flatMap(a => shape(c).map(a ++ _)))
      dups <- Gen.someOf(edges)
      loops <- Gen.someOf(ids)
    } yield (ids, new scala.util.Random(seed).shuffle(edges ++ dups.map(_.swap) ++ loops.map(i => (i, i))))
    def reference(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      nodes.map { n =>
        var seen = Set(n); var frontier = Set(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
          seen ++= frontier
        }
        n -> seen.min
      }.toMap
    }
    val p = Prop.forAll(graph) { case (nodes, edges) =>
      def run(limit: Long) =
        Dedup.componentsWithStats(nodes.toDF("doc_id"), "doc_id", edges.toDF("d1", "d2"), 50, "d1", "d2", limit)
      val (driver, driverRounds) = run(Dedup.DriverFinishMaxEdges)
      val (star, _) = run(-1L)
      def labels(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      driverRounds == 0 && driver.schema == star.schema &&
      labels(driver) == labels(star) && labels(driver) == reference(nodes, edges)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  test("leakage-safe splits: every member of a cluster lands in the same split") {
    import org.apache.spark.sql.functions._
    // three components (1-2-3, 5-6, singletons 4,7) -> split keyed on
    // the component label, so members can never straddle a boundary
    val cc = Dedup.connectedComponents(
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id"),
      "doc_id",
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    )
    val out = Sampling
      .splits(cc.withColumn("ck", col("cluster_id").cast("string")), "ck", Seq(("train", 8), ("eval", 1), ("test", 1)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val byCluster = out.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byCluster.values.forall(_.size == 1), s"one split per cluster: $byCluster")
    // doc-keyed assignment would break this for any cluster whose
    // members hash to different buckets — prove the fixture has one
    val docKeyed = Sampling
      .splits(cc.withColumn("dk", col("doc_id").cast("string")), "dk", Seq(("train", 8), ("eval", 1), ("test", 1)))
      .collect()
      .map(r => (r.getLong(1), r.getString(3)))
    val docByCluster = docKeyed.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(
      docByCluster.values.exists(_.size > 1),
      "fixture must demonstrate the leakage channel cluster-keying closes"
    )
  }

  test("repetition signals: duplicated tokens and n-grams are measured") {
    val d = Seq(
      (1L, "spam spam spam spam"), // one distinct token, one bigram repeated 3x
      (2L, "all words here fully distinct tokens")
    ).toDF("doc_id", "text")
    val toks = TextStats.tokens(col("text"))
    val out = d
      .select(
        col("doc_id"),
        size(toks).as("n"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("distinct_ratio")
      )
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(out(1L) == ((4, 0.25)))
    assert(out(2L) == ((6, 1.0)))
  }

  test("contamination: planted eval overlap is detected, clean doc is not") {
    val d = Seq(
      (50L, "alpha beta gamma delta epsilon zeta eta theta"), // eval (id % 50 == 0)
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // full copy of eval
      (2L, "one two three four five six seven eight") // disjoint
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(d, "doc_id", "text", 3)
    val evalSh = sh.filter(col("doc_id") % 50 === 0).select("shingle").distinct()
    val train = sh.filter(col("doc_id") % 50 =!= 0)
    val overlap = train
      .join(broadcast(evalSh), Seq("shingle"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(overlap(1L) == 6L) // 8 tokens -> 6 shingles, all contaminated
    assert(!overlap.contains(2L))
  }

  test("stratified quota sample is deterministic and respects ceil(n/5)") {
    val docs = graft.tables.TestTables.documents(spark, sf001)
    val strata = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val q = graft.queries.Registry.byName("q_stratified_sample")
    val got = q.run(spark, sf001).groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strata.foreach { case (lang, n) => assert(got(lang) == (n + 4) / 5, s"quota for $lang") }
    // pure function of the key: a second run picks the identical docs
    val a = q.run(spark, sf001).select("doc_id").collect().map(_.getLong(0)).toSeq
    val b = q.run(spark, sf001).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("SimHash band screen: planted near-dup found, disjoint doc clean") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val d = Seq(
      (1L, base), // existing
      (2L, "one two three four five six seven eight nine ten " * 5), // existing, disjoint
      (3L, base), // incoming: exact copy of doc 1 (Hamming 0)
      (6L, "completely different unrelated vocabulary entirely elsewhere " * 5) // incoming, clean
    ).toDF("doc_id", "text")
    val incoming = col("doc_id") % 3 === 0
    val idx = Dedup.buildBandIndex(d.filter(!incoming), "doc_id", "text")
    val out = Dedup
      .simHashScreen(d.filter(incoming), "doc_id", "text", idx, maxHamming = 6)
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(out(3L) == ((true, 1L)))
    assert(out(6L) == ((false, -1L)))
  }

  test("Quantize.int8: codes reconstruct within scale/2, zero vector safe") {
    val d = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 127.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rows = Quantize.int8(d, "vec_id", "embedding").collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    val r1 = byId(1L)
    assert(math.abs(r1.getDouble(1) - 1.0) < 1e-12) // scale = 127/127
    assert(r1.getInt(2) == 1) // only the 127.0 element saturates
    assert(r1.getDouble(3) <= r1.getDouble(1) / 2 + 1e-12) // linf <= scale/2
    val r2 = byId(2L)
    assert(r2.getDouble(1) == 0.0 && r2.getDouble(3) == 0.0)
  }

  test("doc chunks: stride-40 windows of 50 cover every token, checksums stable") {
    val out = graft.queries.Registry
      .byName("q_doc_chunks")
      .run(spark, sf001)
      .collect()
    // every doc chunked; chunk 0 exists for each; only the last chunk
    // of a doc may be short
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.size == 500)
    byDoc.values.foreach { chunks =>
      val sorted = chunks.sortBy(_.getInt(1))
      assert(sorted.head.getInt(1) == 0)
      // stride 40 < size 50: a non-terminal chunk can truncate at the
      // doc end but still leaves >= 41 tokens (the next start exists)
      sorted.init.foreach(c => assert(c.getInt(2) >= 41 && c.getInt(2) <= 50))
    }
  }

  test("seq packing: bins respect the 4096-token budget prefix rule") {
    val out = graft.queries.Registry
      .byName("q_seq_packing")
      .run(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    assert(out.length == 500)
    // within each (shard, bin), the running sum of all but the last doc
    // stays under the budget (prefix-sum bucketing invariant)
    out.groupBy(t => (t._1, t._2)).values.foreach { docs =>
      val tokens = docs.sortBy(_._3).map(_._5.toLong)
      assert(tokens.init.sum < 4096L)
    }
  }

  test("distinct tokens: HLL sketch path lands within tolerance of the exact path") {
    val docs = graft.tables.TestTables.documents(spark, sf001)
    val toks = docs.select(col("lang"), explode(TextStats.tokens(col("text"))).as("tok"))
    val exact = toks.groupBy("lang").agg(countDistinct(col("tok")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = toks.groupBy("lang").agg(approx_count_distinct(col("tok"), 0.05).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (lang, n) =>
      assert(math.abs(approx(lang) - n) <= math.max(2L, (n * 0.15).toLong), s"$lang: $n vs ${approx(lang)}")
    }
  }

  test("source profile: approx_percentile lands within tolerance of the exact rank-selected quantiles") {
    // the registered q_source_profile uses exact rank selection; this
    // pins the documented t-digest/approx_percentile swap-in. sf0.01
    // gives ~100 docs per source — enough mass for the 1k-bucket
    // sketch to sit within 10% of the exact order statistic.
    val docs = graft.tables.TestTables.documents(spark, "/root/testdata/sf0.01")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val ranked = docs
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
    def exactAt(qNum: Int, qDen: Int) = ranked
      .filter(col("rk") === expr(s"($qNum * n + $qNum) div $qDen"))
      .select(col("source"), col("n_chars"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactP50 = exactAt(1, 2)
    val exactP90 = exactAt(9, 10)
    val approx = docs.groupBy("source")
      .agg(expr("percentile_approx(n_chars, array(0.5, 0.9), 1000)").as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    approx.foreach { case (src, Seq(a50, a90)) =>
      assert(math.abs(a50 - exactP50(src)).toDouble <= 0.10 * exactP50(src), s"$src p50: $a50 vs ${exactP50(src)}")
      assert(math.abs(a90 - exactP90(src)).toDouble <= 0.10 * exactP90(src), s"$src p90: $a90 vs ${exactP90(src)}")
    }
  }

  test("heavy hitters: count-min sketch estimates bound the exact counts") {
    // the registered q_heavy_hitters is exact; this pins the
    // documented CMS swap-in: estimate >= exact (CMS never
    // undercounts) and <= exact + eps * total-token-mass at the
    // sketch's stated eps = 0.001, per language.
    val toks = graft.tables.TestTables.documents(spark, "/root/testdata/sf0.01")
      .select(col("lang"), explode(TextStats.tokens(col("text"))).as("tok"))
      .localCheckpoint(false)
    val exactTop = toks.groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tok"))))
      .filter(col("rk") <= 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = toks.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketches = toks.groupBy("lang")
      .agg(expr("count_min_sketch(tok, 0.001d, 0.99d, 42)").as("cms"))
      .collect().map { r =>
        r.getString(0) -> org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      }.toMap
    exactTop.foreach { case ((lang, tok), n) =>
      val est = sketches(lang).estimateCount(tok)
      assert(est >= n, s"$lang/$tok: CMS undercounted $est < $n")
      assert(est <= n + math.max(1L, (0.001 * totals(lang)).ceil.toLong), s"$lang/$tok: $est vs $n")
    }
  }

  test("kn perplexity: corpus with no bigrams yields all-NULL scores, not an NPE") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-knppl").toString
    Seq((1L, "word", "en", "web", 4L), (2L, "x", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Registry.byName("q_kn_perplexity").run(spark, dir).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 0L) // n_bigrams
      assert(r.isNullAt(2) && r.isNullAt(3)) // ppl, bucket
    }
  }

  test("dedup clusters: canonical docs are cluster minima covering all docs") {
    val out = graft.queries.Registry.byName("q_dedup_clusters").run(spark, sf001).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val (id, cid) = (r.getLong(0), r.getLong(1))
      assert(cid <= id)
      assert(r.getBoolean(3) == (id == cid))
    }
    // cluster_size is consistent with the label multiset
    val sizes = out.groupBy(_.getLong(1)).map { case (_, rs) => rs.head.getLong(1) -> rs.length }
    out.foreach(r => assert(r.getLong(2) == sizes(r.getLong(1)).toLong))
  }
}
