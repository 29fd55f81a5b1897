package graft.ml

import graft.SparkSpec
import graft.tables.TestTables
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Persisted-index incremental dedup: the corpus half of both
  * screening families ([[Dedup.buildBandIndex]] for SimHash,
  * [[Dedup.buildClusterIndex]] for SemDeDup) is built once, written
  * to parquet, and probed by successive batches — the crawl-loop
  * shape a 100 TB pipeline runs. Each screen must equal an
  * unindexed all-pairs reference computed on the driver, including
  * after a parquet round trip, and one stored index must serve
  * multiple batches.
  */
class IncrementalIndexSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Unbanded SimHash screen: each incoming doc against every corpus
    * doc by exact Hamming distance; the closest within `maxHamming`
    * wins, ties toward the lower corpus id; token-less docs are no dup.
    */
  private def exhaustiveSimHashScreen(docs: DataFrame, incoming: Column, corpus: Column, maxHamming: Int) = {
    def ids(slice: Column) = docs.filter(slice).select("doc_id").collect().map(_.getLong(0))
    val h = Dedup.simHash(docs, "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ex = ids(corpus).filter(h.contains)
    ids(incoming).map { id =>
      val near = h.get(id).toSeq.flatMap(x => ex.map(e => (java.lang.Long.bitCount(x ^ h(e)), e)))
      near.filter(_._1 <= maxHamming).minOption
        .fold(Row(id, false, null, null))(b => Row(id, true, b._2, b._1)).toString
    }.sorted.toSeq
  }

  private def roundTrip(df: DataFrame, name: String, partitionCol: String): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
    spark.read.parquet(path)
  }

  test("simHashScreen on a persisted band index == exhaustive Hamming scan") {
    val docs = TestTables.documents(spark, sf001)
    val corpus = col("doc_id") % 3 =!= 0
    val idx = roundTrip(Dedup.buildBandIndex(docs.filter(corpus), "doc_id", "text"), "bandidx", "band")
    // two successive crawl batches probe the SAME stored index
    for (batchPred <- Seq(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0,
                          col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1)) {
      val screened = sorted(Dedup.simHashScreen(docs.filter(batchPred), "doc_id", "text", idx))
      assert(screened == exhaustiveSimHashScreen(docs, batchPred, corpus, maxHamming = 6))
    }
  }

  test("semDedupScreen on a persisted cluster index == all-pairs cosine") {
    val emb = TestTables.embeddings(spark, sf001)
    val corpus = col("vec_id") % 10 < 8
    val fresh = Dedup.buildClusterIndex(emb.filter(corpus), "vec_id", "embedding")
    val idx = roundTrip(fresh, "clusteridx", "cluster")
    // reference: the index's own (cluster, normalized vector) per id,
    // every incoming vector against every same-cluster corpus vector
    val assigned = Dedup.buildClusterIndex(emb, "vec_id", "embedding").collect()
      .map(r => r.getLong(1) -> (r.get(0), r.getSeq[Double](2).toArray)).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = a.indices.map(i => a(i) * b(i)).sum
    for (batchPred <- Seq(col("vec_id") % 10 === 8, col("vec_id") % 10 === 9)) {
      val ids = emb.filter(batchPred).select("vec_id").collect().map(_.getLong(0)).toSet
      val expected = assigned.toSeq.collect { case (id, (c, v)) if ids(id) =>
        val dup = assigned.exists { case (eid, (ec, ev)) =>
          eid % 10 < 8 && ec == c && dot(v, ev) >= 0.42
        }
        Row(id, c, dup).toString
      }.sorted
      def screen(index: DataFrame): Seq[String] =
        sorted(Dedup.semDedupScreen(emb.filter(batchPred), "vec_id", "embedding", index, threshold = 0.42))
      assert(screen(idx) == screen(fresh), "persisted index must screen like a freshly built one")
      assert(screen(idx) == expected, "index screen must equal the all-pairs same-cluster reference")
    }
  }

  test("bucketed index tables: probes shuffle only the incoming batch, never the index") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = TestTables.documents(spark, sf001)
    val emb = TestTables.embeddings(spark, sf001)
    Dedup.saveBandIndexTable(
      Dedup.buildBandIndex(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"),
      "band_idx_tbl",
      nBuckets = 8
    )
    Dedup.saveClusterIndexTable(
      Dedup.buildClusterIndex(emb.filter(col("vec_id") % 10 < 8), "vec_id", "embedding"),
      "cluster_idx_tbl",
      nBuckets = 8
    )
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // the 100 TB regime: nothing broadcasts
      // static plans: under AQE the executedPlan is an opaque
      // AdaptiveSparkPlanExec LEAF, so a collect over it finds no
      // exchanges at all and the assertion would pass vacuously
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def indexNeverShuffles(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
        val plan = df.queryExecution.executedPlan
        // the property: between the bucketed index scan and the FIRST
        // join above it (the probe), there is no exchange — downstream
        // joins/aggregations above the probe legitimately shuffle
        def pathToBucketScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
          case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => Some(List(p))
          case _ => p.children.view.flatMap(pathToBucketScan).headOption.map(p :: _)
        }
        val path = pathToBucketScan(plan)
        assert(path.isDefined, s"$label: no bucketed index scan in the plan:\n$plan")
        val isJoin = (p: SparkPlan) =>
          p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
        val probeIdx = path.get.lastIndexWhere(isJoin)
        assert(probeIdx >= 0, s"$label: no join consumes the bucketed index scan:\n$plan")
        val betweenProbeAndScan = path.get.drop(probeIdx + 1)
        assert(
          !betweenProbeAndScan.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"$label: the persisted index rode a shuffle between scan and probe join:\n$plan"
        )
      }
      val screened = Dedup.simHashScreen(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", spark.table("band_idx_tbl"))
      indexNeverShuffles(screened, "band index probe")
      val semScreened = Dedup.semDedupScreen(
        emb.filter(col("vec_id") % 10 >= 8), "vec_id", "embedding",
        spark.table("cluster_idx_tbl"), threshold = 0.42)
      indexNeverShuffles(semScreened, "cluster index probe")
      // and the bucketed-table path screens like the exhaustive scan
      val incoming = col("doc_id") % 3 === 0
      assert(sorted(screened) == exhaustiveSimHashScreen(docs, incoming, !incoming, 6))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS band_idx_tbl")
      spark.sql("DROP TABLE IF EXISTS cluster_idx_tbl")
    }
  }

  test("band index schema is the probe contract (band, bv, ex_id, ex_h); cluster index (cluster, ex_id, ex_nv)") {
    val docs = TestTables.documents(spark, sf001).limit(50)
    val emb = TestTables.embeddings(spark, sf001).limit(50)
    assert(
      Dedup.buildBandIndex(docs, "doc_id", "text").columns.sorted.toSeq ==
        Seq("band", "bv", "ex_h", "ex_id")
    )
    assert(
      Dedup.buildClusterIndex(emb, "vec_id", "embedding").columns.sorted.toSeq ==
        Seq("cluster", "ex_id", "ex_nv")
    )
  }

  test("geometry stamps survive persistence and a mismatched screen fails loudly") {
    val docs = TestTables.documents(spark, sf001).limit(200)
    val emb = TestTables.embeddings(spark, sf001).limit(200)
    val batch = docs.filter(col("doc_id") % 3 === 0)

    // band index: built at nBands=5, screened at the default 7 — the
    // (band, bv) keys would be incompatible and recall silently ~0
    val idx5 = roundTrip(
      Dedup.buildBandIndex(docs, "doc_id", "text", nBands = 5),
      "geomband",
      "band"
    )
    val e1 = intercept[IllegalArgumentException] {
      Dedup.simHashScreen(batch, "doc_id", "text", idx5, maxHamming = 4, nBands = 7).collect()
    }
    assert(e1.getMessage.contains("geometry mismatch"))
    // matching geometry still screens fine after the parquet round trip
    assert(
      Dedup.simHashScreen(batch, "doc_id", "text", idx5, maxHamming = 4, nBands = 5).count() > 0
    )

    // cluster index: built under one codebook family, probed under another
    val cidx = roundTrip(
      Dedup.buildClusterIndex(emb, "vec_id", "embedding", nCentroids = 16, seed = 7L),
      "geomcluster",
      "cluster"
    )
    val e2 = intercept[IllegalArgumentException] {
      Dedup
        .semDedupScreen(emb, "vec_id", "embedding", cidx, threshold = 0.42,
          nCentroids = 32, seed = 7L)
        .collect()
    }
    assert(e2.getMessage.contains("geometry mismatch"))
    assert(
      Dedup
        .semDedupScreen(emb, "vec_id", "embedding", cidx, threshold = 0.42,
          nCentroids = 16, seed = 7L)
        .count() > 0
    )
  }

  test("bandSpec: widths cover 56 bits exactly, contiguous, default 7x8 layout preserved") {
    assert(Dedup.bandSpec(7) == Seq((0, 8), (8, 8), (16, 8), (24, 8), (32, 8), (40, 8), (48, 8)))
    assert(Dedup.bandSpec(5) == Seq((0, 12), (12, 11), (23, 11), (34, 11), (45, 11)))
    for (n <- 1 to 14) {
      val spec = Dedup.bandSpec(n)
      assert(spec.map(_._2).sum == 56, s"nBands=$n must cover 56 bits")
      assert(
        spec.sliding(2).forall { case Seq((o1, w1), (o2, _)) => o1 + w1 == o2; case _ => true },
        s"nBands=$n bands must be contiguous"
      )
    }
  }

  test("re-sized band geometry is output-identical to the default within its Hamming budget") {
    val docs = TestTables.documents(spark, sf001)
    // hamming budget 4 is valid under BOTH layouts (7 bands guarantee
    // <=6, 5 bands <=4) — the scaled geometry must find exactly the
    // same near-dups, only through fewer candidates
    val incoming = col("doc_id") % 3 === 0
    val idx7 = Dedup.buildBandIndex(docs.filter(!incoming), "doc_id", "text", nBands = 7)
    val idx5 = Dedup.buildBandIndex(docs.filter(!incoming), "doc_id", "text", nBands = 5)
    val narrow = sorted(Dedup.simHashScreen(docs.filter(incoming), "doc_id", "text", idx7, 4, nBands = 7))
    val wide = sorted(Dedup.simHashScreen(docs.filter(incoming), "doc_id", "text", idx5, 4, nBands = 5))
    assert(narrow == wide)
    assert(wide == exhaustiveSimHashScreen(docs, incoming, !incoming, maxHamming = 4))
    // over-budget hamming for the layout is a hard error, not silent recall loss
    intercept[IllegalArgumentException] {
      Dedup.simHashScreen(docs.filter(incoming), "doc_id", "text", idx5, maxHamming = 5, nBands = 5)
    }
  }

  test("bandedNearDupPairs equals the exhaustive self-join at any valid geometry") {
    import spark.implicits._
    val hashes = TestTables
      .documents(spark, sf001)
      .limit(300)
      .select(col("doc_id"))
      .as[Long]
      .collect()
      .map(id => (id, (id * 2654435761L ^ (id % 13)) & ((1L << 56) - 1)))
      .toSeq
      .toDF("doc_id", "h")
    val exhaustive = hashes
      .as("a")
      .join(hashes.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id1"),
        col("b.doc_id").as("id2"),
        expr("CAST(bit_count(a.h ^ b.h) AS INT)").as("hamming")
      )
      .filter(col("hamming") <= 3)
    for (nBands <- Seq(4, 5, 7)) {
      val banded = Dedup.bandedNearDupPairs(hashes, "doc_id", "h", maxHamming = 3, nBands = nBands)
      assert(sorted(banded) == sorted(exhaustive), s"nBands=$nBands")
    }
  }
}
