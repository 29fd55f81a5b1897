package graft

import graft.ml.{Dedup, Multimodal, ProductQuantize, Similarity}
import graft.tables.TestTables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Scaled-geometry rehearsal for the screening/ANN family — the rows
  * the per-round bench EXCLUDES at 100x the gate SF because their
  * oracle SQL freezes index geometry as literals (2^12 LSH buckets,
  * 16 IVF lists, 7x8-bit bands). The library parameterizes all of it;
  * this main MEASURES the parameterized path with geometry derived
  * from the corpus size, at the gate SF and at a rehearsal SF, so the
  * 100x claim is measured instead of argued.
  *
  * Geometry rules (applied identically at every SF, from corpus
  * counts — never frozen):
  *   - LSH hyperplanes:  nPlanes    = max(8, ceil(log2 nVecs))
  *     (bucket space 2^nPlanes >= corpus, so expected bucket
  *     occupancy — and with it candidate pairs per bucket — stays
  *     O(1) as n grows)
  *   - IVF coarse lists: nCentroids = max(16, ceil(sqrt nVecs))
  *     (list length ~ sqrt n, probe cost per query ~ nProbe*sqrt n —
  *     sublinear per query at any scale)
  *   - IVF probe count:  Similarity.ruleGeometry's 10 % of lists —
  *     the SAME single source as the registered q_ivf_serve_scaled
  *     twins; a recall curve at 5%/10%/20% is still measured as the
  *     acceptance criterion and the level it would choose ships in
  *     the artifact next to the rule's, so the two cannot silently
  *     diverge
  *   - SimHash/dHash bands: 7x8-bit (Hamming budget 6) while a band
  *     bucket space of 2^8 covers the corpus; past ~50k docs, 5 bands
  *     of 12/11 bits (budget 4) — the pigeonhole-max band width at
  *     that budget. Banding stays recall-COMPLETE within its budget,
  *     verified here against exhaustive Hamming on a sample.
  *
  * Run:  SPARK_GRAFT_SF_DIR=/tmp/sf10 SPARK_GRAFT_BASE_SF_DIR=/root/testdata/sf0.1 \
  *         sbt "runMain graft.BenchScaled"
  * Output: one JSON line + BENCH_SF10_SCALED.json (rewritten after
  * every measurement, crash-safe like Bench).
  */
object BenchScaled {

  final case class Geometry(
      nDocs: Long,
      nVecs: Long,
      nPlanes: Int,
      nCentroids: Int,
      probeLevels: Seq[Int],
      nBands: Int,
      maxHamming: Int
  )

  def geometry(nDocs: Long, nVecs: Long): Geometry = {
    // single source for the IVF rule: Similarity.ruleGeometry (also
    // behind the registered q_ivf_serve_scaled rows)
    val nCentroids = Similarity.ruleGeometry(nVecs)._1
    val probes = Seq(0.05, 0.10, 0.20)
      .map(f => math.max(4, math.ceil(f * nCentroids).toInt))
      .distinct
    val nBands = if (nDocs <= 50000) 7 else 5
    Geometry(
      nDocs = nDocs,
      nVecs = nVecs,
      nPlanes = Similarity.rulePlanes(nVecs),
      nCentroids = nCentroids,
      probeLevels = probes,
      nBands = nBands,
      // the rehearsal compares SFs at the SAME screen threshold — the
      // 5-band pigeonhole limit — so base and scaled rows answer the
      // same question at both geometries
      maxHamming = 4
    )
  }

  // ---- rehearsal image fixture ------------------------------------
  // q_image_neardup's registered fixture repeats content mod 97, so at
  // 100x the TRUE pair count is quadratic (a data artifact, not an
  // engine shape). The rehearsal fixture scales the group count with
  // the corpus (~50 images per content group at any SF) so output
  // stays linear and the measurement isolates the banded-join shape.
  //
  // Pixels are a splitmix64 mix (ScaleUp.mix64) of the FULL (group, x, y) key: dHash
  // compares neighboring pixels, so any structure shared between
  // groups (a `(x*y*(g+3)) % 97` pixel term collapses for groups
  // equal mod 97, and a `g*37` term is a constant brightness shift
  // dHash is invariant to) makes cross-group images
  // hash-identical and inflates output ~13x past the designed
  // C(50,2)*groups. Per-(g,x,y) mixing gives each group an
  // independent ~uniform 56-bit dHash: expected cross-group
  // collisions within Hamming 4 are C(groups,2) * 4e5/2^56 ~ 1e-4 at
  // 10k groups — structurally zero.
  private def rehearsalImages(s: SparkSession, d: String, nDocs: Long): DataFrame = {
    val groups = math.max(97L, nDocs / 50L)
    val ids = TestTables.documents(s, d).select(col("doc_id").cast("long"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, media BINARY")
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    ids.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val png = graft.ml.MediaCodecs.encodeImage(
          9,
          7,
          (x, y) => {
            val g = id % groups
            // one-pixel perturbation flips at most 2 of the 56 dHash
            // bits, keeping every intra-group pair within budget 4
            val pert = if (x == 4 && y == 3 && id % 2 == 1) 60 else 0
            val v = (((ScaleUp.mix64(g * 63L + y * 9L + x) & 0xffL) + pert) % 256).toInt
            (v << 16) | (v << 8) | v
          }
        )
        Row(id, png)
      }
    }
  }

  // ---- the scaled query family ------------------------------------

  private def scaledQueries(
      s: SparkSession,
      d: String,
      g: Geometry,
      ivfProbe: Int,
      codebook: Array[Array[Double]],
      annQueryMod: Long,
      ivfIndex: DataFrame,
      ivfPqIndex: DataFrame
  ): Seq[(String, () => Long)] = {
    def docs = TestTables.documents(s, d)
    def emb = TestTables.embeddings(s, d)
    val cb = Some(codebook)
    // the incremental screens: the incoming slice probes an index
    // built over the rest, at the rule's geometry
    def simHashScreened(incoming: Column): Long = {
      val idx = Dedup.buildBandIndex(docs.filter(!incoming), "doc_id", "text", nBands = g.nBands)
      Dedup
        .simHashScreen(
          docs.filter(incoming), "doc_id", "text", idx,
          maxHamming = g.maxHamming, nBands = g.nBands)
        .count()
    }
    def semDedupScreened(incoming: Column): Long = {
      val idx = Dedup.buildClusterIndex(
        emb.filter(!incoming), "vec_id", "embedding", nCentroids = g.nCentroids, codebook = cb)
      Dedup
        .semDedupScreen(
          emb.filter(incoming), "vec_id", "embedding", idx,
          threshold = 0.42, nCentroids = g.nCentroids, codebook = cb)
        .count()
    }
    Seq(
      "q_embed_neardup_blocked" -> (() =>
        Similarity
          .nearDupPairsBlocked(emb, "vec_id", "embedding", threshold = 0.35, nPlanes = g.nPlanes)
          .count()),
      "q_semdedup" -> (() =>
        Dedup
          .semDedup(emb, "vec_id", "embedding", threshold = 0.42, nCentroids = g.nCentroids, codebook = cb)
          .count()),
      "q_semdedup_incr" -> (() => semDedupScreened(col("vec_id") % 10 < 2)),
      "q_semdedup_screen" -> (() => semDedupScreened(col("vec_id") % 10 >= 8)),
      // ANN rows hold the QUERY WORKLOAD CONSTANT across SFs (~200
      // queries at any corpus size): a deployment doesn't issue more
      // queries because the corpus grew, and scaling both at once
      // conflates corpus growth with workload growth (a x39.8 ratio
      // once measured 20 base queries vs 2000 scaled ones). The
      // scaled/base ratio below therefore isolates corpus growth; per-query
      // throughput is reported separately as queries/sec.
      "q_ivf_ann" -> (() =>
        Similarity
          .ivfTopK(
            emb, "vec_id", "embedding",
            queryPred = col("vec_id") % annQueryMod === 0,
            k = 5, nCentroids = g.nCentroids, nProbe = ivfProbe, codebook = cb,
            corpusReplicas = 3)
          .count()),
      // the deployment split: q_ivf_ann times the INLINE path (index
      // re-derived per batch — its n·√n corpus assignment is the one
      // superlinear term), q_ivf_ann_serve times the same 200 queries
      // against the parquet-persisted index built once per leg — the
      // "build offline, serve queries" shape a real corpus runs
      "q_ivf_ann_serve" -> (() =>
        Similarity
          .ivfTopKIndexed(
            emb, "vec_id", "embedding",
            queryPred = col("vec_id") % annQueryMod === 0,
            index = ivfIndex,
            k = 5, nCentroids = g.nCentroids, nProbe = ivfProbe, codebook = cb,
            multiAssigned = true)
          .count()),
      "q_ivf_pq_ann" -> (() =>
        ProductQuantize
          .ivfPqTopK(
            emb, "vec_id", "embedding",
            queryPred = col("vec_id") % annQueryMod === 0,
            kNN = 5, m = 8, k = 16, pqSeed = 11L,
            nCentroids = g.nCentroids, nProbe = ivfProbe, coarseCodebook = cb,
            corpusReplicas = 3)
          .count()),
      "q_ivf_pq_ann_serve" -> (() =>
        ProductQuantize
          .ivfPqTopKIndexed(
            emb, "vec_id", "embedding",
            queryPred = col("vec_id") % annQueryMod === 0,
            index = ivfPqIndex,
            kNN = 5, m = 8, k = 16, pqSeed = 11L,
            nCentroids = g.nCentroids, nProbe = ivfProbe, coarseCodebook = cb,
            multiAssigned = true)
          .count()),
      "q_simhash_screen" -> (() => simHashScreened(col("doc_id") % 3 === 1)),
      "q_incremental_dedup" -> (() => simHashScreened(col("doc_id") % 3 === 0)),
      "q_stream_screen" -> (() => streamScreenScaled(s, d, g)),
      "q_image_neardup" -> (() => {
        val h = Multimodal
          .imageDHashes(rehearsalImages(s, d, g.nDocs), "doc_id", "media")
          .filter(col("dhash").isNotNull)
          .localCheckpoint(false)
        Dedup.bandedNearDupPairs(h, "doc_id", "dhash", maxHamming = 4, nBands = 5).count()
      })
    )
  }

  /** The streaming band-screen twin at scaled geometry: persisted
    * parquet band index, two AvailableNow drains with a re-crawl in
    * drain 2 — q_stream_screen's exact shape with (nBands, maxHamming)
    * from the rule.
    */
  private def streamScreenScaled(s: SparkSession, d: String, g: Geometry): Long = {
    val docs = TestTables.documents(s, d)
    val base = graft.TempRoots.newDir("graft-scaled-stream").toString
    val idxDir = s"$base/idx"; val src = s"$base/src"
    val cp = s"$base/cp"; val sink = s"$base/sink"
    Dedup
      .buildBandIndex(docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text", nBands = g.nBands)
      .write
      .parquet(idxDir)
    val persisted = s.read.parquet(idxDir)
    val incoming = Dedup
      .simHash(docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
      .localCheckpoint(false)
    val maxRow = incoming.agg(max(col("doc_id"))).head()
    require(!maxRow.isNullAt(0), s"scaled stream screen: no incoming docs under $d")
    val midVal = maxRow.getLong(0) / 2
    new java.io.File(src).mkdirs()
    // q_stream_screen's shape: ONE AvailableNow run, three
    // pre-landed file batches as sequential micro-batches via
    // maxFilesPerTrigger — the re-crawl still arrives after the first
    // copy, so state suppression is exercised without a second query
    // startup (output is arrival-order-robust: re-crawl rows are
    // byte-identical to batch 1, the halves are id-disjoint)
    def drain(): Unit = {
      val q = graft.streaming.StreamingIngest
        .screenAgainstBandIndex(
          s.readStream
            .schema("doc_id LONG, simhash LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
          persisted,
          maxHamming = g.maxHamming,
          nBands = g.nBands
        )
        .writeStream
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(1200000), "scaled stream drain did not terminate")
    }
    incoming.filter(col("doc_id") <= midVal).coalesce(1).write.mode("append").parquet(src)
    incoming.filter(col("doc_id") > midVal).coalesce(1).write.mode("append").parquet(src)
    incoming.filter(col("doc_id") <= midVal).coalesce(1).write.mode("append").parquet(src)
    drain()
    val n = s.read.parquet(sink).count()
    TempRoots.rmTree(base)
    n
  }

  // ---- recall measurements ----------------------------------------

  /** recall@5 of ivfTopK against sampled brute truth, one row per
    * probe level: (nProbe, recall, wall seconds). The sample modulus
    * keeps ~20 queries at any SF — recall is estimated on a sample,
    * the production acceptance shape (q_ann_recall).
    */
  private def ivfRecallCurve(
      s: SparkSession,
      d: String,
      g: Geometry,
      codebook: Array[Array[Double]]
  ): Seq[(Int, Double, Double)] = {
    val e = TestTables.embeddings(s, d)
    val sampleMod = math.max(100L, g.nVecs / 20L)
    val pred = col("vec_id") % sampleMod === 0
    val brute = Similarity
      .cosineTopK(e, "vec_id", "embedding", queryPred = pred, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val nTruth = brute.count().toDouble
    g.probeLevels.map { p =>
      def run() = Similarity
        .ivfTopK(e, "vec_id", "embedding", queryPred = pred, k = 5,
          nCentroids = g.nCentroids, nProbe = p, codebook = Some(codebook),
          corpusReplicas = 3)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
      // untimed warm-up per level (mirrors Bench.timeQuery): without it
      // the FIRST level absorbs JIT/scan warm-up (a base curve once
      // read 13.1 s at nProbe 4 vs 0.9 s at 9) and levels aren't
      // comparable; min-of-2 then damps the residual cross-level
      // JIT drift a single warm-up leaves behind
      run().unpersist(blocking = false)
      val timed = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ann = run()
        val secs = (System.nanoTime() - t0) / 1e9
        (ann, secs)
      }
      val ann = timed.head._1
      val secs = timed.map(_._2).min
      // each run() localCheckpoints its result; the second run's frame
      // is only timed, never read — unpersist it so checkpoint blocks
      // don't accumulate across probe levels and legs
      timed.tail.foreach(_._1.unpersist(blocking = false))
      val hits = brute.join(ann, Seq("query_id", "neighbor_id")).count().toDouble
      (p, if (nTruth == 0) 1.0 else hits / nTruth, secs)
    }
  }

  /** Pair recall of the LSH-blocked near-dup path in the PLANTED-dup
    * regime (the MlSpec acceptance shape): every sampled vector gets a
    * deterministic ±2 % elementwise-perturbed twin (cosine ~0.9996 —
    * genuine near-duplicate territory, where hyperplane LSH is
    * designed to operate; at loose thresholds like the fixture's 0.35
    * single-table LSH is the wrong tool by construction and the
    * brute/blocked split exists for exactly that reason). Recall =
    * planted pairs the blocked path finds at threshold 0.95.
    */
  private def blockedPairRecall(s: SparkSession, d: String, g: Geometry): (Double, Long) = {
    val e = TestTables.embeddings(s, d)
    val sampleMod = math.max(1L, g.nVecs / 2000L)
    val sample = e
      .filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val offset = g.nVecs * 10L
    val twins = sample.select(
      (col("vec_id") + offset).as("vec_id"),
      transform(
        col("embedding"),
        (x, i) => x * (lit(1.0) + lit(0.02) * ((i % 5) - lit(2)) / lit(2.0))
      ).cast("array<float>").as("embedding")
    )
    val planted = sample.select(col("vec_id").as("a_id"), (col("vec_id") + offset).as("b_id"))
    val nTruth = sample.count()
    val blocked = Similarity
      .nearDupPairsBlocked(
        sample.unionByName(twins), "vec_id", "embedding",
        threshold = 0.95, nPlanes = g.nPlanes)
      .select(col("a_id"), col("b_id"))
    val hits = planted.join(blocked, Seq("a_id", "b_id")).count()
    (if (nTruth == 0) 1.0 else hits.toDouble / nTruth, nTruth)
  }

  /** Sampled proof that the re-sized banding stays recall-complete:
    * exhaustive Hamming<=budget screen of a sampled incoming slice vs
    * the banded screen's answer for the same docs — must match 1:1
    * (pigeonhole guarantee, measured not argued).
    */
  private def bandScreenRecall(s: SparkSession, d: String, g: Geometry): Double = {
    val docs = TestTables.documents(s, d)
    val sims = Dedup.simHash(docs, "doc_id", "text").localCheckpoint(true)
    val sampleMod = math.max(300L, g.nDocs / 100L)
    val inc = sims.filter(col("doc_id") % 3 === 1 && col("doc_id") % sampleMod === 1)
    val ex = sims.filter(col("doc_id") % 3 =!= 1)
    val truth = inc
      .select(col("doc_id").as("in_id"), col("simhash").as("in_h"))
      .crossJoin(ex.select(col("simhash").as("ex_h")))
      .filter(bit_count(col("in_h").bitwiseXOR(col("ex_h"))) <= g.maxHamming)
      .select("in_id")
      .distinct()
    val nTruth = truth.count()
    val idx = Dedup.buildBandIndex(docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text", g.nBands)
    val screened = Dedup
      .simHashScreen(
        docs.filter(col("doc_id") % 3 === 1 && col("doc_id") % sampleMod === 1),
        "doc_id", "text", idx, maxHamming = g.maxHamming, nBands = g.nBands)
      .filter(col("is_dup"))
      .select(col("doc_id").as("in_id"))
    val hits = truth.join(screened, Seq("in_id")).count()
    if (nTruth == 0) 1.0 else hits.toDouble / nTruth
  }

  // ---- harness ----------------------------------------------------

  private def fmt(d: Double): String = f"$d%.3f"

  /** Timed repetitions per row, after one untimed warm-up. */
  private val Reps = 2

  def main(args: Array[String]): Unit = Bench.reportingFailure("BENCH-SCALED")(run())

  private def run(): Unit = {
    val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/bench-tmp/sf10")
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_BASE_SF_DIR", "/root/testdata/sf0.1")
    // a filled disk kills a rehearsal undiagnosed: refuse to start
    // without headroom for shuffle spill + checkpoints
    val freeGb = TempRoots.freeBytes / (1L << 30)
    require(freeGb >= 15, s"scaled rehearsal needs >=15 GB free, have $freeGb GB")
    val spark = Session.local(Session.cores)

    val out = new scala.collection.mutable.LinkedHashMap[String, String]()
    def flush(): Unit = {
      val json =
        "{" + out.map { case (k, v) => s""""$k": $v""" }.mkString(", ") + "}"
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SF10_SCALED.json"),
        json.getBytes("UTF-8")
      )
    }
    def jstr(s: String) = "\"" + s + "\""

    out("metric") = jstr("scaled_geometry_rehearsal")
    out("rule") = jstr(
      "nPlanes=max(8,ceil(log2 nVecs)); nCentroids=max(16,ceil(sqrt nVecs)); " +
        "nProbe=Similarity.ruleGeometry's 10% of lists — single-sourced with the registered " +
        "q_ivf_serve_scaled twins; the {5%,10%,20%} recall@5 curve is REPORTED as the acceptance " +
        "measurement and ivf_probe_curve_choice records the level it would pick, so a divergence " +
        "between the rule and the curve is visible in-artifact instead of silently re-sizing the " +
        "timed rows; fitted codebook, corpus multi-assignment R=3; " +
        "bands=7x8bit(<=50k docs) else 5x12/11bit; screen Hamming budget 4 at both SFs"
    )
    out("ann_criterion") = jstr(
      "ANN rows run a CONSTANT ~200-query workload at every SF (a deployment's query " +
        "rate does not scale with its corpus). The bar: q_ivf_ann_serve — the 200 queries " +
        "against the parquet-persisted IVF index, the production serving shape — stays " +
        "<=30x wall for 100x corpus at the recall@5>=0.8 probe level. q_ivf_ann (inline) " +
        "additionally re-derives the index per batch; its n*sqrt(n) corpus assignment is " +
        "a per-corpus-generation BUILD cost (reported as ivf_index_build_sec), not a " +
        "per-query cost, so the inline ratio is reported but not barred."
    )

    val legs = Seq("base" -> baseDir, "scaled" -> scaledDir).map { case (leg, dir) =>
      val nDocs = TestTables.documents(spark, dir).count()
      val nVecs = TestTables.embeddings(spark, dir).count()
      val g = geometry(nDocs, nVecs)
      // ~200 ANN queries at ANY corpus size (constant workload across
      // SFs; see scaledQueries)
      val annQueryMod = math.max(1L, nVecs / 200L)
      val nAnnQueries = TestTables
        .embeddings(spark, dir)
        .filter(col("vec_id") % annQueryMod === 0)
        .count()
      out(s"${leg}_geometry") = s"""{"dir": ${jstr(dir)}, "n_docs": $nDocs, "n_vecs": $nVecs, """ +
        s""""n_planes": ${g.nPlanes}, "n_centroids": ${g.nCentroids}, """ +
        s""""probe_levels": [${g.probeLevels.mkString(", ")}], "n_bands": ${g.nBands}, """ +
        s""""max_hamming": ${g.maxHamming}, "n_ann_queries": $nAnnQueries}"""
      flush()

      // fit the coarse codebook ONCE per corpus (the production
      // "fit offline, broadcast" step) — timed and recorded
      val tFit0 = System.nanoTime()
      val codebook = Similarity.fitCentroids(
        TestTables.embeddings(spark, dir), "vec_id", "embedding", g.nCentroids)
      out(s"${leg}_codebook_fit_sec") = fmt((System.nanoTime() - tFit0) / 1e9)

      // the timed IVF rows run at the RULE's probe count (10 % of
      // lists — Similarity.ruleGeometry, the same single source the
      // registered twins use); the recall curve is the acceptance
      // measurement, and the level it WOULD pick ships next to the
      // rule's so the two can never silently diverge
      val ruleProbe = Similarity.ruleGeometry(nVecs)._2
      val curve = ivfRecallCurve(spark, dir, g, codebook)
      out(s"${leg}_ivf_recall_curve") = curve
        .map { case (p, r, s0) => s"""{"n_probe": $p, "recall_at_5": ${fmt(r)}, "sec": ${fmt(s0)}}""" }
        .mkString("[", ", ", "]")
      val curveChoice = curve.find(_._2 >= 0.8).map(_._1).getOrElse(curve.last._1)
      out(s"${leg}_ivf_probe_used") = ruleProbe.toString
      out(s"${leg}_ivf_probe_curve_choice") = curveChoice.toString
      if (curveChoice != ruleProbe)
        out(s"${leg}_ivf_probe_note") = jstr(
          s"rule probe $ruleProbe differs from the smallest recall@5>=0.8 curve level $curveChoice; " +
            "timed rows use the rule — read the curve row for the recall the rule delivers"
        )
      val (pr, nTruthPairs) = blockedPairRecall(spark, dir, g)
      out(s"${leg}_blocked_pair_recall") = s"""{"recall": ${fmt(pr)}, "n_truth_pairs": $nTruthPairs}"""
      val br = bandScreenRecall(spark, dir, g)
      out(s"${leg}_band_screen_recall") = fmt(br)
      flush()

      // one-time IVF index build (timed separately — the cost a
      // deployment pays per corpus generation, not per query batch),
      // persisted so the serve row probes stored lists
      val ivfIdxDir = TempRoots.newDir("graft-ivfidx").toString
      val tIdx0 = System.nanoTime()
      Similarity
        .buildIvfIndex(
          TestTables.embeddings(spark, dir), "vec_id", "embedding",
          g.nCentroids, codebook = Some(codebook), corpusReplicas = 3)
        .write
        .mode("overwrite")
        .parquet(ivfIdxDir)
      out(s"${leg}_ivf_index_build_sec") = fmt((System.nanoTime() - tIdx0) / 1e9)
      val ivfIndex = spark.read.parquet(ivfIdxDir)
      val pqIdxDir = TempRoots.newDir("graft-ivfpqidx").toString
      val tPq0 = System.nanoTime()
      ProductQuantize
        .buildIvfPqIndex(
          TestTables.embeddings(spark, dir), "vec_id", "embedding",
          nCentroids = g.nCentroids, coarseCodebook = Some(codebook), corpusReplicas = 3)
        .write
        .mode("overwrite")
        .parquet(pqIdxDir)
      out(s"${leg}_ivfpq_index_build_sec") = fmt((System.nanoTime() - tPq0) / 1e9)
      val ivfPqIndex = spark.read.parquet(pqIdxDir)
      flush()

      // Bench.timeQuery's discipline at both legs: one untimed
      // warm-up then median of reps. Single-shot timings made the
      // BASE leg (0.3-1 s rows) swing with JIT/session state, and a
      // deflated denominator inflates the scaled/base ratio more than
      // any real scaling effect (a clean rerun measured
      // q_semdedup_incr base 2.78 s -> 0.57 s on identical code).
      val times = scala.collection.mutable.LinkedHashMap[String, (Double, Long)]()
      scaledQueries(spark, dir, g, ruleProbe, codebook, annQueryMod, ivfIndex, ivfPqIndex)
        .foreach {
        case (name, run) =>
          Bench.resetSession(spark)
          run() // untimed warm-up
          val (timings, ns) = (1 to Reps).map { _ =>
            val t0 = System.nanoTime()
            val n = run()
            ((System.nanoTime() - t0) / 1e9, n)
          }.unzip
          val secs = timings.sorted.apply((timings.size - 1) / 2)
          times(name) = (secs, ns.head)
          System.err.println(s"[bench-scaled:$leg] $name ${fmt(secs)}s rows=${ns.head}")
          out(s"${leg}_queries") = times
            .map { case (q, (s0, r)) => s""""$q": {"sec": ${fmt(s0)}, "rows": $r}""" }
            .mkString("{", ", ", "}")
          flush()
      }
      // per-query ANN throughput at this SF: the deployment-facing
      // number the corpus-growth ratio alone doesn't show
      Seq("q_ivf_ann", "q_ivf_ann_serve", "q_ivf_pq_ann", "q_ivf_pq_ann_serve").foreach { q =>
        times.get(q).foreach { case (secs, _) =>
          out(s"${leg}_${q}_queries_per_sec") = fmt(nAnnQueries / math.max(secs, 1e-9))
        }
      }
      flush()
      leg -> times
    }

    val baseTimes = legs.head._2
    val scaledTimes = legs.last._2
    val dataRatio = {
      val bd = TestTables.documents(spark, baseDir).count().toDouble
      val sd = TestTables.documents(spark, scaledDir).count().toDouble
      sd / math.max(bd, 1.0)
    }
    out("data_ratio") = fmt(dataRatio)
    val ratios = baseTimes.keys.map { q =>
      val r = scaledTimes(q)._1 / math.max(baseTimes(q)._1, 1e-9)
      q -> r
    }.toSeq
    out("ratios") = ratios
      .map { case (q, r) => s""""$q": ${fmt(r)}""" }
      .mkString("{", ", ", "}")
    // per-unit factor = wall ratio / data ratio: < 1 means the cost
    // per unit of data FELL at scale — the sublinearity claim itself,
    // immune to the small-denominator distortion a sub-second base row
    // puts on the raw ratio
    out("per_unit_factors") = ratios
      .map { case (q, r) => s""""$q": ${fmt(r / dataRatio)}""" }
      .mkString("{", ", ", "}")
    out("max_ratio") = fmt(ratios.map(_._2).max)
    // the inline ANN rows re-derive the index per batch — their
    // n*sqrt(n) corpus-assignment term is a per-corpus-generation
    // BUILD cost that ann_criterion explicitly reports-but-does-not-bar,
    // so exclude them from the per-unit forall (the serve rows, the
    // production shape, stay barred)
    val inlineAnn = Set("q_ivf_ann", "q_ivf_pq_ann")
    out("scale_criterion") = "\"every row's per-unit factor < 1 (sublinear in data), " +
      "excluding the inline-ANN build rows q_ivf_ann/q_ivf_pq_ann per ann_criterion; " +
      "q_ivf_ann_serve additionally <= 30x wall for the constant 200-query workload\""
    out("criterion_met") = String.valueOf(
      ratios.filterNot(r => inlineAnn(r._1)).forall(_._2 < dataRatio) &&
        ratios.find(_._1 == "q_ivf_ann_serve").forall(_._2 <= 30.0)
    )
    // the excluded build rows' per-unit factors, emitted on their own
    // so a regression in the inline-ANN build path stays
    // machine-visible even though criterion_met doesn't bar it (an
    // exemption without its own number is a blind spot)
    out("inline_ann_build_per_unit") = ratios
      .filter(r => inlineAnn(r._1))
      .map { case (q, r) => s""""$q": ${fmt(r / dataRatio)}""" }
      .mkString("{", ", ", "}")
    flush()
    // the one machine-readable line the driver tail keeps
    println(
      s"""{"metric":"scaled_geometry_rehearsal","max_ratio":${fmt(ratios.map(_._2).max)},""" +
        s""""n_queries":${ratios.size},"artifact":"BENCH_SF10_SCALED.json"}"""
    )
    spark.stop()
  }
}
