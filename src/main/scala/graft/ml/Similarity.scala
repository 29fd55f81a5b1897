package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design (100 TB): queries are broadcast (the query set is
  * small by construction), so the brute-force scan is map-side with a
  * per-query top-k window — one shuffle on query_id of only the
  * SCORED rows. The LSH variant buckets the corpus once (map-side
  * signature), then only same-bucket pairs are scored — the standard
  * recall/throughput trade; bucket skew is bounded because signatures
  * split on `planes` bits.
  */
object Similarity {

  private def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Exact brute-force top-k neighbors for each query vector.
    *
    * @param emb       (idCol, vecCol: array<float|double>)
    * @param queryPred rows satisfying this predicate are the queries
    */
  def cosineTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // degenerate vectors (zero-norm/NaN/Inf/NULL-element) can neither
    // query nor serve: without the drop they'd rank NULL-cos in Spark
    // but NaN-cos-FIRST in a DuckDB mirror — same contract as
    // normalizedVecs, one scan-side kernel walk per row
    val corpus = emb
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("v"))
      .filter(VectorOps.norm2(col("v")).isNotNull)
    val queries = emb
      .filter(queryPred)
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("q"))
      .filter(VectorOps.norm2(col("q")).isNotNull)
    val scored = corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosine(col("q"), col("v")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    * cosine >= threshold. Vectors are L2-normalized ONCE up front so
    * each candidate pair costs a single dot product instead of three.
    *
    * This is the exact O(n^2) baseline — at 100 TB use
    * [[nearDupPairsBlocked]], which restricts candidates to LSH
    * buckets (same recall/throughput trade as MinHash banding).
    */
  def nearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val e = normalizedVecs(emb, idCol, vecCol)
    val a = e.select(col("id").as("a_id"), col("nv").as("va"))
    val b = e.select(col("id").as("b_id"), col("nv").as("vb"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("cos", VectorOps.dot(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
  }

  /** LSH-blocked near-dup pairs: candidates limited to vector pairs
    * sharing a hyperplane-signature bucket (optionally probing 1-bit
    * neighbor buckets). Subset of [[nearDupPairs]] — the scale path.
    */
  def nearDupPairsBlocked(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nPlanes: Int = 8,
      multiprobeBits: Int = 1,
      seed: Long = 42L,
      dim: Int = 64
  ): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val e = normalizedVecs(emb, idCol, vecCol)
      .withColumn("bucket", lshBucket(col("nv"), planes, nativeDot = true))
    val probes = (0 until (if (multiprobeBits >= 1) nPlanes else 0))
      .map(i => col("bucket").bitwiseXOR(shiftleft(lit(1L), i)))
    val a = e.select(
      col("id").as("a_id"),
      col("nv").as("va"),
      explode(array((col("bucket") +: probes): _*)).as("bucket")
    )
    val b = e.select(col("id").as("b_id"), col("nv").as("vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("va"), col("vb"))
      .distinct() // a pair may collide in several probed buckets
      .withColumn("cos", VectorOps.dot(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
  }

  /** Unit-norm deterministic coarse centroids (the IVF codebook). */
  def normalizedCentroids(nCentroids: Int, dim: Int, seed: Long): Array[Array[Double]] =
    hyperplanes(nCentroids, dim, seed).map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }

  /** Spherical k-means codebook FIT on a driver-collected sample — the
    * "fit the centroids offline and broadcast them" path the IVF
    * scaladocs promise, made concrete. The deterministic unit-vector
    * family seeds the iteration; each Lloyd round assigns every sampled
    * unit vector to its max-dot centroid and re-centers (empty
    * clusters keep their previous centroid). Fitted centroids track
    * the data's actual cluster structure, which is what lets a probe
    * count far below the list count keep recall — random codebooks
    * need to probe a large constant fraction of lists for the same
    * recall (measured: 0.4–0.5 recall@5 at 20 % probes unfitted).
    *
    * The sample is id-strided (every ceil(n/sampleN)-th id), so the
    * fit is deterministic for a given corpus regardless of file
    * layout; at 100 TB this is exactly a one-job sample + a driver
    * fit over ≤`sampleN` rows.
    */
  def fitCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 8,
      sampleN: Int = 20000,
      seed: Long = 7L
  ): Array[Array[Double]] = {
    val n = emb.count()
    val stride = math.max(1L, n / math.max(1, sampleN))
    // Sort the collected sample by id on the driver: collect() order
    // follows partition/file layout, and float accumulation order in the
    // re-center step would otherwise leak layout into the fitted codebook.
    val rows = emb
      .filter(col(idCol) % stride === 0)
      .select(col(idCol).cast("long").as("i"), toDouble(col(vecCol)).as("v"))
      // a NULL-element sample row would NPE the driver-side unboxing
      // below, and one NaN/Inf component would silently poison every
      // re-centered centroid it touches — same drop contract as
      // normalizedVecs, applied before the sample leaves the cluster
      .filter(VectorOps.norm2(col("v")).isNotNull)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    require(rows.nonEmpty, "fitCentroids: empty sample")
    val dim = rows.head.length
    val sample = rows.map { v =>
      val nn = math.sqrt(v.map(x => x * x).sum)
      if (nn == 0) v else v.map(_ / nn)
    }
    var centroids = normalizedCentroids(k, dim, seed)
    val assign = new Array[Int](sample.length)
    var it = 0
    while (it < iters) {
      // assignment: parallel over the sample (pure, index-disjoint)
      java.util.stream.IntStream
        .range(0, sample.length)
        .parallel()
        .forEach { i =>
          val v = sample(i)
          var best = 0; var bestDot = Double.NegativeInfinity
          var c = 0
          while (c < k) {
            val cc = centroids(c)
            var d = 0.0; var j = 0
            while (j < dim) { d += v(j) * cc(j); j += 1 }
            if (d > bestDot) { bestDot = d; best = c }
            c += 1
          }
          assign(i) = best
        }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i = 0
      while (i < sample.length) {
        val c = assign(i); val v = sample(i); val s = sums(c)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(c) += 1
        i += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else {
          val s = sums(c)
          val nn = math.sqrt(s.map(x => x * x).sum)
          if (nn == 0) centroids(c) else s.map(_ / nn)
        }
      }
      it += 1
    }
    centroids
  }

  /** Per-embedding nearest-centroid assignment — the list-building
    * step of IVF, exposed so it can be oracle-checked on its own.
    * Ties break toward the higher centroid id (sort_array desc on the
    * (score, id) struct).
    */
  def clusterAssignments(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      seed: Long,
      dim: Int = 64
  ): DataFrame = {
    val centroids = normalizedCentroids(nCentroids, dim, seed)
    val scored = sort_array(
      array(centroids.zipWithIndex.map { case (c, i) =>
        struct(VectorOps.dot(col("nv"), typedlit(c.toSeq)).as("s"), lit(i).as("c"))
      }: _*),
      asc = false
    )
    normalizedVecs(emb, idCol, vecCol)
      .select(col("id").as(idCol), scored.getItem(0).getField("c").as("cluster"))
  }

  /** Struct array of (centroid dot score, centroid id) sorted desc —
    * the coarse-assignment expression shared by [[ivfTopK]] and
    * [[ProductQuantize.ivfPqTopK]]; item 0 is the nearest centroid,
    * a slice of the first nProbe items is the probe set.
    */
  /** Array of (centroid dot score, centroid id) structs — unsorted.
    *
    * Two physically different plans, same floats in the same order:
    *   - small codebooks (≤ 32, the oracle-frozen sizes): unrolled
    *     per-centroid dots — a zip_with-lambda form was measured 6x
    *     SLOWER at sf0.1 because interpreted HOF evaluation per
    *     element costs more than the one-off Janino compile;
    *   - large codebooks (the √n-scaled regime): one HOF over the
    *     literal codebook matrix. Unrolling hundreds of dot
    *     expressions breaks Janino's 64 KB method limit, which
    *     knocks the WHOLE stage out of codegen — measured 448
    *     unrolled centroids at sf10: every consumer stage fell back
    *     to interpreted eval and assignment dominated the query. The
    *     lambda's per-element overhead wraps a compiled native-dot
    *     eval, so it scales where unrolling cannot.
    */
  private[ml] def centroidStructs(vec: Column, centroids: Array[Array[Double]]): Column =
    if (centroids.length <= 32)
      array(centroids.zipWithIndex.map { case (c, i) =>
        struct(VectorOps.dot(vec, typedlit(c.toSeq)).as("s"), lit(i).as("c"))
      }: _*)
    else {
      val cbLit = typedlit(centroids.map(_.toSeq).toSeq)
      val idxLit = typedlit(centroids.indices.toList)
      zip_with(cbLit, idxLit, (cvec, i) => struct(VectorOps.dot(vec, cvec).as("s"), i.as("c")))
    }

  /** Struct array of (centroid dot score, centroid id) sorted desc —
    * item 0 is the nearest centroid, a slice of the first nProbe items
    * is the probe set.
    */
  private[ml] def rankedCentroids(vec: Column, centroids: Array[Array[Double]]): Column =
    sort_array(centroidStructs(vec, centroids), asc = false)

  /** The nearest centroid's (s, c) struct WITHOUT sorting the whole
    * codebook: array_max over the struct array picks the max (s, then
    * c) element — exactly `rankedCentroids(...).getItem(0)` (desc
    * struct sort puts max-s, then max-c-among-ties first) at O(C)
    * instead of O(C log C) per row. The n-sized corpus side of every
    * IVF-family op assigns through this at oracle-frozen codebook
    * sizes; [[assignPairs]] takes over for large codebooks.
    */
  private[ml] def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    array_max(centroidStructs(vec, centroids))

  /** (key -> cluster) assignment pairs for LARGE codebooks: the
    * centroid table broadcasts as ROWS and the scoring cross join runs
    * the codegen'd native dot — Spark evaluates higher-order-function
    * lambdas interpreted, so the zip_with form pays ~1 µs of lambda
    * plumbing per centroid per row, which at √n-scaled codebooks
    * dominates entire queries (measured ~20 s for 200k x 448 at the
    * 100x rehearsal vs ~2 s through this kernel). Only slim
    * (key, score, cluster) rows ever shuffle — vectors never move:
    * top-1 is a map-side-combined max(struct) groupBy, top-R a window
    * over the slim frame; the caller joins the (key, cluster) pairs
    * back (AQE broadcasts them when small).
    *
    * Tie-break identical to [[nearestCentroid]]/[[rankedCentroids]]:
    * max/sort on the (s, c) struct.
    */
  private[ml] def assignPairs(
      e: DataFrame,
      keyCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      topR: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = e.sparkSession
    import spark.implicits._
    val cents = broadcast(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("__cc", "__cvec")
    )
    val scored = e
      .select(col(keyCol), col(vecCol).as("__v"))
      .crossJoin(cents)
      .select(
        col(keyCol),
        struct(VectorOps.dot(col("__v"), col("__cvec")).as("s"), col("__cc").as("c")).as("__sc")
      )
    if (topR == 1)
      scored
        .groupBy(col(keyCol))
        .agg(max(col("__sc")).getField("c").as("cluster"))
    else
      scored
        .withColumn(
          "__rn",
          row_number().over(Window.partitionBy(col(keyCol)).orderBy(col("__sc").desc))
        )
        .filter(col("__rn") <= topR)
        .select(col(keyCol), col("__sc").getField("c").as("cluster"))
  }

  /** Cut-over between the expression assignment (unrolled dots — the
    * oracle-frozen small-codebook plan) and the [[assignPairs]] join
    * kernel. 32 is the unroll limit that keeps Janino under its 64 KB
    * method cap with headroom.
    */
  private[ml] val ExprCodebookMax = 32

  /** The corpus-derived IVF geometry rule the scaled rehearsals
    * measure under (`BENCH_SF10_SCALED.json.rule`): sqrt-n coarse
    * lists (list length ~ sqrt n, so probe cost per query ~
    * nProbe*sqrt n stays sublinear at any corpus size), probing 10 %
    * of the lists — the middle level of the rehearsal's measured
    * recall curve (recall@5 ~0.84 at both 2k and 200k vectors).
    * The registered rule-geometry rows (q_ivf_serve_scaled /
    * q_ivf_pq_serve_scaled) and the rehearsal derive their sizes from
    * here, so the rule has exactly one definition. They share only
    * this sizing rule: the rehearsal's timed rows use a fitted
    * codebook ([[fitCentroids]]) with 3-way corpus multi-assignment,
    * while the registered rows use the deterministic codebook with
    * each vector in one list, the shape their oracles reproduce.
    */
  def ruleGeometry(nVecs: Long): (Int, Int) = {
    val nCentroids = math.max(16, math.ceil(math.sqrt(nVecs.toDouble)).toInt)
    (nCentroids, math.max(4, math.ceil(0.10 * nCentroids).toInt))
  }

  /** The LSH-bucket half of the same rule: nPlanes = max(8, ceil(log2
    * nVecs)), so the 2^nPlanes bucket space tracks the corpus and
    * expected bucket occupancy — with it candidate pairs per bucket —
    * stays O(1) as n grows (a FROZEN plane count gives candidates ~
    * n²/2^planes, §scale-rehearsal notes).
    */
  def rulePlanes(nVecs: Long): Int = {
    // integer-exact ceil(log2 n) via bit length — the float form
    // (ceil(log(n)/log(2))) can land a ulp high at exact powers of
    // two, and the DuckDB oracle restates this same bit-length
    // arithmetic, so both engines agree at every n
    val n = math.max(2L, nVecs)
    math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(n - 1))
  }

  /** Persistable IVF corpus index — the (cluster, neighbor_id, v)
    * inverted lists [[ivfTopK]] derives inline, factored out so a
    * deployment builds them ONCE per corpus generation (persist with
    * [[Dedup.saveClusterIndexTable]]-style bucketing on `cluster`)
    * while query batches pay only the probe joins via
    * [[ivfTopKIndexed]]. The build is the n·R centroid assignment —
    * with √n-scaled codebooks that is the inline path's one
    * superlinear term (n^1.5 dot products), exactly the cost an index
    * amortizes. The `cluster` column carries the same geometry
    * fingerprint discipline as [[Dedup.buildClusterIndex]], so probing
    * with a mismatched codebook fails loudly.
    */
  def buildIvfIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int = 16,
      seed: Long = 7L,
      dim: Int = 64,
      codebook: Option[Array[Array[Double]]] = None,
      corpusReplicas: Int = 1
  ): DataFrame = {
    val centroids = codebook.getOrElse(normalizedCentroids(nCentroids, dim, seed))
    require(codebook.forall(_.length == nCentroids), "codebook size must equal nCentroids")
    require(corpusReplicas >= 1 && corpusReplicas <= nCentroids, "corpusReplicas in [1, nCentroids]")
    val e = normalizedVecs(emb, idCol, vecCol)
    // corpusReplicas > 1: multi-assignment — each corpus vector is
    // indexed under its R nearest lists (R×storage, R×candidates), the
    // standard recall lever when the data's cluster structure is soft
    // and a near neighbor often sits just across a Voronoi boundary
    // from every probed list. 1 keeps the exact single-list plan (the
    // oracle-frozen shape).
    val assigned =
      if (centroids.length > ExprCodebookMax) {
        // large codebook: slim join-kernel assignment, vectors attach
        // by id afterwards (AQE broadcasts the pair frame when small)
        val eM = e.localCheckpoint(false)
        eM.join(assignPairs(eM, "id", "nv", centroids, corpusReplicas), Seq("id"))
          .select(col("id").as("neighbor_id"), col("nv").as("v"), col("cluster"))
      } else if (corpusReplicas == 1)
        e.withColumn("cluster", nearestCentroid(col("nv"), centroids).getField("c"))
          .select(col("id").as("neighbor_id"), col("nv").as("v"), col("cluster"))
      else
        e.withColumn(
          "cluster",
          explode(
            transform(
              slice(rankedCentroids(col("nv"), centroids), 1, corpusReplicas),
              x => x.getField("c")
            )
          )
        ).select(col("id").as("neighbor_id"), col("nv").as("v"), col("cluster"))
    val geom = Dedup.clusterGeomFingerprint(nCentroids, seed, dim, codebook)
    assigned.select(
      // the cluster stamp also records corpusReplicas so the probe
      // side derives its candidate-dedup decision from the index
      // itself (see [[ivfTopKIndexed]])
      col("cluster").as("cluster", Dedup.geomMetadata(geom, corpusReplicas)),
      col("neighbor_id"),
      col("v").as("v", Dedup.geomMetadata(geom))
    )
  }

  /** Probe a prebuilt (typically parquet-persisted) [[buildIvfIndex]]
    * index: query vectors assign to their nProbe nearest lists, join
    * the stored lists, and rank — the corpus never re-assigns. Output
    * contract is [[ivfTopK]]'s (query_id, rank, neighbor_id, cos); a
    * multi-assigned index is candidate-deduped on id pairs before
    * vectors attach, identical to the inline path.
    *
    * Whether the index is multi-assigned is DERIVED from the replica
    * count [[buildIvfIndex]] stamps on the `cluster` column (metadata
    * survives parquet persistence); the `multiAssigned` parameter is
    * only consulted for hand-built index frames that carry no stamp,
    * and an explicit `multiAssigned=true` against a replicas=1 stamp
    * throws rather than being silently ignored
    * ([[Dedup.effectiveMultiAssigned]]).
    * Deriving closes the silent-wrong-results hole where a
    * corpusReplicas>1 index probed with the default flag passed the
    * geometry guard yet skipped candidate dedup, so one neighbor
    * occupied several top-k ranks.
    */
  def ivfTopKIndexed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      index: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 7L,
      dim: Int = 64,
      codebook: Option[Array[Array[Double]]] = None,
      multiAssigned: Boolean = false
  ): DataFrame = {
    Dedup.requireGeometry(
      index,
      Seq("cluster", "v"),
      Dedup.clusterGeomFingerprint(nCentroids, seed, dim, codebook),
      "IVF"
    )
    val effMulti = Dedup.effectiveMultiAssigned(index, "cluster", multiAssigned, "IVF")
    ivfProbe(emb, idCol, vecCol, queryPred, index, k, nCentroids, nProbe, seed, dim,
      codebook, effMulti)
  }

  /** IVF (inverted-file) approximate top-k: the corpus is partitioned
    * into `nCentroids` inverted lists by nearest coarse centroid;
    * each query scores only the lists of its `nProbe` nearest
    * centroids. Centroids are deterministic unit vectors (no k-means
    * fit — at scale you'd fit them offline and broadcast; the
    * assignment/probe machinery is identical).
    *
    * This is the second scale path next to [[annTopK]]'s
    * hyperplane-LSH: IVF bounds work per query to nProbe/nCentroids
    * of the corpus and its lists shard naturally (shuffle on
    * cluster id = the inverted index).
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 7L,
      dim: Int = 64,
      codebook: Option[Array[Array[Double]]] = None,
      corpusReplicas: Int = 1
  ): DataFrame = {
    val index =
      buildIvfIndex(emb, idCol, vecCol, nCentroids, seed, dim, codebook, corpusReplicas)
    ivfProbe(emb, idCol, vecCol, queryPred, index, k, nCentroids, nProbe, seed, dim,
      codebook, multiAssigned = corpusReplicas > 1)
  }

  private def ivfProbe(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      corpus: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      seed: Long,
      dim: Int,
      codebook: Option[Array[Array[Double]]],
      multiAssigned: Boolean
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // None -> the deterministic family (oracle-reproducible); Some ->
    // a fitted codebook ([[fitCentroids]]), the production deployment
    val centroids = codebook.getOrElse(normalizedCentroids(nCentroids, dim, seed))
    require(codebook.forall(_.length == nCentroids), "codebook size must equal nCentroids")
    def ranked(vec: Column): Column = rankedCentroids(vec, centroids)
    val e = normalizedVecs(emb, idCol, vecCol)
    val qBase = emb
      .filter(queryPred)
      .select(col(idCol).as("qid"))
      .join(e.withColumnRenamed("id", "qid"), Seq("qid"))
      .select(col("qid").as("query_id"), col("nv").as("q"))
      .localCheckpoint(false)
    val queries = qBase
      .withColumn(
        "cluster",
        explode(transform(slice(ranked(col("q")), 1, nProbe), x => x.getField("c")))
      )
      .select(col("query_id"), col("q"), col("cluster"))
    val scored =
      if (!multiAssigned)
        corpus
          .join(broadcast(queries), Seq("cluster"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos", VectorOps.dot(col("q"), col("v")))
      else {
        // under multi-assignment a (query, neighbor) pair can meet in
        // several lists — dedupe BEFORE scoring, and dedupe on bare ID
        // PAIRS: a distinct that drags both 64-dim vectors through the
        // shuffle moves ~1 KB per candidate row (measured unrunnable at
        // the 100x rehearsal); 16-byte id pairs first, vectors attached
        // after (the annTopK candidate discipline)
        val cand = corpus
          .select(col("cluster"), col("neighbor_id"))
          .join(broadcast(queries.select(col("query_id"), col("cluster"))), Seq("cluster"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id")
          .distinct()
        cand
          .join(e.select(col("id").as("neighbor_id"), col("nv").as("v")), Seq("neighbor_id"))
          .join(broadcast(qBase), Seq("query_id"))
          .withColumn("cos", VectorOps.dot(col("q"), col("v")))
      }
    // deterministic-margin ranking: quantize the score to 4 decimals
    // BEFORE ranking and break ties by id — sub-ulp cross-engine float
    // summation differences can no longer reorder near-ties, so the
    // exact top-k is engine-stable (hash-checkable against the oracle)
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(round(col("cos"), 4).desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** id + L2-normalized double vector; the norm is materialized as its
    * own column so it is computed once per row, not once per element.
    */
  private[ml] def normalizedVecs(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      // Degenerate vectors have no direction: zero-norm, NaN/Inf
      // component and NULL-element rows (all real failed-embedder
      // classes at corpus scale) leave the index rather than crash the
      // normalize or poison a ranking. The whole contract is the ONE
      // fused VecNorm2 kernel — `norm2(v).isNotNull` — so predicate
      // pushdown duplicates a single cheap walk, not a multi-conjunct
      // norm recompute (codegen CSE does not merge
      // conditionally-evaluated copies). The scale is the fused
      // NULL-safe VecScaleInv kernel: one per-row guard, one codegen'd
      // divide per element.
      .filter(VectorOps.norm2(col("v")).isNotNull)
      .withColumn("nv", VectorOps.scaleInv(col("v"), sqrt(VectorOps.norm2(col("v")))))
      .select("id", "nv")

  /** DuckDB twin of [[graft.functions.VecNorm2]]'s input: the squared
    * norm with NULL elements coalesced to NaN. Coalescing is
    * load-bearing twice over — DuckDB's `list_dot_product` hard-errors
    * on NULL elements (so the raw form could crash under any
    * filter/projection fusion order), and NaN then fails `isfinite`
    * exactly as it fails the kernel's `xx < +Inf`.
    */
  def norm2Sql(v: String): String = {
    val safe = s"list_transform($v, x -> coalesce(x, 'NaN'::DOUBLE))"
    s"list_dot_product($safe, $safe)"
  }

  /** DuckDB twin of the `norm2(v).isNotNull` degenerate-embedding
    * filter: keep a row iff its squared norm is finite and positive.
    * NULL vector → NULL norm (dropped), NULL element → NaN (dropped),
    * NaN/Inf component → NaN/+Inf (dropped), zero vector → 0 (dropped)
    * — the exact row set [[graft.functions.VecNorm2]] keeps.
    */
  def finiteNormWhere(v: String): String = {
    val n2 = norm2Sql(v)
    s"($n2 > 0 AND isfinite($n2))"
  }

  /** Deterministic pseudo-random hyperplanes: component (i, j) is a
    * fixed rational derived from a splitmix-style integer mix of the
    * seed — reproducible across runs/engines without RNG calls.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (i, j) =>
      var z = seed + 0x9e3779b97f4a7c15L * (i.toLong * 10007L + j + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      // map to [-1, 1)
      (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
    }

  /** LSH signature bucket: sign bits of the vector against each plane.
    * `nativeDot` uses the codegen'd vec_dot expression.
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]], nativeDot: Boolean = false): Column = {
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = typedlit(plane.toSeq)
      val dot =
        if (nativeDot) VectorOps.dot(vec, planeCol)
        else aggregate(zip_with(vec, planeCol, (x, p) => x * p), lit(0.0), (a, v) => a + v)
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k: candidates restricted to the query's LSH
    * bucket (plus optional multiprobe over 1-bit flips).
    */
  def annTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      k: Int,
      nPlanes: Int = 12,
      multiprobeBits: Int = 1,
      seed: Long = 42L,
      dim: Int = -1
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dim <= 0: infer from the data (one-row metadata read, not a scan).
    // Empty corpus -> no rows to infer from AND no possible neighbors:
    // return the empty result with the contract schema instead of
    // crashing the serve path on first().
    val inferred =
      if (dim > 0) Some(dim)
      else emb.select(size(col(vecCol))).limit(1).collect().headOption.map(_.getInt(0))
    val d = inferred.getOrElse {
      return emb
        .select(
          col(idCol).as("query_id"),
          lit(1).as("rank"),
          col(idCol).as("neighbor_id"),
          lit(0.0).as("cos")
        )
        .limit(0)
    }
    val planes = hyperplanes(nPlanes, d, seed)
    // same degenerate-vector drop as cosineTopK/normalizedVecs: a NaN
    // vector would otherwise bucket (sign bits defined) and then score
    // NULL here but NaN-first in an unguarded mirror
    val withBucket = emb
      .select(
        col(idCol),
        toDouble(col(vecCol)).as("v"),
        lshBucket(toDouble(col(vecCol)), planes, nativeDot = true).as("bucket")
      )
      .filter(VectorOps.norm2(col("v")).isNotNull)
    val corpus = withBucket.select(col(idCol).as("neighbor_id"), col("v"), col("bucket"))
    // multiprobe: query also probes buckets at Hamming distance 1
    val probes = (0 until (if (multiprobeBits >= 1) nPlanes else 0))
      .map(i => col("bucket").bitwiseXOR(shiftleft(lit(1L), i)))
    val queryBuckets = withBucket
      .filter(queryPred)
      .select(
        col(idCol).as("query_id"),
        explode(array((col("bucket") +: probes): _*)).as("bucket")
      )
    // dedupe candidate IDs first (a neighbor is reachable via several
    // probes), THEN attach vectors and score once per pair — the
    // shuffle moves 16-byte id pairs, not scored vectors
    val candidates = corpus
      .select(col("neighbor_id"), col("bucket"))
      .join(queryBuckets, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val queryVecs = withBucket.filter(queryPred).select(col(idCol).as("query_id"), col("v").as("q"))
    val scored = candidates
      .join(broadcast(queryVecs), Seq("query_id"))
      .join(corpus.select(col("neighbor_id"), col("v")), Seq("neighbor_id"))
      .withColumn("cos", VectorOps.cosine(col("q"), col("v")))
      .select("query_id", "neighbor_id", "cos")
    // deterministic-margin ranking (see ivfTopK): rank on the
    // 4-decimal quantized score with id tie-break so the top-k set
    // and order are engine-stable
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(round(col("cos"), 4).desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }
}
