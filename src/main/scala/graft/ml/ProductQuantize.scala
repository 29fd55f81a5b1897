package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** IVF-PQ: product quantization over the embedding corpus plus an
  * inverted-file coarse layer — the standard billion-scale ANN
  * storage/serving layout (FAISS-style), re-expressed as Spark
  * dataframe plans.
  *
  * The 64-dim unit vector is split into `m` = 8 subvectors of 8 dims;
  * each subvector is encoded as its nearest centroid (squared-L2) in
  * a per-subspace codebook of `k` = 16 entries, and the 8 4-bit codes
  * pack into ONE 32-bit word stored in a BIGINT. The serving scan then
  * carries 8 bytes + a coarse cluster id per vector instead of a
  * 256-byte float array — a 100 TB embedding corpus becomes ~3 TB of
  * codes, and ADC scoring (per-query lookup tables over the codebook)
  * never touches the original vectors.
  *
  * Scale shape mirrors [[Similarity.ivfTopK]]: corpus coarse-assigned
  * once (map-side), queries broadcast with their nProbe probe lists,
  * the cluster equi-join bounds candidates to nProbe/nCentroids of the
  * corpus, and only (query_id, neighbor_id, adc) rows reach the top-k
  * window (WindowGroupLimit). Re-ranking survivors against exact
  * vectors is a second broadcast join the caller can add; the oracle
  * checks the ADC ranking itself.
  *
  * Determinism (the DuckDB-oracle contract): codebooks are
  * deterministic pseudo-random (splitmix mix, no RNG state), inlined
  * as literals in BOTH engines; the assignment surrogate is
  * `c·c − 2·(sub·c)` with `c·c` precomputed in Scala and inlined, so
  * every float op is a literal, a sequential dot product
  * (vec_dot ≡ list_dot_product), one multiply and one subtract —
  * bit-identical cross-engine, making the packed code word
  * hash-comparable with no rounding discipline.
  *
  * Reference behavior being scaled: the corpus-dedup/similarity needs
  * of a training-data pipeline (SURVEY §2 LLM-ops block); the
  * reference itself has no ANN — this is part of the
  * beyond-the-reference operator set.
  */
object ProductQuantize {

  /** Deterministic per-subspace codebooks: entry (j, c) is a
    * pseudo-random direction scaled to norm 1/sqrt(m) — the expected
    * subvector norm of a unit vector — so centroids live where the
    * data lives and reconstruction error is meaningful.
    */
  def codebooks(m: Int, k: Int, subDim: Int, seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(m) { j =>
      Similarity.hyperplanes(k, subDim, seed + 1000L * j).map { raw =>
        val scale = math.sqrt(raw.map(x => x * x).sum) * math.sqrt(m.toDouble)
        raw.map(_ / scale)
      }
    }

  /** (code, distSurrogate) struct for subspace `j`: argmin over the
    * codebook of `c·c − 2·sub·c` (equal ordering to squared L2 —
    * `sub·sub` is constant across candidates), ties toward the lower
    * code. `.getField("c")` is the code, `.getField("s")` + `sub·sub`
    * is the subspace's squared reconstruction error.
    */
  private def codeStruct(nv: Column, j: Int, subDim: Int, cb: Array[Array[Double]]): Column = {
    val sub = slice(nv, j * subDim + 1, subDim)
    // HOF over a literal codebook matrix, NOT an unrolled
    // expression-per-centroid: unrolling put 16 copies of the dot
    // expression per subspace into the generated code and Janino
    // compilation (~1.1 s/stage) dwarfed the actual scan at bench SF.
    // The zip_with lambda evaluates the same floats in the same order.
    val cbLit = typedlit(cb.map(_.toSeq).toSeq)
    val metaLit = typedlit(cb.zipWithIndex.map { case (c, i) => (c.map(x => x * x).sum, i) }.toSeq)
    sort_array(
      zip_with(
        cbLit,
        metaLit,
        (cvec, meta) =>
          struct(
            (meta.getField("_1") - lit(2.0) * VectorOps.dot(sub, cvec)).as("s"),
            meta.getField("_2").as("c")
          )
      ),
      asc = true
    ).getItem(0)
  }

  /** Encode each (normalized) vector as a packed PQ code word.
    *
    * Output: (idCol, pq_code BIGINT — 4 bits per subspace, subspace 0
    * in the low bits, recon_err = Σ_j ‖sub_j − cb[j][code_j]‖²).
    * Everything is a map-side projection — zero shuffles.
    */
  def encode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      k: Int = 16,
      seed: Long = 11L,
      dim: Int = 64
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val bits = 64 / m // bits available per code; k must fit
    require(k <= (1 << bits), s"k=$k codes do not fit ${bits} bits")
    val cb = codebooks(m, k, subDim, seed)
    val e = Similarity.normalizedVecs(emb, idCol, vecCol)
    val structs = (0 until m).map(j => codeStruct(col("nv"), j, subDim, cb(j)))
    val packed = structs.zipWithIndex
      .map { case (st, j) => shiftleft(st.getField("c").cast("long"), 4 * j) }
      .reduce(_ + _)
    val recon = structs.zipWithIndex
      .map { case (st, j) =>
        val sub = slice(col("nv"), j * subDim + 1, subDim)
        VectorOps.dot(sub, sub) + st.getField("s")
      }
      .reduce(_ + _)
    e.select(col("id").as(idCol), packed.as("pq_code"), recon.as("recon_err"))
  }

  /** IVF-PQ approximate top-k: coarse inverted lists bound the
    * candidate set (as [[Similarity.ivfTopK]]), then candidates are
    * scored by ADC — the query's exact subvectors dotted against the
    * CODEBOOK ENTRY named by each corpus code, so the corpus side of
    * the join carries only (cluster, id, pq_code).
    *
    * Ranking uses the deterministic-margin discipline (round the ADC
    * score to 4 decimals, break ties by id) so the top-k is
    * engine-stable.
    */
  /** Combined coarse + PQ geometry fingerprint for persisted IVF-PQ
    * indexes (the [[Similarity.buildIvfIndex]] discipline): probing a
    * stored index with a different codebook family or PQ layout must
    * fail loudly, not silently mis-decode code words.
    */
  private def pqGeomFingerprint(
      m: Int, k: Int, pqSeed: Long,
      nCentroids: Int, coarseSeed: Long, dim: Int,
      coarseCodebook: Option[Array[Array[Double]]]
  ): Long =
    31L * Dedup.clusterGeomFingerprint(nCentroids, coarseSeed, dim, coarseCodebook) +
      ((m.toLong * 1000003L) ^ (k.toLong * 8191L) ^ (pqSeed * 31L))

  /** Persistable IVF-PQ corpus index — (cluster, neighbor_id,
    * pq_code): every corpus vector coarse-assigned and PQ-encoded
    * ONCE per corpus generation. The build carries BOTH superlinear-ish
    * inline costs (n·R coarse assignment + n·m·k PQ encode); serving
    * via [[ivfPqTopKIndexed]] pays only probe joins + ADC lookups.
    */
  def buildIvfPqIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      k: Int = 16,
      pqSeed: Long = 11L,
      nCentroids: Int = 16,
      coarseSeed: Long = 7L,
      dim: Int = 64,
      coarseCodebook: Option[Array[Array[Double]]] = None,
      corpusReplicas: Int = 1
  ): DataFrame = {
    val subDim = dim / m
    val cb = codebooks(m, k, subDim, pqSeed)
    val coarse =
      coarseCodebook.getOrElse(Similarity.normalizedCentroids(nCentroids, dim, coarseSeed))
    require(coarseCodebook.forall(_.length == nCentroids), "codebook size must equal nCentroids")
    require(corpusReplicas >= 1 && corpusReplicas <= nCentroids, "corpusReplicas in [1, nCentroids]")
    val e = Similarity.normalizedVecs(emb, idCol, vecCol)
    // corpus rows shrink to (cluster, id, code word) before any join;
    // corpusReplicas > 1 indexes each vector under its R nearest lists
    // (the multi-assignment recall lever — see Similarity.ivfTopK)
    val assigned =
      if (coarse.length > Similarity.ExprCodebookMax) {
        // large codebook: slim join-kernel assignment — see
        // Similarity.assignPairs
        val eM = e.localCheckpoint(false)
        eM.join(Similarity.assignPairs(eM, "id", "nv", coarse, corpusReplicas), Seq("id"))
      } else
        e.withColumn(
          "cluster",
          if (corpusReplicas == 1)
            Similarity.nearestCentroid(col("nv"), coarse).getField("c")
          else
            explode(
              transform(
                slice(Similarity.rankedCentroids(col("nv"), coarse), 1, corpusReplicas),
                x => x.getField("c")
              )
            )
        )
    val geom = pqGeomFingerprint(m, k, pqSeed, nCentroids, coarseSeed, dim, coarseCodebook)
    assigned
      .withColumn(
        "pq_code",
        (0 until m)
          .map(j => shiftleft(codeStruct(col("nv"), j, subDim, cb(j)).getField("c").cast("long"), 4 * j))
          .reduce(_ + _)
      )
      .select(
        col("id").as("neighbor_id"),
        // the cluster stamp also records corpusReplicas so the probe
        // side derives its candidate-dedup decision from the index
        // itself (see [[ivfPqTopKIndexed]])
        col("cluster").as("cluster", Dedup.geomMetadata(geom, corpusReplicas)),
        col("pq_code").as("pq_code", Dedup.geomMetadata(geom))
      )
  }

  /** Probe a prebuilt (typically parquet-persisted) [[buildIvfPqIndex]]
    * index — [[ivfPqTopK]]'s output contract, corpus never re-encodes.
    *
    * Multi-assignment is DERIVED from the replica count stamped on the
    * index's `cluster` column ([[Similarity.ivfTopKIndexed]] rationale);
    * the `multiAssigned` parameter only applies to unstamped frames.
    */
  def ivfPqTopKIndexed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      index: DataFrame,
      kNN: Int = 5,
      m: Int = 8,
      k: Int = 16,
      pqSeed: Long = 11L,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      coarseSeed: Long = 7L,
      dim: Int = 64,
      coarseCodebook: Option[Array[Array[Double]]] = None,
      multiAssigned: Boolean = false
  ): DataFrame = {
    Dedup.requireGeometry(
      index,
      Seq("cluster", "pq_code"),
      pqGeomFingerprint(m, k, pqSeed, nCentroids, coarseSeed, dim, coarseCodebook),
      "IVF-PQ"
    )
    val effMulti = Dedup.effectiveMultiAssigned(index, "cluster", multiAssigned, "IVF-PQ")
    ivfPqProbe(emb, idCol, vecCol, queryPred, index, kNN, m, k, pqSeed, nCentroids, nProbe,
      coarseSeed, dim, coarseCodebook, effMulti)
  }

  def ivfPqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      kNN: Int = 5,
      m: Int = 8,
      k: Int = 16,
      pqSeed: Long = 11L,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      coarseSeed: Long = 7L,
      dim: Int = 64,
      coarseCodebook: Option[Array[Array[Double]]] = None,
      corpusReplicas: Int = 1
  ): DataFrame = {
    val index = buildIvfPqIndex(emb, idCol, vecCol, m, k, pqSeed, nCentroids, coarseSeed, dim,
      coarseCodebook, corpusReplicas)
    ivfPqProbe(emb, idCol, vecCol, queryPred, index, kNN, m, k, pqSeed, nCentroids, nProbe,
      coarseSeed, dim, coarseCodebook, multiAssigned = corpusReplicas > 1)
  }

  private def ivfPqProbe(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      corpus: DataFrame,
      kNN: Int,
      m: Int,
      k: Int,
      pqSeed: Long,
      nCentroids: Int,
      nProbe: Int,
      coarseSeed: Long,
      dim: Int,
      coarseCodebook: Option[Array[Array[Double]]],
      multiAssigned: Boolean
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / m
    val cb = codebooks(m, k, subDim, pqSeed)
    // None -> the deterministic family (oracle-reproducible); Some ->
    // a fitted codebook (Similarity.fitCentroids), the production path
    val coarse =
      coarseCodebook.getOrElse(Similarity.normalizedCentroids(nCentroids, dim, coarseSeed))
    require(coarseCodebook.forall(_.length == nCentroids), "codebook size must equal nCentroids")
    val e = Similarity.normalizedVecs(emb, idCol, vecCol)
    val queries = emb
      .filter(queryPred)
      .select(col(idCol).as("qid"))
      .join(e.withColumnRenamed("id", "qid"), Seq("qid"))
      .withColumn(
        "cluster",
        explode(
          transform(
            slice(Similarity.rankedCentroids(col("nv"), coarse), 1, nProbe),
            x => x.getField("c")
          )
        )
      )
      .select(col("qid").as("query_id"), col("nv").as("q"), col("cluster"))
      // the ADC lookup table — lut[j][c] = q_sub_j · cb[j][c] — is
      // computed ONCE PER QUERY on the (tiny, broadcast) side: per
      // CANDIDATE the score is then 8 table lookups + 7 adds, no dot
      // products on the hot path. Same floats in the same order as
      // dotting per pair, so the oracle's per-pair formula still
      // matches bit-for-bit. Before this hoist the per-candidate dots
      // were ~60% of query cost at sf0.1.
      .withColumn(
        "lut",
        array((0 until m).map { j =>
          transform(
            typedlit(cb(j).map(_.toSeq).toSeq),
            cvec => VectorOps.dot(slice(col("q"), j * subDim + 1, subDim), cvec)
          )
        }: _*)
      )
    // ADC: Σ_j lut[j][code_j] with the 4-bit code unpacked per subspace
    val adc = (0 until m)
      .map { j =>
        val code = shiftright(col("pq_code"), 4 * j).bitwiseAND(lit(15L))
        element_at(element_at(col("lut"), j + 1), (code + 1).cast("int"))
      }
      .reduce(_ + _)
    // the quantized sort key is PROJECTED (a column, not an orderBy
    // expression): an expression in the window's orderBy is
    // re-evaluated per sort COMPARISON (n log n times), and this one
    // is 128 dot products — measured 3x the whole query's cost at
    // sf0.1 before the projection
    val scored =
      (if (!multiAssigned)
         corpus
           .join(broadcast(queries), Seq("cluster"))
           .filter(col("query_id") =!= col("neighbor_id"))
       else {
         // multi-assignment can surface one (query, neighbor) in
         // several probed lists — dedupe before the rank window sees
         // it, on the SLIM (ids + 8-byte code) projection: the per-row
         // LUT is m*k doubles and dragging it through the distinct
         // shuffle multiplies candidate bytes ~100x. pq_code is
         // functionally dependent on neighbor_id, so the distinct
         // cardinality is unchanged; the query's LUT re-attaches via a
         // broadcast of the un-exploded query side.
         corpus
           .join(broadcast(queries.select(col("query_id"), col("cluster"))), Seq("cluster"))
           .filter(col("query_id") =!= col("neighbor_id"))
           .select("query_id", "neighbor_id", "pq_code")
           .distinct()
           .join(
             broadcast(queries.select(col("query_id"), col("lut")).dropDuplicates("query_id")),
             Seq("query_id")
           )
       })
        .withColumn("adc", adc)
        .withColumn("adc_r", round(col("adc"), 4))
        .select("query_id", "neighbor_id", "adc", "adc_r")
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_r").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select("query_id", "rank", "neighbor_id", "adc")
  }
}
