package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Document deduplication family: exact (hash-groupBy), n-gram
  * Jaccard, MinHash + LSH banding, SimHash.
  *
  * Scale design (100 TB):
  *   - shingling/hashing are map-side projections;
  *   - MinHash signatures reduce each doc to numPerm longs via one
  *     shuffle on doc_id (partial min aggregation combines map-side);
  *   - LSH banding turns the O(n²) pair space into per-bucket
  *     equi-joins (shuffle on band key) — only same-bucket docs meet;
  *   - candidate verification re-joins shingles ONLY for candidate
  *     docs (semi-join pushdown);
  *   - `maxShingleDocFreq` drops ubiquitous shingles before the
  *     pair join (stopword-shingle skew kill), the standard guard
  *     against quadratic hot keys.
  */
object Dedup {

  /** Hash family for MinHash permutations. */
  sealed trait HashFamily
  /** One md5-derived 28-bit base hash per shingle + affine
    * permutations `(a_i*h + b_i) mod p` — bit-identical in DuckDB
    * (oracle checks) and 8x cheaper than salted re-hashing.
    */
  case object PortableMd5 extends HashFamily
  /** xxhash64(seed=i) — Spark-native codegen path for production. */
  case object Xx64 extends HashFamily

  /** Scale-adaptive input spreading for the heavy scan-side text
    * kernels (tokenize / shingle / hash): when the upstream scan has
    * fewer partitions than the cluster has cores (the gate corpus is
    * ONE parquet file with ONE row group -> a 1-task scan), hash-
    * repartition by the doc id so the projection runs at full width.
    * At real scale the scan already has more partitions than cores and
    * this is a NO-OP — no Exchange enters the plan (guide §2.5: fix
    * input under-parallelism right after the read, and §2.4: the
    * one-pass kernels removed the .distinct()/groupBy Exchanges that
    * used to re-spread the stream as a side effect; this restores the width
    * without re-shuffling the exploded stream). Keyed repartition (not
    * round-robin) so a downstream groupBy(idCol) can reuse the
    * partitioning, and no sort-before-repartition cost.
    */
  private[graft] def spread(df: DataFrame, key: Column, pin: Boolean = false): DataFrame =
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      // physical planning only — no job: these inputs are scans
      val cur = df.queryExecution.toRdd.getNumPartitions
      // pin=true uses an EXPLICIT partition count: repartition(key)
      // without a count is REPARTITION_BY_COL, which AQE's coalescing is
      // allowed to fold back down — and does, because the raw-docs
      // shuffle is tiny in BYTES (the q_containment regression: the
      // tokenize+shingle kernel and everything under jaccardPairs'
      // localCheckpoint ran at parallelism ~1, run_s ~= wall). With a
      // count the origin is REPARTITION_BY_NUM, which AQE must preserve.
      // pin=false keeps the coalescible form — right for the cheap
      // one-pass kernel projections (simhash/minhash signatures), where
      // forcing full width on a tiny corpus measurably HURT wall
      // (q_simhash_screen 0.59 -> 1.73 s when pinned: dozens of
      // near-empty tasks per downstream stage, each with fixed cost).
      // Both forms are a provable no-op at scale: the branch only fires
      // when the scan has fewer partitions than cores.
      if (cur < target) {
        if (pin) df.repartition(target, key) else df.repartition(key)
      } else df
    }

  private def permHash(family: HashFamily, perm: Int, shingle: Column): Column =
    family match {
      case PortableMd5 =>
        (PortableHash.md5num28(shingle) * PortableHash.minHashA(perm) +
          PortableHash.minHashB(perm)) % PortableHash.MinHashP
      case Xx64 => xxhash64(lit(perm), shingle)
    }

  /** Distinct word n-gram shingles per doc: (idCol, shingle).
    *
    * One native projection (`distinct_shingles`, codegen) + explode:
    * distinctness is a per-document property, established inside the
    * row — no `.distinct()` Exchange over the shingle stream, which
    * was the widest shuffle of every dedup pipeline (the old HOF
    * chain + cross-row distinct lives in the expression's scaladoc).
    * Requires unique doc ids (every corpus table and caller has them);
    * with duplicate ids the old form also deduped across copies.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // pinned: everything downstream (the df cap, the a×b inverted-index
    // join, the sizes aggregate — all under jaccardPairs'/
    // containmentPairs' localCheckpoint) inherits this width, and the
    // serial collapse of exactly that chain was the q_containment
    // regression
    spread(docs, col(idCol), pin = true).select(
      col(idCol),
      explode(
        graft.functions.DistinctShingles.of(TextStats.tokens(col(textCol)), lit(n))
      ).as("shingle")
    )

  /** Exact pairwise n-gram Jaccard >= threshold. `candidates`
    * restricts the pair space (LSH output); `maxShingleDocFreq` drops
    * shingles occurring in more docs than that before pairing.
    */
  def jaccardPairs(
      sh: DataFrame,
      idCol: String,
      threshold: Double,
      candidates: Option[DataFrame] = None,
      maxShingleDocFreq: Option[Int] = None
  ): DataFrame = {
    // materialization barrier (the reference's AS MATERIALIZED, SURVEY
    // §4): the shingle frame feeds BOTH join sides and the size
    // aggregate — without it the tokenize/shingle projection (regex +
    // interpreted higher-order functions) is recomputed three times.
    val shM = sh.localCheckpoint(false)
    val filtered = maxShingleDocFreq match {
      case Some(maxDf) =>
        val rare = shM
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf)
          .select("shingle")
        shM.join(rare, Seq("shingle"), "left_semi")
      case None => shM
    }
    // candidate restriction is applied to the SHINGLE FRAME, before
    // the inverted-index pair join — a doc outside every LSH candidate
    // pair contributes no rows to the a×b join at all. The pair-level
    // semi-join stays as the final filter (two candidate docs may
    // co-occur on a shingle without being a candidate PAIR). At 100 TB
    // this is the difference between scoring every co-shingle pair
    // under the df cap and scoring only what LSH already shortlisted.
    // The sizes aggregate gets the same restriction: n_sh is
    // only ever read through the inner join on pair endpoints, which
    // are all candidate ids — so count only candidate docs' shingles
    // instead of aggregating the whole corpus stream (uncapped counts,
    // unchanged values for every surviving doc).
    val (pairs, sizes) = candidates match {
      case Some(c0) =>
        // the candidate frame feeds three consumers (two id sets + the
        // pair filter): pin it once
        val c = c0.select(col("d1"), col("d2")).localCheckpoint(false)
        val candIds = c
          .select(col("d1").as(idCol))
          .union(c.select(col("d2").as(idCol)))
          .distinct()
        val restricted = filtered.join(candIds, Seq(idCol), "left_semi")
        val a = restricted.select(col(idCol).as("d1"), col("shingle"))
        val b = restricted.select(col(idCol).as("d2"), col("shingle"))
        val p = a
          .join(b, Seq("shingle"))
          .filter(col("d1") < col("d2"))
          .join(c, Seq("d1", "d2"), "left_semi")
        val sz = shM
          .join(candIds, Seq(idCol), "left_semi")
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_sh"))
        (p, sz)
      case None =>
        val a = filtered.select(col(idCol).as("d1"), col("shingle"))
        val b = filtered.select(col(idCol).as("d2"), col("shingle"))
        val p = a.join(b, Seq("shingle")).filter(col("d1") < col("d2"))
        (p, shM.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh")))
    }
    pairs
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(sizes.select(col(idCol).as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .withColumn("union_sh", col("n1") + col("n2") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_sh"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[containmentPairs]] variant with an AllPairs/PPJoin prefix
    * filter in front of the verification join — for the HIGH-df-cap
    * regime only. With the default tight cap the plain df-capped join
    * wins outright (measured, 3 warm reps each: 1.76 s vs 4.07 s at
    * sf0.1, 5.68 s vs 13.98 s at sf1 — the per-doc rarest-first
    * ranking pass costs more than the capped pair join it prunes,
    * because Σ df² with df ≤ 50 is already linear-ish in corpus size).
    * When containment must be found through COMMON text (boilerplate-
    * heavy corpora where a tight cap destroys recall and the cap must
    * rise to 10³-10⁴), posting lists go quadratic and this prefix
    * filter is the standard answer — candidates come from
    * prefix(smaller) × all(larger) instead of all × all. MlSpec
    * asserts it reproduces [[containmentPairs]] exactly on real data
    * (the filter is provably lossless).
    */
  def containmentPairsPrefix(
      sh: DataFrame,
      idCol: String,
      threshold: Double,
      maxShingleDocFreq: Int
  ): DataFrame = {
    val shM = sh.localCheckpoint(false) // feeds sizes + df + both join sides
    val sizes = shM.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val dfTab = shM
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDocFreq)
    val filtered = shM
      .join(dfTab, Seq("shingle"))
      .localCheckpoint(false) // feeds the prefix ranking AND verification

    // ---- AllPairs/PPJoin prefix filter (lossless) --------------------
    // A qualifying pair overlaps on >= ceil(t * min(n1, n2)) capped
    // shingles. Order each doc's capped shingles rarest-first (df,
    // shingle); if the SMALLER-side doc's first
    //   L = m - ceil(t * n) + 1
    // shingles (m = capped size, n = uncapped size) all missed the
    // other doc, the overlap is at most m - L = ceil(t*n) - 1 < the
    // required ceil(t * min) — so every qualifying pair co-occurs on a
    // smaller-side PREFIX shingle. Candidates therefore come from
    // prefix(smaller) x all(larger) instead of all x all: posting
    // lists contribute |prefix hits| * df instead of df^2, which is
    // what keeps the join alive when the df cap admits hot-ish
    // shingles at corpus scale. Verification below recomputes the
    // exact intersection, so the filter cannot change the result.
    val docW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("df"), col("shingle"))
    val ranked = filtered
      .join(sizes, Seq(idCol))
      .withColumn("r", row_number().over(docW))
      .withColumn("m", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
      .withColumn("pref_len", col("m") - ceil(lit(threshold) * col("n_sh")).cast("long") + 1L)
    val prefix = ranked
      .filter(col("r") <= col("pref_len"))
      .select(col(idCol).as("pa"), col("shingle"), col("n_sh").as("na"))
    val full = filtered
      .join(sizes, Seq(idCol))
      .select(col(idCol).as("pb"), col("shingle"), col("n_sh").as("nb"))
    val cand = prefix
      .join(full, Seq("shingle"))
      .filter(
        col("pa") =!= col("pb") &&
          (col("na") < col("nb") || (col("na") === col("nb") && col("pa") < col("pb")))
      )
      .select(least(col("pa"), col("pb")).as("d1"), greatest(col("pa"), col("pb")).as("d2"))
      .distinct()

    // ---- exact verification over candidate pairs only ----------------
    // same discipline as jaccardPairs: restrict the
    // SHINGLE FRAME to candidate doc ids BEFORE the a x b join — docs
    // outside every candidate pair contribute no join rows at all; the
    // pair-level semi-join stays as the final filter
    val candM = cand.localCheckpoint(false) // feeds two id sets + the pair filter
    val candIds = candM
      .select(col("d1").as(idCol))
      .union(candM.select(col("d2").as(idCol)))
      .distinct()
    val restricted = filtered.join(candIds, Seq(idCol), "left_semi")
    val a = restricted.select(col(idCol).as("d1"), col("shingle"))
    val b = restricted.select(col(idCol).as("d2"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("d1") < col("d2"))
      .join(candM, Seq("d1", "d2"), "left_semi")
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(sizes.select(col(idCol).as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .withColumn("containment", col("inter").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= threshold)
  }

  /** Asymmetric containment pairs: |A∩B| / min(|A|, |B|) ≥ threshold
    * over distinct shingle sets — the quote/subset detector symmetric
    * Jaccard structurally misses (a 100-shingle doc fully embedded in
    * a 10,000-shingle doc has Jaccard ≈ 0.01 but containment 1.0, so
    * MinHash-LSH candidates can never surface it). The df-capped
    * inverted-index pair join IS the honest scale path at the default
    * cap: posting lists are bounded, so pair production is bounded by
    * Σ df² over kept shingles — linear-ish in corpus size, never
    * corpus². (A PPJoin-style prefix filter was built and measured
    * SLOWER at this cap on both sf0.1 and sf1 — see
    * [[containmentPairsPrefix]] for the numbers and the regime where
    * it does win.)
    *
    * Output keeps both sizes and the intersection so the caller can
    * re-derive either directional containment (inter/n1, inter/n2);
    * `containment` is the max of the two (= inter/min side).
    */
  def containmentPairs(
      sh: DataFrame,
      idCol: String,
      threshold: Double,
      maxShingleDocFreq: Int
  ): DataFrame = {
    val shM = sh.localCheckpoint(false)
    val sizes = shM.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val rare = shM
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDocFreq)
      .select("shingle")
    val filtered = shM.join(rare, Seq("shingle"), "left_semi")
    val a = filtered.select(col(idCol).as("d1"), col("shingle"))
    val b = filtered.select(col(idCol).as("d2"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(sizes.select(col(idCol).as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .withColumn("containment", col("inter").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= threshold)
  }

  /** Per-doc MinHash signature columns mh0..mh{k-1}. For the md5
    * family the base hash is materialized as ONE column before the
    * aggregate, so the digest runs once per shingle and the k
    * permutations are pure integer affine maps — not k digests.
    */
  def minHashSignatures(
      sh: DataFrame,
      idCol: String,
      numPerm: Int,
      family: HashFamily = Xx64
  ): DataFrame = family match {
    case PortableMd5 =>
      val base = sh.withColumn("__h", PortableHash.md5num28(col("shingle")))
      def perm(i: Int) =
        (col("__h") * PortableHash.minHashA(i) + PortableHash.minHashB(i)) % PortableHash.MinHashP
      base
        .groupBy(col(idCol))
        .agg(
          min(perm(0)).as("mh0"),
          (1 until numPerm).map(i => min(perm(i)).as(s"mh$i")): _*
        )
    case Xx64 =>
      sh.groupBy(col(idCol))
        .agg(
          min(permHash(family, 0, col("shingle"))).as("mh0"),
          (1 until numPerm).map(i => min(permHash(family, i, col("shingle"))).as(s"mh$i")): _*
        )
  }

  /** [[minHashSignatures]] (PortableMd5 family) computed straight from
    * the documents frame by the one-pass [[graft.functions.MinHashSig]]
    * kernel — a pure scan-side projection, no explode and no
    * groupBy(doc) Exchange carrying the shingle stream (the
    * signature is a per-document property). Output schema matches the
    * aggregate form exactly: (idCol, mh0..mh{numPerm-1}), and a doc
    * with zero shingles has NO row in either form (the kernel returns
    * NULL, filtered here; the aggregate never saw a row for it).
    */
  def minHashSignaturesFused(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numPerm: Int
  ): DataFrame =
    spread(docs, col(idCol))
      .select(
        col(idCol),
        // opt_barrier: stops pushdown duplicating the whole kernel
        // into a pre-spread Filter, and keeps the k getItem
        // extractions from ever collapsing onto k kernel copies
        // (guide §4.4, same as simHash above; plan-asserted in
        // MinHashSigSpec)
        graft.functions.OptimizerBarrier
          .of(graft.functions.MinHashSig.of(TextStats.tokens(col(textCol)), shingleN, numPerm))
          .as("__mh")
      )
      .filter(col("__mh").isNotNull)
      .select(
        col(idCol) +: (0 until numPerm).map(i => col("__mh").getItem(i).as(s"mh$i")): _*
      )

  /** LSH candidate pairs: signatures banded (bands × rowsPerBand =
    * numPerm); docs sharing any band bucket become candidates.
    */
  def lshCandidates(
      signatures: DataFrame,
      idCol: String,
      numPerm: Int,
      bands: Int
  ): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands
    // band key = the r signature values themselves (array<long>), not
    // a concat_ws string: joining on 2 longs instead of building and
    // hashing a ~20-char string per banded row. Array equality
    // is element-wise, so the candidate set is IDENTICAL to the
    // string form (concat_ws was injective over digit groups anyway).
    val bandStructs = (0 until bands).map { b =>
      val key = array((0 until r).map(i => col(s"mh${b * r + i}")): _*)
      struct(lit(b).as("band"), key.as("band_key"))
    }
    val banded = signatures
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val l = banded.select(col(idCol).as("d1"), col("band"), col("band_key"))
    val rt = banded.select(col(idCol).as("d2"), col("band"), col("band_key"))
    l.join(rt, Seq("band", "band_key"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    * candidate -> verify true Jaccard >= threshold.
    */
  def minHashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numPerm: Int,
      bands: Int,
      threshold: Double,
      family: HashFamily = Xx64
  ): DataFrame = family match {
    case PortableMd5 =>
      // signatures are a scan-side kernel projection: the exploded
      // shingle frame feeds ONLY the verification join, so there is no
      // outer localCheckpoint (a full extra write+read of the widest
      // frame, on top of the one jaccardPairs takes)
      val sig = minHashSignaturesFused(docs, idCol, textCol, shingleN, numPerm)
      val cand = lshCandidates(sig, idCol, numPerm, bands)
      jaccardPairs(shingles(docs, idCol, textCol, shingleN), idCol, threshold, Some(cand))
    case Xx64 =>
      // one materialization: the shingle projection feeds both the
      // signature aggregate and the verification pair join
      val sh = shingles(docs, idCol, textCol, shingleN).localCheckpoint(false)
      val sig = minHashSignatures(sh, idCol, numPerm, family)
      val cand = lshCandidates(sig, idCol, numPerm, bands)
      jaccardPairs(sh, idCol, threshold, candidates = Some(cand))
  }

  /** 56-bit SimHash over the doc's token multiset: bit j of the hash
    * is 1 when the sum of (+1/-1) votes from each token's hash bit j
    * is positive. Near-dup docs land within small Hamming distance.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // one-pass native kernel: a doc's SimHash is a function of
    // its own token multiset, so the old explode -> groupBy(doc, tok)
    // -> groupBy(doc) pipeline paid two hash-aggregate Exchanges (and
    // a ~112-expression aggregate tree per rep of Catalyst work) for
    // a per-row property. Bit-identical by PortableSimHashSpec; the
    // isNotNull filter keeps the old contract that a doc with zero
    // tokens has NO simhash row (explode emitted nothing for it).
    spread(docs, col(idCol))
      .select(
        col(idCol),
        // opt_barrier: without it, predicate pushdown substitutes the
        // alias into the isNotNull filter and the simhash kernel runs
        // TWICE — once inside a Filter pushed below the spread
        // Exchange (serially, on the narrow scan) and again in the
        // projection (guide §4.4: Project-field determinism is the
        // pushdown guard; plan-asserted in PortableSimHashSpec)
        graft.functions.OptimizerBarrier
          .of(graft.functions.PortableSimHash.of(TextStats.tokens(col(textCol))))
          .as("simhash")
      )
      .filter(col("simhash").isNotNull)

  /** Hamming distance between two 56-bit SimHashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Incremental near-dup screening: flag each INCOMING doc that sits
    * within `maxHamming` SimHash bits of any EXISTING doc, reporting
    * the closest existing match (ties toward the lower id).
    *
    * Band-indexed lookup, the production shape for "dedup a new crawl
    * batch against the corpus": the 56-bit signature splits into 7
    * 8-bit bands; two hashes within Hamming distance 6 must agree on
    * at least one band (pigeonhole), so the equi-join on (band, value)
    * is a recall-guaranteed candidate filter. At 100 TB the existing
    * side's band index is precomputed and stored bucketed by
    * (band, value) — each new batch shuffles only itself; nothing
    * rescans the corpus.
    */
  /** Band layout for a 56-bit hash split into `nBands` contiguous
    * near-equal bands: Seq of (bit offset, width). The first
    * `56 % nBands` bands take the extra bit. Pigeonhole: two hashes
    * within Hamming distance `nBands - 1` must agree on at least one
    * band, so banding is a recall-GUARANTEED candidate filter up to
    * that budget. Geometry tradeoff at scale: fewer/wider bands mean
    * exponentially more buckets (candidates ~ n²/2^width per band)
    * but a smaller guaranteed Hamming budget — the default 7×8-bit
    * layout guarantees ≤6 at 256 buckets; 5 bands of 12/11 bits
    * guarantee ≤4 at 2–4k buckets (the pigeonhole-max width for that
    * budget), the right trade two orders of magnitude up.
    */
  def bandSpec(nBands: Int): Seq[(Int, Int)] = {
    require(nBands >= 1 && nBands <= 56, s"nBands must be in [1, 56], got $nBands")
    val base = 56 / nBands
    val extra = 56 % nBands
    val widths = Seq.tabulate(nBands)(i => base + (if (i < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Banded expansion of a (idCol, `hashCol`) frame under
    * [[bandSpec]]: (idCol, hashCol, band, bv). The default 7 bands
    * reproduce the original 7×8-bit layout bit-for-bit.
    */
  private[graft] def bandRowsOf(
      sims: DataFrame,
      idCol: String,
      hashCol: String,
      nBands: Int
  ): DataFrame = {
    val bandCols = bandSpec(nBands).zipWithIndex.map { case ((off, width), b) =>
      struct(
        lit(b).as("band"),
        shiftright(col(hashCol), off).bitwiseAND((1L << width) - 1L).as("bv")
      )
    }
    sims
      .select(col(idCol), col(hashCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col(hashCol), col("bk.band").as("band"), col("bk.bv").as("bv"))
  }

  private def bandRows(sims: DataFrame, idCol: String, nBands: Int = 7): DataFrame =
    bandRowsOf(sims, idCol, "simhash", nBands)

  /** Banded near-duplicate PAIRS over any 56-bit hash column
    * (SimHash, image dHash, audio energy hash): self-join on
    * [[bandSpec]] band keys, exact Hamming verify, `id1 < id2`
    * distinct pairs. Recall is complete for `maxHamming < nBands`
    * (pigeonhole), so the banded result EQUALS an exhaustive
    * self-join at the same threshold — only the candidate count
    * changes with geometry. Output: (id1, id2, hamming).
    */
  def bandedNearDupPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      nBands: Int
  ): DataFrame = {
    require(
      maxHamming < nBands,
      s"$nBands-band banding guarantees recall only to Hamming ${nBands - 1}"
    )
    val banded = bandRowsOf(hashes, idCol, hashCol, nBands)
    val l = banded.select(col(idCol).as("id1"), col(hashCol).as("h1"), col("band"), col("bv"))
    val r = banded.select(col(idCol).as("id2"), col(hashCol).as("h2"), col("band"), col("bv"))
    l.join(r, Seq("band", "bv"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("h1"), col("h2"))
      .distinct()
      .withColumn("hamming", hamming(col("h1"), col("h2")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Corpus-side SimHash band index — the persistable half of
    * [[simHashIncremental]], built ONCE per corpus generation and
    * written out (partition by `band`, bucket/sort by `bv` for a
    * shuffle-free probe side); each subsequent batch then joins the
    * stored index via [[simHashScreen]] without re-reading or
    * re-hashing a byte of corpus text. Columns: band, bv, ex_id, ex_h.
    */
  def buildBandIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      nBands: Int = 7
  ): DataFrame =
    bandRows(simHash(corpus, idCol, textCol), idCol, nBands)
      .select(
        col("band").as("band", geomMetadata(nBands.toLong)),
        col("bv"),
        col(idCol).as("ex_id"),
        // the stamp rides a DATA column too: partitionBy("band") writes
        // rebuild the partition column from dir names and drop its metadata
        col("simhash").as("ex_h", geomMetadata(nBands.toLong))
      )

  /** Geometry stamp carried in the index's key-column metadata —
    * survives parquet footers and catalog tables, so a persisted
    * index remembers the banding/codebook it was built under and a
    * screen with mismatched geometry fails loudly instead of joining
    * on incompatible keys (which silently returns near-zero recall).
    */
  private[ml] val GeomKey = "graft_geometry"

  /** Multi-assignment replica count stamped alongside the geometry on
    * persisted ANN index key columns: probing a corpusReplicas>1 index
    * without candidate dedup puts the same neighbor at several top-k
    * ranks — derive the dedup decision from the INDEX, never from a
    * caller flag that can silently disagree with how it was built.
    */
  private[ml] val ReplicasKey = "graft_corpus_replicas"

  private[ml] def geomMetadata(fingerprint: Long) =
    new org.apache.spark.sql.types.MetadataBuilder().putLong(GeomKey, fingerprint).build()

  private[ml] def geomMetadata(fingerprint: Long, replicas: Int) =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(GeomKey, fingerprint)
      .putLong(ReplicasKey, replicas.toLong)
      .build()

  /** Replica count a [[geomMetadata]]-stamped index column carries, if
    * any (metadata round-trips through parquet and bucketed tables, so
    * a persisted index keeps its stamp).
    */
  private[ml] def indexReplicas(index: DataFrame, colName: String): Option[Long] =
    index.schema.fields
      .find(_.name == colName)
      .filter(_.metadata.contains(ReplicasKey))
      .map(_.metadata.getLong(ReplicasKey))

  /** Multi-assignment resolution for a probe over a prebuilt index:
    * a stamped index is authoritative (replicas > 1 means candidates
    * MUST dedup). The one disagreement a stamp cannot adjudicate is an
    * EXPLICIT multiAssigned=true against a replicas=1 stamp — e.g. an
    * index externally unioned with extra assignments after the build —
    * where silently preferring the stamp would make the caller's flag
    * a no-op and skip a dedup the caller asked for. That case throws:
    * rebuild with the intended corpusReplicas (the stamp then carries
    * it) or drop the flag.
    */
  private[ml] def effectiveMultiAssigned(
      index: DataFrame,
      colName: String,
      multiAssigned: Boolean,
      what: String
  ): Boolean =
    indexReplicas(index, colName) match {
      case Some(r) =>
        require(
          !(multiAssigned && r <= 1L),
          s"$what index stamps replicas=$r but multiAssigned=true was passed — the stamp " +
            "says single-assignment, so either it is stale (rebuild the index with the " +
            "intended corpusReplicas) or the flag is wrong; refusing to silently ignore it"
        )
        r > 1L
      case None => multiAssigned
    }

  private[ml] def indexGeometry(index: DataFrame, cols: Seq[String]): Option[Long] =
    cols.iterator
      .flatMap(c =>
        index.schema.fields
          .find(_.name == c)
          .filter(_.metadata.contains(GeomKey))
          .map(_.metadata.getLong(GeomKey))
      )
      .nextOption()

  private[ml] def requireGeometry(
      index: DataFrame,
      cols: Seq[String],
      expected: Long,
      what: String
  ): Unit =
    indexGeometry(index, cols).foreach { got =>
      require(
        got == expected,
        s"$what index geometry mismatch: index built with fingerprint $got, " +
          s"screen called with $expected — (${cols.head}) keys would be incompatible " +
          "and the join would silently return near-zero recall"
      )
    }

  /** Deterministic fingerprint of a cluster-assignment geometry: the
    * codebook values when fitted, else the (nCentroids, seed, dim)
    * triple that seeds the procedural unit-vector family.
    */
  private[graft] def clusterGeomFingerprint(
      nCentroids: Int,
      seed: Long,
      dim: Int,
      codebook: Option[Array[Array[Double]]]
  ): Long = codebook match {
    case Some(cb) =>
      cb.foldLeft(java.lang.Long.rotateLeft(cb.length.toLong, 17)) { (acc, row) =>
        31L * acc + java.util.Arrays.hashCode(row)
      }
    case None => (nCentroids.toLong * 1000003L) ^ (seed * 31L) ^ dim.toLong
  }

  /** Persist a band index as a catalog BUCKETED table on the probe
    * key (band, bv): the screen's index-side scan then arrives
    * pre-distributed — only the (small) incoming batch shuffles into
    * place, the corpus index never moves again
    * (IncrementalIndexSpec asserts the probe plan has no exchange
    * between the bucketed scan and its join).
    */
  def saveBandIndexTable(index: DataFrame, tableName: String, nBuckets: Int = 64): Unit =
    index.write
      .format("parquet")
      .bucketBy(nBuckets, "band", "bv")
      .sortBy("band", "bv")
      .mode("overwrite")
      .saveAsTable(tableName)

  /** Screen an incoming batch against a prebuilt (typically
    * parquet-persisted) [[buildBandIndex]] index. Output contract is
    * [[simHashIncremental]]'s: one row per incoming doc —
    * (idCol, is_dup, dup_of, hamming), closest corpus match wins,
    * ties toward the lower id, token-less docs surface with
    * is_dup=false.
    */
  def simHashScreen(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      bandIndex: DataFrame,
      maxHamming: Int = 6,
      nBands: Int = 7
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(
      maxHamming < nBands,
      s"$nBands-band banding guarantees recall only to Hamming ${nBands - 1}"
    )
    requireGeometry(bandIndex, Seq("band", "ex_h"), nBands.toLong, "band")
    // no materialization: the simhash frame has exactly ONE consumer
    // here (the banding explode), and it is a single-pass
    // kernel projection — a localCheckpoint would be a pure extra
    // write+read of every signature
    val sims = simHash(incoming, idCol, textCol)
    val inc = bandRows(sims, idCol, nBands)
      .select(col(idCol).as("in_id"), col("simhash").as("in_h"), col("band"), col("bv"))
    val cand = inc
      .join(bandIndex, Seq("band", "bv"))
      .withColumn("hamming", hamming(col("in_h"), col("ex_h")))
      .filter(col("hamming") <= maxHamming)
      .select("in_id", "ex_id", "hamming")
      .distinct()
    val best = cand
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy(col("in_id")).orderBy(col("hamming"), col("ex_id")))
      )
      .filter(col("rk") === 1)
      .select(col("in_id").as(idCol), col("ex_id").as("dup_of"), col("hamming"))
    incoming
      .select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(
        col(idCol),
        col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"),
        col("hamming")
      )
  }

  def simHashIncremental(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      incomingPred: Column,
      maxHamming: Int = 6,
      nBands: Int = 7
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(
      maxHamming < nBands,
      s"$nBands-band banding guarantees recall only to Hamming ${nBands - 1}"
    )
    // one row per doc — small enough to materialize once for both legs
    val sims = simHash(docs, idCol, textCol).localCheckpoint(false)
    val banded = bandRows(sims, idCol, nBands)
    val inc = banded
      .filter(incomingPred)
      .select(col(idCol).as("in_id"), col("simhash").as("in_h"), col("band"), col("bv"))
    val ex = banded
      .filter(!incomingPred)
      .select(col(idCol).as("ex_id"), col("simhash").as("ex_h"), col("band"), col("bv"))
    // hamming is a cheap xor+popcount projection: filter BEFORE the
    // pair distinct so only true near-dups ride that shuffle (docs
    // sharing several bands are exactly the near-dups, so the
    // pre-distinct stream is where the duplication concentrates)
    val cand = inc
      .join(ex, Seq("band", "bv"))
      .withColumn("hamming", hamming(col("in_h"), col("ex_h")))
      .filter(col("hamming") <= maxHamming)
      .select("in_id", "ex_id", "hamming")
      .distinct()
    val best = cand
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy(col("in_id")).orderBy(col("hamming"), col("ex_id")))
      )
      .filter(col("rk") === 1)
      .select(col("in_id").as(idCol), col("ex_id").as("dup_of"), col("hamming"))
    // left-join from the FULL incoming doc set, not the simhash frame:
    // a doc whose text tokenizes to empty has no simhash rows (the
    // explode emits nothing) but must still surface with is_dup=false
    docs
      .filter(incomingPred)
      .select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(
        col(idCol),
        col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"),
        col("hamming")
      )
  }

  /** Connected components over an undirected near-dup pair set:
    * every node's `cluster_id` becomes the minimum node id reachable
    * through the pairs (so each dup cluster keeps exactly one
    * canonical representative — standard corpus-dedup clustering after
    * MinHash/SimHash pair generation).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) —
    * converges in O(log n) rounds on ANY graph shape, including
    * adversarial long chains where plain min-label propagation needs
    * O(diameter) rounds. Each round is two grouped-min shuffles over
    * the CURRENT edge set only (singletons never enter the loop; the
    * edge frame shrinks toward one star edge per non-root node), and
    * `localCheckpoint` truncates lineage so plans don't grow. The
    * convergence check rides the same action that materializes the
    * round's checkpoint — an aggregate of (count, hash-sum) over the
    * lazily-checkpointed frame — so each round is ONE job, not a
    * materialize + a re-scan.
    *
    * Throws `IllegalStateException` if `maxIter` rounds don't reach the
    * fixpoint (with O(log n) convergence the default 50 means a graph
    * of ~2^50 pair-nodes — hitting it indicates a bug, and returning
    * partially-propagated labels would silently violate the min-
    * reachable-id contract).
    *
    * @param pairs  undirected edges; column names default to d1/d2,
    *               override with srcCol/dstCol
    */
  def connectedComponents(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 50,
      srcCol: String = "d1",
      dstCol: String = "d2"
  ): DataFrame =
    connectedComponentsWithStats(nodes, idCol, pairs, maxIter, srcCol, dstCol)._1

  /** [[connectedComponents]] plus the number of large/small-star
    * rounds executed — lets specs assert the O(log n) bound.
    */
  def connectedComponentsWithStats(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 50,
      srcCol: String = "d1",
      dstCol: String = "d2"
  ): (DataFrame, Int) = {
    // canonical orientation (u > v), self-loops dropped; stars point
    // from each node DOWN to the component minimum at the fixpoint
    var edges = pairs
      .select(
        greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v")
      )
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)

    // large-star: every node u connects its LARGER neighbors to
    // m = min(neighbors ∪ {u}); small-star: every node u connects its
    // smaller-or-equal neighbors (and itself) to its min neighbor.
    // Alternating the two halves the tree height per round.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym
        .groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      sym
        .join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges already have u > v, so min neighbor == m
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = e.join(mins, Seq("u"))
      withM
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // fingerprint(frame) = (row count, xor of row hashes): equal
    // before/after a round ⇒ edge set unchanged (edges are distinct,
    // so xor is a faithful set fingerprint) ⇒ fixpoint. Computed by
    // ONE aggregate action on the lazily-checkpointed frame, which
    // also materializes the checkpoint blocks — one job per round.
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(
          count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("hs")
        )
        .head()
      (r.getLong(0), r.getLong(1))
    }

    var fp = fingerprint(edges)
    var iter = 0
    var converged = fp._1 == 0L
    // Per-round localCheckpoint is the measured optimum: an A/B of an
    // every-2nd-round truncation cadence (skipped rounds' stars
    // recompute inside the next round's job, saving one
    // checkpoint write+read per pair of rounds) in alternating fresh
    // JVMs at 5 reps — 3.76/4.19 s baseline vs 4.82 s variant at
    // sf0.1: the 3 recomputed shuffle stages cost more than the
    // checkpoint cycle they avoid. Do not re-try.
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nfp = fingerprint(next)
      converged = nfp == fp
      edges = next
      fp = nfp
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter large/small-star rounds " +
          "(O(log n) expected); refusing to return partially-propagated labels"
      )

    // fixpoint edges are stars (node -> component min); roots and
    // singletons label themselves via the coalesce
    val labels = edges.select(col("u").as("node"), col("v").as("cluster_id"))
    val out = nodes
      .select(col(idCol).as("node"))
      .join(labels, Seq("node"), "left")
      .select(
        col("node").as(idCol),
        coalesce(col("cluster_id"), col("node")).as("cluster_id")
      )
    (out, iter)
  }

  /** SemDeDup-style embedding near-dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest coarse
    * centroid, then mark within-cluster cosine near-duplicates.
    * Output: (idCol, cluster, kept) for EVERY input row.
    *
    * Deviation from the paper, for engine-stable determinism: the
    * paper keeps the cluster member with the lowest centroid
    * similarity per epsilon-ball; here a row is dropped iff a
    * SMALLER-ID row in the same cluster is within `threshold` — the
    * keep-min-id convention used across this repo's dedup family.
    *
    * Scale: this is the whole point of SemDeDup — candidate pairs are
    * bounded to within-cluster, never corpus-wide all-pairs. The pair
    * join shuffles on cluster id (one partition per inverted list,
    * the same sharding as [[Similarity.ivfTopK]]'s index); at 100 TB
    * the codebook is thousands of k-means centroids fit offline and
    * broadcast, so per-cluster candidate sets stay small and skew is
    * bounded by cluster granularity. Here the codebook is the
    * deterministic unit-vector family so a SQL oracle can recompute
    * the full pipeline.
    */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nCentroids: Int = 16,
      seed: Long = 7L,
      dim: Int = 64,
      codebook: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    import graft.functions.VectorOps
    // one materialization feeds the a-side, b-side and the flag-back
    // join — without it the normalize+assign scan runs three times
    val e = assignedVecs(emb, idCol, vecCol, nCentroids, seed, dim, codebook = codebook).localCheckpoint(false)
    val a = e.select(col("cluster"), col("id").as("a_id"), col("nv").as("va"))
    val b = e.select(col("cluster"), col("id").as("b_id"), col("nv").as("vb"))
    val dupIds = a
      .join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .filter(VectorOps.dot(col("va"), col("vb")) >= threshold)
      .select(col("b_id").as("id"))
      .distinct()
    e.select(col("id"), col("cluster"))
      .join(dupIds.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"), col("dup").isNull.as("kept"))
  }

  /** Incremental [[semDedup]]: flag each INCOMING embedding that is a
    * semantic near-dup (cosine >= threshold) of any CORPUS embedding
    * in the same cluster — the new-crawl-vs-corpus screening shape of
    * [[simHashIncremental]], for embeddings instead of token hashes.
    * Output: (idCol, cluster, is_dup) for EVERY incoming row,
    * including rows whose cluster holds no corpus vectors.
    *
    * Scale: the corpus side's (id, normalized vec, cluster) is a
    * precomputable projection — at 100 TB it is written once,
    * bucketed by cluster, and only the new batch (orders of magnitude
    * smaller) is normalized and assigned per run; the join touches
    * only the incoming batch's clusters (cluster-key equi join, so
    * partition pruning on a cluster-bucketed corpus table applies).
    * Incoming-vs-incoming pairs are NOT flagged here — run
    * [[semDedup]] on the accepted batch afterwards, exactly like the
    * SimHash incremental path.
    */
  def semDedupIncremental(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      incomingPred: Column,
      threshold: Double,
      nCentroids: Int = 16,
      seed: Long = 7L,
      dim: Int = 64,
      codebook: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    import graft.functions.VectorOps
    val assigned = assignedVecs(
      emb, idCol, vecCol, nCentroids, seed, dim,
      keep = Seq("__incoming" -> incomingPred),
      codebook = codebook
    ).localCheckpoint(false)
    val incoming = assigned.filter(col("__incoming"))
    val corpus = assigned
      .filter(!col("__incoming"))
      .select(col("cluster"), col("nv").as("cv"))
    val dupIds = incoming
      .select(col("cluster"), col("id"), col("nv"))
      .join(corpus, Seq("cluster"))
      .filter(VectorOps.dot(col("nv"), col("cv")) >= threshold)
      .select("id")
      .distinct()
    incoming
      .select(col("id"), col("cluster"))
      .join(dupIds.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"), col("dup").isNotNull.as("is_dup"))
  }

  /** Normalize + nearest-centroid assignment:
    * (id, [keep...], nv, cluster) — THE one copy of the codebook
    * assignment projection under [[semDedup]], [[semDedupIncremental]],
    * [[buildClusterIndex]] and [[semDedupScreen]]: a tie-break or
    * normalization change here changes all four together, which the
    * oracle parity depends on. `keep` columns are evaluated against
    * the ORIGINAL frame (so predicates over source columns survive
    * the projection).
    */
  private def assignedVecs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      seed: Long,
      dim: Int,
      keep: Seq[(String, Column)] = Nil,
      codebook: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    import graft.functions.VectorOps
    // None -> the deterministic family (oracle-reproducible); Some ->
    // a fitted codebook (Similarity.fitCentroids), the production path
    val centroids = codebook.getOrElse(Similarity.normalizedCentroids(nCentroids, dim, seed))
    require(codebook.forall(_.length == nCentroids), "codebook size must equal nCentroids")
    val cols = (col(idCol).as("id") +: keep.map { case (n, c) => c.as(n) }) :+
      transform(col(vecCol), x => x.cast("double")).as("v")
    val normalized = emb
      .select(cols: _*)
      // degenerate vectors (zero-norm, NaN/Inf component, NULL
      // element) can't be assigned a direction-based cluster — drop
      // rather than crash or NaN-poison the argmax (same contract as
      // Similarity.normalizedVecs; the whole predicate is the one
      // fused VecNorm2 kernel). The scale is the fused NULL-safe
      // VecScaleInv kernel: one per-row guard, one codegen'd divide
      // per element — no per-element when-branch (the when-branch form
      // cost the cosine/IVF bench family 20–86 %).
      .filter(VectorOps.norm2(col("v")).isNotNull)
      .withColumn("nv", VectorOps.scaleInv(col("v"), sqrt(VectorOps.norm2(col("v")))))
      .drop("v")
    if (centroids.length > Similarity.ExprCodebookMax) {
      // large codebook: slim join-kernel assignment (codegen'd dots,
      // vectors never shuffle) — see Similarity.assignPairs
      val nM = normalized.localCheckpoint(false)
      nM.join(Similarity.assignPairs(nM, "id", "nv", centroids, topR = 1), Seq("id"))
    } else
      // nearest-centroid via array_max (no full codebook sort per row)
      // — identical (s, c) tie-break to the previous desc-sort item 0
      normalized.withColumn(
        "cluster",
        Similarity.nearestCentroid(col("nv"), centroids).getField("c")
      )
  }

  /** Corpus-side SemDeDup cluster index — the persistable half of
    * [[semDedupIncremental]], and the embedding-path counterpart of
    * [[buildBandIndex]]: every corpus embedding is normalized and
    * assigned to its coarse centroid ONCE per corpus generation, then
    * written out partitioned by `cluster` (one inverted list per
    * partition — the same sharding as [[Similarity]]'s IVF index);
    * each subsequent crawl batch probes the stored lists via
    * [[semDedupScreen]] without re-reading or re-normalizing a single
    * corpus vector. Columns: cluster, ex_id, ex_nv.
    */
  def buildClusterIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int = 16,
      seed: Long = 7L,
      dim: Int = 64,
      codebook: Option[Array[Array[Double]]] = None
  ): DataFrame =
    assignedVecs(corpus, idCol, vecCol, nCentroids, seed, dim, codebook = codebook)
      .select(
        col("cluster")
          .as("cluster", geomMetadata(clusterGeomFingerprint(nCentroids, seed, dim, codebook))),
        col("id").as("ex_id"),
        col("nv")
          .as("ex_nv", geomMetadata(clusterGeomFingerprint(nCentroids, seed, dim, codebook)))
      )

  /** Bucketed-table persistence for the cluster index — one bucket
    * set per inverted list ([[saveBandIndexTable]]'s embedding-path
    * twin); probes shuffle only the incoming batch.
    */
  def saveClusterIndexTable(index: DataFrame, tableName: String, nBuckets: Int = 16): Unit =
    index.write
      .format("parquet")
      .bucketBy(nBuckets, "cluster")
      .sortBy("cluster")
      .mode("overwrite")
      .saveAsTable(tableName)

  /** Screen an incoming batch against a prebuilt (typically
    * parquet-persisted) [[buildClusterIndex]] index. Output contract
    * is [[semDedupIncremental]]'s: one row per incoming doc —
    * (idCol, cluster, is_dup), is_dup iff some corpus vector in the
    * same coarse cluster has cosine >= threshold. The join shuffles
    * only the (small) incoming batch when the index is
    * cluster-partitioned — corpus vectors stay where they were
    * written.
    */
  def semDedupScreen(
      incoming: DataFrame,
      idCol: String,
      vecCol: String,
      clusterIndex: DataFrame,
      threshold: Double,
      nCentroids: Int = 16,
      seed: Long = 7L,
      dim: Int = 64,
      codebook: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    import graft.functions.VectorOps
    requireGeometry(
      clusterIndex,
      Seq("cluster", "ex_nv"),
      clusterGeomFingerprint(nCentroids, seed, dim, codebook),
      "cluster"
    )
    val inc = assignedVecs(incoming, idCol, vecCol, nCentroids, seed, dim, codebook = codebook)
      .localCheckpoint(false)
    val dupIds = inc
      .join(clusterIndex, Seq("cluster"))
      .filter(VectorOps.dot(col("nv"), col("ex_nv")) >= threshold)
      .select("id")
      .distinct()
    inc
      .select(col("id"), col("cluster"))
      .join(dupIds.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"), col("dup").isNotNull.as("is_dup"))
  }
}
