package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.PortableHash
import graft.ml.{Dedup, Dsir, FineDedup, KnLm, Sampling, TextStats}
import graft.streaming.StreamingIngest
import graft.tables.TestTables

/** Corpus-construction operators a large-scale training-data pipeline
  * runs AFTER pair-level dedup: cluster resolution (connected
  * components over near-dup pairs), repetition/quality signals
  * (Gopher-style duplicate-n-gram fractions), eval-set contamination
  * screening (n-gram overlap), stratified quota sampling for mixture
  * construction, and per-language heavy-hitter profiling.
  *
  * All five are DuckDB-oracle hash-checked; the shared tokenize /
  * shingle / MinHash oracle fragments live in [[TextMlQueries]] so the
  * two query families stay bit-identical on their common prefix.
  */
object CorpusQueries {

  import TextMlQueries.{tokCte, shCte, minHashCandCtes, MinHashPerms, MinHashBands, normVecCte, centroidStructsSql}

  // ---- dedup cluster resolution (connected components) -------------

  /** MinHash-LSH near-dup pairs -> connected components -> one
    * canonical doc per cluster. The pair set is the oracle-proven
    * q_minhash_lsh pipeline; the component labels are the min doc id
    * reachable through the pairs (recursive-CTE oracle).
    */
  private def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val pairs = Dedup.minHashNearDups(
      docs,
      "doc_id",
      "text",
      shingleN = 3,
      numPerm = MinHashPerms,
      bands = MinHashBands,
      threshold = 0.6
    )
    val cc = Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs.select("d1", "d2"))
    cc.withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  private lazy val dedupClustersSql =
    s"""WITH RECURSIVE $tokCte, $shCte,
       |$minHashCandCtes, pair AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
       |), edges AS (
       |  SELECT d1, d2
       |  FROM pair
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE inter::DOUBLE / (s1.n_sh + s2.n_sh - inter) >= 0.6
       |), sym AS (
       |  SELECT d1 AS src, d2 AS dst FROM edges
       |  UNION ALL
       |  SELECT d2, d1 FROM edges
       |), reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.node = s.dst
       |), lab AS (
       |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
       |)
       |SELECT doc_id, cluster_id,
       |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       doc_id = cluster_id AS is_canonical
       |FROM lab
       |ORDER BY doc_id""".stripMargin

  // ---- DSIR incremental screen (persisted-ratio probe) -------------

  /** The DSIR deployment shape: [[graft.ml.Dsir.fit]] once on the
    * curated corpus (`doc_id % 3 != 1`; target slice `doc_id % 10 = 0`
    * within it), then screen the INCOMING batch (`doc_id % 3 = 1`)
    * against the fitted — persistable, bucket-bounded — ratio table.
    * Novel buckets the fit corpus never saw take the model's Laplace
    * default instead of being dropped (a screen that silently loses
    * unseen-feature mass over-scores out-of-domain crawls). Sibling
    * of q_kn_screen / q_simhash_screen: corpus side never reshuffles,
    * only the batch moves.
    */
  private def dsirScreen(s: SparkSession, d: String): DataFrame = {
    val feats = Dsir
      .featurize(TestTables.documents(s, d), "doc_id", "text")
      .localCheckpoint(false)
    val model = Dsir.fit(
      feats.filter(pmod(col("id"), lit(3)) =!= 1),
      pmod(col("id"), lit(10)) === 0
    )
    Dsir
      .screenScore(feats.filter(pmod(col("id"), lit(3)) === 1), model)
      .select(
        col("id").as("doc_id"),
        col("n_feats"),
        round(col("score"), 4).as("score_r"),
        (round(col("score"), 4) >= 0.0).as("kept")
      )
      .orderBy(col("doc_id"))
  }

  private lazy val dsirScreenSql = {
    val b = Dsir.Buckets
    s"""WITH $tokCte,
       |grams AS (
       |  SELECT doc_id,
       |         unnest(list_concat(toks,
       |           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))) AS gram
       |  FROM tok WHERE len(toks) >= 1
       |),
       |feats AS (
       |  SELECT doc_id, ${PortableHash.md5num28Sql("gram")} % $b AS bucket FROM grams
       |),
       |corp AS (SELECT * FROM feats WHERE doc_id % 3 <> 1),
       |tcnt AS (SELECT bucket, count(*) AS pc FROM corp WHERE doc_id % 10 = 0 GROUP BY 1),
       |scnt AS (SELECT bucket, count(*) AS qc FROM corp GROUP BY 1),
       |tot AS (SELECT (SELECT sum(pc) FROM tcnt) AS pt, (SELECT sum(qc) FROM scnt) AS qt),
       |ratio AS (
       |  SELECT s.bucket,
       |         ln((COALESCE(t.pc, 0) + 1.0) / (tot.pt + $b.0))
       |           - ln((s.qc + 1.0) / (tot.qt + $b.0)) AS r
       |  FROM scnt s LEFT JOIN tcnt t USING (bucket) CROSS JOIN tot
       |),
       |scored AS (
       |  SELECT f.doc_id,
       |         sum(COALESCE(ratio.r,
       |                      ln(1.0 / (tot.pt + $b.0)) - ln(1.0 / (tot.qt + $b.0)))) AS log_w,
       |         count(*) AS n_feats
       |  FROM feats f LEFT JOIN ratio USING (bucket) CROSS JOIN tot
       |  WHERE f.doc_id % 3 = 1
       |  GROUP BY 1
       |)
       |SELECT doc_id, n_feats, round(log_w / n_feats, 4) AS score_r,
       |       round(log_w / n_feats, 4) >= 0.0 AS kept
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  // ---- leakage-safe splits (cluster-keyed assignment) --------------

  /** Train/eval/test assignment keyed by NEAR-DUP CLUSTER, not by
    * doc: hashing the component label means two near-duplicate
    * documents can never straddle a split boundary — the train→eval
    * contamination channel that per-doc splitting leaves open (the
    * reason dedup papers re-split after clustering; cf. Lee et al.
    * 2022 §6). Pure composition of two oracle-proven pieces
    * ([[Dedup.connectedComponents]] over the q_minhash_lsh pairs,
    * [[Sampling.splits]] on the cluster label), plus a per-cluster
    * distinct-split count that STATES the guarantee in the output
    * (always 1) so the oracle verifies it rather than assuming it.
    */
  private def leakageSplit(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val pairs = Dedup.minHashNearDups(
      docs,
      "doc_id",
      "text",
      shingleN = 3,
      numPerm = MinHashPerms,
      bands = MinHashBands,
      threshold = 0.6
    )
    val cc = Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs.select("d1", "d2"))
    Sampling
      .splits(
        cc.withColumn("ck", col("cluster_id").cast("string")),
        "ck",
        Seq(("train", 8), ("eval", 1), ("test", 1))
      )
      .withColumn(
        "n_splits_in_cluster",
        size(collect_set(col("split")).over(Window.partitionBy(col("cluster_id"))))
      )
      .select(col("doc_id"), col("cluster_id"), col("split"), col("n_splits_in_cluster"))
      .orderBy(col("doc_id"))
  }

  /** Per-(JVM, sf dir) persisted near-dup cluster-label table — the
    * deployment shape for leakage-safe splits: clusters are a
    * per-corpus-generation BUILD artifact (the ANN build/serve
    * discipline of SURVEY §8.7), and every downstream split/assignment
    * job probes the stored labels instead of re-running the pair join
    * + iterative connected components. Lives outside the
    * per-invocation temp trees; the harness reclaims the JVM temp dir.
    */
  private val clusterLabelCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def clusterLabels(s: SparkSession, d: String): String =
    clusterLabelCache.computeIfAbsent(
      d,
      dir => {
        val p = graft.TempRoots.newDir("graft-cclabels").toString
        val docs = TestTables.documents(s, dir)
        val pairs = Dedup.minHashNearDups(
          docs, "doc_id", "text",
          shingleN = 3, numPerm = MinHashPerms, bands = MinHashBands,
          threshold = 0.6
        )
        Dedup
          .connectedComponents(docs.select("doc_id"), "doc_id", pairs.select("d1", "d2"))
          .write.mode("overwrite").parquet(p)
        p
      }
    )

  /** Serve-shaped twin of [[leakageSplit]]: identical output (the same
    * oracle SQL byte-for-byte — serving persisted labels must change
    * nothing about the assignment), but the cluster graph is read from
    * the per-corpus-generation label table rather than rebuilt, so the
    * per-batch cost is one label scan + the split hash — the shape a
    * deployment actually runs each time a new training mix is cut.
    */
  private def leakageSplitServe(s: SparkSession, d: String): DataFrame = {
    val cc = s.read.parquet(clusterLabels(s, d))
    Sampling
      .splits(
        cc.withColumn("ck", col("cluster_id").cast("string")),
        "ck",
        Seq(("train", 8), ("eval", 1), ("test", 1))
      )
      .withColumn(
        "n_splits_in_cluster",
        size(collect_set(col("split")).over(Window.partitionBy(col("cluster_id"))))
      )
      .select(col("doc_id"), col("cluster_id"), col("split"), col("n_splits_in_cluster"))
      .orderBy(col("doc_id"))
  }

  private lazy val leakageSplitSql =
    s"""WITH RECURSIVE $tokCte, $shCte,
       |$minHashCandCtes, pair AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
       |), edges AS (
       |  SELECT d1, d2
       |  FROM pair
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE inter::DOUBLE / (s1.n_sh + s2.n_sh - inter) >= 0.6
       |), sym AS (
       |  SELECT d1 AS src, d2 AS dst FROM edges
       |  UNION ALL
       |  SELECT d2, d1 FROM edges
       |), reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.node = s.dst
       |), lab AS (
       |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
       |), spl AS (
       |  SELECT doc_id, cluster_id,
       |         CASE WHEN ${PortableHash.md5num56Sql("CAST(cluster_id AS VARCHAR)")} % 10 < 8 THEN 'train'
       |              WHEN ${PortableHash.md5num56Sql("CAST(cluster_id AS VARCHAR)")} % 10 < 9 THEN 'eval'
       |              ELSE 'test' END AS split
       |  FROM lab
       |), csumm AS (
       |  SELECT cluster_id, CAST(count(DISTINCT split) AS INT) AS n_splits_in_cluster
       |  FROM spl GROUP BY 1
       |)
       |SELECT s.doc_id, s.cluster_id, s.split, c.n_splits_in_cluster
       |FROM spl s JOIN csumm c USING (cluster_id)
       |ORDER BY s.doc_id""".stripMargin

  // ---- repetition signals (Gopher-style) ---------------------------

  /** Per-doc repetition metrics: duplicate-token fraction, most
    * frequent bigram coverage, duplicated-trigram instance fraction
    * (the document-quality rules of Gopher / RefinedWeb, token-n-gram
    * form since the testdata has no line structure). Everything is
    * one shuffle keyed by doc_id with map-side combine; the
    * distinct-token ratio never leaves the scan projection.
    */
  private def repetition(s: SparkSession, d: String): DataFrame = {
    val base = TestTables
      .documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        col("toks"),
        size(col("toks")).as("n_tokens"),
        round(
          when(
            size(col("toks")) > 0,
            lit(1.0) - size(array_distinct(col("toks"))).cast("double") / size(col("toks"))
          ),
          6
        ).as("dup_tok_frac")
      )
    def grams(n: Int) =
      when(
        size(col("toks")) >= n,
        expr(s"transform(sequence(1, size(toks) - ${n - 1}), i -> array_join(slice(toks, i, $n), ' '))")
      ).otherwise(array().cast("array<string>"))
    val big = base
      .select(col("doc_id"), explode(grams(2)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).as("tot2"))
    val tri = base
      .select(col("doc_id"), explode(grams(3)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3"), sum(col("c")).as("tot3"))
    base
      .join(big, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("dup_tok_frac"),
        col("top_bigram_n"),
        round(col("top_bigram_n").cast("double") / col("tot2"), 6).as("top_bigram_frac"),
        round(col("dup3").cast("double") / col("tot3"), 6).as("dup_trigram_frac")
      )
      .orderBy(col("doc_id"))
  }

  // DuckDB slicing is inclusive (toks[i:i+1] = 2 elements), Spark's
  // slice(toks, i, 2) matches; sums stay inside double divisions so
  // DuckDB's HUGEINT sum widening never reaches the output schema.
  private lazy val repetitionSql =
    s"""WITH $tokCte,
       |g2 AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(toks), 1)),
       |                               i -> array_to_string(toks[i:i+1], ' '))) AS g
       |  FROM tok
       |), c2 AS (
       |  SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
       |), s2 AS (
       |  SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS tot2 FROM c2 GROUP BY 1
       |), g3 AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
       |                               i -> array_to_string(toks[i:i+2], ' '))) AS g
       |  FROM tok
       |), c3 AS (
       |  SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2
       |), s3 AS (
       |  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3, sum(c) AS tot3
       |  FROM c3 GROUP BY 1
       |), base AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |         round(CASE WHEN len(toks) > 0
       |               THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks) END, 6) AS dup_tok_frac
       |  FROM tok
       |)
       |SELECT base.doc_id, n_tokens, dup_tok_frac, top_bigram_n,
       |       round(top_bigram_n::DOUBLE / tot2, 6) AS top_bigram_frac,
       |       round(dup3::DOUBLE / tot3, 6) AS dup_trigram_frac
       |FROM base
       |LEFT JOIN s2 ON s2.doc_id = base.doc_id
       |LEFT JOIN s3 ON s3.doc_id = base.doc_id
       |ORDER BY base.doc_id""".stripMargin

  // ---- eval-set contamination screening ----------------------------

  /** Train/eval contamination: the fraction of each training doc's
    * distinct 3-gram shingles that also occur in the (broadcast-small)
    * eval split. The eval shingle set reaches the train side as a
    * broadcast hit-marker left join — the 100 TB shape is a map-side
    * bloom/semi filter, never a shuffle of the training corpus by
    * shingle — and BOTH per-doc counts (total, overlapping) come out
    * of ONE doc_id aggregation (count + conditional count), not two
    * aggregations stitched by a join.
    */
  private def contamination(s: SparkSession, d: String): DataFrame = {
    val sh =
      Dedup.shingles(TestTables.documents(s, d), "doc_id", "text", 3).localCheckpoint(false)
    val evalSh = sh.filter(col("doc_id") % 50 === 0).select("shingle").distinct()
    val train = sh.filter(col("doc_id") % 50 =!= 0)
    train
      .join(broadcast(evalSh.withColumn("hit", lit(true))), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_overlap"))
      .select(
        col("doc_id"),
        col("n_sh"),
        col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_sh"), 6).as("contamination"),
        (col("n_overlap").cast("double") / col("n_sh") >= 0.1).as("contaminated")
      )
      .orderBy(col("doc_id"))
  }

  private lazy val contaminationSql =
    s"""WITH $tokCte, $shCte,
       |ev AS (
       |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
       |), tr AS (
       |  SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1
       |), ov AS (
       |  SELECT doc_id, count(*) AS n_overlap FROM tr JOIN ev USING (shingle) GROUP BY 1
       |)
       |SELECT sizes.doc_id, n_sh, coalesce(n_overlap, 0) AS n_overlap,
       |       round(coalesce(n_overlap, 0)::DOUBLE / n_sh, 6) AS contamination,
       |       coalesce(n_overlap, 0)::DOUBLE / n_sh >= 0.1 AS contaminated
       |FROM sizes
       |LEFT JOIN ov ON ov.doc_id = sizes.doc_id
       |ORDER BY sizes.doc_id""".stripMargin

  // ---- decontamination spans (surgical eval-overlap removal) -------

  /** Decontamination CUT LIST: instead of dropping whole contaminated
    * docs (q_contamination's screen), mark the exact token spans
    * covered by eval-set 3-grams — the surgical removal a pipeline
    * prefers when contamination touches a fraction of a long doc. The
    * eval shingle set is broadcast ([[FineDedup.taggedSpans]]); span
    * merge semantics match q_dup_spans.
    */
  private def decontamSpans(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val evalGrams = Dedup
      .shingles(docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 3)
      .select(col("shingle").as("gram"))
      .distinct()
    FineDedup
      .taggedSpans(docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", n = 3, evalGrams)
      .orderBy(col("doc_id"), col("span_start"))
  }

  private lazy val decontamSpansSql =
    s"""WITH $tokCte, $shCte,
       |ev AS (
       |  SELECT DISTINCT shingle AS gram FROM sh WHERE doc_id % 50 = 0
       |), g AS (
       |  SELECT doc_id, CAST(pos AS INT) AS pos,
       |         array_to_string(toks[pos:pos+2], ' ') AS gram
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos
       |        FROM tok WHERE doc_id % 50 <> 0 AND len(toks) >= 3)
       |), hits AS (
       |  SELECT doc_id, pos, pos + 2 AS end_pos
       |  FROM g WHERE gram IN (SELECT gram FROM ev)
       |), isl AS (
       |  SELECT doc_id, pos, end_pos,
       |         CASE WHEN max(end_pos) OVER w IS NULL
       |                OR pos > max(end_pos) OVER w + 1
       |              THEN 1 ELSE 0 END AS new_span
       |  FROM hits
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |), sp AS (
       |  SELECT doc_id, pos, end_pos,
       |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM isl
       |)
       |SELECT doc_id,
       |       CAST(min(pos) AS INT) AS span_start,
       |       CAST(max(end_pos) AS INT) AS span_end,
       |       CAST(max(end_pos) - min(pos) + 1 AS INT) AS span_len
       |FROM sp GROUP BY doc_id, span_id
       |ORDER BY doc_id, span_start""".stripMargin

  // ---- vocabulary / OOV quality signal (CCNet-style LM proxy) ------

  /** Out-of-vocabulary scoring — the language-model quality-filter
    * shape (CCNet/KenLM filtering) without the log-prob arithmetic
    * (libm rounding differs cross-engine; a set-membership fraction
    * doesn't): build the corpus's top-500 bigram vocabulary
    * (document frequency, deterministic tie-break), broadcast it
    * back, and score each doc by the fraction of its distinct bigrams
    * that fall outside the vocabulary.
    *
    * Scale: the vocabulary is a two-phase (map-side partial) count
    * + global top-K — the only full-corpus shuffle is on the bigram
    * key once; the scoring pass is the same broadcast hit-marker +
    * fused single aggregation as q_contamination, so the corpus never
    * shuffles by bigram again. At 100 TB the vocab build is a
    * periodic job and the broadcast table is the artifact.
    */
  private def oovScore(s: SparkSession, d: String): DataFrame = {
    // no localCheckpoint: the shingle projection is scan-side and
    // cheap to recompute for the scoring pass, while retained
    // checkpoint blocks (unpersisted only when the ContextCleaner gets
    // to them) made warm-rep timings swing 3.6x within one session
    val sh2 = Dedup.shingles(TestTables.documents(s, d), "doc_id", "text", 2)
    val vocab = sh2
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle"))
      .limit(500)
      .select(col("shingle"), lit(true).as("iv"))
    val scored = sh2
      .join(broadcast(vocab), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("iv").isNull, 1)).as("n_oov")
      )
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("n_oov"),
        round(col("n_oov").cast("double") / col("n_bigrams"), 6).as("oov_frac"),
        (col("n_oov").cast("double") / col("n_bigrams") >= 0.5).as("low_quality")
      )
    // a doc that tokenizes to nothing still surfaces (n_bigrams=0,
    // unscored) rather than silently vanishing from the quality table
    TestTables
      .documents(s, d)
      .select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("oov_frac"),
        col("low_quality")
      )
      .orderBy(col("doc_id"))
  }

  private lazy val oovScoreSql =
    s"""WITH $tokCte, sh2 AS (
       |  SELECT DISTINCT doc_id, shingle
       |  FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, greatest(len(toks), 2)),
       |                                 i -> array_to_string(toks[i:i+1], ' '))) AS shingle
       |    FROM tok
       |  )
       |  WHERE shingle <> ''
       |), vocab AS (
       |  SELECT shingle FROM (
       |    SELECT shingle, count(*) AS df
       |    FROM sh2 GROUP BY 1
       |    ORDER BY df DESC, shingle
       |    LIMIT 500
       |  )
       |)
       |, sc AS (
       |  SELECT sh2.doc_id,
       |         count(*) AS n_bigrams,
       |         count(CASE WHEN v.shingle IS NULL THEN 1 END) AS n_oov,
       |         round(count(CASE WHEN v.shingle IS NULL THEN 1 END)::DOUBLE / count(*), 6) AS oov_frac,
       |         count(CASE WHEN v.shingle IS NULL THEN 1 END)::DOUBLE / count(*) >= 0.5 AS low_quality
       |  FROM sh2 LEFT JOIN vocab v USING (shingle)
       |  GROUP BY sh2.doc_id
       |)
       |SELECT d.doc_id,
       |       CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |       CAST(COALESCE(sc.n_oov, 0) AS BIGINT) AS n_oov,
       |       sc.oov_frac, sc.low_quality
       |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- n-gram LM count tables (Kneser-Ney quantities) --------------

  /** The count tables an n-gram language model trains from (the
    * KenLM/CCNet artifact the OOV filter approximates): trigram
    * occurrence counts plus the Kneser-Ney CONTINUATION count of each
    * final word — how many distinct (w1, w2) contexts precede it,
    * which is what KN backoff uses instead of raw frequency.
    *
    * Scale: the corpus shuffles ONCE on the trigram key (map-side
    * partial counts); the continuation table is an aggregate OF the
    * trigram table — the corpus is never rescanned, which is exactly
    * how KN count files are built (count, then derive).
    */
  private def knCounts(s: SparkSession, d: String): DataFrame = {
    val tri = TestTables
      .documents(s, d)
      .select(TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(
        explode(
          expr(
            "transform(sequence(1, size(toks) - 2), " +
              "i -> struct(toks[i-1] as w1, toks[i] as w2, toks[i+1] as w3))"
          )
        ).as("g")
      )
      .select(col("g.w1"), col("g.w2"), col("g.w3"))
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds both the report and the continuation table
    val cont = tri
      .groupBy(col("w3"))
      .agg(countDistinct(concat_ws(" ", col("w1"), col("w2"))).as("cont_w3"))
    // the continuation table is vocabulary-sized (one row per word) —
    // broadcast it so the trigram table never shuffles again
    tri
      .filter(col("c") >= 3)
      .join(broadcast(cont), Seq("w3"))
      .select(col("w1"), col("w2"), col("w3"), col("c"), col("cont_w3"))
      .orderBy(col("w1"), col("w2"), col("w3"))
  }

  private lazy val knCountsSql =
    s"""WITH $tokCte, tri AS (
       |  SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3, count(*) AS c
       |  FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
       |        FROM tok WHERE len(toks) >= 3)
       |  GROUP BY 1, 2, 3
       |), cont AS (
       |  SELECT w3, count(DISTINCT w1 || ' ' || w2) AS cont_w3
       |  FROM tri GROUP BY 1
       |)
       |SELECT tri.w1, tri.w2, tri.w3, tri.c, cont.cont_w3
       |FROM tri JOIN cont USING (w3)
       |WHERE tri.c >= 3
       |ORDER BY tri.w1, tri.w2, tri.w3""".stripMargin

  // ---- multi-order n-gram counts (one-pass union explode) ----------

  /** The complete n-gram count file (orders 1..3) in ONE corpus pass:
    * every order's grams explode from the same scan tagged with their
    * order, so a single (order, gram) shuffle produces the whole
    * hierarchy — not one scan+shuffle per order. This is the artifact
    * KenLM's `lmplz` counts phase writes; q_kn_counts derives the
    * continuation quantities from the top order.
    */
  private def ngramOrders(s: SparkSession, d: String): DataFrame =
    TestTables
      .documents(s, d)
      .select(TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      // two chained generators instead of one concat of three
      // array-of-struct lambdas: the concat shape was flagged as a
      // codegen-fallout suspect, and the nested explode keeps the
      // same one-scan / one-(order,gram)-shuffle plan with a simpler
      // projection per row
      .select(col("toks"), explode(expr("sequence(1, least(3, size(toks)))")).as("order_n"))
      .select(
        col("order_n"),
        explode(
          expr(
            "transform(sequence(1, size(toks) - order_n + 1), " +
              "i -> array_join(slice(toks, i, order_n), ' '))"
          )
        ).as("gram")
      )
      .groupBy(col("order_n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 5)
      .orderBy(col("order_n"), col("gram"))

  private lazy val ngramOrdersSql =
    s"""WITH $tokCte, ex AS (
       |  SELECT 1 AS order_n, unnest(toks) AS gram FROM tok
       |  UNION ALL
       |  SELECT 2, array_to_string(toks[i:i+1], ' ')
       |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tok WHERE len(toks) >= 2)
       |  UNION ALL
       |  SELECT 3, array_to_string(toks[i:i+2], ' ')
       |  FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i FROM tok WHERE len(toks) >= 3)
       |)
       |SELECT CAST(order_n AS INT) AS order_n, gram, count(*) AS c
       |FROM ex GROUP BY 1, 2 HAVING count(*) >= 5
       |ORDER BY order_n, gram""".stripMargin

  // ---- KN perplexity scoring (CCNet head/middle/tail) --------------

  /** CCNet-style LM quality filter: score every document's perplexity
    * under an interpolated Kneser-Ney bigram model self-trained on the
    * corpus ([[graft.ml.KnLm]]), then bucket the corpus into
    * head/middle/tail by exact perplexity terciles — the signal CCNet
    * uses to keep/downsample/drop crawl partitions. Documents with no
    * bigrams (< 2 tokens) carry NULL score and bucket.
    *
    * Engine parity: per-bigram log-probs are IEEE-identical (same
    * formula, same association order in both engines); the per-doc
    * mean is rounded to 4 decimals BEFORE the tercile thresholds, so
    * both engines take percentiles over identical inputs (Spark
    * `percentile` and DuckDB `quantile_cont` share the linear
    * interpolation definition — the q_doy_stats discipline).
    *
    * Scale: one corpus shuffle for counts, one (w1,w2)-keyed scoring
    * join, vocabulary-sized broadcasts, a 2-double threshold collect.
    * The global sort this replaces (rank-based terciles) would
    * single-task; threshold comparison is a map-side projection.
    */
  private def knPerplexity(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val bigrams = KnLm
      .docBigrams(docs, "doc_id", TextStats.tokens(col("text")))
      .localCheckpoint(false) // trains the model AND is scored by it
    val model = KnLm.bigramLogProbs(bigrams)
    // probed for the thresholds AND joined back: the probe's job
    // materializes the scores and the join reads them
    val scored = KnLm.perplexity(bigrams, model, "doc_id").localCheckpoint(false)
    val thr = scored
      .agg(expr("percentile(ppl, array(0.3333333333333333d, 0.6666666666666666d))").as("t"))
      .head()
      .getSeq[Double](0)
    // An empty scored frame (no doc has >= 2 tokens) yields a NULL
    // percentile; NaN thresholds keep the bucket CASE all-NULL, the
    // same result the oracle's LEFT JOIN + NULL quantiles produces.
    val (t1, t2) =
      if (thr == null) (Double.NaN, Double.NaN) else (thr(0), thr(1))
    docs
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("ppl"),
        when(col("ppl").isNull, lit(null).cast("string"))
          .when(col("ppl") <= t1, "head")
          .when(col("ppl") <= t2, "middle")
          .otherwise("tail")
          .as("bucket")
      )
      .orderBy(col("doc_id"))
  }

  private lazy val knPerplexitySql =
    s"""WITH $tokCte, big AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |        FROM tok WHERE len(toks) >= 2)
       |), counts AS (
       |  SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2
       |), ctx AS (
       |  SELECT w1, sum(c) AS ctx_c, count(*) AS fwd_types FROM counts GROUP BY 1
       |), cont AS (
       |  SELECT w2, count(*) AS back_types FROM counts GROUP BY 1
       |), nt AS (
       |  SELECT count(*)::DOUBLE AS ntypes FROM counts
       |), model AS (
       |  SELECT counts.w1, counts.w2,
       |         ln((greatest(c - 0.75, 0.0)
       |             + 0.75 * fwd_types * back_types / ntypes) / ctx_c) AS logp
       |  FROM counts
       |  JOIN ctx USING (w1)
       |  JOIN cont USING (w2)
       |  CROSS JOIN nt
       |), sc AS (
       |  SELECT big.doc_id, count(*) AS n_bigrams,
       |         round(exp(-avg(logp)), 4) AS ppl
       |  FROM big JOIN model USING (w1, w2)
       |  GROUP BY 1
       |), th AS (
       |  SELECT quantile_cont(ppl, 0.3333333333333333) AS t1,
       |         quantile_cont(ppl, 0.6666666666666666) AS t2
       |  FROM sc
       |)
       |SELECT d.doc_id,
       |       CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |       sc.ppl,
       |       CASE WHEN sc.ppl IS NULL THEN NULL
       |            WHEN sc.ppl <= th.t1 THEN 'head'
       |            WHEN sc.ppl <= th.t2 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM documents d
       |LEFT JOIN sc ON sc.doc_id = d.doc_id
       |CROSS JOIN th
       |ORDER BY d.doc_id""".stripMargin

  // ---- KN screen: new crawl vs persisted corpus LM -----------------

  /** Index-path perplexity screening: the standing corpus
    * (doc_id % 3 <> 1) trains the LM index ONCE via
    * [[graft.ml.KnLm.buildLmIndex]] and the incoming batch
    * (doc_id % 3 = 1) scores against it — the CCNet deployment shape
    * (pretrained LM, new crawl). Unlike q_kn_perplexity's self-scored
    * corpus, the batch contains material the model never saw, so the
    * full KN backoff chain fires: seen bigram → λ(w1)·Pcont(w2) →
    * Pcont(w2) → uniform 1/(V+1) floor. n_unseen counts the backoff
    * rows — itself a quality signal (vocabulary novelty).
    */
  private def knScreen(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val toks = TextStats.tokens(col("text"))
    val idx = KnLm.buildLmIndex(
      KnLm.docBigrams(docs.filter(col("doc_id") % 3 =!= 1), "doc_id", toks)
    )
    val scored = KnLm.screenPerplexity(
      KnLm.docBigrams(docs.filter(col("doc_id") % 3 === 1), "doc_id", toks),
      idx,
      "doc_id"
    )
    docs
      .filter(col("doc_id") % 3 === 1)
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        col("ppl")
      )
      .orderBy(col("doc_id"))
  }

  private lazy val knScreenSql =
    s"""WITH $tokCte, bigall AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |        FROM tok WHERE len(toks) >= 2)
       |), counts AS (
       |  SELECT w1, w2, count(*) AS c FROM bigall WHERE doc_id % 3 <> 1 GROUP BY 1, 2
       |), ctx AS (
       |  SELECT w1, sum(c) AS ctx_c, count(*) AS fwd_types FROM counts GROUP BY 1
       |), cont AS (
       |  SELECT w2, count(*) AS back_types FROM counts GROUP BY 1
       |), nt AS (
       |  SELECT count(*)::DOUBLE AS ntypes,
       |         (SELECT count(*) FROM cont) AS vocab
       |  FROM counts
       |), model AS (
       |  SELECT counts.w1, counts.w2,
       |         ln((greatest(c - 0.75, 0.0)
       |             + 0.75 * fwd_types * back_types / ntypes) / ctx_c) AS logp
       |  FROM counts JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN nt
       |), lam AS (
       |  SELECT w1, 0.75 * fwd_types / ctx_c AS lam FROM ctx
       |), pc AS (
       |  SELECT w2, back_types / ntypes AS pcont FROM cont CROSS JOIN nt
       |), scored AS (
       |  SELECT bb.doc_id,
       |         CASE WHEN m.logp IS NOT NULL THEN m.logp
       |              WHEN l.lam IS NOT NULL AND p.pcont IS NOT NULL THEN ln(l.lam * p.pcont)
       |              WHEN p.pcont IS NOT NULL THEN ln(p.pcont)
       |              ELSE ln(1.0 / (nt.vocab + 1)) END AS logp,
       |         m.logp IS NULL AS unseen
       |  FROM (SELECT * FROM bigall WHERE doc_id % 3 = 1) bb
       |  LEFT JOIN model m ON m.w1 = bb.w1 AND m.w2 = bb.w2
       |  LEFT JOIN lam l ON l.w1 = bb.w1
       |  LEFT JOIN pc p ON p.w2 = bb.w2
       |  CROSS JOIN nt
       |), sc AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |         sum(CASE WHEN unseen THEN 1 ELSE 0 END) AS n_unseen,
       |         round(exp(-avg(logp)), 4) AS ppl
       |  FROM scored GROUP BY 1
       |)
       |SELECT d.doc_id,
       |       CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |       CAST(COALESCE(sc.n_unseen, 0) AS BIGINT) AS n_unseen,
       |       sc.ppl
       |FROM documents d
       |LEFT JOIN sc ON sc.doc_id = d.doc_id
       |WHERE d.doc_id % 3 = 1
       |ORDER BY d.doc_id""".stripMargin

  // ---- weighted mixture sampling (largest-remainder quotas) --------

  private val MixWeights = Seq(("src0", 5), ("src1", 3), ("src2", 2), ("src3", 1), ("src7", 4))
  private val MixTarget = 100L

  /** Weighted mixture construction: a 100-doc budget apportioned
    * across five sources by integer weights (Hamilton largest
    * remainder), each source's quota filled by content-hash rank.
    * Unlisted sources are excluded; an over-subscribed source
    * contributes all it has (the fixture makes src0's quota exceed its
    * row count, exercising the cap). All-integer — engine-exact.
    */
  private def weightedMix(s: SparkSession, d: String): DataFrame =
    Sampling
      .weightedQuota(TestTables.documents(s, d), "doc_id", "source", MixWeights, MixTarget)
      .select(col("source"), col("doc_id"), col("rk"), col("quota"))
      .orderBy(col("source"), col("rk"))

  private lazy val weightedMixSql = {
    val totalW = MixWeights.map(_._2).sum
    val values = MixWeights.map { case (s0, wt) => s"('$s0', $wt)" }.mkString(", ")
    s"""WITH w(source, wt) AS (VALUES $values),
       |q AS (
       |  SELECT source,
       |         ($MixTarget * wt) // $totalW
       |         + CASE WHEN row_number() OVER (ORDER BY ($MixTarget * wt) % $totalW DESC, source)
       |                 <= $MixTarget - SUM(($MixTarget * wt) // $totalW) OVER () THEN 1 ELSE 0 END AS quota
       |  FROM w
       |), r AS (
       |  SELECT d.source, d.doc_id, q.quota,
       |         row_number() OVER (PARTITION BY d.source
       |                            ORDER BY ${PortableHash.md5num56Sql("doc_id::VARCHAR")}, doc_id) AS rk
       |  FROM documents d JOIN q USING (source)
       |)
       |SELECT source, doc_id, rk, quota FROM r WHERE rk <= quota
       |ORDER BY source, rk""".stripMargin
  }

  // ---- temperature-balanced mixture (alpha = 0.5) ------------------

  private val TempTarget = 100L

  /** Square-root temperature sampling: quotas ∝ sqrt(source size) —
    * small sources up-weighted, head sources capped, the standard
    * multilingual balancing. See [[graft.ml.Sampling.temperatureQuota]]
    * for the integer-exact weight construction (IEEE sqrt is correctly
    * rounded on both engines, so the scaled weights are identical
    * BIGINTs cross-engine and the apportionment stays all-integer).
    */
  private def temperatureMix(s: SparkSession, d: String): DataFrame =
    Sampling
      .temperatureQuota(TestTables.documents(s, d), "doc_id", "source", TempTarget)
      .select(col("source"), col("doc_id"), col("rk"), col("quota"))
      .orderBy(col("source"), col("rk"))

  private lazy val temperatureMixSql =
    s"""WITH cnt AS (
       |  SELECT source, count(*) AS n FROM documents GROUP BY 1
       |), w AS (
       |  SELECT source, CAST(round(sqrt(n::DOUBLE) * 1000000) AS BIGINT) AS wt FROM cnt
       |), tot AS (
       |  SELECT sum(wt) AS tw FROM w
       |), q AS (
       |  SELECT source,
       |         ($TempTarget * wt) // tw
       |         + CASE WHEN row_number() OVER (ORDER BY ($TempTarget * wt) % tw DESC, source)
       |                 <= $TempTarget - SUM(($TempTarget * wt) // tw) OVER () THEN 1 ELSE 0 END AS quota
       |  FROM w CROSS JOIN tot
       |), r AS (
       |  SELECT d.source, d.doc_id, q.quota,
       |         row_number() OVER (PARTITION BY d.source
       |                            ORDER BY ${PortableHash.md5num56Sql("doc_id::VARCHAR")}, doc_id) AS rk
       |  FROM documents d JOIN q USING (source)
       |)
       |SELECT source, doc_id, rk, CAST(quota AS BIGINT) AS quota
       |FROM r WHERE rk <= quota
       |ORDER BY source, rk""".stripMargin

  // ---- sub-document dedup: boilerplate lines + duplicate spans -----

  /** Line-level boilerplate stripping (CCNet preprocessing shape):
    * build a "line" view of each doc (10-token windows, stride 10 —
    * the fixture text has no newline structure, so fixed windows stand
    * in for real lines; [[FineDedup.stripFrequentLines]] itself is
    * delimiter-agnostic), drop every line whose content appears in >=2
    * distinct docs, and emit per-doc kept/removed counts plus a
    * checksum of the cleaned text.
    *
    * Scale: one line-hash-keyed shuffle to find the frequent set, a
    * broadcast anti join back (the boilerplate set is df-thresholded
    * and tiny relative to the corpus), one doc-keyed shuffle for the
    * final per-doc aggregate.
    */
  private def boilerplate(s: SparkSession, d: String): DataFrame = {
    val lines = TestTables
      .documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(expr("sequence(1, size(toks), 10)")).as("start"), col("toks"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / 10).cast("int").as("line_no"),
        expr("array_join(slice(toks, start, 10), ' ')").as("line")
      )
    val kept = FineDedup.stripFrequentLines(lines, "doc_id", "line", minDocs = 2)
    // totals from the FULL doc set: a doc whose text tokenizes to
    // nothing still surfaces with n_lines=0 (no silent drops)
    val totals = TestTables
      .documents(s, d)
      .select(col("doc_id"))
      .join(lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_raw")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_raw"), lit(0L)).as("n_lines"))
    val keptAgg = kept
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        PortableHash
          .md5num56(
            expr("array_join(transform(array_sort(collect_list(struct(line_no, line))), x -> x.line), ' ')")
          )
          .as("clean_checksum")
      )
    totals
      .join(keptAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_checksum"), PortableHash.md5num56(lit(""))).as("clean_checksum")
      )
      .orderBy(col("doc_id"))
  }

  private lazy val boilerplateSql =
    s"""WITH $tokCte, ln AS (
       |  SELECT doc_id,
       |         CAST((start - 1) // 10 AS INT) AS line_no,
       |         array_to_string(toks[start:start+9], ' ') AS line
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 10)) AS start
       |        FROM tok WHERE len(toks) > 0)
       |), freq AS (
       |  SELECT line FROM (
       |    SELECT line, count(*) AS df
       |    FROM (SELECT DISTINCT line, doc_id FROM ln)
       |    GROUP BY 1
       |  ) WHERE df >= 2
       |), kept AS (
       |  SELECT * FROM ln WHERE line NOT IN (SELECT line FROM freq)
       |), tot AS (
       |  SELECT d.doc_id, count(ln.line) AS n_lines
       |  FROM documents d LEFT JOIN ln USING (doc_id) GROUP BY 1
       |), ka AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         ${PortableHash.md5num56Sql("string_agg(line, ' ' ORDER BY line_no)")} AS clean_checksum
       |  FROM kept GROUP BY 1
       |)
       |SELECT tot.doc_id, tot.n_lines,
       |       COALESCE(ka.n_kept, 0) AS n_kept,
       |       tot.n_lines - COALESCE(ka.n_kept, 0) AS n_removed,
       |       COALESCE(ka.clean_checksum, ${PortableHash.md5num56Sql("''")}) AS clean_checksum
       |FROM tot LEFT JOIN ka USING (doc_id)
       |ORDER BY tot.doc_id""".stripMargin

  /** Exact duplicate-substring spans (Lee et al. 2022 shape): maximal
    * token spans covered by 8-grams occurring in >=2 distinct docs.
    * One row per merged span — the cut list a masking pass would
    * apply. Oracle mirrors the gaps-and-islands window algebra
    * exactly.
    */
  private def dupSpans(s: SparkSession, d: String): DataFrame =
    FineDedup
      .duplicatedSpans(TestTables.documents(s, d), "doc_id", "text", n = 8, minDocs = 2)
      .orderBy(col("doc_id"), col("span_start"))

  /** Shared CTE chain ending in `spd` (one row per merged span) —
    * feeds both the span report and the masking apply.
    */
  private lazy val spanCtes =
    s"""$tokCte, g AS (
       |  SELECT doc_id, CAST(pos AS INT) AS pos,
       |         array_to_string(toks[pos:pos+7], ' ') AS gram
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS pos
       |        FROM tok WHERE len(toks) >= 8)
       |), dup AS (
       |  SELECT gram FROM (
       |    SELECT gram, count(*) AS df
       |    FROM (SELECT DISTINCT gram, doc_id FROM g)
       |    GROUP BY 1
       |  ) WHERE df >= 2
       |), hits AS (
       |  SELECT doc_id, pos, pos + 7 AS end_pos
       |  FROM g WHERE gram IN (SELECT gram FROM dup)
       |), isl AS (
       |  SELECT doc_id, pos, end_pos,
       |         CASE WHEN max(end_pos) OVER w IS NULL
       |                OR pos > max(end_pos) OVER w + 1
       |              THEN 1 ELSE 0 END AS new_span
       |  FROM hits
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |), sp AS (
       |  SELECT doc_id, pos, end_pos,
       |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM isl
       |), spd AS (
       |  SELECT doc_id,
       |         CAST(min(pos) AS INT) AS span_start,
       |         CAST(max(end_pos) AS INT) AS span_end
       |  FROM sp GROUP BY doc_id, span_id
       |)""".stripMargin

  private lazy val dupSpansSql =
    s"""WITH $spanCtes
       |SELECT doc_id, span_start, span_end,
       |       CAST(span_end - span_start + 1 AS INT) AS span_len
       |FROM spd
       |ORDER BY doc_id, span_start""".stripMargin

  /** Masking apply — the cut step that consumes the span report
    * ([[FineDedup.maskSpans]]): tokens inside any span drop, the rest
    * re-join, docs without spans pass through. The checksum pins the
    * exact surviving token sequence on both engines.
    */
  private def spanMask(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val spans = FineDedup.duplicatedSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
    FineDedup
      .maskSpans(docs, "doc_id", "text", spans)
      .select(
        col("doc_id"),
        col("n_kept_tokens"),
        PortableHash.md5num56(col("masked_text")).as("masked_checksum")
      )
      .orderBy(col("doc_id"))
  }

  private lazy val spanMaskSql =
    s"""WITH $spanCtes, sarr AS (
       |  SELECT doc_id,
       |         list(struct_pack(s := span_start, e := span_end) ORDER BY span_start) AS spans
       |  FROM spd GROUP BY doc_id
       |), kept AS (
       |  SELECT tok.doc_id,
       |         CASE WHEN sarr.spans IS NULL THEN toks
       |              ELSE list_filter(toks, (t, i) ->
       |                     len(list_filter(sarr.spans, sp2 -> i >= sp2.s AND i <= sp2.e)) = 0)
       |         END AS ks
       |  FROM tok LEFT JOIN sarr USING (doc_id)
       |)
       |SELECT doc_id,
       |       CAST(len(ks) AS INT) AS n_kept_tokens,
       |       ${
        // DuckDB: array_to_string([]) is NULL, Spark: array_join([]) is ''
        PortableHash.md5num56Sql("coalesce(array_to_string(ks, ' '), '')")
      } AS masked_checksum
       |FROM kept
       |ORDER BY doc_id""".stripMargin

  // ---- stratified quota sampling (mixture construction) ------------

  /** Deterministic 20% quota per language stratum: docs ranked by a
    * portable hash OF THE DOC ID within each stratum, top ceil(n/5)
    * kept. The rank is a pure function of the id key — the same
    * mixture comes out on every engine, run and partitioning, and is
    * stable under content edits to a doc (hash the text instead if
    * content-keyed resampling-on-change is what you want). Complements
    * ml.Sampling's rate-based splits with exact per-stratum quotas.
    */
  private def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(PortableHash.md5num56(col("doc_id").cast("string")), col("doc_id"))
    TestTables
      .documents(s, d)
      .select(col("lang"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("rk") <= expr("(n + 4) div 5"))
      .select(col("lang"), col("doc_id"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  private lazy val stratifiedSampleSql =
    s"""WITH r AS (
       |  SELECT lang, doc_id,
       |         row_number() OVER (
       |           PARTITION BY lang
       |           ORDER BY ${PortableHash.md5num56Sql("doc_id::VARCHAR")}, doc_id) AS rk,
       |         count(*) OVER (PARTITION BY lang) AS n
       |  FROM documents
       |)
       |SELECT lang, doc_id, rk FROM r
       |WHERE rk <= (n + 4) // 5
       |ORDER BY lang, rk""".stripMargin

  // ---- per-language heavy hitters (corpus profiling) ---------------

  /** Top-5 tokens per language by exact count (ties broken by token).
    * Two-level aggregate: map-side combine on (lang, tok), then a tiny
    * per-lang top-k window. At 100 TB the exact form is still one
    * shuffle of the (lang, tok) partial counts; when even that is too
    * wide, the drop-in is a count-min/approx_count sketch per
    * partition — same output contract.
    */
  private def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val counts = TestTables
      .documents(s, d)
      .select(col("lang"), explode(TextStats.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tok"))
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("tok"), col("n"))
      .orderBy(col("lang"), col("rk"))
  }

  private lazy val heavyHittersSql =
    s"""WITH $tokCte,
       |t AS (
       |  SELECT lang, unnest(toks) AS tok FROM tok
       |), c AS (
       |  SELECT lang, tok, count(*) AS n FROM t GROUP BY 1, 2
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk FROM c
       |)
       |SELECT lang, rk, tok, n FROM r WHERE rk <= 5
       |ORDER BY lang, rk""".stripMargin

  // ---- incremental batch dedup (SimHash band index) ----------------

  /** New-batch-vs-corpus near-dup screening, one shape for two slices:
    * the incoming docs (`doc_id % 3 = residue`) probe a band index
    * built over the rest ([[Dedup.buildBandIndex]] — the half a 100 TB
    * pipeline persists between crawls) via [[Dedup.simHashScreen]],
    * without touching corpus text again; closest existing match within
    * Hamming 6 wins (ties toward the lower id). q_incremental_dedup
    * screens residue 0, q_simhash_screen residue 1.
    */
  private def simhashScreen(residue: Int)(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val incoming = col("doc_id") % 3 === residue
    val idx = Dedup.buildBandIndex(docs.filter(!incoming), "doc_id", "text")
    Dedup
      .simHashScreen(docs.filter(incoming), "doc_id", "text", idx, maxHamming = 6)
      .orderBy(col("doc_id"))
  }

  private def simhashScreenSql(residue: Int): String =
    s"""WITH $tokCte,
       |${TextMlQueries.simCte},
       |banded AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 8)) & 255 AS bv
       |  FROM sim, LATERAL (SELECT unnest(range(0, 7)) AS b)
       |), cand AS (
       |  SELECT DISTINCT i.doc_id AS in_id, i.simhash AS in_h, e.doc_id AS ex_id, e.simhash AS ex_h
       |  FROM banded i
       |  JOIN banded e ON i.band = e.band AND i.bv = e.bv
       |  WHERE i.doc_id % 3 = $residue AND e.doc_id % 3 <> $residue
       |), ham AS (
       |  SELECT in_id, ex_id, CAST(bit_count(xor(in_h, ex_h)) AS INT) AS hamming
       |  FROM cand
       |  WHERE bit_count(xor(in_h, ex_h)) <= 6
       |), best AS (
       |  SELECT in_id, ex_id, hamming,
       |         row_number() OVER (PARTITION BY in_id ORDER BY hamming, ex_id) AS rk
       |  FROM ham
       |)
       |SELECT d.doc_id, b.ex_id IS NOT NULL AS is_dup, b.ex_id AS dup_of, b.hamming
       |FROM documents d
       |LEFT JOIN (SELECT in_id, ex_id, hamming FROM best WHERE rk = 1) b
       |  ON b.in_id = d.doc_id
       |WHERE d.doc_id % 3 = $residue
       |ORDER BY d.doc_id""".stripMargin

  /** Session-stable persisted band index per data dir: the corpus side of
    * the screen is immutable within a bench/verify session, so build its
    * parquet band index once per JVM and reuse it across invocations
    * (the production deployment shape — `Dedup.saveBandIndexTable`).
    * Lives OUTSIDE the per-invocation temp tree so `rmTree` never touches
    * it; the JVM temp dir is reclaimed by the harness after the session.
    */
  private val bandIdxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The streaming band-screen twin AS AN ORACLE ROW (sibling of
    * q_stream_dedup): the corpus band index is PERSISTED to parquet,
    * the incoming third lands as two files, the second re-appending
    * the first's docs, and streams through
    * [[StreamingIngest.screenAgainstBandIndex]] in one AvailableNow
    * drain — the emit-once state must suppress the re-crawl or the
    * compare fails on duplicate rows. The QUERY OUTPUT IS THE STREAMED
    * RESULT checked against the SAME oracle SQL as the batch
    * q_simhash_screen, so stream ≡ batch is driver-verified.
    */
  private def streamScreen(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val base = graft.TempRoots.newDir("graft-streamscreen").toString
    val src = s"$base/src"
    val cp = s"$base/cp"; val sink = s"$base/sink"
    val idxDir = bandIdxCache.computeIfAbsent(
      d,
      dir => {
        val p = graft.TempRoots.newDir("graft-bandidx").toString
        Dedup
          .buildBandIndex(
            TestTables.documents(s, dir).filter(col("doc_id") % 3 =!= 1),
            "doc_id",
            "text"
          )
          .write
          .mode("overwrite")
          .parquet(p)
        p
      }
    )
    val persisted = s.read.parquet(idxDir)
    val incoming = Dedup
      .simHash(docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
      .localCheckpoint(false)
    // max(doc_id) is NULL when the incoming slice has no simhash rows
    // (every doc token-less): skip the drains entirely — the sink stays
    // empty and the left join below still surfaces every doc as
    // is_dup=false, matching the batch twin. The same job counts the
    // slice for the stream's partition sizing.
    val maxRow = incoming.agg(max(col("doc_id")), count(lit(1))).head()
    new java.io.File(src).mkdirs()
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions")
    // ONE AvailableNow run, ONE micro-batch over both pre-landed files
    // (no maxFilesPerTrigger): the state store suppresses the re-crawl
    // copy within the batch — output identical to the multi-batch
    // shape (oracle-verified both ways). A micro-batch costs ~a query
    // startup (replan + state/sink commits, ~1.2 s at gate SF;
    // A/B: 4.00-4.10 s at 2 batches vs 3.34-3.53 s at 1), so
    // the row times the screen itself; CROSS-batch suppression and
    // checkpoint restart are StreamingSpec's job, not this row's.
    def drain(): Unit = {
      val q = StreamingIngest.ingestAvailableNow(
        s, src, StructType.fromDDL("doc_id LONG, simhash LONG"), sink, cp,
        transform = StreamingIngest.screenAgainstBandIndex(_, persisted).toDF()
      )
      require(q.awaitTermination(120000), "stream drain did not terminate")
    }
    val screened: DataFrame =
      if (maxRow.isNullAt(0)) {
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL("doc_id LONG, is_dup BOOLEAN, dup_of LONG, hamming INT")
        )
      } else {
        val midVal = maxRow.getLong(0) / 2
        // size the stream's shuffle/state partitioning to the STREAM:
        // each state partition is a store with its own commit cost, so
        // gate SF wants 4; but the probe join runs at the same width
        // and 4 threads throttle a 10x corpus. One store per ~1k
        // incoming docs, clamped to [4, 32] — the production knob is
        // (state size / store budget) on one side and join width on
        // the other.
        val nIncoming = maxRow.getLong(1)
        val streamParts = math.min(32L, math.max(4L, nIncoming / 1000L)).toString
        try {
          s.conf.set("spark.sql.shuffle.partitions", streamParts)
          val lo = incoming.filter(col("doc_id") <= midVal)
          // file 1 = first crawl; file 2 = second crawl ∪ RE-CRAWL of
          // crawl 1 — the stateful screen must suppress the re-crawl
          // copy (within the single AvailableNow batch; see drain())
          lo.coalesce(1).write.mode("append").parquet(src)
          incoming
            .filter(col("doc_id") > midVal)
            .unionByName(lo)
            .coalesce(1)
            .write
            .mode("append")
            .parquet(src)
          drain()
        } finally s.conf.set("spark.sql.shuffle.partitions", sessionParts)
        s.read.parquet(sink)
      }
    // left-join back to ALL incoming docs, as the batch twin does: a
    // token-less doc produces no simhash row, never enters the stream,
    // and must still surface as is_dup=false to match the oracle
    val out = docs
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"))
      .join(screened, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"),
        col("dup_of"),
        col("hamming")
      )
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    graft.TempRoots.rmTree(base)
    out
  }

  // ---- int8 embedding quantization ---------------------------------

  private def embedQuantize(s: SparkSession, d: String): DataFrame =
    graft.ml.Quantize
      .int8(TestTables.embeddings(s, d), "vec_id", "embedding")
      .orderBy(col("vec_id"))

  // every step is elementwise IEEE arithmetic (max / divide / floor) —
  // bit-identical cross-engine, so scale and linf_err ship unrounded.
  private lazy val embedQuantizeSql =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v FROM embeddings
       |), s AS (
       |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e
       |), q AS (
       |  SELECT vec_id, v, scale,
       |         CASE WHEN scale = 0.0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |              ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) END AS codes
       |  FROM s
       |)
       |SELECT vec_id, scale,
       |       CAST(len(list_filter(codes, c -> abs(c) = 127)) AS INT) AS n_sat,
       |       list_max(list_transform(range(1, len(v) + 1), i -> abs(v[i] - codes[i] * scale))) AS linf_err,
       |       ${PortableHash.md5num56Sql("array_to_string(codes, ',')")} AS code_checksum
       |FROM q
       |ORDER BY vec_id""".stripMargin

  // ---- per-source corpus profile (exact rank-selected quantiles) ---

  /** Per-source document profile with EXACT p50/p90 length quantiles
    * selected by rank (ceil(q*n)-th order statistic) — the portable,
    * hash-checkable face of `approx_percentile`: same two-step shape
    * (one shuffle on the group key, tiny per-group selection), swap in
    * the t-digest/KLL sketch when a group's rows don't fit a
    * partition.
    */
  private def sourceProfile(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d).select(col("source"), col("doc_id"), col("n_chars"))
    val ranked = docs
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id")))
      )
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
    val p50 = ranked.filter(col("rk") === expr("(n + 1) div 2")).select(col("source"), col("n_chars").as("p50_chars"))
    val p90 = ranked.filter(col("rk") === expr("(9 * n + 9) div 10")).select(col("source"), col("n_chars").as("p90_chars"))
    docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .join(p50, Seq("source"))
      .join(p90, Seq("source"))
      .orderBy(col("source"))
  }

  private lazy val sourceProfileSql =
    """WITH ranked AS (
      |  SELECT source, n_chars,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents
      |), agg AS (
      |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |  FROM documents GROUP BY 1
      |)
      |SELECT agg.source, n_docs, total_chars,
      |       p50.n_chars AS p50_chars, p90.n_chars AS p90_chars
      |FROM agg
      |JOIN (SELECT source, n_chars FROM ranked WHERE rk = (n + 1) // 2) p50 ON p50.source = agg.source
      |JOIN (SELECT source, n_chars FROM ranked WHERE rk = (9 * n + 9) // 10) p90 ON p90.source = agg.source
      |ORDER BY agg.source""".stripMargin

  // ---- TF-IDF distinctive terms ------------------------------------

  /** Top-3 distinctive tokens per doc ranked by tf/df (corpus size N
    * is constant per corpus so it drops out of the ranking; no log —
    * libm rounding differs across engines, a single division doesn't).
    * Two aggregates on (doc, token) and (token), both with map-side
    * combine; the df side is dimension-sized and broadcast.
    */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val tf = TestTables
      .documents(s, d)
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window
      .partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("tok"))
    tf.join(broadcast(df), Seq("tok"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(
        col("doc_id"),
        col("rk"),
        col("tok"),
        col("tf"),
        col("df"),
        round(col("tf").cast("double") / col("df"), 6).as("score")
      )
      .orderBy(col("doc_id"), col("rk"))
  }

  private lazy val tfidfSql =
    s"""WITH $tokCte,
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
       |  GROUP BY 1, 2
       |), df AS (
       |  SELECT tok, count(*) AS df FROM tf GROUP BY 1
       |), r AS (
       |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       |         row_number() OVER (
       |           PARTITION BY tf.doc_id
       |           ORDER BY tf.tf::DOUBLE / df.df DESC, tf.tok) AS rk
       |  FROM tf JOIN df ON df.tok = tf.tok
       |)
       |SELECT doc_id, rk, tok, tf, df, round(tf::DOUBLE / df, 6) AS score
       |FROM r WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin

  // ---- document chunking (context-window splits) -------------------

  /** Split each doc into 50-token chunks with 10-token overlap
    * (stride 40) — the context-window preprocessing step before
    * packing. Pure array projection + explode: no shuffle at all; the
    * chunk checksum makes the exact chunk contents hash-checkable
    * without shipping the text twice.
    */
  private def docChunks(s: SparkSession, d: String): DataFrame =
    TestTables
      .documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        col("toks"),
        explode(
          when(size(col("toks")) > 0, expr("sequence(1, size(toks), 40)"))
            .otherwise(array().cast("array<int>"))
        ).as("start")
      )
      .select(
        col("doc_id"),
        ((col("start") - 1) / 40).cast("int").as("chunk_no"),
        size(expr("slice(toks, start, 50)")).as("chunk_len"),
        PortableHash.md5num56(expr("array_join(slice(toks, start, 50), ' ')")).as("chunk_checksum")
      )
      .orderBy(col("doc_id"), col("chunk_no"))

  private lazy val docChunksSql =
    s"""WITH $tokCte,
       |st AS (
       |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 40)) AS start
       |  FROM tok WHERE len(toks) > 0
       |)
       |SELECT doc_id,
       |       CAST((start - 1) // 40 AS INT) AS chunk_no,
       |       len(toks[start:start+49]) AS chunk_len,
       |       ${PortableHash.md5num56Sql("array_to_string(toks[start:start+49], ' ')")} AS chunk_checksum
       |FROM st
       |ORDER BY doc_id, chunk_no""".stripMargin

  // ---- deterministic sequence packing (token-budget bins) ----------

  /** Pack docs into 4096-BPE-token training bins: docs are sharded by
    * portable hash (8 shards), deterministically ordered within the
    * shard, and binned by the running token count BEFORE each doc
    * (prefix-sum bucketing). Everything is per-shard windows — no
    * global sort: at 100 TB each shard's packing runs independently
    * after one shuffle on the shard key, which is exactly how training
    * shards are written.
    */
  private def seqPacking(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables
      .documents(s, d)
      .select(
        col("doc_id"),
        TextStats.bpeishTokenCount(col("text")).as("n_bpe"),
        pmod(PortableHash.md5num56(col("doc_id").cast("string")), lit(8)).as("shard"),
        PortableHash.md5num56(col("doc_id").cast("string")).as("h")
      )
    val order = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    val before = sum(col("n_bpe")).over(order.rowsBetween(Window.unboundedPreceding, -1))
    docs
      .withColumn("tokens_before", coalesce(before, lit(0L)))
      .withColumn("bin", (col("tokens_before") / 4096).cast("bigint"))
      .withColumn("pos", row_number().over(Window.partitionBy(col("shard"), col("bin")).orderBy(col("h"), col("doc_id"))))
      .select(col("shard"), col("bin"), col("pos"), col("doc_id"), col("n_bpe"))
      .orderBy(col("shard"), col("bin"), col("pos"))
  }

  private lazy val seqPackingSql = {
    val pat = TextStats.BpeishPattern.replace("'", "''")
    val h = PortableHash.md5num56Sql("doc_id::VARCHAR")
    s"""WITH base AS (
       |  SELECT doc_id,
       |         len(regexp_extract_all(lower(text), '$pat')) AS n_bpe,
       |         $h % 8 AS shard, $h AS h
       |  FROM documents
       |), cum AS (
       |  SELECT *,
       |         coalesce(sum(n_bpe) OVER (
       |           PARTITION BY shard ORDER BY h, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
       |  FROM base
       |)
       |SELECT shard, CAST(tokens_before // 4096 AS BIGINT) AS bin,
       |       CAST(row_number() OVER (
       |         PARTITION BY shard, tokens_before // 4096 ORDER BY h, doc_id) AS BIGINT) AS pos,
       |       doc_id, n_bpe
       |FROM cum
       |ORDER BY shard, bin, pos""".stripMargin
  }

  // ---- per-shard export manifest -----------------------------------

  /** Per-shard manifest of the training-shard export (doc / bin /
    * token counts) — the artifact a trainer consumes to plan its data
    * order, computed through [[graft.jobs.CorpusExport.packPlan]] so
    * the oracle checks the SAME packing discipline the write job uses
    * (CorpusExportSpec proves written files reproduce this plan).
    */
  private def shardManifest(s: SparkSession, d: String): DataFrame =
    graft.jobs.CorpusExport.manifest(
      graft.jobs.CorpusExport.packPlan(TestTables.documents(s, d), "doc_id", "text")
    )

  private lazy val shardManifestSql = {
    val pat = TextStats.BpeishPattern.replace("'", "''")
    val h = PortableHash.md5num56Sql("doc_id::VARCHAR")
    s"""WITH base AS (
       |  SELECT doc_id,
       |         len(regexp_extract_all(lower(text), '$pat')) AS n_bpe,
       |         $h % 8 AS shard, $h AS h
       |  FROM documents
       |), cum AS (
       |  SELECT *,
       |         coalesce(sum(n_bpe) OVER (
       |           PARTITION BY shard ORDER BY h, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
       |  FROM base
       |)
       |SELECT shard, count(*) AS n_docs,
       |       count(DISTINCT tokens_before // 4096) AS n_bins,
       |       CAST(sum(n_bpe) AS BIGINT) AS n_tokens
       |FROM cum
       |GROUP BY shard
       |ORDER BY shard""".stripMargin
  }

  // ---- distinct-token profile (exact; sketch path in spec) ---------

  /** Exact per-language distinct token count — the oracle-checkable
    * counterpart of the sketch path (`approx_count_distinct` HLL++,
    * asserted within tolerance in CorpusSpec) a 100 TB profile would
    * use when the distinct set no longer fits a shuffle.
    */
  private def distinctTokens(s: SparkSession, d: String): DataFrame =
    TestTables
      .documents(s, d)
      .select(col("lang"), explode(TextStats.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("n_distinct"), count(lit(1)).as("n_total"))
      .orderBy(col("lang"))

  private lazy val distinctTokensSql =
    s"""WITH $tokCte,
       |t AS (SELECT lang, unnest(toks) AS tok FROM tok)
       |SELECT lang, count(DISTINCT tok) AS n_distinct, count(*) AS n_total
       |FROM t GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---- SemDeDup (embedding-cluster near-dedup) ---------------------

  /** Semantic dedup over the embeddings table: IVF-codebook cluster
    * assignment, then within-cluster cosine >= 0.42 marks the
    * higher-id member as a duplicate ([[Dedup.semDedup]]). The 0.42
    * threshold sits in a verified margin of the fixture's cosine
    * distribution (nearest pair is >= 1.7e-4 away at every SF), so
    * the unrounded >= filter is engine-stable.
    */
  private def semDedup(s: SparkSession, d: String): DataFrame =
    graft.ml.Dedup
      .semDedup(TestTables.embeddings(s, d), "vec_id", "embedding", threshold = 0.42)
      .orderBy(col("vec_id"))

  /** Shared oracle CTEs: normalized embeddings + nearest-centroid
    * assignment with the deterministic IVF codebook inlined as
    * literals (same fragments as q_ivf_clusters).
    */
  private lazy val ivfAsgCtes =
    s"""${normVecCte("n", "embeddings")}, asg AS (
       |  SELECT vec_id, nv, CAST((list_max(${centroidStructsSql(16)})).c AS INT) AS cluster
       |  FROM n
       |)""".stripMargin

  private lazy val semDedupSql =
    s"""WITH $ivfAsgCtes, dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.nv, b.nv) >= 0.42
       |)
       |SELECT asg.vec_id, cluster,
       |       asg.vec_id NOT IN (SELECT vec_id FROM dups) AS kept
       |FROM asg
       |ORDER BY asg.vec_id""".stripMargin

  /** Incremental SemDeDup, one shape for two slices: the incoming
    * crawl (`incoming`) probes a cluster index built over the rest
    * ([[Dedup.buildClusterIndex]] — the two-job shape of a
    * persisted-index crawl loop) via [[Dedup.semDedupScreen]].
    * q_semdedup_incr screens vec_id % 10 < 2, q_semdedup_screen
    * vec_id % 10 >= 8. Same 0.42 verified-margin threshold as
    * q_semdedup (screened pairs are a subset of the pairs the margin
    * was measured on).
    */
  private def semDedupScreenQ(incoming: Column)(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val idx = Dedup.buildClusterIndex(emb.filter(!incoming), "vec_id", "embedding")
    Dedup
      .semDedupScreen(emb.filter(incoming), "vec_id", "embedding", idx, threshold = 0.42)
      .orderBy(col("vec_id"))
  }

  /** [[semDedupScreenQ]]'s oracle over the `inc`/`corp` slice bounds. */
  private def semDedupScreenSql(inc: String, corp: String): String =
    s"""WITH $ivfAsgCtes, inc AS (
       |  SELECT * FROM asg WHERE vec_id % 10 $inc
       |), corp AS (
       |  SELECT * FROM asg WHERE vec_id % 10 $corp
       |), dups AS (
       |  SELECT DISTINCT i.vec_id
       |  FROM inc i JOIN corp c ON i.cluster = c.cluster
       |  WHERE list_dot_product(i.nv, c.nv) >= 0.42
       |)
       |SELECT inc.vec_id, cluster,
       |       inc.vec_id IN (SELECT vec_id FROM dups) AS is_dup
       |FROM inc
       |ORDER BY inc.vec_id""".stripMargin

  // ---- DSIR importance resampling ----------------------------------

  /** [[graft.ml.Dsir]] end to end: fit hashed-n-gram importance
    * ratios on the `doc_id % 10 = 0` target slice, score the whole
    * corpus, keep the 200 most target-like docs. The oracle recomputes
    * the identical pipeline (portable md5 bucket hash, Laplace
    * smoothing with exact integer totals, length-normalized score,
    * 4-decimal quantized rank with id tie-break).
    */
  private def dsirSelect(s: SparkSession, d: String): DataFrame =
    Dsir.select(
      TestTables.documents(s, d),
      "doc_id",
      "text",
      pmod(col("id"), lit(10)) === 0,
      200
    )

  private lazy val dsirSelectSql = {
    val b = Dsir.Buckets
    s"""WITH $tokCte,
       |grams AS (
       |  SELECT doc_id,
       |         unnest(list_concat(toks,
       |           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))) AS gram
       |  FROM tok WHERE len(toks) >= 1
       |),
       |feats AS (
       |  SELECT doc_id, ${PortableHash.md5num28Sql("gram")} % $b AS bucket FROM grams
       |),
       |tcnt AS (SELECT bucket, count(*) AS pc FROM feats WHERE doc_id % 10 = 0 GROUP BY 1),
       |scnt AS (SELECT bucket, count(*) AS qc FROM feats GROUP BY 1),
       |tot AS (SELECT (SELECT sum(pc) FROM tcnt) AS pt, (SELECT sum(qc) FROM scnt) AS qt),
       |ratio AS (
       |  SELECT s.bucket,
       |         ln((COALESCE(t.pc, 0) + 1.0) / (tot.pt + $b.0))
       |           - ln((s.qc + 1.0) / (tot.qt + $b.0)) AS r
       |  FROM scnt s LEFT JOIN tcnt t USING (bucket) CROSS JOIN tot
       |),
       |scored AS (
       |  SELECT f.doc_id, sum(ratio.r) AS log_w, count(*) AS n_feats
       |  FROM feats f JOIN ratio USING (bucket) GROUP BY 1
       |)
       |SELECT doc_id, n_feats, round(log_w / n_feats, 4) AS score_r
       |FROM scored
       |ORDER BY score_r DESC, doc_id
       |LIMIT 200""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_dsir_select", dsirSelect, Some(dsirSelectSql)),
    QueryDef("q_leakage_split", leakageSplit, Some(leakageSplitSql)),
    QueryDef("q_leakage_split_serve", leakageSplitServe, Some(leakageSplitSql)),
    QueryDef("q_dsir_screen", dsirScreen, Some(dsirScreenSql)),
    QueryDef("q_dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    QueryDef("q_semdedup", semDedup, Some(semDedupSql)),
    QueryDef(
      "q_semdedup_incr",
      semDedupScreenQ(col("vec_id") % 10 < 2),
      Some(semDedupScreenSql("< 2", ">= 2"))
    ),
    QueryDef("q_oov_score", oovScore, Some(oovScoreSql)),
    QueryDef("q_kn_counts", knCounts, Some(knCountsSql)),
    QueryDef("q_kn_perplexity", knPerplexity, Some(knPerplexitySql)),
    QueryDef("q_kn_screen", knScreen, Some(knScreenSql)),
    QueryDef("q_temperature_mix", temperatureMix, Some(temperatureMixSql)),
    QueryDef("q_ngram_orders", ngramOrders, Some(ngramOrdersSql)),
    QueryDef("q_boilerplate", boilerplate, Some(boilerplateSql)),
    QueryDef("q_dup_spans", dupSpans, Some(dupSpansSql)),
    QueryDef("q_span_mask", spanMask, Some(spanMaskSql)),
    QueryDef("q_repetition", repetition, Some(repetitionSql)),
    QueryDef("q_contamination", contamination, Some(contaminationSql)),
    QueryDef("q_decontam_spans", decontamSpans, Some(decontamSpansSql)),
    QueryDef("q_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    QueryDef("q_weighted_mix", weightedMix, Some(weightedMixSql)),
    QueryDef("q_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    QueryDef("q_incremental_dedup", simhashScreen(0), Some(simhashScreenSql(0))),
    QueryDef("q_simhash_screen", simhashScreen(1), Some(simhashScreenSql(1))),
    QueryDef("q_stream_screen", streamScreen, Some(simhashScreenSql(1))),
    QueryDef(
      "q_semdedup_screen",
      semDedupScreenQ(col("vec_id") % 10 >= 8),
      Some(semDedupScreenSql(">= 8", "< 8"))
    ),
    QueryDef("q_embed_quantize", embedQuantize, Some(embedQuantizeSql)),
    QueryDef("q_source_profile", sourceProfile, Some(sourceProfileSql)),
    QueryDef("q_tfidf", tfidf, Some(tfidfSql)),
    QueryDef("q_doc_chunks", docChunks, Some(docChunksSql)),
    QueryDef("q_seq_packing", seqPacking, Some(seqPackingSql)),
    QueryDef("q_shard_manifest", shardManifest, Some(shardManifestSql)),
    QueryDef("q_distinct_tokens", distinctTokens, Some(distinctTokensSql))
  )
}
