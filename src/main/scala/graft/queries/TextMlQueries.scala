package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.PortableHash
import graft.ml.{Dedup, Multimodal, Similarity, TextStats, UrlFilter}
import graft.streaming.StreamingIngest
import graft.tables.TestTables

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * text stats, language ID, fingerprinting, the dedup family (exact,
  * Jaccard, MinHash+LSH, SimHash), similarity search (brute-force +
  * LSH ANN), multimodal binary plumbing.
  */
object TextMlQueries {

  // ---- shared DuckDB fragments (must mirror TextStats.tokens /
  //      Dedup.shingles exactly) -------------------------------------

  private[queries] val tokCte =
    s"""tok AS (
       |  SELECT doc_id, lang, text,
       |         ${TextStats.tokensSqlExpr("text")} AS toks
       |  FROM documents
       |)""".stripMargin

  /** [[tokCte]] over the fixture-augmented corpus (`docs_ml`) — used by
    * the queries that must exercise non-Latin text; prepend
    * [[docsMlCte]] first.
    */
  private[queries] val docsMlCte = graft.tables.MultilingualFixtures.docsMlCteSql
  private[queries] val embDegCte = graft.tables.EmbeddingFixtures.embDegCteSql
  private[queries] val tokCteMl =
    s"""tok AS (
       |  SELECT doc_id, lang, text,
       |         ${TextStats.tokensSqlExpr("text")} AS toks
       |  FROM docs_ml
       |)""".stripMargin

  private[queries] val shCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, shingle
      |  FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, greatest(len(toks) - 1, 2)),
      |                                 i -> array_to_string(toks[i:i+2], ' '))) AS shingle
      |    FROM tok
      |  )
      |  WHERE shingle <> ''
      |)""".stripMargin

  // ---- exact dedup (kept from the first batch) ---------------------

  private def dedupExact(s: SparkSession, d: String): DataFrame =
    TestTables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_id"))

  private val dedupExactSql =
    """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY canonical_id""".stripMargin

  // ---- token stats -------------------------------------------------

  private def tokenStats(s: SparkSession, d: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    TestTables.documentsMl(s, d)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        TextStats.bpeishTokenCount(col("text")).as("n_bpe"),
        round(
          when(size(toks) > 0, length(array_join(toks, "")).cast("double") / size(toks)),
          4
        ).as("avg_token_len")
      )
      .orderBy(col("doc_id"))
  }

  private val tokenStatsSql = {
    val pat = TextStats.BpeishPattern.replace("'", "''")
    s"""WITH $docsMlCte, $tokCteMl
       |SELECT doc_id, len(toks) AS n_tokens,
       |       len(regexp_extract_all(lower(text), '$pat')) AS n_bpe,
       |       round(CASE WHEN len(toks) > 0
       |             THEN len(array_to_string(toks, ''))::DOUBLE / len(toks) END, 4) AS avg_token_len
       |FROM tok
       |ORDER BY doc_id""".stripMargin
  }

  // ---- quality score -----------------------------------------------

  private def qualityScore(s: SparkSession, d: String): DataFrame =
    TextStats
      .qualityMetrics(TestTables.documents(s, d), "text")
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        col("stop_hits"),
        round(col("quality_score"), 4).as("quality_score"),
        (col("quality_score") >= 0.5).as("quality_flag")
      )
      .orderBy(col("doc_id"))

  private val qualityScoreSql = {
    s"""WITH $tokCte,
       |m AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |         (length(text) - length(regexp_replace(text, '${TextStats.PunctClass}', '', 'g')))::DOUBLE
       |           / greatest(length(text), 1) AS punct_ratio,
       |         ${TextStats.bestStopHitsSqlExpr()} AS stop_hits
       |  FROM tok
       |)
       |SELECT doc_id, n_tokens, round(punct_ratio, 6) AS punct_ratio, stop_hits,
       |       round(least(1.0, n_tokens / 50.0) * 0.4
       |             + least(1.0, stop_hits / 5.0) * 0.3
       |             + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3, 4) AS quality_score,
       |       (least(1.0, n_tokens / 50.0) * 0.4
       |             + least(1.0, stop_hits / 5.0) * 0.3
       |             + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3) >= 0.5 AS quality_flag
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  // ---- language ID -------------------------------------------------

  private def langId(s: SparkSession, d: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    TestTables.documentsMl(s, d)
      .select(
        col("doc_id"),
        col("lang"),
        TextStats.predictedLang(toks).as("predicted")
      )
      .withColumn("correct", col("predicted") === col("lang"))
      .orderBy(col("doc_id"))
  }

  private val langIdSql = {
    val scores = TextStats.StopwordProfiles.map { case (lang, _) =>
      s"${TextStats.langScoreSqlExpr(lang)} AS s_$lang"
    }.mkString(",\n       ")
    val langs = TextStats.StopwordProfiles.map(_._1)
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString("\n         ")
    s"""WITH $docsMlCte, $tokCteMl,
       |scored AS (
       |  SELECT doc_id, lang,
       |       $scores
       |  FROM tok
       |), ranked AS (
       |  SELECT *, $best AS best FROM scored
       |)
       |SELECT doc_id, lang,
       |       CASE $cases
       |         ELSE 'und' END AS predicted,
       |       (CASE $cases
       |         ELSE 'und' END) = lang AS correct
       |FROM ranked
       |ORDER BY doc_id""".stripMargin
  }

  // ---- corpus filter decision (signal fusion capstone) -------------

  /** The keep/drop decision table a corpus filter materializes: exact
    * dedup (canonical id via a window over the content hash), language
    * agreement, composite quality, and token-level repetition fused
    * into a first-match-wins reason — the same precedence discipline
    * as the CRUD gates, applied to corpus curation.
    *
    * Scale: every signal is a scan-side projection; the ONLY shuffle
    * in the whole decision is the content-hash window for canonical
    * ids. At 100 TB this is one pass over the corpus plus one
    * hash-keyed exchange — the cheapest complete filter you can run.
    */
  private def filterDecision(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextStats.tokens(col("text"))
    val q = TextStats
      .qualityMetrics(TestTables.documents(s, d), "text")
      .withColumn("predicted", TextStats.predictedLang(TextStats.tokens(col("text"))))
      .withColumn(
        "dup_tok_frac",
        round(
          when(
            size(toks) > 0,
            lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks)
          ).otherwise(lit(1.0)),
          6
        )
      )
      .withColumn("canonical_id", min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
    // an unconfident prediction ('und') is NOT a mismatch — unknown
    // language defers to later pipeline stages (the CCNet convention)
    val reason = when(col("doc_id") =!= col("canonical_id"), "exact_duplicate")
      .when(col("predicted") =!= lit("und") && col("predicted") =!= col("lang"), "lang_mismatch")
      .when(col("quality_score") < 0.5, "low_quality")
      .when(col("dup_tok_frac") > 0.4, "repetitive")
    q.select(
      col("doc_id"),
      coalesce(reason, lit("kept")).as("decision"),
      reason.isNull.as("keep")
    ).orderBy(col("doc_id"))
  }

  /** The decision CTE chain ending in `dec(doc_id, decision)` —
    * shared by the per-doc decision table and the funnel report.
    */
  private lazy val decisionCtes = {
    val scores = TextStats.StopwordProfiles.map { case (lang, _) =>
      s"${TextStats.langScoreSqlExpr(lang)} AS s_$lang"
    }.mkString(",\n       ")
    val langs = TextStats.StopwordProfiles.map(_._1)
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString("\n           ")
    s"""$tokCte,
       |m AS (
       |  SELECT doc_id, lang,
       |       len(toks) AS n_tokens,
       |       (length(text) - length(regexp_replace(text, '${TextStats.PunctClass}', '', 'g')))::DOUBLE
       |         / greatest(length(text), 1) AS punct_ratio,
       |       ${TextStats.bestStopHitsSqlExpr()} AS stop_hits,
       |       $scores,
       |       round(CASE WHEN len(toks) > 0
       |                  THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
       |                  ELSE 1.0 END, 6) AS dup_tok_frac,
       |       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
       |  FROM tok
       |), r AS (
       |  SELECT *, $best AS best,
       |         least(1.0, n_tokens / 50.0) * 0.4
       |           + least(1.0, stop_hits / 5.0) * 0.3
       |           + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3 AS quality_score
       |  FROM m
       |), dec AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id <> canonical_id THEN 'exact_duplicate'
       |         WHEN (CASE $cases
       |           ELSE 'und' END) <> 'und'
       |          AND (CASE $cases
       |           ELSE 'und' END) <> lang THEN 'lang_mismatch'
       |         WHEN quality_score < 0.5 THEN 'low_quality'
       |         WHEN dup_tok_frac > 0.4 THEN 'repetitive'
       |         ELSE 'kept' END AS decision
       |  FROM r
       |)""".stripMargin
  }

  private lazy val filterDecisionSql =
    s"""WITH $decisionCtes
       |SELECT doc_id, decision, decision = 'kept' AS keep
       |FROM dec ORDER BY doc_id""".stripMargin

  /** The funnel report: how many docs survive after each filter
    * stage, in precedence order — the per-run artifact a curation
    * pipeline publishes. Derived from the SAME decision frame (the
    * first-fail reason fully determines every stage's survivor set),
    * so it costs one extra tiny aggregation, not a re-run.
    */
  private def corpusFunnel(s: SparkSession, d: String): DataFrame = {
    val dec = filterDecision(s, d).select(col("decision"))
    val agg = dec.agg(
      count(lit(1)).as("raw"),
      sum(when(col("decision") =!= "exact_duplicate", 1L).otherwise(0L)).as("s1"),
      sum(when(!col("decision").isin("exact_duplicate", "lang_mismatch"), 1L).otherwise(0L)).as("s2"),
      sum(
        when(!col("decision").isin("exact_duplicate", "lang_mismatch", "low_quality"), 1L)
          .otherwise(0L)
      ).as("s3"),
      sum(when(col("decision") === "kept", 1L).otherwise(0L)).as("s4")
    )
    val stages = Seq(
      (0, "raw", "raw"),
      (1, "exact_dedup", "s1"),
      (2, "language", "s2"),
      (3, "quality", "s3"),
      (4, "repetition", "s4")
    )
    agg
      .select(
        explode(
          array(stages.map { case (i, nm, c0) =>
            struct(lit(i).as("stage"), lit(nm).as("stage_name"), col(c0).as("n_surviving"))
          }: _*)
        ).as("f")
      )
      .select(col("f.stage"), col("f.stage_name"), col("f.n_surviving"))
      .orderBy(col("stage"))
  }

  private lazy val corpusFunnelSql =
    s"""WITH $decisionCtes
       |SELECT CAST(0 AS INT) AS stage, 'raw' AS stage_name, count(*) AS n_surviving FROM dec
       |UNION ALL
       |SELECT 1, 'exact_dedup', count(*) FROM dec WHERE decision <> 'exact_duplicate'
       |UNION ALL
       |SELECT 2, 'language', count(*) FROM dec
       |WHERE decision NOT IN ('exact_duplicate', 'lang_mismatch')
       |UNION ALL
       |SELECT 3, 'quality', count(*) FROM dec
       |WHERE decision NOT IN ('exact_duplicate', 'lang_mismatch', 'low_quality')
       |UNION ALL
       |SELECT 4, 'repetition', count(*) FROM dec WHERE decision = 'kept'
       |ORDER BY stage""".stripMargin

  // ---- fingerprint (normalization-invariant dedup) -----------------

  private def fingerprint(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // coalesce: a NULL-text document fingerprints as the empty token
    // stream (same class as empty text) instead of a NULL key — NULL
    // would group all no-content docs via null-partition accident in
    // batch and CRASH the streaming twin's non-nullable state key
    val norm = coalesce(array_join(TextStats.tokens(col("text")), " "), lit(""))
    val w = Window.partitionBy(col("fingerprint"))
    TestTables.documents(s, d)
      .select(col("doc_id"), PortableHash.md5num56(norm).as("fingerprint"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .orderBy(col("doc_id"))
  }

  private val fingerprintSql =
    s"""WITH $tokCte,
       |fp AS (
       |  SELECT doc_id, ${PortableHash.md5num56Sql("coalesce(array_to_string(toks, ' '), '')")} AS fingerprint
       |  FROM tok
       |)
       |SELECT doc_id, fingerprint,
       |       min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
       |       doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_dup
       |FROM fp
       |ORDER BY doc_id""".stripMargin

  // ---- streaming dedup parity (registered streaming twin) ----------

  /** The streaming fingerprint-dedup twin AS AN ORACLE ROW: the corpus
    * fingerprints stream through [[graft.streaming.StreamingIngest
    * .dedupeByFingerprint]] in two doc_id-ordered AvailableNow drains
    * (genuine cross-batch state via the checkpoint), and the QUERY
    * OUTPUT IS THE STREAMED RESULT — so the driver's DuckDB compare
    * verifies stream ≡ batch semantics (first doc per fingerprint)
    * directly, not via a spec assertion. Ordered feeding makes the
    * cross-batch winner the global min doc_id, which is exactly the
    * batch QUALIFY the oracle states.
    */
  private def streamDedup(s: SparkSession, d: String): DataFrame = {
    val norm = coalesce(array_join(TextStats.tokens(col("text")), " "), lit(""))
    val fp = TestTables
      .documents(s, d)
      .select(col("doc_id"), PortableHash.md5num56(norm).as("fingerprint"))
      .localCheckpoint(false)
    val maxRow = fp.agg(max(col("doc_id"))).head()
    // empty corpus: nothing to stream — the dedup of nothing is the
    // empty result, not an error (fresh deployment / all-filtered batch)
    if (maxRow.isNullAt(0)) return fp.limit(0)
    val midVal = maxRow.getLong(0) / 2
    val base = graft.TempRoots.newDir("graft-streamdedup").toString
    val src = s"$base/src"; val cp = s"$base/cp"; val sink = s"$base/sink"
    new java.io.File(src).mkdirs()
    // Size the streaming STATE partitioning to the stream, not the
    // session: the checkpoint pins shuffle partitions at first start,
    // and each state partition is a store with its own maintenance +
    // snapshot cost. A fingerprint-dedup state of one long per doc
    // needs 4 stores at gate SF, not the session's 32 — at cluster
    // scale this is the knob you set to (state size / store budget).
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions")
    def drain(): Unit = {
      val q = StreamingIngest.ingestAvailableNow(
        s, src, StructType.fromDDL("doc_id LONG, fingerprint LONG"), sink, cp,
        transform = StreamingIngest.dedupeByFingerprint(_).toDF()
      )
      require(q.awaitTermination(120000), "stream drain did not terminate")
    }
    try {
      s.conf.set("spark.sql.shuffle.partitions", "4")
      fp.filter(col("doc_id") <= midVal).coalesce(1).write.mode("append").parquet(src)
      drain()
      fp.filter(col("doc_id") > midVal).coalesce(1).write.mode("append").parquet(src)
      drain()
    } finally s.conf.set("spark.sql.shuffle.partitions", sessionParts)
    // materialize the (small) streamed result eagerly, then remove the
    // temp tree — each invocation otherwise leaks src+checkpoint+sink
    // parquet until the host cleans /tmp
    val out = s.read
      .parquet(sink)
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    graft.TempRoots.rmTree(base)
    out
  }

  private lazy val streamDedupSql =
    s"""WITH $tokCte,
       |fp AS (
       |  SELECT doc_id, ${PortableHash.md5num56Sql("coalesce(array_to_string(toks, ' '), '')")} AS fingerprint
       |  FROM tok
       |)
       |SELECT doc_id, fingerprint
       |FROM fp
       |QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fingerprint)
       |ORDER BY doc_id""".stripMargin

  // ---- n-gram Jaccard near-dup pairs -------------------------------

  /** Shingles occurring in more docs than this are dropped before the
    * pair join — the guard that keeps the inverted-index join linear
    * in corpus size instead of quadratic within hot-shingle groups.
    */
  private val JaccardMaxDf = 50

  private def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documentsMl(s, d)
    // the REGISTERED form runs fully guarded (df cap + LSH candidate
    // restriction) — the scale path; the exhaustive unguarded join is
    // kept as the spec-only recall baseline (MlSpec). Signatures are
    // the one-pass MinHashSig kernel projection, so the exploded
    // shingle frame feeds ONLY the verification join (which pins it
    // itself) — the outer localCheckpoint is gone.
    val sig = Dedup.minHashSignaturesFused(docs, "doc_id", "text", 3, MinHashPerms)
    val cand = Dedup.lshCandidates(sig, "doc_id", MinHashPerms, MinHashBands)
    Dedup
      .jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 3),
        "doc_id",
        threshold = 0.6,
        candidates = Some(cand),
        maxShingleDocFreq = Some(JaccardMaxDf)
      )
      .select(
        col("d1"),
        col("d2"),
        col("inter"),
        col("union_sh"),
        round(col("jaccard"), 6).as("jaccard")
      )
      .orderBy(col("d1"), col("d2"))
  }

  // mirrors the guarded Spark pipeline: LSH banding restricts the
  // candidate pair space AND a doc-frequency cap drops hot shingles
  // from the intersection join (sizes stay uncapped, as in
  // Dedup.jaccardPairs)
  private lazy val ngramJaccardSql =
    s"""WITH $docsMlCte, $tokCteMl, $shCte,
       |$minHashCandCtes,
       |rare AS (
       |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf
       |), shf AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
       |), pair AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
       |), jac AS (
       |  SELECT d1, d2, inter, s1.n_sh + s2.n_sh - inter AS union_sh,
       |         inter::DOUBLE / (s1.n_sh + s2.n_sh - inter) AS jaccard
       |  FROM pair
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |)
       |SELECT d1, d2, inter, union_sh, round(jaccard, 6) AS jaccard
       |FROM jac
       |WHERE jaccard >= 0.6
       |ORDER BY d1, d2""".stripMargin

  // ---- asymmetric containment (quote/subset detection) -------------

  /** Containment pairs |A∩B| / min(|A|,|B|) ≥ 0.5 — the asymmetric
    * relation symmetric Jaccard structurally misses (a short doc fully
    * quoted inside a long one has Jaccard ≈ |A|/|B| but containment
    * 1.0, so the MinHash-LSH candidate path can never surface it;
    * see [[graft.ml.Dedup.containmentPairs]] for why the df-capped
    * inverted index IS the honest scale path here).
    */
  private def containment(s: SparkSession, d: String): DataFrame =
    Dedup
      .containmentPairs(
        Dedup.shingles(TestTables.documents(s, d), "doc_id", "text", 3),
        "doc_id",
        threshold = 0.5,
        maxShingleDocFreq = JaccardMaxDf
      )
      .select(
        col("d1"),
        col("d2"),
        col("inter"),
        col("n1"),
        col("n2"),
        round(col("containment"), 6).as("containment")
      )
      .orderBy(col("d1"), col("d2"))

  // same df-cap discipline as q_ngram_jaccard (sizes uncapped); the
  // score divides by the SMALLER side instead of the union
  private lazy val containmentSql =
    s"""WITH $tokCte, $shCte,
       |rare AS (
       |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf
       |), shf AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
       |), pair AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
       |), cts AS (
       |  SELECT d1, d2, inter, s1.n_sh AS n1, s2.n_sh AS n2,
       |         inter::DOUBLE / least(s1.n_sh, s2.n_sh) AS containment
       |  FROM pair
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |)
       |SELECT d1, d2, inter, n1, n2, round(containment, 6) AS containment
       |FROM cts
       |WHERE containment >= 0.5
       |ORDER BY d1, d2""".stripMargin

  // ---- MinHash + LSH near-dup pairs --------------------------------

  private[queries] val MinHashPerms = 8
  private[queries] val MinHashBands = 4

  /** Shared oracle fragment: MinHash signatures -> banding -> distinct
    * candidate pairs `cand(d1, d2)`. Mirrors Dedup.minHashSignatures /
    * lshCandidates with the PortableMd5 family. Expects `sh` in scope.
    */
  private[queries] lazy val minHashCandCtes = {
    val permValues = (0 until MinHashPerms)
      .map(i => s"(${i}, ${PortableHash.minHashA(i)}, ${PortableHash.minHashB(i)})")
      .mkString(", ")
    s"""perms(i, a, b) AS (VALUES $permValues),
       |base AS (
       |  SELECT doc_id, ${PortableHash.md5num28Sql("shingle")} AS h FROM sh
       |),
       |mh AS (
       |  SELECT doc_id, i, min((h * a + b) % ${PortableHash.MinHashP}) AS mh
       |  FROM base CROSS JOIN perms
       |  GROUP BY doc_id, i
       |), banded AS (
       |  SELECT doc_id, i // ${MinHashPerms / MinHashBands} AS band,
       |         string_agg(mh::VARCHAR, '|' ORDER BY i) AS band_key
       |  FROM mh GROUP BY doc_id, i // ${MinHashPerms / MinHashBands}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM banded a
       |  JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  private def minHashLsh(s: SparkSession, d: String): DataFrame =
    Dedup
      .minHashNearDups(
        TestTables.documents(s, d),
        "doc_id",
        "text",
        shingleN = 3,
        numPerm = MinHashPerms,
        bands = MinHashBands,
        threshold = 0.6
      )
      .select(
        col("d1"),
        col("d2"),
        col("inter"),
        col("union_sh"),
        round(col("jaccard"), 6).as("jaccard")
      )
      .orderBy(col("d1"), col("d2"))

  private lazy val minHashLshSql = {
    s"""WITH $tokCte, $shCte,
       |$minHashCandCtes, pair AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand c ON c.d1 = a.doc_id AND c.d2 = b.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
       |), jac AS (
       |  SELECT d1, d2, inter, s1.n_sh + s2.n_sh - inter AS union_sh,
       |         inter::DOUBLE / (s1.n_sh + s2.n_sh - inter) AS jaccard
       |  FROM pair
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |)
       |SELECT d1, d2, inter, union_sh, round(jaccard, 6) AS jaccard
       |FROM jac
       |WHERE jaccard >= 0.6
       |ORDER BY d1, d2""".stripMargin
  }

  // ---- SimHash -----------------------------------------------------

  private def simHash(s: SparkSession, d: String): DataFrame =
    Dedup
      .simHash(TestTables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Shared oracle fragment: per-doc 56-bit SimHash as `sim(doc_id,
    * simhash)`. Mirrors Dedup.simHash (md5 family). Expects `tok` in
    * scope.
    */
  private[queries] lazy val simCte = {
    val votes = (0 until 56)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n         ")
    val hash = (0 until 56)
      .map(j => s"CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0 END")
      .mkString(" + ")
    s"""toked AS (
       |  SELECT doc_id, ${PortableHash.md5num56Sql("unnest(toks)")} AS h FROM tok
       |), votes AS (
       |  SELECT doc_id,
       |         $votes
       |  FROM toked GROUP BY doc_id
       |), sim AS (
       |  SELECT doc_id, $hash AS simhash FROM votes
       |)""".stripMargin
  }

  private lazy val simHashSql =
    s"""WITH $tokCte,
       |$simCte
       |SELECT doc_id, simhash
       |FROM sim
       |ORDER BY doc_id""".stripMargin

  // ---- similarity search -------------------------------------------

  private def cosineTopK(s: SparkSession, d: String): DataFrame =
    Similarity
      .cosineTopK(
        TestTables.embeddingsDeg(s, d),
        "vec_id",
        "embedding",
        queryPred = col("vec_id") % 100 === 0,
        k = 5
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))

  private val cosineTopKSql =
    s"""WITH $embDegCte, e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS FLOAT)::DOUBLE) AS v FROM emb_deg
      |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
      |), q AS (
      |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0
      |), scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |         list_dot_product(qv, v) / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) AS cos
      |  FROM q, e
      |  WHERE e.vec_id <> q.query_id
      |)
      |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Embedding-cosine near-duplicate pairs at threshold 0.35 over the
    * degenerate-fixture corpus (the driver testdata has no true dups —
    * the planted [[graft.tables.EmbeddingFixtures]] control pair IS
    * one, and the five degenerate fixture classes must be dropped by
    * both engines for the hash to stay green). Exact baseline;
    * `nearDupPairsBlocked` is the LSH scale path (recall asserted in
    * MlSpec).
    */
  private def embedNearDup(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.embeddingsDeg(s, d)
    val labels = e.select(col("vec_id"), col("label"))
    Similarity
      .nearDupPairs(e, "vec_id", "embedding", threshold = 0.35)
      .join(broadcast(labels.withColumnRenamed("vec_id", "a_id").withColumnRenamed("label", "a_label")), Seq("a_id"))
      .join(broadcast(labels.withColumnRenamed("vec_id", "b_id").withColumnRenamed("label", "b_label")), Seq("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        round(col("cos"), 4).as("cos"),
        (col("a_label") === col("b_label")).as("same_label")
      )
      .orderBy(col("a_id"), col("b_id"))
  }

  private val embedNearDupSql =
    s"""WITH $embDegCte, e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(x AS FLOAT)::DOUBLE) AS v
      |  FROM emb_deg
      |), n AS (
      |  SELECT vec_id, label,
      |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      |  FROM e
      |  WHERE ${Similarity.finiteNormWhere("v")}
      |)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       round(list_dot_product(a.nv, b.nv), 4) AS cos,
      |       a.label = b.label AS same_label
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.nv, b.nv) >= 0.35
      |ORDER BY a_id, b_id""".stripMargin

  /** The SCALE path of embedding near-dup, oracle-checked end to end:
    * 8-plane LSH buckets + 1-bit multiprobe bound the pair space
    * ([[Similarity.nearDupPairsBlocked]]) and exact cosine verifies —
    * only same/probed-bucket pairs are ever scored, which is what
    * replaces q_embed_neardup's all-pairs baseline at corpus scale.
    * The oracle reproduces bucket assignment from inlined plane
    * literals (sign of the dot is normalization-invariant, so it
    * buckets the raw double vector) and the same xor multiprobe.
    */
  private def embedNearDupBlocked(s: SparkSession, d: String): DataFrame =
    Similarity
      .nearDupPairsBlocked(TestTables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("a_id"), col("b_id"))

  private lazy val embedNearDupBlockedSql = {
    val planes = Similarity.hyperplanes(8, 64)
    // bucket the NORMALIZED vector, exactly as lshBucket does in
    // nearDupPairsBlocked — sign(dot(nv, plane)) and sign(dot(v, plane))
    // agree in exact arithmetic but are different float roundings, and
    // the oracle must reproduce the engine's formula, not an algebraic
    // equivalent
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"CASE WHEN list_inner_product(nv, $arr) >= 0 THEN ${1L << i} ELSE 0 END"
    }
    val probes = (0 until 8).map(i => s"xor(bucket, ${1L << i})").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS FLOAT)::DOUBLE) AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id,
       |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
       |  FROM e
       |  WHERE ${Similarity.finiteNormWhere("v")}
       |), nb AS (
       |  SELECT vec_id, nv,
       |         CAST(${bits.mkString("\n  + ")} AS BIGINT) AS bucket
       |  FROM n
       |), probed AS (
       |  SELECT vec_id, nv, unnest([bucket, $probes]) AS bucket FROM nb
       |), pairs AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM probed a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |)
       |SELECT p.a_id, p.b_id, round(list_dot_product(na.nv, ob.nv), 4) AS cos
       |FROM pairs p
       |JOIN n na ON na.vec_id = p.a_id
       |JOIN n ob ON ob.vec_id = p.b_id
       |WHERE list_dot_product(na.nv, ob.nv) >= 0.35
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Approximate ANN via random-hyperplane LSH buckets + 1-bit
    * multiprobe. Fully hash-checked: the deterministic plane constants
    * are inlined into the oracle SQL as literals (same discipline as
    * q_lsh_buckets), and ranking quantizes the score to 4 decimals
    * with id tie-break, so near-tie order is engine-stable.
    */
  private def annLsh(s: SparkSession, d: String): DataFrame =
    Similarity
      .annTopK(
        TestTables.embeddings(s, d),
        "vec_id",
        "embedding",
        queryPred = col("vec_id") % 100 === 0,
        k = 5,
        nPlanes = 12
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))

  /** Hash-checks the ANN path's novel math — the 12-plane sign-bit
    * bucket of every embedding — by EMBEDDING the deterministic plane
    * constants into the oracle SQL as literals. Scoring/top-k is
    * oracle-proven elsewhere (q_cosine_topk, q_embed_neardup); rank
    * output stays rows-only because near-tie ordering is not
    * cross-engine stable.
    */
  private def lshBuckets(s: SparkSession, d: String): DataFrame = {
    val planes = Similarity.hyperplanes(12, 64)
    TestTables.embeddings(s, d)
      .select(
        col("vec_id"),
        Similarity
          .lshBucket(transform(col("embedding"), _.cast("double")), planes)
          .as("bucket")
      )
      .orderBy(col("vec_id"))
  }

  private lazy val lshBucketsSql = {
    val planes = Similarity.hyperplanes(12, 64)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"CASE WHEN list_inner_product(CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]), $arr) >= 0 THEN ${1L << i} ELSE 0 END"
    }
    s"""SELECT vec_id, CAST(${bits.mkString("\n  + ")} AS BIGINT) AS bucket
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin
  }

  /** Hash-checks the IVF path's novel math — nearest-centroid
    * assignment of every normalized embedding — with the centroid
    * constants inlined in the oracle SQL (same discipline as
    * q_lsh_buckets; ties break toward the higher centroid id, like
    * sort_array desc on the (score, id) struct).
    */
  private def ivfClusters(s: SparkSession, d: String): DataFrame =
    Similarity
      .clusterAssignments(TestTables.embeddingsDeg(s, d), "vec_id", "embedding", nCentroids = 16, seed = 7L)
      .orderBy(col("vec_id"))

  private lazy val ivfClustersSql = {
    val centroids = Similarity.normalizedCentroids(16, 64, 7L)
    val structs = centroids.zipWithIndex.map { case (c, i) =>
      val arr = c.mkString("[", ", ", "]")
      s"{'s': list_inner_product(nv, $arr), 'c': $i}"
    }
    s"""WITH $embDegCte, nv0 AS (
       |  SELECT vec_id,
       |         list_transform(
       |           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]),
       |           x -> x / sqrt(list_inner_product(CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])))
       |         ) AS nv
       |  FROM emb_deg
       |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
       |)
       |SELECT vec_id,
       |       CAST((list_max([${structs.mkString(",\n         ")}])).c AS INT) AS cluster
       |FROM nv0
       |ORDER BY vec_id""".stripMargin
  }

  /** Full LSH-ANN oracle: bucket assignment with inlined plane
    * literals, the 13-bucket multiprobe set (identity + 12 one-bit
    * flips), candidate dedup, cosine scoring, quantized-margin rank.
    */
  private lazy val annLshSql = {
    val planes = Similarity.hyperplanes(12, 64)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END"
    }
    val probes = (0 until 12).map(i => s"xor(bucket, ${1L << i})").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS FLOAT)::DOUBLE) AS v FROM embeddings
       |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
       |), b AS (
       |  SELECT vec_id, CAST(${bits.mkString("\n  + ")} AS BIGINT) AS bucket FROM e
       |), qprobe AS (
       |  SELECT vec_id AS query_id, unnest([bucket, $probes]) AS bucket
       |  FROM b WHERE vec_id % 100 = 0
       |), cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM qprobe q JOIN b c USING (bucket)
       |  WHERE c.vec_id <> q.query_id
       |), scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         list_dot_product(qe.v, ne.v)
       |           / sqrt(list_dot_product(qe.v, qe.v) * list_dot_product(ne.v, ne.v)) AS cos
       |  FROM cand
       |  JOIN e qe ON qe.vec_id = cand.query_id
       |  JOIN e ne ON ne.vec_id = cand.neighbor_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 4) DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF ANN — inverted lists by nearest deterministic coarse
    * centroid, nProbe-list probing. Fully hash-checked: centroid
    * constants inlined in the oracle (q_ivf_clusters discipline),
    * quantized-margin rank for engine-stable near-tie order.
    */
  private def ivfAnn(s: SparkSession, d: String): DataFrame =
    Similarity
      .ivfTopK(
        TestTables.embeddings(s, d),
        "vec_id",
        "embedding",
        queryPred = col("vec_id") % 100 === 0,
        k = 5,
        nCentroids = 16,
        nProbe = 4
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))

  /** The production serving shape of [[ivfAnn]]: the inverted lists
    * are built ONCE (`Similarity.buildIvfIndex`), persisted to
    * parquet, and the same query batch probes the STORED lists
    * (`ivfTopKIndexed`) — the per-corpus-generation build /
    * per-batch serve split a real deployment runs (the build's
    * n·√n centroid assignment is the inline path's one superlinear
    * term). The oracle is byte-for-byte q_ivf_ann's: serving a
    * persisted index must change nothing about the answer.
    */
  private def ivfAnnServe(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val dir = graft.TempRoots.newDir("graft-ivfserve").toString
    Similarity
      .buildIvfIndex(emb, "vec_id", "embedding", nCentroids = 16)
      .write
      .mode("overwrite")
      .parquet(dir)
    val out = Similarity
      .ivfTopKIndexed(
        emb,
        "vec_id",
        "embedding",
        queryPred = col("vec_id") % 100 === 0,
        index = s.read.parquet(dir),
        k = 5,
        nCentroids = 16,
        nProbe = 4
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
      .localCheckpoint(true)
    graft.TempRoots.rmTree(dir)
    out
  }

  /** Full IVF-ANN oracle: nearest-centroid lists + nProbe=4 probe
    * sets from the same inlined centroid literals, normalized-vector
    * dot scoring, quantized-margin rank.
    */
  private lazy val ivfAnnSql = {
    val centroids = Similarity.normalizedCentroids(16, 64, 7L)
    val structs = centroids.zipWithIndex.map { case (c, i) =>
      val arr = c.mkString("[", ", ", "]")
      s"{'s': list_dot_product(nv, $arr), 'c': $i}"
    }
    s"""WITH nv0 AS (
       |  SELECT vec_id,
       |         list_transform(
       |           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]),
       |           x -> x / sqrt(list_dot_product(CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])))
       |         ) AS nv
       |  FROM embeddings
       |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
       |), rankedc AS (
       |  SELECT vec_id, nv, list_reverse_sort([${structs.mkString(",\n         ")}]) AS rc FROM nv0
       |), corpus AS (
       |  SELECT vec_id AS neighbor_id, nv AS v, CAST((rc[1]).c AS INT) AS cluster FROM rankedc
       |), q AS (
       |  SELECT vec_id AS query_id, nv AS qv,
       |         CAST(unnest(list_transform(list_slice(rc, 1, 4), x -> x.c)) AS INT) AS cluster
       |  FROM rankedc WHERE vec_id % 100 = 0
       |), scored AS (
       |  SELECT query_id, neighbor_id, list_dot_product(qv, v) AS cos
       |  FROM q JOIN corpus USING (cluster)
       |  WHERE neighbor_id <> query_id
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 4) DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- ANN quality evaluation: recall@k vs brute truth -------------

  /** Recall@5 of the IVF index against the exact brute-force top-5 —
    * the acceptance measurement every ANN deployment runs before
    * trusting the approximate path. Per query: |IVF∩brute| / 5, with
    * zero-hit queries preserved (a recall report that drops its
    * failures isn't one). Both sides are the registered, oracle-proven
    * pipelines (q_cosine_topk / q_ivf_ann) with identical parameters,
    * so the top-5 SETS are cross-engine deterministic (quantized-rank
    * + id tie-break) and the intersection count hashes exactly. Runs
    * on the 1%-sample query set — the production shape: recall is
    * estimated on a sample, never all queries.
    */
  private def annRecall(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.embeddings(s, d)
    val brute = Similarity
      .cosineTopK(e, "vec_id", "embedding", queryPred = col("vec_id") % 100 === 0, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // two probe settings of the same 16-list index: the default
    // nProbe=4 shows where the knob starts, nProbe=12 shows it
    // reaching deployable recall — the acceptance curve, not a point
    def hitsAt(nProbe: Int, alias: String) = brute
      .join(
        Similarity
          .ivfTopK(e, "vec_id", "embedding", queryPred = col("vec_id") % 100 === 0, k = 5, nCentroids = 16, nProbe = nProbe)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id")
      )
      .groupBy("query_id")
      .agg(count(lit(1)).as(alias))
    brute
      .select("query_id")
      .distinct()
      .join(hitsAt(4, "h4"), Seq("query_id"), "left")
      .join(hitsAt(12, "h12"), Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("h4"), lit(0L)).as("n_hits_p4"),
        round(coalesce(col("h4"), lit(0L)) / 5.0, 4).as("recall_p4"),
        coalesce(col("h12"), lit(0L)).as("n_hits_p12"),
        round(coalesce(col("h12"), lit(0L)) / 5.0, 4).as("recall_p12")
      )
      .orderBy(col("query_id"))
  }

  /** Both proven fragment chains verbatim (brute = q_cosine_topk's,
    * IVF = q_ivf_ann's with the same inlined centroid literals),
    * renamed to avoid CTE collisions, joined on the survivor sets.
    */
  private lazy val annRecallSql = {
    val centroids = Similarity.normalizedCentroids(16, 64, 7L)
    val structs = centroids.zipWithIndex.map { case (c, i) =>
      val arr = c.mkString("[", ", ", "]")
      s"{'s': list_dot_product(nv, $arr), 'c': $i}"
    }
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS FLOAT)::DOUBLE) AS v FROM embeddings
       |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
       |), bq AS (
       |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0
       |), bscored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |         list_dot_product(qv, v) / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) AS cos
       |  FROM bq, e
       |  WHERE e.vec_id <> bq.query_id
       |), brute AS (
       |  SELECT query_id, neighbor_id
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM bscored
       |  )
       |  WHERE rank <= 5
       |), nv0 AS (
       |  SELECT vec_id,
       |         list_transform(
       |           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]),
       |           x -> x / sqrt(list_dot_product(CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])))
       |         ) AS nv
       |  FROM embeddings
       |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
       |), rankedc AS (
       |  SELECT vec_id, nv, list_reverse_sort([${structs.mkString(",\n         ")}]) AS rc FROM nv0
       |), corpus AS (
       |  SELECT vec_id AS neighbor_id, nv AS v, CAST((rc[1]).c AS INT) AS cluster FROM rankedc
       |), iq4 AS (
       |  SELECT vec_id AS query_id, nv AS qv,
       |         CAST(unnest(list_transform(list_slice(rc, 1, 4), x -> x.c)) AS INT) AS cluster
       |  FROM rankedc WHERE vec_id % 100 = 0
       |), iscored4 AS (
       |  SELECT query_id, neighbor_id, list_dot_product(qv, v) AS cos
       |  FROM iq4 JOIN corpus USING (cluster)
       |  WHERE neighbor_id <> query_id
       |), ivf4 AS (
       |  SELECT query_id, neighbor_id
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 4) DESC, neighbor_id) AS rank
       |    FROM iscored4
       |  )
       |  WHERE rank <= 5
       |), iq12 AS (
       |  SELECT vec_id AS query_id, nv AS qv,
       |         CAST(unnest(list_transform(list_slice(rc, 1, 12), x -> x.c)) AS INT) AS cluster
       |  FROM rankedc WHERE vec_id % 100 = 0
       |), iscored12 AS (
       |  SELECT query_id, neighbor_id, list_dot_product(qv, v) AS cos
       |  FROM iq12 JOIN corpus USING (cluster)
       |  WHERE neighbor_id <> query_id
       |), ivf12 AS (
       |  SELECT query_id, neighbor_id
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 4) DESC, neighbor_id) AS rank
       |    FROM iscored12
       |  )
       |  WHERE rank <= 5
       |), hits4 AS (
       |  SELECT b.query_id, count(*) AS n_hits
       |  FROM brute b JOIN ivf4 i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
       |  GROUP BY 1
       |), hits12 AS (
       |  SELECT b.query_id, count(*) AS n_hits
       |  FROM brute b JOIN ivf12 i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
       |  GROUP BY 1
       |)
       |SELECT q.query_id,
       |       CAST(COALESCE(h4.n_hits, 0) AS BIGINT) AS n_hits_p4,
       |       round(COALESCE(h4.n_hits, 0) / 5.0, 4) AS recall_p4,
       |       CAST(COALESCE(h12.n_hits, 0) AS BIGINT) AS n_hits_p12,
       |       round(COALESCE(h12.n_hits, 0) / 5.0, 4) AS recall_p12
       |FROM (SELECT DISTINCT query_id FROM brute) q
       |LEFT JOIN hits4 h4 USING (query_id)
       |LEFT JOIN hits12 h12 USING (query_id)
       |ORDER BY q.query_id""".stripMargin
  }

  // ---- IVF-PQ: product-quantized ANN -------------------------------

  private val PqM = 8
  private val PqK = 16
  private val PqSubDim = 8
  private val PqSeed = 11L
  private lazy val pqCb = graft.ml.ProductQuantize.codebooks(PqM, PqK, PqSubDim, PqSeed)

  private def sqlList(xs: Array[Double]): String = xs.mkString("[", ", ", "]")

  /** DuckDB argmin struct for subspace j — the same `c·c − 2·sub·c`
    * surrogate with the SAME inlined literals as the engine, so the
    * packed code word is bit-identical (every float op is a literal,
    * a sequential dot, one multiply, one subtract).
    */
  private def pqStSql(j: Int): String = {
    val entries = pqCb(j).zipWithIndex.map { case (c, i) =>
      val cc = c.map(x => x * x).sum
      s"{'s': $cc - 2.0 * list_dot_product(sub$j, ${sqlList(c)}), 'c': $i}"
    }
    s"list_sort([${entries.mkString(",\n             ")}])[1]"
  }

  private val pqNvCte =
    s"""nv0 AS (
      |  SELECT vec_id,
      |         list_transform(
      |           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]),
      |           x -> x / sqrt(list_dot_product(CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])))
      |         ) AS nv
      |  FROM embeddings
      |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
      |)""".stripMargin

  private def pqSubsCte: String = {
    val subs = (0 until PqM)
      .map(j => s"list_slice(nv, ${j * PqSubDim + 1}, ${(j + 1) * PqSubDim}) AS sub$j")
      .mkString(",\n         ")
    s"""subs AS (
       |  SELECT vec_id, nv,
       |         $subs
       |  FROM nv0
       |)""".stripMargin
  }

  private def pqEncQuery(s: SparkSession, d: String): DataFrame =
    graft.ml.ProductQuantize
      .encode(TestTables.embeddings(s, d), "vec_id", "embedding", PqM, PqK, PqSeed)
      .select(col("vec_id"), col("pq_code"), round(col("recon_err"), 6).as("recon_err"))
      .orderBy(col("vec_id"))

  private lazy val pqEncodeSql = {
    val sts = (0 until PqM).map(j => s"${pqStSql(j)} AS st$j").mkString(",\n         ")
    val code = (0 until PqM)
      .map(j => s"(CAST(st$j.c AS BIGINT) << ${4 * j})")
      .mkString(" + ")
    val recon = (0 until PqM)
      .map(j => s"(list_dot_product(sub$j, sub$j) + st$j.s)")
      .mkString(" + ")
    s"""WITH $pqNvCte, $pqSubsCte, enc AS (
       |  SELECT vec_id,
       |         $sts
       |  FROM subs
       |)
       |SELECT e.vec_id, $code AS pq_code,
       |       round($recon, 6) AS recon_err
       |FROM enc e JOIN subs USING (vec_id)
       |ORDER BY vec_id""".stripMargin
  }

  private def ivfPqAnn(s: SparkSession, d: String): DataFrame =
    graft.ml.ProductQuantize
      .ivfPqTopK(
        TestTables.embeddings(s, d),
        "vec_id",
        "embedding",
        queryPred = col("vec_id") % 100 === 0,
        kNN = 5,
        m = PqM,
        k = PqK,
        pqSeed = PqSeed,
        nCentroids = 16,
        nProbe = 4,
        coarseSeed = 7L
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("adc"), 4).as("adc"))
      .orderBy(col("query_id"), col("rank"))

  /** [[ivfPqAnn]]'s production serving shape: the PQ-encoded inverted
    * lists built ONCE (`ProductQuantize.buildIvfPqIndex` — coarse
    * assignment + PQ encode, the per-corpus-generation build),
    * persisted to parquet, and the same query batch probed via
    * `ivfPqTopKIndexed`. Oracle byte-for-byte q_ivf_pq_ann's.
    */
  private def ivfPqAnnServe(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val dir = graft.TempRoots.newDir("graft-ivfpqserve").toString
    graft.ml.ProductQuantize
      .buildIvfPqIndex(emb, "vec_id", "embedding", m = PqM, k = PqK, pqSeed = PqSeed,
        nCentroids = 16, coarseSeed = 7L)
      .write
      .mode("overwrite")
      .parquet(dir)
    val out = graft.ml.ProductQuantize
      .ivfPqTopKIndexed(
        emb,
        "vec_id",
        "embedding",
        queryPred = col("vec_id") % 100 === 0,
        index = s.read.parquet(dir),
        kNN = 5,
        m = PqM,
        k = PqK,
        pqSeed = PqSeed,
        nCentroids = 16,
        nProbe = 4,
        coarseSeed = 7L
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("adc"), 4).as("adc"))
      .orderBy(col("query_id"), col("rank"))
      .localCheckpoint(true)
    graft.TempRoots.rmTree(dir)
    out
  }

  /** Full IVF-PQ oracle: coarse probe lists from the q_ivf_ann
    * centroid literals, per-subspace argmin codes, ADC scoring of the
    * query's exact subvectors against the code-named codebook entries,
    * quantized-margin rank.
    */
  private lazy val ivfPqAnnSql = {
    val coarse = Similarity.normalizedCentroids(16, 64, 7L)
    val coarseStructs = coarse.zipWithIndex.map { case (c, i) =>
      s"{'s': list_dot_product(nv, ${sqlList(c)}), 'c': $i}"
    }
    val sts = (0 until PqM).map(j => s"${pqStSql(j)}.c AS code$j").mkString(",\n         ")
    val adc = (0 until PqM)
      .map { j =>
        val cbLit = s"[${pqCb(j).map(sqlList).mkString(", ")}]"
        s"list_dot_product(list_slice(q.nv, ${j * PqSubDim + 1}, ${(j + 1) * PqSubDim}), ($cbLit)[c.code$j + 1])"
      }
      .mkString("\n         + ")
    s"""WITH $pqNvCte, $pqSubsCte, rankedc AS (
       |  SELECT vec_id, list_reverse_sort([${coarseStructs.mkString(",\n         ")}]) AS rc FROM nv0
       |), enc AS (
       |  SELECT vec_id,
       |         $sts
       |  FROM subs
       |), corpus AS (
       |  SELECT r.vec_id AS neighbor_id, CAST((r.rc[1]).c AS INT) AS cluster,
       |         e.* EXCLUDE (vec_id)
       |  FROM rankedc r JOIN enc e USING (vec_id)
       |), q AS (
       |  SELECT r.vec_id AS query_id, n.nv,
       |         CAST(unnest(list_transform(list_slice(r.rc, 1, 4), x -> x.c)) AS INT) AS cluster
       |  FROM rankedc r JOIN nv0 n USING (vec_id) WHERE r.vec_id % 100 = 0
       |), scored AS (
       |  SELECT q.query_id, c.neighbor_id,
       |         $adc AS adc
       |  FROM q JOIN corpus c USING (cluster)
       |  WHERE c.neighbor_id <> q.query_id
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(adc, 4) DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, round(adc, 4) AS adc
       |FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- multimodal binary plumbing ----------------------------------

  private def multimodalFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal
      .extractFeatures(
        TestTables.documents(s, d).withColumn("media", col("text").cast("binary")),
        "doc_id",
        "media"
      )
      .orderBy(col("doc_id"))

  private val multimodalFeaturesSql =
    s"""SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
       |       ascii(substr(text, 1, 1)) AS head_byte,
       |       ${PortableHash.md5num56Sql("text")} AS checksum
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Frame sampling over binary media: every 2nd 16-byte frame of
    * each payload becomes a row; the oracle slices the same frames
    * with BLOB substring.
    */
  private def frameSample(s: SparkSession, d: String): DataFrame =
    Multimodal
      .frameSample(
        TestTables.documents(s, d).withColumn("media", col("text").cast("binary")),
        "doc_id",
        "media",
        frameBytes = 16,
        everyNth = 2
      )
      .select(
        col("doc_id"),
        col("frame_no"),
        octet_length(col("frame")).as("n_bytes"),
        PortableHash.md5num56(col("frame")).as("checksum")
      )
      .orderBy(col("doc_id"), col("frame_no"))

  // documents are pure ASCII (octet_length == length holds for every
  // row of the testdata), so VARCHAR substring equals byte slicing
  // and md5(varchar frame) equals md5 of the frame's bytes.
  private val frameSampleSql =
    s"""WITH frames AS (
       |  SELECT doc_id, i AS frame_no,
       |         substring(text, CAST(i * 16 + 1 AS BIGINT), 16) AS frame
       |  FROM documents,
       |       LATERAL (SELECT unnest(range(0, CAST(ceil(length(text) / 16.0) AS BIGINT))) AS i)
       |  WHERE i % 2 = 0
       |)
       |SELECT doc_id, frame_no, length(frame) AS n_bytes,
       |       ${PortableHash.md5num56Sql("frame")} AS checksum
       |FROM frames
       |ORDER BY doc_id, frame_no""".stripMargin

  /** PII detection/redaction ([[TextStats.piiScan]]): deterministic
    * PII-bearing suffixes (email / IPv4 / phone, keyed on doc_id mod
    * classes so every count 0..1+ occurs) are appended to each doc in
    * BOTH engines, then counts + a hash of the redacted text are
    * compared — proving the Java-regex and RE2 matchers agree on
    * these patterns, replacements included.
    */
  private def piiRedact(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val idStr = col("doc_id").cast("string")
    val withPii = docs.withColumn(
      "pii_text",
      concat(
        col("text"),
        when(
          col("doc_id") % 3 === 0,
          concat(lit(" contact user"), idStr, lit("@example.com now"))
        ).otherwise(lit("")),
        when(
          col("doc_id") % 4 === 0,
          concat(
            lit(" from 10."),
            (col("doc_id") % 256).cast("string"),
            lit(".0."),
            (col("doc_id") % 200 + 1).cast("string"),
            lit(" logged")
          )
        ).otherwise(lit("")),
        when(
          col("doc_id") % 5 === 0,
          concat(
            lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")
          )
        ).otherwise(lit(""))
      )
    )
    TextStats
      .piiScan(withPii, "doc_id", "pii_text")
      .select(
        col("doc_id"),
        col("n_emails"),
        col("n_ips"),
        col("n_phones"),
        PortableHash.md5num56(col("redacted")).as("redacted_hash")
      )
      .orderBy(col("doc_id"))
  }

  private val piiRedactSql = {
    val email = TextStats.EmailPattern
    val ip = TextStats.Ipv4Pattern
    val phone = TextStats.PhonePattern
    val redacted =
      s"regexp_replace(regexp_replace(regexp_replace(pii_text, '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'), '$phone', '[PHONE]', 'g')"
    s"""WITH pii AS (
       |  SELECT doc_id,
       |         text ||
       |         CASE WHEN doc_id % 3 = 0
       |              THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
       |         CASE WHEN doc_id % 4 = 0
       |              THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 200 + 1) || ' logged'
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 5 = 0
       |              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
       |                   '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |              ELSE '' END AS pii_text
       |  FROM documents
       |)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(pii_text, '$email')) AS INT) AS n_emails,
       |       CAST(len(regexp_extract_all(pii_text, '$ip')) AS INT) AS n_ips,
       |       CAST(len(regexp_extract_all(pii_text, '$phone')) AS INT) AS n_phones,
       |       ${PortableHash.md5num56Sql(redacted)} AS redacted_hash
       |FROM pii
       |ORDER BY doc_id""".stripMargin
  }

  /** URL/domain blocklist gate ([[UrlFilter.filterByBlocklist]]):
    * a deterministic URL (domain keyed on doc_id mod 6, two of the
    * six domains blocklisted) is appended to each doc in BOTH
    * engines; the Spark side extracts the host by regex, reduces to
    * the registered domain, and broadcast-joins the blocklist.
    */
  private def urlFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val domains =
      Seq("news.example", "blog.example", "spam.example", "docs.example", "ads.example", "wiki.example")
    val docs = TestTables.documents(s, d).withColumn(
      "url_text",
      concat(
        col("text"),
        lit(" see https://www."),
        element_at(array(domains.map(lit): _*), (col("doc_id") % 6).cast("int") + 1),
        lit("/p/"),
        col("doc_id").cast("string")
      )
    )
    val blocklist = Seq("spam.example", "ads.example").toDF("domain")
    UrlFilter
      .filterByBlocklist(docs, "doc_id", "url_text", blocklist)
      .orderBy(col("doc_id"))
  }

  private val urlFilterSql =
    s"""WITH u AS (
       |  SELECT doc_id,
       |         text || ' see https://www.' ||
       |         (['news.example', 'blog.example', 'spam.example',
       |           'docs.example', 'ads.example', 'wiki.example'])[CAST(doc_id % 6 AS INT) + 1] ||
       |         '/p/' || doc_id AS url_text
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, regexp_extract(url_text, '${UrlFilter.UrlPattern}', 1) AS host FROM u
       |), d AS (
       |  SELECT doc_id,
       |         CASE WHEN len(string_split(host, '.')) >= 2
       |              THEN array_to_string(list_slice(string_split(host, '.'), -2, -1), '.')
       |              ELSE host END AS domain
       |  FROM h
       |)
       |SELECT doc_id, domain,
       |       domain NOT IN ('spam.example', 'ads.example') AS kept
       |FROM d
       |ORDER BY doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("q_pii_redact", piiRedact, Some(piiRedactSql)),
    QueryDef("q_url_filter", urlFilter, Some(urlFilterSql)),
    QueryDef("q_token_stats", tokenStats, Some(tokenStatsSql)),
    QueryDef("q_quality_score", qualityScore, Some(qualityScoreSql)),
    QueryDef("q_lang_id", langId, Some(langIdSql)),
    QueryDef("q_filter_decision", filterDecision, Some(filterDecisionSql)),
    QueryDef("q_corpus_funnel", corpusFunnel, Some(corpusFunnelSql)),
    QueryDef("q_fingerprint", fingerprint, Some(fingerprintSql)),
    QueryDef("q_stream_dedup", streamDedup, Some(streamDedupSql)),
    QueryDef("q_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    QueryDef("q_containment", containment, Some(containmentSql)),
    QueryDef("q_minhash_lsh", minHashLsh, Some(minHashLshSql)),
    QueryDef("q_simhash", simHash, Some(simHashSql)),
    QueryDef("q_cosine_topk", cosineTopK, Some(cosineTopKSql)),
    QueryDef("q_embed_neardup", embedNearDup, Some(embedNearDupSql)),
    QueryDef("q_embed_neardup_blocked", embedNearDupBlocked, Some(embedNearDupBlockedSql)),
    QueryDef("q_ann_lsh", annLsh, Some(annLshSql)),
    QueryDef("q_lsh_buckets", lshBuckets, Some(lshBucketsSql)),
    QueryDef("q_ivf_ann", ivfAnn, Some(ivfAnnSql)),
    QueryDef("q_ivf_ann_serve", ivfAnnServe, Some(ivfAnnSql)),
    QueryDef("q_ann_recall", annRecall, Some(annRecallSql)),
    QueryDef("q_ivf_clusters", ivfClusters, Some(ivfClustersSql)),
    QueryDef("q_pq_encode", pqEncQuery, Some(pqEncodeSql)),
    QueryDef("q_ivf_pq_ann", ivfPqAnn, Some(ivfPqAnnSql)),
    QueryDef("q_ivf_pq_ann_serve", ivfPqAnnServe, Some(ivfPqAnnSql)),
    QueryDef("q_multimodal_features", multimodalFeatures, Some(multimodalFeaturesSql)),
    QueryDef("q_frame_sample", frameSample, Some(frameSampleSql)),
    QueryDef("q_ivf_serve_scaled", ivfServeScaled, Some(ivfServeScaledSql)),
    QueryDef("q_ivf_pq_serve_scaled", ivfPqServeScaled, Some(ivfPqServeScaledSql)),
    QueryDef("q_ann_lsh_scaled", annLshScaled, Some(annLshScaledSql))
  )

  // ---- rule-geometry serve twins (rows-only) ------------------------

  /** q_ivf_ann_serve at CORPUS-DERIVED geometry instead of the
    * 16-list literal its oracle freezes: nCentroids/nProbe from
    * [[Similarity.ruleGeometry]] (sqrt-n lists, 10 % probe) and a
    * ~constant ~200-query workload (`vec_id % max(1, n/200) = 0`) —
    * the exact configuration the scaled rehearsals measure, registered
    * so the sf1/sf10 artifacts carry these rows DIRECTLY instead of
    * excluding the frozen-geometry twins with a pointer at
    * BENCH_SF10_SCALED.json. Full hash oracle despite the
    * corpus-derived geometry: [[Similarity.hyperplanes]] is
    * element-stable in the plane count (component (i,j) depends only
    * on (i,j,seed)), so [[ivfServeScaledSql]] inlines the first
    * [[DynMaxCentroids]] centroids as literals and SLICES to the
    * nCentroids it derives from `count(*)` in SQL — the oracle follows
    * the rule at any corpus size up to the inlined budget and error()s
    * loudly beyond it.
    */
  private def ivfServeScaled(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val nVecs = emb.count()
    val (nc, np) = Similarity.ruleGeometry(nVecs)
    val queryMod = math.max(1L, nVecs / 200L)
    val dir = graft.TempRoots.newDir("graft-ivfservescaled").toString
    Similarity
      .buildIvfIndex(emb, "vec_id", "embedding", nCentroids = nc)
      .write
      .mode("overwrite")
      .parquet(dir)
    val out = Similarity
      .ivfTopKIndexed(
        emb, "vec_id", "embedding",
        queryPred = col("vec_id") % queryMod === 0,
        index = s.read.parquet(dir),
        k = 5, nCentroids = nc, nProbe = np
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
      .localCheckpoint(true)
    graft.TempRoots.rmTree(dir)
    out
  }

  /** q_ann_lsh at rule geometry — see [[ivfServeScaled]]: nPlanes from
    * [[Similarity.rulePlanes]] (2^planes buckets track the corpus, so
    * per-bucket candidate pairs stay O(1)) instead of the 12-plane
    * oracle literal, constant ~200-query workload. Retires the last
    * frozen-geometry ANN row whose scale story lived only in
    * BENCH_SF10_SCALED.json.
    */
  private def annLshScaled(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val nVecs = emb.count()
    val queryMod = math.max(1L, nVecs / 200L)
    Similarity
      .annTopK(
        emb, "vec_id", "embedding",
        queryPred = col("vec_id") % queryMod === 0,
        k = 5,
        nPlanes = Similarity.rulePlanes(nVecs)
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q_ivf_pq_ann_serve at rule geometry — see [[ivfServeScaled]]. */
  private def ivfPqServeScaled(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val nVecs = emb.count()
    val (nc, np) = Similarity.ruleGeometry(nVecs)
    val queryMod = math.max(1L, nVecs / 200L)
    val dir = graft.TempRoots.newDir("graft-ivfpqservescaled").toString
    graft.ml.ProductQuantize
      .buildIvfPqIndex(emb, "vec_id", "embedding", m = PqM, k = PqK, pqSeed = PqSeed, nCentroids = nc)
      .write
      .mode("overwrite")
      .parquet(dir)
    val out = graft.ml.ProductQuantize
      .ivfPqTopKIndexed(
        emb, "vec_id", "embedding",
        queryPred = col("vec_id") % queryMod === 0,
        index = s.read.parquet(dir),
        kNN = 5, m = PqM, k = PqK, pqSeed = PqSeed, nCentroids = nc, nProbe = np
      )
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("adc"), 4).as("adc"))
      .orderBy(col("query_id"), col("rank"))
      .localCheckpoint(true)
    graft.TempRoots.rmTree(dir)
    out
  }

  // ---- dynamic-geometry oracles for the rule-geometry twins ---------
  //
  // The twins derive nCentroids/nProbe/nPlanes from the corpus count at
  // runtime, which a static SQL string can follow because every
  // generated constant family is element-stable in its count parameter:
  // hyperplanes(n, dim, seed)(i)(j) depends only on (i, j, seed), so
  // plane/centroid number i is the SAME array whether the engine asked
  // for 9 planes or 32. The oracle inlines the first DynMax* constants
  // as literals, computes the rule geometry from count(*) in SQL
  // (integer-exact: bit-length for ceil-log2, and the same IEEE-double
  // ceil(sqrt)/ceil(0.1*nc) ops the Scala rule performs), slices the
  // literal list to the derived size, and error()s loudly if the corpus
  // ever outgrows the inlined budget instead of silently truncating.

  /** Inlined-literal budget: 64 centroids covers any corpus up to
    * 64² = 4096 vectors under the √n rule (gate corpora are 500,
    * sf0.1 is 2000); 32 planes covers 2³² vectors under the log2 rule.
    */
  private val DynMaxCentroids = 64
  private val DynMaxPlanes = 32

  /** Corpus-derived geometry CTE mirroring [[Similarity.ruleGeometry]]
    * (√n lists, 10 % probe) + the `n/200` query-workload modulus the
    * twins use. `geom` is one row; downstream CTEs cross-join it.
    */
  private val dynGeomCte =
    s"""g AS (
       |  SELECT count(*) AS n, greatest(16, CAST(ceil(sqrt(count(*))) AS INT)) AS nc0
       |  FROM embeddings
       |), geom AS (
       |  SELECT CASE WHEN nc0 > $DynMaxCentroids
       |              THEN error('rule-geometry oracle: corpus needs more than $DynMaxCentroids inlined centroids')
       |              ELSE nc0 END AS ncent,
       |         greatest(4, CAST(ceil(CAST(0.10 AS DOUBLE) * nc0) AS INT)) AS nprobe,
       |         greatest(1, n // 200) AS qmod
       |  FROM g
       |)""".stripMargin

  /** The first [[DynMaxCentroids]] coarse centroids as (score, id)
    * struct literals over a normalized-vector column `nv` — the
    * element-stable prefix every rule-derived codebook is a slice of.
    */
  private lazy val dynCentroidStructs: String =
    Similarity
      .normalizedCentroids(DynMaxCentroids, 64, 7L)
      .zipWithIndex
      .map { case (c, i) => s"{'s': list_dot_product(nv, ${sqlList(c)}), 'c': $i}" }
      .mkString(",\n           ")

  /** Shared IVF coarse-assignment CTE chain at rule geometry: ranked
    * centroid prefix sliced to the derived ncent, corpus = argmax list,
    * queries = top-nprobe lists of every `vec_id % qmod = 0` vector.
    */
  private lazy val dynIvfCtes =
    s"""$dynGeomCte, nv0 AS (
       |  SELECT vec_id,
       |         list_transform(
       |           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]),
       |           x -> x / sqrt(list_dot_product(CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]), CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])))
       |         ) AS nv
       |  FROM embeddings
       |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
       |), rankedc AS (
       |  SELECT vec_id, nv,
       |         list_reverse_sort(list_slice([$dynCentroidStructs], 1, ncent)) AS rc
       |  FROM nv0, geom
       |)""".stripMargin

  /** Full-value oracle for [[ivfServeScaled]] — q_ivf_ann's proven
    * probe/score/quantized-rank SQL with the 16-list literal geometry
    * replaced by the count(*)-derived rule. Beyond closing the
    * `no_oracle` gap, this hash-pins the geometry arithmetic itself:
    * a silent drift in [[Similarity.ruleGeometry]] now breaks the hash.
    */
  private lazy val ivfServeScaledSql =
    s"""WITH $dynIvfCtes, corpus AS (
       |  SELECT vec_id AS neighbor_id, nv AS v, CAST((rc[1]).c AS INT) AS cluster FROM rankedc
       |), q AS (
       |  SELECT r.vec_id AS query_id, r.nv AS qv,
       |         CAST(unnest(list_transform(list_slice(r.rc, 1, geom.nprobe), x -> x.c)) AS INT) AS cluster
       |  FROM rankedc r, geom WHERE r.vec_id % geom.qmod = 0
       |), scored AS (
       |  SELECT query_id, neighbor_id, list_dot_product(qv, v) AS cos
       |  FROM q JOIN corpus USING (cluster)
       |  WHERE neighbor_id <> query_id
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 4) DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Full-value oracle for [[ivfPqServeScaled]] — q_ivf_pq_ann's ADC
    * scoring (identical PQ codebook literals: the PQ geometry is fixed
    * by (m, k, pqSeed), only the coarse lists follow the corpus rule).
    */
  private lazy val ivfPqServeScaledSql = {
    val sts = (0 until PqM).map(j => s"${pqStSql(j)}.c AS code$j").mkString(",\n         ")
    val adc = (0 until PqM)
      .map { j =>
        val cbLit = s"[${pqCb(j).map(sqlList).mkString(", ")}]"
        s"list_dot_product(list_slice(q.qv, ${j * PqSubDim + 1}, ${(j + 1) * PqSubDim}), ($cbLit)[c.code$j + 1])"
      }
      .mkString("\n         + ")
    s"""WITH $dynIvfCtes, subs AS (
       |  SELECT vec_id, nv,
       |         ${(0 until PqM).map(j => s"list_slice(nv, ${j * PqSubDim + 1}, ${(j + 1) * PqSubDim}) AS sub$j").mkString(",\n         ")}
       |  FROM nv0
       |), enc AS (
       |  SELECT vec_id,
       |         $sts
       |  FROM subs
       |), corpus AS (
       |  SELECT r.vec_id AS neighbor_id, CAST((r.rc[1]).c AS INT) AS cluster,
       |         e.* EXCLUDE (vec_id)
       |  FROM rankedc r JOIN enc e USING (vec_id)
       |), q AS (
       |  SELECT r.vec_id AS query_id, r.nv AS qv,
       |         CAST(unnest(list_transform(list_slice(r.rc, 1, geom.nprobe), x -> x.c)) AS INT) AS cluster
       |  FROM rankedc r, geom WHERE r.vec_id % geom.qmod = 0
       |), scored AS (
       |  SELECT q.query_id, c.neighbor_id,
       |         $adc AS adc
       |  FROM q JOIN corpus c USING (cluster)
       |  WHERE c.neighbor_id <> q.query_id
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(adc, 4) DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, round(adc, 4) AS adc
       |FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Full-value oracle for [[annLshScaled]] — q_ann_lsh's proven
    * bucket/multiprobe/score SQL with the plane count derived from
    * count(*): nPlanes = max(8, bit_length(n−1)) — the integer-exact
    * form of ceil(log2 n) [[Similarity.rulePlanes]] computes — via
    * DuckDB's binary format; bucket bits and the 1-bit multiprobe set
    * are gated per-plane on `i < npl` so the same 32 inlined plane
    * literals serve any derived plane count.
    */
  private lazy val annLshScaledSql = {
    val planes = Similarity.hyperplanes(DynMaxPlanes, 64)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN $i < npl AND list_dot_product(v, ${sqlList(p)}) >= 0 THEN ${1L << i} ELSE 0 END"
    }
    s"""WITH g AS (
       |  SELECT count(*) AS n, length(format('{:b}', count(*) - 1)) AS bl FROM embeddings
       |), geom AS (
       |  SELECT CASE WHEN bl > $DynMaxPlanes
       |              THEN error('rule-geometry oracle: corpus needs more than $DynMaxPlanes inlined planes')
       |              ELSE greatest(8, bl) END AS npl,
       |         greatest(1, n // 200) AS qmod
       |  FROM g
       |), e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS FLOAT)::DOUBLE) AS v FROM embeddings
       |  WHERE ${Similarity.finiteNormWhere("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])")}
       |), b AS (
       |  SELECT vec_id, CAST(${bits.mkString("\n  + ")} AS BIGINT) AS bucket FROM e, geom
       |), qprobe AS (
       |  SELECT b.vec_id AS query_id,
       |         unnest(list_concat([b.bucket],
       |                list_transform(range(geom.npl), i -> xor(b.bucket, (1::BIGINT << i))))) AS bucket
       |  FROM b, geom WHERE b.vec_id % geom.qmod = 0
       |), cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM qprobe q JOIN b c USING (bucket)
       |  WHERE c.vec_id <> q.query_id
       |), scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         list_dot_product(qe.v, ne.v)
       |           / sqrt(list_dot_product(qe.v, qe.v) * list_dot_product(ne.v, ne.v)) AS cos
       |  FROM cand
       |  JOIN e qe ON qe.vec_id = cand.query_id
       |  JOIN e ne ON ne.vec_id = cand.neighbor_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 4) DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }
}
