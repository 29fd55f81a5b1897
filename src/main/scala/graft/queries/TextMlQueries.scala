package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.PortableHash
import graft.ml.{Dedup, Multimodal, Similarity, TextStats, UrlFilter}
import graft.streaming.StreamingIngest
import graft.tables.TestTables

/** Training-data-pipeline operators over `documents` / `embeddings`:
  * text stats, language ID, fingerprinting, the dedup family (exact,
  * Jaccard, MinHash+LSH, SimHash), similarity search (brute force and
  * the LSH, IVF and IVF-PQ ANN families), multimodal binary plumbing.
  *
  * Each ANN family has one row function and one oracle generator, both
  * taking the index geometry as a value ([[AnnGeometry]]): the frozen
  * rows and their `_scaled` twins register the same function at the
  * frozen literals and at the corpus-derived rule geometry.
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

  // ---- similarity search: shared embedding fragments ---------------

  private def sqlList(xs: Array[Double]): String = xs.mkString("[", ", ", "]")

  /** `SELECT vec_id[, keep], v` over `from`: the embeddings as double
    * vectors with the degenerate rows dropped — the row set every
    * similarity path keeps ([[Similarity.finiteNormWhere]]).
    */
  private def finiteVecs(from: String, keep: String): String =
    s"""SELECT vec_id$keep, v
       |  FROM (SELECT vec_id$keep, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v FROM $from)
       |  WHERE ${Similarity.finiteNormWhere("v")}""".stripMargin

  private def vecCte(name: String, from: String): String =
    s"$name AS (\n  ${finiteVecs(from, "")}\n)"

  /** `name(vec_id[, keep], nv)`: [[finiteVecs]] L2-normalized — the
    * DuckDB twin of `Similarity.normalizedVecs`, the one normalized-
    * vector fragment of every embedding oracle.
    */
  private[queries] def normVecCte(name: String, from: String, keep: String = ""): String =
    s"""$name AS (
       |  SELECT vec_id$keep, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
       |  FROM (${finiteVecs(from, keep)})
       |)""".stripMargin

  /** The cosine `VectorOps.cosine` computes, over two raw vectors. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"

  /** `out`: the rows of `scored` ranked per query by `rankKey`
    * descending, ties to the lower neighbor id, top 5 kept.
    */
  private def top5Cte(out: String, scored: String, rankKey: String): String =
    s"""$out AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY $rankKey DESC, neighbor_id) AS rank
       |    FROM $scored
       |  )
       |  WHERE rank <= 5
       |)""".stripMargin

  /** Inlined-literal budget of the rule-geometry oracles, whose list
    * and plane counts are only known to DuckDB: 64 centroids cover any
    * corpus up to 64² = 4096 vectors under the √n rule (gate corpora
    * are 500, sf0.1 is 2000); 32 planes cover 2³² vectors under the
    * log2 rule. Both constant families are element-stable in their
    * count ([[Similarity.hyperplanes]]: component (i, j) depends only
    * on (i, j, seed)), so every smaller geometry is a prefix, and a
    * literal geometry inlines exactly its own count.
    */
  private val MaxCentroids = 64
  private val MaxPlanes = 32

  /** The first `n` centroids of the deterministic IVF codebook as
    * `{'s': nv·c, 'c': id}` struct literals over the normalized-vector
    * column `nv` — the DuckDB twin of `Similarity.centroidStructs`.
    */
  private[queries] def centroidStructsSql(n: Int): String =
    Similarity
      .normalizedCentroids(n, 64, 7L)
      .zipWithIndex
      .map { case (c, i) => s"{'s': list_dot_product(nv, ${sqlList(c)}), 'c': $i}" }
      .mkString("[", ",\n     ", "]")

  /** `vec`'s sign-bit bucket over the first `nPlanes` deterministic
    * hyperplanes — the DuckDB twin of `Similarity.lshBucket`. Each of
    * the `inlined` plane literals is gated on `i < nPlanes`, so one
    * fragment serves a literal or a count-derived plane count.
    */
  private def lshBucketSql(vec: String, nPlanes: String, inlined: Int): String =
    Similarity.hyperplanes(inlined, 64).zipWithIndex
      .map { case (p, i) =>
        s"CASE WHEN $i < $nPlanes AND list_dot_product($vec, ${sqlList(p)}) >= 0 THEN ${1L << i} ELSE 0 END"
      }
      .mkString("CAST(", "\n    + ", " AS BIGINT)")

  /** `bucket` and its `nPlanes` one-bit flips: the 1-bit multiprobe set. */
  private def lshProbesSql(nPlanes: String): String =
    s"list_concat([bucket], list_transform(range($nPlanes), i -> xor(bucket, 1::BIGINT << i)))"

  // ---- brute-force similarity --------------------------------------

  private def cosineTopK(s: SparkSession, d: String): DataFrame =
    annRows(
      Similarity.cosineTopK(
        TestTables.embeddingsDeg(s, d),
        "vec_id",
        "embedding",
        queryPred = col("vec_id") % 100 === 0,
        k = 5
      ),
      "cos"
    )

  /** Exact top 5 of every `vec_id % 100 = 0` query over `from`, ranked
    * on the unquantized cosine: `out(query_id, neighbor_id, cos, rank)`.
    * q_cosine_topk's chain, and the truth q_ann_recall measures.
    */
  private def cosineTopCtes(out: String, from: String): String =
    s"""${vecCte(s"${out}_e", from)}, ${out}_scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, ${cosSql("q.v", "e.v")} AS cos
       |  FROM ${out}_e q, ${out}_e e
       |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id
       |), ${top5Cte(out, s"${out}_scored", "cos")}""".stripMargin

  private val cosineTopKSql =
    s"""WITH $embDegCte, ${cosineTopCtes("brute", "emb_deg")}
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM brute
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
    s"""WITH $embDegCte, ${normVecCte("n", "emb_deg", ", label")}
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
    * literals and the same xor multiprobe.
    */
  private def embedNearDupBlocked(s: SparkSession, d: String): DataFrame =
    Similarity
      .nearDupPairsBlocked(TestTables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("a_id"), col("b_id"))

  // buckets the NORMALIZED vector, exactly as lshBucket does in
  // nearDupPairsBlocked — sign(dot(nv, plane)) and sign(dot(v, plane))
  // agree in exact arithmetic but are different float roundings, and
  // the oracle must reproduce the engine's formula, not an algebraic
  // equivalent
  private lazy val embedNearDupBlockedSql =
    s"""WITH ${normVecCte("n", "embeddings")}, nb AS (
       |  SELECT vec_id, nv, ${lshBucketSql("nv", "8", 8)} AS bucket
       |  FROM n
       |), probed AS (
       |  SELECT vec_id, nv, unnest(${lshProbesSql("8")}) AS bucket FROM nb
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

  /** Hash-checks the ANN path's novel math — the 12-plane sign-bit
    * bucket of every embedding — by EMBEDDING the deterministic plane
    * constants into the oracle SQL as literals.
    */
  private def lshBuckets(s: SparkSession, d: String): DataFrame = {
    val planes = Similarity.hyperplanes(Frozen.nPlanes, 64)
    TestTables.embeddings(s, d)
      .select(
        col("vec_id"),
        Similarity
          .lshBucket(transform(col("embedding"), _.cast("double")), planes)
          .as("bucket")
      )
      .orderBy(col("vec_id"))
  }

  private lazy val lshBucketsSql =
    s"""SELECT vec_id, ${lshBucketSql("CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[])", Frozen.nPlanes.toString, Frozen.nPlanes)} AS bucket
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin

  /** Hash-checks the IVF path's novel math — nearest-centroid
    * assignment of every normalized embedding — with the centroid
    * constants inlined in the oracle SQL (same discipline as
    * q_lsh_buckets; ties break toward the higher centroid id, like
    * sort_array desc on the (score, id) struct).
    */
  private def ivfClusters(s: SparkSession, d: String): DataFrame =
    Similarity
      .clusterAssignments(TestTables.embeddingsDeg(s, d), "vec_id", "embedding", nCentroids = Frozen.nCentroids, seed = 7L)
      .orderBy(col("vec_id"))

  private lazy val ivfClustersSql =
    s"""WITH $embDegCte, ${normVecCte("n", "emb_deg")}
       |SELECT vec_id,
       |       CAST((list_max(${centroidStructsSql(Frozen.nCentroids)})).c AS INT) AS cluster
       |FROM n
       |ORDER BY vec_id""".stripMargin

  // ---- ANN index geometry ------------------------------------------

  /** One ANN row's index geometry: `nCentroids` coarse IVF lists with
    * `nProbe` probed per query, `nPlanes` LSH hyperplanes, and the
    * query sample `vec_id % queryMod = 0`. Each ANN family has one row
    * function and one oracle generator; its rows differ only in this
    * value.
    */
  private final case class AnnGeometry(nCentroids: Int, nProbe: Int, nPlanes: Int, queryMod: Long) {
    def queries: Column = col("vec_id") % queryMod === 0
  }

  /** The frozen geometry of q_ann_lsh, q_ivf_ann, q_ivf_pq_ann and
    * their serve forms: 16 lists, 4 probed, 12 planes, 1 % of the
    * vectors as queries.
    */
  private val Frozen = AnnGeometry(nCentroids = 16, nProbe = 4, nPlanes = 12, queryMod = 100L)

  /** The corpus-derived geometry of the `_scaled` rows: lists and
    * probes from [[Similarity.ruleGeometry]] (√n lists, 10 % probed),
    * planes from [[Similarity.rulePlanes]], and a ~200-query sample.
    * Costs one count job.
    */
  private def ruleGeometry(emb: DataFrame): AnnGeometry = {
    val n = emb.count()
    val (nCentroids, nProbe) = Similarity.ruleGeometry(n)
    AnnGeometry(nCentroids, nProbe, Similarity.rulePlanes(n), math.max(1L, n / 200L))
  }

  /** [[AnnGeometry]] as DuckDB expressions for the oracle generators;
    * `ctes` is the CTE prefix the expressions read (empty for literals),
    * and `centroidLits` / `planeLits` bound the constants inlined.
    */
  private final case class GeometrySql(
      ctes: String,
      nCentroids: String,
      nProbe: String,
      nPlanes: String,
      queryMod: String,
      centroidLits: Int,
      planeLits: Int
  )

  private def literalSql(g: AnnGeometry): GeometrySql =
    GeometrySql("", g.nCentroids.toString, g.nProbe.toString, g.nPlanes.toString, g.queryMod.toString,
      g.nCentroids, g.nPlanes)

  private val FrozenSql = literalSql(Frozen)

  /** [[ruleGeometry]] derived from `count(*)` in SQL, with the same
    * integer-exact arithmetic the Scala rule performs: IEEE-double
    * ceil(sqrt) and ceil(0.1·nc) for the lists, bit length of n − 1
    * (DuckDB's binary format) for ceil(log2 n). A corpus that outgrows
    * the inlined [[MaxCentroids]] / [[MaxPlanes]] budget `error()`s
    * instead of silently truncating; each guard sits on the one field
    * that needs it, so an LSH oracle never trips the centroid budget.
    */
  private lazy val RuleSql: GeometrySql = {
    def guarded(field: String, max: Int, what: String) =
      s"(SELECT CASE WHEN $field > $max " +
        s"THEN error('rule-geometry oracle: corpus needs more than $max inlined $what') " +
        s"ELSE $field END FROM geom)"
    GeometrySql(
      ctes = """geom AS (
               |  SELECT ncent, greatest(4, CAST(ceil(CAST(0.10 AS DOUBLE) * ncent) AS INT)) AS nprobe, npl, qmod
               |  FROM (
               |    SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS INT)) AS ncent,
               |           greatest(8, length(format('{:b}', count(*) - 1))) AS npl,
               |           greatest(1, count(*) // 200) AS qmod
               |    FROM embeddings
               |  )
               |),
               |""".stripMargin,
      nCentroids = guarded("ncent", MaxCentroids, "centroids"),
      nProbe = "(SELECT nprobe FROM geom)",
      nPlanes = guarded("npl", MaxPlanes, "planes"),
      queryMod = "(SELECT qmod FROM geom)",
      centroidLits = MaxCentroids,
      planeLits = MaxPlanes
    )
  }

  private def annRows(df: DataFrame, score: String): DataFrame =
    df.select(col("query_id"), col("rank"), col("neighbor_id"), round(col(score), 4).as(score))
      .orderBy(col("query_id"), col("rank"))

  /** Builds an index once, persists it to parquet, and serves `probe`
    * from the stored copy — the per-corpus-generation build / per-batch
    * serve split a deployment runs. The result is materialized before
    * the index files are removed.
    */
  private def served(s: SparkSession, prefix: String, index: DataFrame)(probe: DataFrame => DataFrame): DataFrame = {
    val dir = graft.TempRoots.newDir(prefix).toString
    index.write.mode("overwrite").parquet(dir)
    val out = probe(s.read.parquet(dir)).localCheckpoint(true)
    graft.TempRoots.rmTree(dir)
    out
  }

  /** One ANN row's oracle: `chain` at geometry `g`, its top-5 rows in
    * rank order with `score` rounded to 4 decimals.
    */
  private def annSql(g: GeometrySql, chain: (GeometrySql, String) => String, score: String): String =
    s"""WITH ${g.ctes}${chain(g, "ann")}
       |SELECT query_id, rank, neighbor_id, round($score, 4) AS $score
       |FROM ann
       |ORDER BY query_id, rank""".stripMargin

  // ---- LSH ANN -----------------------------------------------------

  /** Approximate ANN via random-hyperplane LSH buckets + 1-bit
    * multiprobe at geometry `g` (q_ann_lsh frozen, q_ann_lsh_scaled at
    * rule planes: 2^planes buckets track the corpus, so per-bucket
    * candidate pairs stay O(1)). Ranking quantizes the score to 4
    * decimals with id tie-break, so near-tie order is engine-stable.
    */
  private def annLsh(geometry: DataFrame => AnnGeometry)(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val g = geometry(emb)
    annRows(
      Similarity.annTopK(emb, "vec_id", "embedding", queryPred = g.queries, k = 5, nPlanes = g.nPlanes),
      "cos"
    )
  }

  /** The LSH oracle generator: bucket assignment from the inlined plane
    * literals, the 1-bit multiprobe set, candidate dedup, cosine
    * scoring and quantized-margin rank, ending in
    * `out(query_id, neighbor_id, cos, rank)`.
    */
  private def lshCtes(g: GeometrySql, out: String): String =
    s"""${vecCte(s"${out}_e", "embeddings")}, ${out}_b AS (
       |  SELECT vec_id, ${lshBucketSql("v", g.nPlanes, g.planeLits)} AS bucket
       |  FROM ${out}_e
       |), ${out}_probe AS (
       |  SELECT vec_id AS query_id, unnest(${lshProbesSql(g.nPlanes)}) AS bucket
       |  FROM ${out}_b WHERE vec_id % ${g.queryMod} = 0
       |), ${out}_cand AS (
       |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
       |  FROM ${out}_probe p JOIN ${out}_b c USING (bucket)
       |  WHERE c.vec_id <> p.query_id
       |), ${out}_scored AS (
       |  SELECT c.query_id, c.neighbor_id, ${cosSql("q.v", "n.v")} AS cos
       |  FROM ${out}_cand c
       |  JOIN ${out}_e q ON q.vec_id = c.query_id
       |  JOIN ${out}_e n ON n.vec_id = c.neighbor_id
       |), ${top5Cte(out, s"${out}_scored", "round(cos, 4)")}""".stripMargin

  // ---- IVF ANN -----------------------------------------------------

  /** IVF ANN — inverted lists by nearest deterministic coarse
    * centroid, nProbe-list probing, at the frozen geometry.
    */
  private def ivfAnn(s: SparkSession, d: String): DataFrame =
    annRows(
      Similarity.ivfTopK(
        TestTables.embeddings(s, d),
        "vec_id",
        "embedding",
        queryPred = Frozen.queries,
        k = 5,
        nCentroids = Frozen.nCentroids,
        nProbe = Frozen.nProbe
      ),
      "cos"
    )

  /** The production serving shape of [[ivfAnn]] at geometry `g`
    * (q_ivf_ann_serve frozen, q_ivf_serve_scaled at rule geometry): the
    * inverted lists are built ONCE (`Similarity.buildIvfIndex`),
    * persisted, and the query batch probes the STORED lists
    * (`ivfTopKIndexed`). The build's n·√n centroid assignment is the
    * inline path's one superlinear term. The frozen row's oracle is
    * q_ivf_ann's: serving a persisted index must change nothing.
    */
  private def ivfServe(geometry: DataFrame => AnnGeometry)(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val g = geometry(emb)
    served(s, "graft-ivfserve", Similarity.buildIvfIndex(emb, "vec_id", "embedding", nCentroids = g.nCentroids)) {
      index =>
        annRows(
          Similarity.ivfTopKIndexed(emb, "vec_id", "embedding", queryPred = g.queries, index = index,
            k = 5, nCentroids = g.nCentroids, nProbe = g.nProbe),
          "cos"
        )
    }
  }

  /** IVF lists and probes at geometry `g`, CTEs prefixed `p`:
    * `p_rc(vec_id, nv, rc)` ranks the first nCentroids centroids for
    * every normalized vector, `p_lists(neighbor_id, nv, cluster)` files
    * each vector under its nearest, and `p_q(query_id, qv, cluster)`
    * holds each query's nProbe nearest lists. Shared by the IVF and
    * IVF-PQ generators.
    */
  private def ivfListCtes(g: GeometrySql, p: String): String =
    s"""${normVecCte(s"${p}_nv", "embeddings")}, ${p}_rc AS (
       |  SELECT vec_id, nv, list_reverse_sort(list_slice(${centroidStructsSql(g.centroidLits)}, 1, ${g.nCentroids})) AS rc
       |  FROM ${p}_nv
       |), ${p}_lists AS (
       |  SELECT vec_id AS neighbor_id, nv, CAST((rc[1]).c AS INT) AS cluster FROM ${p}_rc
       |), ${p}_q AS (
       |  SELECT vec_id AS query_id, nv AS qv,
       |         CAST(unnest(list_transform(list_slice(rc, 1, ${g.nProbe}), x -> x.c)) AS INT) AS cluster
       |  FROM ${p}_rc WHERE vec_id % ${g.queryMod} = 0
       |)""".stripMargin

  /** The IVF oracle generator: [[ivfListCtes]], normalized-vector dot
    * scoring and quantized-margin rank, ending in
    * `out(query_id, neighbor_id, cos, rank)`.
    */
  private def ivfCtes(g: GeometrySql, out: String): String =
    s"""${ivfListCtes(g, out)}, ${out}_scored AS (
       |  SELECT query_id, neighbor_id, list_dot_product(qv, nv) AS cos
       |  FROM ${out}_q JOIN ${out}_lists USING (cluster)
       |  WHERE neighbor_id <> query_id
       |), ${top5Cte(out, s"${out}_scored", "round(cos, 4)")}""".stripMargin

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
      .cosineTopK(e, "vec_id", "embedding", queryPred = Frozen.queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // two probe settings of the same 16-list index: the default
    // nProbe=4 shows where the knob starts, nProbe=12 shows it
    // reaching deployable recall — the acceptance curve, not a point
    def hitsAt(g: AnnGeometry, alias: String) = brute
      .join(
        Similarity
          .ivfTopK(e, "vec_id", "embedding", queryPred = g.queries, k = 5, nCentroids = g.nCentroids, nProbe = g.nProbe)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id")
      )
      .groupBy("query_id")
      .agg(count(lit(1)).as(alias))
    brute
      .select("query_id")
      .distinct()
      .join(hitsAt(Frozen, "h4"), Seq("query_id"), "left")
      .join(hitsAt(Frozen.copy(nProbe = 12), "h12"), Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("h4"), lit(0L)).as("n_hits_p4"),
        round(coalesce(col("h4"), lit(0L)) / 5.0, 4).as("recall_p4"),
        coalesce(col("h12"), lit(0L)).as("n_hits_p12"),
        round(coalesce(col("h12"), lit(0L)) / 5.0, 4).as("recall_p12")
      )
      .orderBy(col("query_id"))
  }

  /** q_cosine_topk's brute chain and the IVF generator at nProbe 4 and
    * 12, joined on the survivor sets.
    */
  private lazy val annRecallSql =
    s"""WITH ${cosineTopCtes("brute", "embeddings")},
       |${ivfCtes(FrozenSql, "ivf4")},
       |${ivfCtes(literalSql(Frozen.copy(nProbe = 12)), "ivf12")},
       |hits4 AS (
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

  // ---- IVF-PQ: product-quantized ANN -------------------------------

  private val PqM = 8
  private val PqK = 16
  private val PqSubDim = 8
  private val PqSeed = 11L
  private lazy val pqCb = graft.ml.ProductQuantize.codebooks(PqM, PqK, PqSubDim, PqSeed)

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

  /** The `sub0 … sub7` subvector slices of a normalized vector `nv`. */
  private lazy val pqSubs =
    (0 until PqM)
      .map(j => s"list_slice(nv, ${j * PqSubDim + 1}, ${(j + 1) * PqSubDim}) AS sub$j")
      .mkString(",\n         ")

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
    s"""WITH ${normVecCte("nv0", "embeddings")}, subs AS (
       |  SELECT vec_id, $pqSubs
       |  FROM nv0
       |), enc AS (
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
    annRows(
      graft.ml.ProductQuantize.ivfPqTopK(
        TestTables.embeddings(s, d),
        "vec_id",
        "embedding",
        queryPred = Frozen.queries,
        kNN = 5,
        m = PqM,
        k = PqK,
        pqSeed = PqSeed,
        nCentroids = Frozen.nCentroids,
        nProbe = Frozen.nProbe,
        coarseSeed = 7L
      ),
      "adc"
    )

  /** [[ivfPqAnn]]'s production serving shape at geometry `g`
    * (q_ivf_pq_ann_serve frozen, q_ivf_pq_serve_scaled at rule
    * geometry): the PQ-encoded inverted lists built ONCE
    * (`ProductQuantize.buildIvfPqIndex` — coarse assignment + PQ
    * encode), persisted, and the query batch probed via
    * `ivfPqTopKIndexed`. The PQ codebook is fixed by (m, k, pqSeed);
    * only the coarse lists follow the geometry.
    */
  private def ivfPqServe(geometry: DataFrame => AnnGeometry)(s: SparkSession, d: String): DataFrame = {
    val emb = TestTables.embeddings(s, d)
    val g = geometry(emb)
    val pq = graft.ml.ProductQuantize
    served(s, "graft-ivfpqserve",
      pq.buildIvfPqIndex(emb, "vec_id", "embedding", m = PqM, k = PqK, pqSeed = PqSeed,
        nCentroids = g.nCentroids, coarseSeed = 7L)) { index =>
      annRows(
        pq.ivfPqTopKIndexed(emb, "vec_id", "embedding", queryPred = g.queries, index = index,
          kNN = 5, m = PqM, k = PqK, pqSeed = PqSeed, nCentroids = g.nCentroids, nProbe = g.nProbe,
          coarseSeed = 7L),
        "adc"
      )
    }
  }

  /** The IVF-PQ oracle generator: [[ivfListCtes]], per-subspace argmin
    * codes of every listed vector, ADC scoring of the query's exact
    * subvectors against the code-named codebook entries, and
    * quantized-margin rank, ending in `out(query_id, neighbor_id, adc, rank)`.
    */
  private def ivfPqCtes(g: GeometrySql, out: String): String = {
    val codes = (0 until PqM).map(j => s"${pqStSql(j)}.c AS code$j").mkString(",\n         ")
    val adc = (0 until PqM)
      .map { j =>
        val cbLit = s"[${pqCb(j).map(sqlList).mkString(", ")}]"
        s"list_dot_product(list_slice(q.qv, ${j * PqSubDim + 1}, ${(j + 1) * PqSubDim}), ($cbLit)[c.code$j + 1])"
      }
      .mkString("\n         + ")
    s"""${ivfListCtes(g, out)}, ${out}_codes AS (
       |  SELECT neighbor_id, cluster,
       |         $codes
       |  FROM (SELECT neighbor_id, cluster, $pqSubs FROM ${out}_lists)
       |), ${out}_scored AS (
       |  SELECT q.query_id, c.neighbor_id,
       |         $adc AS adc
       |  FROM ${out}_q q JOIN ${out}_codes c USING (cluster)
       |  WHERE c.neighbor_id <> q.query_id
       |), ${top5Cte(out, s"${out}_scored", "round(adc, 4)")}""".stripMargin
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
    QueryDef("q_ann_lsh", annLsh(_ => Frozen), Some(annSql(FrozenSql, lshCtes, "cos"))),
    QueryDef("q_lsh_buckets", lshBuckets, Some(lshBucketsSql)),
    QueryDef("q_ivf_ann", ivfAnn, Some(annSql(FrozenSql, ivfCtes, "cos"))),
    QueryDef("q_ivf_ann_serve", ivfServe(_ => Frozen), Some(annSql(FrozenSql, ivfCtes, "cos"))),
    QueryDef("q_ann_recall", annRecall, Some(annRecallSql)),
    QueryDef("q_ivf_clusters", ivfClusters, Some(ivfClustersSql)),
    QueryDef("q_pq_encode", pqEncQuery, Some(pqEncodeSql)),
    QueryDef("q_ivf_pq_ann", ivfPqAnn, Some(annSql(FrozenSql, ivfPqCtes, "adc"))),
    QueryDef("q_ivf_pq_ann_serve", ivfPqServe(_ => Frozen), Some(annSql(FrozenSql, ivfPqCtes, "adc"))),
    QueryDef("q_multimodal_features", multimodalFeatures, Some(multimodalFeaturesSql)),
    QueryDef("q_frame_sample", frameSample, Some(frameSampleSql)),
    QueryDef("q_ivf_serve_scaled", ivfServe(ruleGeometry), Some(annSql(RuleSql, ivfCtes, "cos"))),
    QueryDef("q_ivf_pq_serve_scaled", ivfPqServe(ruleGeometry), Some(annSql(RuleSql, ivfPqCtes, "adc"))),
    QueryDef("q_ann_lsh_scaled", annLsh(ruleGeometry), Some(annSql(RuleSql, lshCtes, "cos")))
  )
}
