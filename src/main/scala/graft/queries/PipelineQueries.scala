package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.ml.TextStats
import graft.tables.TestTables

/** Composite training-data-pipeline queries: corpus selection
  * (dedup + quality + language gates in one pass) and event
  * sessionization.
  */
object PipelineQueries {

  // ---- corpus selection --------------------------------------------

  /** Select the training corpus: normalization-invariant dedup keeps
    * the lowest doc_id per fingerprint, quality score must clear the
    * bar, and the stopword language-ID must agree with the labeled
    * language. Output: per-language kept/dropped accounting.
    */
  private def corpusSelect(s: SparkSession, d: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    val metrics = TextStats.qualityMetrics(TestTables.documents(s, d), "text")
      .withColumn("fingerprint", PortableHash.md5num56(coalesce(array_join(toks, " "), lit("")))) // NULL text = empty token stream
      .withColumn("predicted", TextStats.predictedLang(toks))
    val w = Window.partitionBy(col("fingerprint"))
    val flagged = metrics
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(w))
      .withColumn(
        "kept",
        col("is_canonical") && col("quality_score") >= 0.5 && col("predicted") === col("lang")
      )
    flagged
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1).otherwise(0)).as("n_kept"),
        sum(when(!col("is_canonical"), 1).otherwise(0)).as("n_dups"),
        sum(when(col("predicted") =!= col("lang"), 1).otherwise(0)).as("n_lang_mismatch"),
        // integer-scaled mean: exact in both engines regardless of
        // summation order (cross-engine double sums tie at round-half
        // boundaries otherwise)
        round(avg(round(col("quality_score") * 10000).cast("long")) / 10000.0, 4).as("avg_quality")
      )
      .orderBy(col("lang"))
  }

  private val corpusSelectSql = {
    val scores = TextStats.StopwordProfiles.map { case (lang, _) =>
      s"${TextStats.langScoreSqlExpr(lang)} AS s_$lang"
    }.mkString(",\n         ")
    val langs = TextStats.StopwordProfiles.map(_._1)
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH tok AS (
       |  SELECT doc_id, lang, text,
       |         ${TextStats.tokensSqlExpr("text")} AS toks
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, lang,
       |         ${PortableHash.md5num56Sql("coalesce(array_to_string(toks, ' '), '')")} AS fingerprint,
       |         least(1.0, len(toks) / 50.0) * 0.4
       |           + least(1.0, ${TextStats.bestStopHitsSqlExpr()} / 5.0) * 0.3
       |           + (1.0 - least(1.0, ((length(text) - length(regexp_replace(text, '${TextStats.PunctClass}', '', 'g')))::DOUBLE
       |                                / greatest(length(text), 1)) * 10.0)) * 0.3 AS quality_score,
       |         $scores
       |  FROM tok
       |), p AS (
       |  SELECT *, $best AS best,
       |         CASE $cases ELSE 'und' END AS predicted,
       |         doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
       |  FROM m
       |)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN is_canonical AND quality_score >= 0.5 AND predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN NOT is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       |       CAST(sum(CASE WHEN predicted <> lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_mismatch,
       |       round(avg(CAST(round(quality_score * 10000) AS BIGINT)) / 10000.0, 4) AS avg_quality
       |FROM p
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  // ---- sessionization ----------------------------------------------

  /** Gap-based sessions (30-minute inactivity): classic
    * gaps-and-islands over the event stream; per-session bounds,
    * event count and value sum.
    */
  private def sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    TestTables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull || unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
          .otherwise(0)
      )
      .withColumn("session_no", sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"),
        count(lit(1)).as("n_events"),
        // integer-scaled sum: order-invariant across partitionings and
        // engines (a raw double sum can differ in the last ulp)
        round(sum(round(col("value") * 10000).cast("long")) / 10000.0, 4).as("sum_value")
      )
      .orderBy(col("user_id"), col("session_no"))
  }

  private val sessionizeSql =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
      |              ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), grouped AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                   ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM marked
      |)
      |SELECT user_id, CAST(session_no AS BIGINT) AS session_no, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
      |       count(*) AS n_events, round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4) AS sum_value
      |FROM grouped
      |GROUP BY 1, 2
      |ORDER BY user_id, session_no""".stripMargin

  // ---- censored-result statistics ----------------------------------

  /** events reinterpreted as lab results with a detection limit of 10:
    * values below it are non-detects (`result NULL, condition '<',
    * condition_value 10`) — the reference's censored-result shape
    * (`discrete.results`, patch_11). DL/2 substitution summary.
    */
  private def censoredStats(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d)
      .withColumn("result", when(col("value") < 10.0, lit(null)).otherwise(col("value")))
      .withColumn("condition", when(col("value") < 10.0, lit("<")))
      .withColumn("condition_value", when(col("value") < 10.0, lit(10.0)))
    graft.operators.CensoredStats
      .summarize(e, keys = Seq("event_type"), meanScale = Some(10000L))
      .select(
        col("event_type"),
        col("n"),
        col("n_censored"),
        round(col("mean_sub"), 4).as("mean_sub"),
        col("min_detected"),
        col("max_detected"),
        col("max_dl")
      )
      .orderBy(col("event_type"))
  }

  private val censoredStatsSql =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN value < 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_censored,
      |       round(avg(CAST(round((CASE WHEN value < 10.0 THEN 5.0 ELSE value END) * 10000) AS BIGINT)) / 10000.0, 4) AS mean_sub,
      |       min(CASE WHEN value < 10.0 THEN NULL ELSE value END) AS min_detected,
      |       max(CASE WHEN value < 10.0 THEN NULL ELSE value END) AS max_detected,
      |       CAST(max(CASE WHEN value < 10.0 THEN 10.0 ELSE NULL END) AS DOUBLE) AS max_dl
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---- deterministic content-hash splits ---------------------------

  /** Reproducible train/eval/test assignment: the split is a pure
    * function of the document key's hash bucket — stable across runs,
    * partitionings and engines, unlike `df.sample()` (the same
    * document always lands in the same split).
    */
  private def deterministicSplit(s: SparkSession, d: String): DataFrame = {
    val keyed = TestTables.documents(s, d)
      .withColumn("k", col("doc_id").cast("string"))
    graft.ml.Sampling
      .splits(keyed, "k", Seq(("train", 8), ("eval", 1), ("test", 1)))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).as("id_sum")
      )
      .orderBy(col("split"))
  }

  private val deterministicSplitSql =
    s"""WITH b AS (
       |  SELECT doc_id,
       |         ${PortableHash.md5num56Sql("CAST(doc_id AS VARCHAR)")} % 10 AS bucket
       |  FROM documents
       |)
       |SELECT CASE WHEN bucket < 8 THEN 'train'
       |            WHEN bucket < 9 THEN 'eval'
       |            ELSE 'test' END AS split,
       |       count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM b
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Seeded epoch shuffle: the deterministic global permutation a
    * training run reads the corpus in ([[graft.ml.Sampling.epochShuffle]]
    * — shard by hash, rank within shard, no global sort). The query
    * pins the full (doc -> shard, pos) assignment; changing the seed
    * string re-permutes without moving data.
    */
  private def epochShuffle(s: SparkSession, d: String): DataFrame =
    graft.ml.Sampling
      .epochShuffle(TestTables.documents(s, d), "doc_id", "epoch7", nShards = 8)
      .orderBy(col("shard"), col("pos"))

  private val epochShuffleSql =
    s"""WITH h AS (
       |  SELECT doc_id,
       |         ${PortableHash.md5num56Sql("'epoch7:' || CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents
       |)
       |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos
       |FROM h
       |ORDER BY shard, pos""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_corpus_select", corpusSelect, Some(corpusSelectSql)),
    QueryDef("q_sessionize", sessionize, Some(sessionizeSql)),
    QueryDef("q_censored_stats", censoredStats, Some(censoredStatsSql)),
    QueryDef("q_deterministic_split", deterministicSplit, Some(deterministicSplitSql)),
    QueryDef("q_epoch_shuffle", epochShuffle, Some(epochShuffleSql))
  )
}
