package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.DoyStats
import graft.tables.TestTables

/** Day-of-year historical statistics over the orders table: daily
  * revenue per order priority 1995-2001, then for each day the stats
  * of prior years' same normalized DOY (SURVEY §2.4,
  * `inst/patches/patch_41.R:2734-2845` / `patch_48.R` rolling).
  */
object StatsQueries {

  private def dailyRevenue(s: SparkSession, d: String): DataFrame =
    TestTables.orders(s, d)
      .groupBy(
        col("o_orderpriority").as("series_key"),
        to_date(col("o_orderdate")).as("date")
      )
      .agg(sum(col("o_totalprice")).as("value"))

  private def doyStats(rollingYears: Option[Int])(s: SparkSession, d: String): DataFrame =
    DoyStats(dailyRevenue(s, d), rollingYears = rollingYears)
      // Feb 29 targets handled by the separate leap-day interpolation
      // operator; excluded here exactly as in the oracle.
      .filter(!(month(col("date")) === 2 && dayofmonth(col("date")) === 29))
      .select(
        col("series_key"),
        col("date"),
        round(col("value"), 4).as("value"),
        col("doy_count"),
        round(col("min"), 4).as("min"),
        round(col("max"), 4).as("max"),
        round(col("mean"), 4).as("mean"),
        round(col("q10"), 4).as("q10"),
        round(col("q25"), 4).as("q25"),
        round(col("q50"), 4).as("q50"),
        round(col("q75"), 4).as("q75"),
        round(col("q90"), 4).as("q90"),
        round(col("percent_historic_range"), 4).as("percent_historic_range")
      )
      .orderBy(col("series_key"), col("date"))

  private def doySql(rollingPred: String): String =
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS series_key, CAST(o_orderdate AS DATE) AS date,
       |         sum(o_totalprice) AS value
       |  FROM orders GROUP BY 1, 2
       |), norm AS (
       |  SELECT series_key, date, value,
       |         CASE WHEN month(date) = 2 AND day(date) = 29 THEN NULL
       |              WHEN ((year(date) % 4 = 0 AND year(date) % 100 <> 0) OR year(date) % 400 = 0)
       |                   AND dayofyear(date) > 60 THEN dayofyear(date) - 1
       |              ELSE dayofyear(date) END AS ndoy
       |  FROM daily
       |)
       |SELECT t.series_key, t.date, round(t.value, 4) AS value,
       |       count(p.value) AS doy_count,
       |       round(min(p.value), 4) AS min,
       |       round(max(p.value), 4) AS max,
       |       round(avg(p.value), 4) AS mean,
       |       round(quantile_cont(p.value, 0.10), 4) AS q10,
       |       round(quantile_cont(p.value, 0.25), 4) AS q25,
       |       round(quantile_cont(p.value, 0.50), 4) AS q50,
       |       round(quantile_cont(p.value, 0.75), 4) AS q75,
       |       round(quantile_cont(p.value, 0.90), 4) AS q90,
       |       round(CASE WHEN max(p.value) = min(p.value) THEN NULL
       |             ELSE (t.value - min(p.value)) / (max(p.value) - min(p.value)) * 100.0 END, 4)
       |         AS percent_historic_range
       |FROM norm t
       |LEFT JOIN norm p
       |  ON p.series_key = t.series_key AND p.ndoy = t.ndoy AND p.date < t.date$rollingPred
       |WHERE t.ndoy IS NOT NULL
       |GROUP BY t.series_key, t.date, t.value
       |ORDER BY t.series_key, t.date""".stripMargin

  // ---- survey offset: mean of per-survey ratios of means -----------

  /** Snow-course old-vs-new-location offset
    * (`R/downloadSnowCourse.R:271-300`): for overlapping surveys, the
    * percent offset is the MEAN OF per-survey RATIOS of means, not the
    * ratio of overall means. Daily (user, click-vs-view) pairs stand
    * in for (survey, old-vs-new location).
    */
  private def surveyOffset(s: SparkSession, d: String): DataFrame = {
    val daily = TestTables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("user_id"), to_date(col("ts")).as("date"), col("event_type"))
      .agg(avg(round(col("value") * 100).cast("long")).as("m"))
    val c = daily.filter(col("event_type") === "click").select(col("user_id"), col("date"), col("m").as("m_old"))
    val v = daily.filter(col("event_type") === "view").select(col("user_id"), col("date"), col("m").as("m_new"))
    c.join(v, Seq("user_id", "date"))
      .filter(col("m_old") =!= 0.0)
      .withColumn("ratio_ppm", round(col("m_new") / col("m_old") * 1e6).cast("long"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_surveys"),
        round(avg(col("ratio_ppm")) / 1e6, 6).as("offset_ratio")
      )
      .filter(col("n_surveys") >= 5)
      .orderBy(col("user_id"))
  }

  private val surveyOffsetSql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS date, event_type,
      |         avg(CAST(round(value * 100) AS BIGINT)) AS m
      |  FROM events
      |  WHERE event_type IN ('click', 'view')
      |  GROUP BY 1, 2, 3
      |), paired AS (
      |  SELECT c.user_id, c.date,
      |         CAST(round(v.m / c.m * 1e6) AS BIGINT) AS ratio_ppm
      |  FROM daily c
      |  JOIN daily v ON v.user_id = c.user_id AND v.date = c.date AND v.event_type = 'view'
      |  WHERE c.event_type = 'click' AND c.m <> 0.0
      |)
      |SELECT user_id, count(*) AS n_surveys,
      |       round(avg(ratio_ppm) / 1e6, 6) AS offset_ratio
      |FROM paired
      |GROUP BY 1
      |HAVING count(*) >= 5
      |ORDER BY 1""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_survey_offset", surveyOffset, Some(surveyOffsetSql)),
    QueryDef("q_doy_stats", doyStats(None), Some(doySql(""))),
    QueryDef("q_doy_stats_rolling", doyStats(Some(3)), Some(doySql(" AND p.date >= t.date - INTERVAL 3 YEAR")))
  )
}
