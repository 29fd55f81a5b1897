package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Compound, Corrections, Resample}
import graft.tables.TestTables

/** Derived-data engine queries: correction fold, the three compound
  * shapes, resampling (SURVEY §2.4/§2.8).
  */
object DerivedQueries {

  // ---- corrections -------------------------------------------------

  /** (id, parity, start, end, ctype, v1, v2, windowSec, equation, priority) */
  private val correctionRows: Seq[(Long, Long, String, String, String, Option[Double], Option[Double], Option[Long], Option[String], Int)] = Seq(
    (1L, 0L, "2024-01-05 00:00:00", "2024-01-12 00:00:00", "offset_linear", Some(0.25), None, None, None, 1),
    (2L, 0L, "2024-01-08 00:00:00", "2024-01-15 00:00:00", "scale", Some(110.0), None, None, None, 2),
    (3L, 1L, "2024-01-03 00:00:00", "2024-01-13 00:00:00", "offset_two_point", Some(0.0), Some(2.0), None, None, 1),
    (4L, 1L, "2024-01-20 00:00:00", "2024-01-22 00:00:00", "delete", None, None, None, None, 1),
    (5L, 2L, "2024-01-10 00:00:00", "2024-01-20 00:00:00", "drift_linear", Some(1.0), None, Some(86400L), None, 1),
    (6L, 2L, "2024-01-25 00:00:00", "2024-01-28 00:00:00", "drift_equation", None, None, None, Some("$1 + 0.001 * sqrt($2)"), 2),
    // trim NULLs only values outside [value1, value2] (patch_22.R:75-81)
    (7L, 1L, "2024-01-16 00:00:00", "2024-01-19 00:00:00", "trim", Some(5.0), Some(50.0), None, None, 1)
  )

  private def corrections(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corr = correctionRows
      .toDF("correction_id", "parity", "start_s", "end_s", "ctype", "value1", "value2", "window_seconds", "equation", "priority")
      .withColumn("start_dt", to_timestamp(col("start_s")))
      .withColumn("end_dt", to_timestamp(col("end_s")))
      .drop("start_s", "end_s")
    val e = TestTables.events(s, d).withColumn("parity", col("user_id") % 3)
    Corrections(e, corr, seriesId = "parity", dtCol = "ts", valueCol = "value")
      .select(
        col("event_id"),
        col("user_id"),
        round(col("value"), 4).as("raw_value"),
        round(col("corrected"), 4).as("corrected")
      )
      .orderBy(col("event_id"))
  }

  // Inclusive [start_dt, end_dt] matching per patch_22.R:66-67.
  private val correctionsSql =
    """SELECT event_id, user_id, round(value, 4) AS raw_value,
      |  round(CASE user_id % 3
      |    WHEN 0 THEN CASE
      |      WHEN ts >= TIMESTAMP '2024-01-08' AND ts <= TIMESTAMP '2024-01-12' THEN (value + 0.25) * 110.0 / 100.0
      |      WHEN ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-08' THEN value + 0.25
      |      WHEN ts > TIMESTAMP '2024-01-12' AND ts <= TIMESTAMP '2024-01-15' THEN value * 110.0 / 100.0
      |      ELSE value END
      |    WHEN 1 THEN CASE
      |      WHEN ts >= TIMESTAMP '2024-01-20' AND ts <= TIMESTAMP '2024-01-22' THEN NULL
      |      WHEN ts >= TIMESTAMP '2024-01-03' AND ts <= TIMESTAMP '2024-01-13'
      |        THEN value + 0.0 + (2.0 - 0.0) * epoch(ts - TIMESTAMP '2024-01-03') / 864000.0
      |      WHEN ts >= TIMESTAMP '2024-01-16' AND ts <= TIMESTAMP '2024-01-19'
      |        THEN CASE WHEN value < 5.0 OR value > 50.0 THEN NULL ELSE value END
      |      ELSE value END
      |    WHEN 2 THEN CASE
      |      WHEN ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-20'
      |        THEN value + 1.0 * epoch(ts - TIMESTAMP '2024-01-10') / 86400
      |      WHEN ts >= TIMESTAMP '2024-01-25' AND ts <= TIMESTAMP '2024-01-28'
      |        THEN value + 0.001 * sqrt(epoch(ts - TIMESTAMP '2024-01-25'))
      |      ELSE value END
      |  END, 4) AS corrected
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---- priority-coalesce compound ----------------------------------

  private def priorityCoalesce(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d).withColumn("hour_ts", date_trunc("hour", col("ts")))
    val primary = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("hour_ts"), col("ts"), col("event_id"), col("value"))
    val backup = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("hour_ts"), col("ts"), col("event_id"), col("value"))
    Compound
      .priorityCoalesce(
        Seq((primary, 1, "primary"), (backup, 2, "backup")),
        keyCols = Seq("user_id"),
        dtCol = "hour_ts",
        orderCols = Seq("ts", "event_id")
      )
      .select(
        col("user_id"),
        unix_micros(col("hour_ts")).as("hour_us"),
        round(col("value"), 4).as("value"),
        col("member_alias").as("source")
      )
      .orderBy(col("user_id"), col("hour_us"))
  }

  private val priorityCoalesceSql =
    """SELECT user_id, epoch_us(hour_ts) AS hour_us, round(value, 4) AS value, member_alias AS source
      |FROM (
      |  SELECT user_id, date_trunc('hour', ts) AS hour_ts, value,
      |         CASE event_type WHEN 'click' THEN 'primary' ELSE 'backup' END AS member_alias,
      |         row_number() OVER (
      |           PARTITION BY user_id, date_trunc('hour', ts)
      |           ORDER BY CASE event_type WHEN 'click' THEN 1 ELSE 2 END,
      |                    CASE event_type WHEN 'click' THEN 'primary' ELSE 'backup' END,
      |                    ts, event_id) AS rn
      |  FROM events
      |  WHERE event_type IN ('click', 'view')
      |)
      |WHERE rn = 1
      |ORDER BY user_id, hour_us""".stripMargin

  // ---- expression compound -----------------------------------------

  private def expressionCompound(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d).withColumn("date", to_date(col("ts")))
    def dailyMember(etype: String): DataFrame =
      e.filter(col("event_type") === etype)
        .groupBy(col("user_id"), col("date"))
        .agg(avg(col("value")).as("value"))
    // the reference's own fixture expression (R/create_test_DB.R:856-861)
    Compound
      .expressionCompound(
        Seq("temp" -> dailyMember("click"), "cond" -> dailyMember("purchase")),
        expression = "cond / (1 + 0.0191 * (temp - 25))",
        keyCols = Seq("user_id"),
        dtCol = "date"
      )
      .select(col("user_id"), col("date"), round(col("value"), 4).as("value"))
      .orderBy(col("user_id"), col("date"))
  }

  private val expressionCompoundSql =
    """SELECT t.user_id, t.date, round(c.value / (1 + 0.0191 * (t.value - 25)), 4) AS value
      |FROM (SELECT user_id, CAST(ts AS DATE) AS date, avg(value) AS value
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2) t
      |JOIN (SELECT user_id, CAST(ts AS DATE) AS date, avg(value) AS value
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) c
      |  USING (user_id, date)
      |ORDER BY user_id, date""".stripMargin

  // ---- tolerance (mutual-nearest as-of) join -----------------------

  private def toleranceAsOf(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d)
    val anchors = e.filter(col("event_type") === "signup").select(col("user_id"), col("ts"), col("event_id"))
    val members = e.filter(col("event_type") === "error").select(col("user_id"), col("ts"), col("event_id"))
    Compound
      .toleranceAsOf(anchors, members, toleranceSeconds = 7200L, keyCols = Seq("user_id"), dtCol = "ts", idCol = "event_id", mutual = true)
      .select(
        col("user_id"),
        col("a_event_id").as("anchor_id"),
        col("m_event_id").as("member_id"),
        col("diff_us")
      )
      .orderBy(col("anchor_id"))
  }

  private val toleranceAsOfSql =
    """SELECT user_id, anchor_id, member_id, diff_us
      |FROM (
      |  SELECT a.user_id, a.event_id AS anchor_id, m.event_id AS member_id,
      |         abs(epoch_us(a.ts) - epoch_us(m.ts)) AS diff_us,
      |         row_number() OVER (PARTITION BY a.user_id, a.event_id
      |           ORDER BY abs(epoch_us(a.ts) - epoch_us(m.ts)), m.ts, m.event_id) AS anchor_rank,
      |         row_number() OVER (PARTITION BY m.user_id, m.event_id
      |           ORDER BY abs(epoch_us(a.ts) - epoch_us(m.ts)), a.ts, a.event_id) AS member_rank
      |  FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup') a
      |  JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') m
      |    USING (user_id)
      |  WHERE abs(epoch_us(a.ts) - epoch_us(m.ts)) <= 7200000000
      |)
      |WHERE anchor_rank = 1 AND member_rank = 1
      |ORDER BY anchor_id""".stripMargin

  // ---- resample with explicit empty bins ---------------------------

  private def resample(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d)
    Resample(
      e,
      keyCols = Seq("user_id"),
      dtCol = "ts",
      valueCol = "value",
      stepSeconds = 21600L,
      fromTs = "2024-01-01 00:00:00",
      toTs = "2024-02-01 00:00:00",
      statistic = "mean"
    )
      .select(
        col("user_id"),
        unix_micros(col("bin_ts")).as("bin_us"),
        round(col("value"), 4).as("value"),
        col("n")
      )
      .orderBy(col("user_id"), col("bin_us"))
  }

  private val resampleSql =
    """WITH bins AS (
      |  SELECT range AS bin_ts
      |  FROM range(TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', INTERVAL 6 HOUR)
      |), users AS (
      |  SELECT DISTINCT user_id FROM events
      |), aggs AS (
      |  SELECT user_id,
      |         TIMESTAMP '2024-01-01'
      |           + INTERVAL 6 HOUR * CAST(floor(epoch(ts - TIMESTAMP '2024-01-01') / 21600.0) AS BIGINT) AS bin_ts,
      |         avg(value) AS value, count(value) AS n
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY 1, 2
      |)
      |SELECT u.user_id, epoch_us(b.bin_ts) AS bin_us, round(a.value, 4) AS value,
      |       coalesce(a.n, 0) AS n
      |FROM users u
      |CROSS JOIN bins b
      |LEFT JOIN aggs a ON a.user_id = u.user_id AND a.bin_ts = b.bin_ts
      |ORDER BY u.user_id, bin_us""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_corrections", corrections, Some(correctionsSql)),
    QueryDef("q_priority_coalesce", priorityCoalesce, Some(priorityCoalesceSql)),
    QueryDef("q_expression_compound", expressionCompound, Some(expressionCompoundSql)),
    QueryDef("q_tolerance_asof", toleranceAsOf, Some(toleranceAsOfSql)),
    QueryDef("q_resample", resample, Some(resampleSql))
  )
}
