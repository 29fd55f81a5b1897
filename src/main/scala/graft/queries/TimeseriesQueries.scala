package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DailyAggregate, IntervalJoin}
import graft.tables.TestTables

/** AquaCache-shaped timeseries operators exercised on the `events`
  * table (user_id ≈ timeseries_id, ts ≈ datetime, value ≈ value).
  */
object TimeseriesQueries {

  /** event_type → per-series aggregation type, exercising the daily
    * CASE dispatch (`inst/patches/patch_41.R:2689-2699`).
    */
  private val aggTypeFor: Map[String, String] = Map(
    "click" -> "mean",
    "view" -> "max",
    "purchase" -> "sum",
    "signup" -> "min",
    "error" -> "median"
  )

  private def dailyAgg(s: SparkSession, d: String): DataFrame = {
    val typeMap = map(
      aggTypeFor.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*
    )
    val e = TestTables.events(s, d)
      .withColumn("agg_type", typeMap(col("event_type")))
      .withColumn("offset_hours", lit(7))
    DailyAggregate(e, keyCols = Seq("user_id", "event_type"), datetime = "ts", value = "value")
      .select(
        col("user_id"),
        col("event_type"),
        col("date"),
        col("agg_type"),
        round(col("value"), 4).as("value"),
        col("n")
      )
      .orderBy(col("user_id"), col("event_type"), col("date"))
  }

  private val dailyAggSql =
    """SELECT user_id, event_type, date, agg_type,
      |       round(CASE agg_type
      |               WHEN 'mean' THEN v_mean
      |               WHEN 'median' THEN v_median
      |               WHEN 'min' THEN v_min
      |               WHEN 'max' THEN v_max
      |               WHEN 'sum' THEN v_sum
      |             END, 4) AS value,
      |       n
      |FROM (
      |  SELECT user_id, event_type,
      |         CAST(ts + INTERVAL 7 HOUR AS DATE) AS date,
      |         CASE event_type
      |           WHEN 'click' THEN 'mean'
      |           WHEN 'view' THEN 'max'
      |           WHEN 'purchase' THEN 'sum'
      |           WHEN 'signup' THEN 'min'
      |           WHEN 'error' THEN 'median'
      |         END AS agg_type,
      |         avg(value) AS v_mean, median(value) AS v_median,
      |         min(value) AS v_min, max(value) AS v_max,
      |         sum(value) AS v_sum, count(value) AS n
      |  FROM events
      |  WHERE value IS NOT NULL
      |  GROUP BY 1, 2, 3, 4
      |)
      |ORDER BY user_id, event_type, date""".stripMargin

  /** Changed-range incremental daily recompute, driver-verified: a
    * late batch (everything past the cutoff) arrives after the daily
    * table was built from the earlier data; Spark runs the
    * INCREMENTAL path — [[graft.operators.IncrementalDaily.refresh]]
    * over the changed ranges only — while the oracle computes the
    * FULL daily aggregate over the final data state. A hash match IS
    * the refresh ≡ full-recompute guarantee (previously only
    * spec-asserted in `IngestSpec`).
    */
  private def incrementalDaily(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IncrementalDaily
    import graft.sources.IncrementalIngest
    val aggNames = array(lit("mean"), lit("max"), lit("sum"), lit("min"), lit("median"))
    val m = TestTables
      .events(s, d)
      .select(
        col("user_id").as("timeseries_id"),
        col("ts").as("datetime"),
        col("value"),
        element_at(aggNames, (col("user_id") % 5 + 1).cast("int")).as("agg_type"),
        lit(7).as("offset_hours")
      )
    val cutoff = lit("2024-01-20 12:00:00").cast("timestamp")
    val dailyBase = DailyAggregate(m.filter(col("datetime") < cutoff))
    val changes = IncrementalIngest.changedRanges(m.filter(col("datetime") >= cutoff))
    IncrementalDaily
      .refresh(m, dailyBase, changes)
      .select(
        col("timeseries_id"),
        col("date"),
        col("agg_type"),
        round(col("value"), 4).as("value"),
        col("n")
      )
      .orderBy(col("timeseries_id"), col("date"))
  }

  private val incrementalDailySql =
    """SELECT timeseries_id, date, agg_type,
      |       round(CASE agg_type
      |               WHEN 'mean' THEN v_mean
      |               WHEN 'median' THEN v_median
      |               WHEN 'min' THEN v_min
      |               WHEN 'max' THEN v_max
      |               WHEN 'sum' THEN v_sum
      |             END, 4) AS value,
      |       n
      |FROM (
      |  SELECT user_id AS timeseries_id,
      |         CAST(ts + INTERVAL 7 HOUR AS DATE) AS date,
      |         (['mean', 'max', 'sum', 'min', 'median'])[CAST(user_id % 5 + 1 AS INT)] AS agg_type,
      |         avg(value) AS v_mean, median(value) AS v_median,
      |         min(value) AS v_min, max(value) AS v_max,
      |         sum(value) AS v_sum, count(value) AS n
      |  FROM events
      |  WHERE value IS NOT NULL
      |  GROUP BY 1, 2, 3
      |)
      |ORDER BY timeseries_id, date""".stripMargin

  /** Deterministic weekly QC-grade segments per user-parity stream:
    * parity p, week w → grade letter (A/B/C cycling). Used by both the
    * Spark side and the VALUES literal in the oracle.
    */
  private val gradeSegments: Seq[(Int, String, String, String)] =
    for {
      p <- 0 to 2
      w <- 0 to 4
    } yield {
      val start = f"2024-01-${1 + w * 7}%02d 00:00:00"
      val end = if (w == 4) "2024-02-01 00:00:00" else f"2024-01-${1 + (w + 1) * 7}%02d 00:00:00"
      val grade = ("ABC" ((w + p) % 3)).toString
      (p, start, end, grade)
    }

  /** Point-in-interval join of events to grade segments
    * (SURVEY §2.3 range join; `inst/patches/patch_22.R:53-68`).
    */
  private def gradeRangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val segs = gradeSegments
      .toDF("parity", "start_s", "end_s", "grade")
      .select(
        col("parity").cast("bigint").as("parity"),
        to_timestamp(col("start_s")).as("start_dt"),
        to_timestamp(col("end_s")).as("end_dt"),
        col("grade")
      )
    val e = TestTables.events(s, d).withColumn("parity", col("user_id") % 3)
    IntervalJoin
      .pointInInterval(e, segs, keyCol = "parity", dtCol = "ts", joinType = "inner")
      .groupBy(col("grade"))
      .agg(
        count(lit(1)).as("n_events"),
        round(avg(col("value")), 4).as("avg_value"),
        countDistinct(col("user_id")).as("n_users")
      )
      .orderBy(col("grade"))
  }

  private val gradeRangeJoinSql: String = {
    val values = gradeSegments
      .map { case (p, st, en, g) => s"($p, '$st'::TIMESTAMP, '$en'::TIMESTAMP, '$g')" }
      .mkString(",\n    ")
    s"""SELECT g.grade, count(*) AS n_events,
       |       round(avg(e.value), 4) AS avg_value,
       |       count(DISTINCT e.user_id) AS n_users
       |FROM events e
       |JOIN (VALUES
       |    $values
       |) g(parity, start_dt, end_dt, grade)
       |  ON e.user_id % 3 = g.parity AND e.ts >= g.start_dt AND e.ts < g.end_dt
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_daily_agg", dailyAgg, Some(dailyAggSql)),
    QueryDef("q_incremental_daily", incrementalDaily, Some(incrementalDailySql)),
    QueryDef("q_grade_range_join", gradeRangeJoin, Some(gradeRangeJoinSql))
  )
}
