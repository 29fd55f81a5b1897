package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{AuditAsOf, Guidelines, SeriesKernels}
import graft.tables.TestTables

/** Time-travel, guideline evaluation, and the per-series ordered-scan
  * kernels (SURVEY §2.8/§2.11/§2.12).
  */
object LifecycleQueries {

  // ---- as-of reconstruction ----------------------------------------

  /** events reinterpreted as an update log per user "row": the state
    * of a user at T is the value of its event active at T. Exercises
    * the union + earliest-post-T-rank reconstruction.
    */
  private def asOfSnapshot(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    val annotated = e
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .withColumn("created", min(col("ts")).over(wAll))
    val current = annotated
      .filter(col("next_ts").isNull)
      .select(col("user_id"), col("value"), col("created"))
    val log = annotated
      .filter(col("next_ts").isNotNull)
      .select(
        col("user_id"),
        col("value"),
        col("created"),
        col("next_ts").as("action_ts"),
        lit("U").as("action")
      )
    AuditAsOf
      .snapshotAt(current, log, "user_id", Seq("value"), "2024-01-15 00:00:00")
      .select(col("user_id"), round(col("value"), 4).as("value"))
      .orderBy(col("user_id"))
  }

  private val asOfSnapshotSql =
    """SELECT user_id, round(value, 4) AS value
      |FROM (
      |  SELECT user_id, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
      |)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---- corrected-as-of composition ---------------------------------

  /** `apply_corrections_at` (patch_38): corrections AND measurements
    * reconstructed as of T, then the correction fold. Events become
    * measurements (row id = event_id); every 11th row was deleted 5
    * days after its timestamp, every 7th updated (+1) 20 days after;
    * each series has an offset correction whose value1 was edited
    * AFTER T (old 1.0 applies) plus a scale correction created after
    * T (absent at T).
    */
  private def correctedAsOf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val asOf = "2024-01-20 00:00:00"
    val e = TestTables.events(s, d).filter(col("user_id").between(1, 5))
    val deleted = col("event_id") % 11 === 0
    val updated = col("event_id") % 7 === 0
    val mCur = e
      .filter(!deleted)
      .select(
        col("event_id").as("measurement_row_id"),
        col("user_id").cast("long").as("timeseries_id"),
        col("ts").as("datetime"),
        col("value"),
        col("ts").as("created")
      )
    val mLog = e
      .filter(deleted || updated)
      .select(
        col("event_id").as("measurement_row_id"),
        col("user_id").cast("long").as("timeseries_id"),
        col("ts").as("datetime"),
        when(deleted, col("value")).otherwise(col("value") + 1).as("value"),
        col("ts").as("created"),
        when(deleted, col("ts") + expr("INTERVAL 5 DAYS"))
          .otherwise(col("ts") + expr("INTERVAL 20 DAYS")).as("action_ts"),
        when(deleted, lit("D")).otherwise(lit("U")).as("action")
      )
    def corrFrame(rows: Seq[(Long, Long, String, Double, Int, String)]) =
      rows
        .toDF("correction_id", "timeseries_id", "ctype", "value1", "priority", "created_s")
        .withColumn("start_dt", lit("2024-01-10 00:00:00").cast("timestamp"))
        .withColumn("end_dt", lit("2024-02-01 00:00:00").cast("timestamp"))
        .withColumn("value2", lit(null).cast("double"))
        .withColumn("window_seconds", lit(null).cast("long"))
        .withColumn("equation", lit(null).cast("string"))
        .withColumn("created", col("created_s").cast("timestamp"))
        .drop("created_s")
    val cCur = corrFrame(
      (1 to 5).map(t => (100L + t, t.toLong, "offset_linear", 0.5, 1, "2024-01-01 00:00:00")) ++
        (1 to 5).map(t => (200L + t, t.toLong, "scale", 200.0, 2, "2024-01-25 00:00:00"))
    )
    val cLog = corrFrame(
      (1 to 5).map(t => (100L + t, t.toLong, "offset_linear", 1.0, 1, "2024-01-01 00:00:00"))
    ).withColumn("action_ts", lit("2024-01-30 00:00:00").cast("timestamp"))
      .withColumn("action", lit("U"))
    graft.operators.CorrectedReader
      .correctedSnapshotAt(mCur, mLog, cCur, cLog, asOf)
      .groupBy(col("timeseries_id"), to_date(col("datetime")).as("date"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("corrected") * 100).cast("long")).as("sum_cents")
      )
      .orderBy(col("timeseries_id"), col("date"))
  }

  private val correctedAsOfSql =
    """WITH e AS (
      |  SELECT event_id, user_id, ts, value FROM events WHERE user_id BETWEEN 1 AND 5
      |), cur AS (
      |  SELECT event_id AS rid, CAST(user_id AS BIGINT) AS tsid, ts AS datetime, value,
      |         ts AS created, 9223372036854775807 AS ord_us
      |  FROM e WHERE event_id % 11 <> 0
      |), lg AS (
      |  SELECT event_id AS rid, CAST(user_id AS BIGINT) AS tsid, ts AS datetime,
      |         CASE WHEN event_id % 11 = 0 THEN value ELSE value + 1 END AS value,
      |         ts AS created,
      |         epoch_us(ts + CASE WHEN event_id % 11 = 0 THEN INTERVAL 5 DAY
      |                            ELSE INTERVAL 20 DAY END) AS ord_us
      |  FROM e WHERE event_id % 11 = 0 OR event_id % 7 = 0
      |), snap AS (
      |  SELECT tsid, datetime, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY rid ORDER BY ord_us) AS rn
      |    FROM (SELECT * FROM cur
      |          UNION ALL
      |          SELECT * FROM lg WHERE ord_us > epoch_us(TIMESTAMP '2024-01-20 00:00:00'))
      |  ) WHERE rn = 1 AND created <= TIMESTAMP '2024-01-20 00:00:00'
      |), corrected AS (
      |  SELECT tsid, datetime,
      |         CASE WHEN datetime >= TIMESTAMP '2024-01-10 00:00:00'
      |                   AND datetime <= TIMESTAMP '2024-02-01 00:00:00'
      |              THEN value + 1.0 ELSE value END AS corrected
      |  FROM snap
      |)
      |SELECT tsid AS timeseries_id, CAST(datetime AS DATE) AS date,
      |       count(*) AS n, CAST(sum(CAST(round(corrected * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM corrected
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- compound dependency closure ---------------------------------

  /** Recursive dependency closure (`WITH RECURSIVE`,
    * `inst/patches/patch_41.R:2516-2537`): which compound series must
    * recompute when members {2, 5, 10} changed. Spark side is the
    * driver fixpoint (no recursive CTE); the oracle IS a recursive
    * CTE over the same edge set.
    */
  private val closureEdges: Seq[(Long, Long)] =
    // member -> compound: basics 0..24 feed compounds 100..124;
    // every 5th first-level compound feeds a second level; 300 tops
    // the chain
    (0L until 25L).map(i => i -> (100L + i)) ++
      (0L until 25L by 5).map(i => (100L + i) -> (200L + i)) :+ (200L -> 300L)

  private def compoundClosure(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val memberOf = closureEdges.groupBy(_._1).map { case (m, es) => m -> es.map(_._2) }
    val order = graft.operators.CompoundClosure.affected(memberOf, Set(2L, 5L, 10L))
    order.zipWithIndex
      .map { case (id, i) => (i.toLong, id) }
      .toDF("ord", "series_id")
      .orderBy(col("ord"))
  }

  private val compoundClosureSql = {
    val edges = closureEdges.map { case (m, c) => s"($m, $c)" }.mkString(", ")
    s"""WITH RECURSIVE edges(member, compound) AS (VALUES $edges),
       |closure(series_id, depth) AS (
       |  SELECT unnest([2, 5, 10]), 0
       |  UNION
       |  SELECT e.compound, c.depth + 1
       |  FROM closure c JOIN edges e ON e.member = c.series_id
       |)
       |SELECT CAST(row_number() OVER (ORDER BY depth, series_id) - 1 AS BIGINT) AS ord,
       |       CAST(series_id AS BIGINT) AS series_id
       |FROM (SELECT series_id, max(depth) AS depth FROM closure GROUP BY 1)
       |ORDER BY ord""".stripMargin
  }

  // ---- guideline evaluation ----------------------------------------

  /** (rule_id, algorithm, target, input, b0, b1, cap_min, cap_max,
    * digits, expression)
    */
  private val ruleRows: Seq[(Long, String, String, Option[String], Option[Double], Option[Double], Option[Double], Option[Double], Int, Option[String])] = Seq(
    (1L, "constant", "click", None, Some(50.0), None, None, None, 2, None),
    (2L, "linear", "view", Some("click"), Some(10.0), Some(2.0), None, None, 2, None),
    (3L, "log_linear", "purchase", Some("click"), Some(0.5), Some(0.8), Some(1.0), Some(3.0), 3, None),
    (4L, "sql_scalar", "error", Some("click"), None, None, None, None, 2, Some("least(100, 20 + 0.5 * $1)")),
    (5L, "narrative", "signup", None, None, None, None, None, 2, None)
  )

  private def guidelines(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val results = TestTables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("date"), col("event_type").as("parameter"))
      .agg((avg(abs(col("value"))) + 1.0).as("value"))
    val rules = ruleRows.toDF(
      "rule_id", "algorithm", "target_param", "input_param",
      "b0", "b1", "cap_min", "cap_max", "digits", "expression"
    )
    Guidelines
      .evaluate(results, rules, sampleKeyCols = Seq("user_id", "date"))
      .select(
        col("rule_id"),
        col("user_id"),
        col("date"),
        col("parameter"),
        round(col("value"), 4).as("value"),
        col("limit"),
        col("exceeds")
      )
      .orderBy(col("rule_id"), col("user_id"), col("date"))
  }

  private val guidelinesSql =
    """WITH results AS (
      |  SELECT user_id, CAST(ts AS DATE) AS date, event_type AS parameter,
      |         avg(abs(value)) + 1.0 AS value
      |  FROM events GROUP BY 1, 2, 3
      |), rules AS (
      |  SELECT * FROM (VALUES
      |    (1, 'constant',   'click',    NULL,    50.0, NULL, NULL, NULL, 2, NULL),
      |    (2, 'linear',     'view',     'click', 10.0, 2.0,  NULL, NULL, 2, NULL),
      |    (3, 'log_linear', 'purchase', 'click', 0.5,  0.8,  1.0,  3.0,  3, NULL),
      |    (4, 'sql_scalar', 'error',    'click', NULL, NULL, NULL, NULL, 2, 'x'),
      |    (5, 'narrative',  'signup',   NULL,    NULL, NULL, NULL, NULL, 2, NULL)
      |  ) t(rule_id, algorithm, target_param, input_param, b0, b1, cap_min, cap_max, digits, expression)
      |), joined AS (
      |  SELECT r.rule_id, res.user_id, res.date, res.parameter, res.value, r.algorithm,
      |         r.b0, r.b1, r.cap_min, r.cap_max, r.digits, i.value AS x
      |  FROM results res
      |  JOIN rules r ON res.parameter = r.target_param
      |  LEFT JOIN results i
      |    ON i.user_id = res.user_id AND i.date = res.date AND i.parameter = r.input_param
      |), limits AS (
      |  SELECT *,
      |         CASE algorithm
      |           WHEN 'constant' THEN b0
      |           WHEN 'linear' THEN b0 + b1 * x
      |           WHEN 'log_linear' THEN exp(b0 + b1 * ln(x))
      |           WHEN 'sql_scalar' THEN least(100, 20 + 0.5 * x)
      |         END AS raw_limit
      |  FROM joined
      |), capped AS (
      |  SELECT *,
      |         round(least(greatest(raw_limit, coalesce(cap_min, raw_limit)),
      |                     coalesce(cap_max, raw_limit)) * power(10, digits))
      |           / power(10, digits) AS lim
      |  FROM limits
      |)
      |SELECT CAST(rule_id AS BIGINT) AS rule_id, user_id, date, parameter,
      |       round(value, 4) AS value, lim AS "limit",
      |       CASE WHEN algorithm = 'narrative' THEN NULL ELSE value > lim END AS exceeds
      |FROM capped
      |ORDER BY rule_id, user_id, date""".stripMargin

  // ---- per-series ordered-scan kernels (no SQL oracle:
  //      order-dependent state machines; rows-only check) ------------

  private def increments(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d)
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // integer-cent cumsum, modulo in integers: a double cumsum % 50.0
    // sits on a knife edge whenever the running sum approaches a
    // multiple of 50 — at sf0.1 one wrap landed within an ulp and the
    // two engines disagreed on a reset. Exact arithmetic at any SF.
    val gauge = e.withColumn(
      "gauge",
      (sum(round(abs(col("value")) * 100).cast("long")).over(w) % 5000L) / 100.0
    )
    SeriesKernels
      .increments(gauge, "user_id", "ts", "gauge", resetDrop = 20.0, minPos = 0.1, maxGap = 2)
      .select(
        col("user_id"),
        col("seq"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("increment"), 4).as("increment")
      )
      .orderBy(col("user_id"), col("seq"))
  }

  /** Oracle for the increment state machine: the cadence scan (same
    * recursive CTE as q_period_infer, collapsed to period SECONDS),
    * LOCF, densification of gaps via correlated range(), NA-run
    * lengths via gaps-and-islands, then the reset/baseline scan as a
    * second recursive CTE carrying last_max.
    */
  private val incrementsSql = {
    val changed = "(s.s IS NOT NULL AND s.s <> p.last_diff)"
    val accept = s"($changed AND p.consec + 1 = 3)"
    // PeriodFormat.fromHours -> toSeconds composition, directly in secs
    val hrs = "acc_val"
    val psecExpr =
      s"""CAST(floor($hrs / 24) AS BIGINT) * 86400
         | + CAST(floor($hrs % 24) AS BIGINT) * 3600
         | + CAST(floor((($hrs % 24) - floor($hrs % 24)) * 60) AS BIGINT) * 60
         | + CAST(round_even(((($hrs % 24) - floor($hrs % 24)) * 60
         |     - floor((($hrs % 24) - floor($hrs % 24)) * 60)) * 60, 0) AS BIGINT)""".stripMargin
    // MATERIALIZED on every CTE the recursive scans join: DuckDB
    // otherwise re-inlines (and re-evaluates) the full window pipeline
    // on EVERY recursion step — the un-hinted form never finished at
    // sf0.01 and zeroed the whole correctness run.
    s"""WITH RECURSIVE rows0 AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT CAST(user_id AS BIGINT) AS user_id, ts,
       |           epoch_us(ts) // 1000000 AS sec,
       |           (sum(CAST(round(abs(value) * 100) AS BIGINT))
       |              OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                    ROWS UNBOUNDED PRECEDING) % 5000) / 100.0 AS gauge,
       |           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
       |           count(*) OVER (PARTITION BY user_id) AS n_rows
       |    FROM events
       |  ) WHERE n_rows >= 2
       |), d AS (
       |  SELECT * FROM (
       |    SELECT user_id, rn AS dj,
       |           (lead(sec) OVER (PARTITION BY user_id ORDER BY rn) - sec) / 3600.0 AS dh
       |    FROM rows0
       |  ) WHERE dh IS NOT NULL
       |), sm AS MATERIALIZED (
       |  SELECT user_id, dj,
       |         CASE WHEN lag(dh) OVER w IS NOT NULL AND lead(dh) OVER w IS NOT NULL THEN
       |           greatest(least(lag(dh) OVER w, dh),
       |                    least(greatest(lag(dh) OVER w, dh), lead(dh) OVER w))
       |         END AS s
       |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY dj)
       |), scan(user_id, dj, consec, last_diff, acc_rn, acc_val) AS (
       |  SELECT user_id, dj,
       |         CASE WHEN s IS NOT NULL AND s <> 0.0 THEN 1 ELSE 0 END,
       |         CAST(0.0 AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
       |  FROM sm WHERE dj = 1
       |  UNION ALL
       |  SELECT s.user_id, s.dj,
       |         CASE WHEN $accept THEN 0
       |              WHEN $changed THEN p.consec + 1 ELSE 0 END,
       |         CASE WHEN $accept THEN s.s ELSE p.last_diff END,
       |         CASE WHEN $accept THEN s.dj - 2 END,
       |         CASE WHEN $accept THEN s.s END
       |  FROM scan p JOIN sm s ON s.user_id = p.user_id AND s.dj = p.dj + 1
       |), psec0 AS (
       |  SELECT user_id, acc_rn, $psecExpr AS psec
       |  FROM scan WHERE acc_rn IS NOT NULL
       |), rwp AS (
       |  SELECT r.user_id, r.sec, r.rn, r.gauge,
       |         lead(r.sec) OVER (PARTITION BY r.user_id ORDER BY r.rn) AS next_sec,
       |         coalesce(
       |           last_value(f.psec IGNORE NULLS) OVER (PARTITION BY r.user_id ORDER BY r.rn
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |           first_value(f.psec IGNORE NULLS) OVER (PARTITION BY r.user_id ORDER BY r.rn
       |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |         ) AS p_sec
       |  FROM rows0 r LEFT JOIN psec0 f ON f.user_id = r.user_id AND f.acc_rn = r.rn
       |), na_rows AS (
       |  SELECT user_id, sec + k * p_sec AS sec
       |  FROM (
       |    SELECT user_id, sec, p_sec,
       |           unnest(range(1, (next_sec - sec) // p_sec)) AS k
       |    FROM rwp
       |    WHERE p_sec IS NOT NULL AND p_sec > 0 AND next_sec IS NOT NULL
       |      AND sec + p_sec < next_sec
       |  )
       |), densr AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY sec, us) AS rn
       |  FROM (
       |    SELECT user_id, sec, epoch_us(ts) AS us, gauge AS v FROM rows0
       |    UNION ALL
       |    SELECT user_id, sec, sec * 1000000, CAST(NULL AS DOUBLE) FROM na_rows
       |  )
       |), curr AS MATERIALIZED (
       |  SELECT *,
       |         lag(v) OVER w2 AS prev_v,
       |         lag(v) OVER w2 IS NULL AND rn > 1 AS prev_is_na,
       |         lag(na_run) OVER w2 AS prev_na_run
       |  FROM (
       |    SELECT *, CASE WHEN v IS NULL
       |                   THEN count(*) OVER (PARTITION BY user_id, vgrp) - 1
       |                   ELSE 0 END AS na_run
       |    FROM (
       |      SELECT *, sum(CASE WHEN v IS NULL THEN 0 ELSE 1 END)
       |                  OVER (PARTITION BY user_id ORDER BY rn) AS vgrp
       |      FROM densr
       |    )
       |  ) WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
       |), scan2(user_id, rn, sec, last_max, inc) AS (
       |  SELECT user_id, rn, sec, v, CAST(NULL AS DOUBLE)
       |  FROM curr WHERE rn = 1
       |  UNION ALL
       |  SELECT c.user_id, c.rn, c.sec,
       |         CASE
       |           WHEN c.prev_is_na AND c.prev_na_run > 2 THEN coalesce(c.v, p.last_max)
       |           WHEN c.v IS NULL OR c.prev_is_na THEN p.last_max
       |           WHEN c.v - c.prev_v <= -20.0 THEN c.v
       |           WHEN c.v - greatest(p.last_max, c.prev_v) >= 0.1 THEN c.v
       |           ELSE p.last_max END,
       |         CASE
       |           WHEN c.prev_is_na AND c.prev_na_run > 2 THEN CAST(NULL AS DOUBLE)
       |           WHEN c.v IS NULL OR c.prev_is_na THEN CAST(NULL AS DOUBLE)
       |           WHEN c.v - c.prev_v <= -20.0 THEN 0.0
       |           WHEN c.v - greatest(p.last_max, c.prev_v) >= 0.1
       |             THEN c.v - greatest(p.last_max, c.prev_v)
       |           ELSE 0.0 END
       |  FROM scan2 p JOIN curr c ON c.user_id = p.user_id AND c.rn = p.rn + 1
       |)
       |SELECT user_id, rn AS seq, sec * 1000000 AS ts_us, round(inc, 4) AS increment
       |FROM scan2
       |ORDER BY user_id, seq""".stripMargin
  }

  private def periodInfer(s: SparkSession, d: String): DataFrame =
    SeriesKernels
      .inferPeriods(TestTables.events(s, d), "user_id", "ts")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("period"))
      .orderBy(col("user_id"), col("ts_us"))

  /** Oracle for the cadence state machine: rolling median-of-3 via
    * lag/lead min/max algebra, the 3-consecutive-changes scan as a
    * recursive CTE carrying (consecutive, last_diff), ISO-8601
    * formatting replicating PeriodFormat.fromHours (half-even seconds
    * rounding), then LOCF both directions.
    */
  private val periodInferSql = {
    // advance(state, smoothed): shared transition predicates
    val changed = "(s.s IS NOT NULL AND s.s <> p.last_diff)"
    val accept = s"($changed AND p.consec + 1 = 3)"
    // MATERIALIZED: same recursion-re-evaluation hazard as incrementsSql.
    s"""WITH RECURSIVE rows0 AS MATERIALIZED (
       |  SELECT CAST(user_id AS BIGINT) AS user_id, ts,
       |         epoch_us(ts) // 1000000 AS sec,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
       |  FROM events
       |), d AS (
       |  SELECT * FROM (
       |    SELECT user_id, rn AS dj,
       |           (lead(sec) OVER (PARTITION BY user_id ORDER BY rn) - sec) / 3600.0 AS dh
       |    FROM rows0
       |  ) WHERE dh IS NOT NULL
       |), sm AS MATERIALIZED (
       |  SELECT user_id, dj,
       |         CASE WHEN lag(dh) OVER w IS NOT NULL AND lead(dh) OVER w IS NOT NULL THEN
       |           greatest(least(lag(dh) OVER w, dh),
       |                    least(greatest(lag(dh) OVER w, dh), lead(dh) OVER w))
       |         END AS s
       |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY dj)
       |), scan(user_id, dj, consec, last_diff, acc_rn, acc_val) AS (
       |  SELECT user_id, dj,
       |         CASE WHEN s IS NOT NULL AND s <> 0.0 THEN 1 ELSE 0 END,
       |         CAST(0.0 AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
       |  FROM sm WHERE dj = 1
       |  UNION ALL
       |  SELECT s.user_id, s.dj,
       |         CASE WHEN $accept THEN 0
       |              WHEN $changed THEN p.consec + 1 ELSE 0 END,
       |         CASE WHEN $accept THEN s.s ELSE p.last_diff END,
       |         CASE WHEN $accept THEN s.dj - 2 END,
       |         CASE WHEN $accept THEN s.s END
       |  FROM scan p JOIN sm s ON s.user_id = p.user_id AND s.dj = p.dj + 1
       |), fmt AS (
       |  SELECT user_id, acc_rn,
       |         'P' || CAST(floor(acc_val / 24) AS BIGINT) || 'DT'
       |             || CAST(floor(acc_val % 24) AS BIGINT) || 'H'
       |             || CAST(floor(((acc_val % 24) - floor(acc_val % 24)) * 60) AS BIGINT) || 'M'
       |             || CAST(round_even((((acc_val % 24) - floor(acc_val % 24)) * 60
       |                  - floor(((acc_val % 24) - floor(acc_val % 24)) * 60)) * 60, 0) AS BIGINT) || 'S'
       |           AS period
       |  FROM scan WHERE acc_rn IS NOT NULL
       |), wp AS (
       |  SELECT r.user_id, r.ts, r.rn, f.period AS p0
       |  FROM rows0 r LEFT JOIN fmt f ON f.user_id = r.user_id AND f.acc_rn = r.rn
       |)
       |SELECT user_id, epoch_us(ts) AS ts_us,
       |       coalesce(
       |         last_value(p0 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |         first_value(p0 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn
       |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |       ) AS period
       |FROM wp
       |ORDER BY user_id, ts_us""".stripMargin
  }

  // ---- the full dailyUpdate slice, end to end ----------------------

  /** SURVEY §7.2 as ONE oracle-checked pipeline — the exact stage
    * chain of `R/dailyUpdate.R:27`: deterministic fixture series
    * (hourly 2021-2023; modular arithmetic instead of trig so both
    * engines generate bit-identical doubles) → incremental ingest of
    * series 1 (store below 2023-07-01, overlapping fetch window,
    * last-point watermark filter, merge) → the fixture correction
    * (offset_linear +0.25 on series 1, 2023-01-03..05, via the
    * Corrections fold) → compound series 10 resolved from temp/cond
    * members (`cond / (1 + 0.0191*(temp-25))`, the reference's own
    * fixture expression) → type-dispatched daily aggregate → DOY
    * historical stats. Answer: corrected daily mean + q10/q90 +
    * percent_historic_range for series 1 and 10 over 2023.
    */
  private def dailyUpdateE2e(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.{Compound, Corrections, DailyAggregate, DoyStats}
    // fixture gen: 3 non-leap years of hourly points
    val base = s
      .range(0, 26280)
      .select(expr("timestampadd(HOUR, cast(id as int), timestamp'2021-01-01 00:00:00')").as("ts"))
      .withColumn("doy", dayofyear(col("ts")))
      .withColumn("h", hour(col("ts")))
      .withColumn("yr", year(col("ts")) - 2021)
    // year term keeps prior-year DOY pools distinct (29/31/37 share no
    // factor with the moduli), so min < max in every history window.
    // INTEGER hourly values on purpose: integer sums are
    // order-independent, so both engines' daily means are the exact
    // same double and the quantile grid (k/240) never sits on a
    // round-half boundary — the cross-engine determinism argument.
    val s1 = base.select(col("ts"), (lit(10) + (col("doy") * 13 + col("h") * 5 + col("yr") * 29) % 97).cast("double").as("value"))
    val temp = base.select(col("ts"), (lit(5) + (col("doy") * 7 + col("h") * 3 + col("yr") * 31) % 53).cast("double").as("value"))
    val cond = base.select(col("ts"), (lit(200) + (col("doy") * 11 + col("h") * 2 + col("yr") * 37) % 83).cast("double").as("value"))

    // incremental ingest of series 1: overlapping fetch window, only
    // points past the store's last-point watermark append
    val store = s1.filter(col("ts") < lit("2023-07-01 00:00:00").cast("timestamp"))
    val batch = s1.filter(col("ts") >= lit("2023-06-01 00:00:00").cast("timestamp"))
    val wm = store.agg(max(col("ts")).as("wm"))
    val appended = batch.crossJoin(broadcast(wm)).filter(col("ts") > col("wm")).drop("wm")
    val merged = store.unionByName(appended).withColumn("series_id", lit(1L))

    // the fixture correction: offset linear +0.25 on series 1
    val corrDim = Seq(
      (1L, 1L, "2023-01-03 00:00:00", "2023-01-05 00:00:00", "offset_linear",
        Some(0.25), None: Option[Double], None: Option[Long], None: Option[String], 1)
    ).toDF("correction_id", "series_id", "start_s", "end_s", "ctype",
      "value1", "value2", "window_seconds", "equation", "priority")
      .withColumn("start_dt", to_timestamp(col("start_s")))
      .withColumn("end_dt", to_timestamp(col("end_s")))
      .drop("start_s", "end_s")
    val corrected = Corrections(merged, corrDim, seriesId = "series_id", dtCol = "ts", valueCol = "value")
      .select(col("series_id"), col("ts"), col("corrected").as("value"))

    // compound series 10 from the temp/cond members
    val comp = Compound
      .expressionCompound(
        Seq("temp" -> temp.withColumn("k", lit(1)), "cond" -> cond.withColumn("k", lit(1))),
        expression = "cond / (1 + 0.0191 * (temp - 25))",
        keyCols = Seq("k"),
        dtCol = "ts"
      )
      .select(lit(10L).as("series_id"), col("ts"), col("value"))

    // daily aggregate (mean, no tz offset) -> DOY historical stats
    val daily = DailyAggregate(
      corrected.unionByName(comp)
        .withColumn("agg_type", lit("mean"))
        .withColumn("offset_hours", lit(0)),
      keyCols = Seq("series_id"),
      datetime = "ts",
      value = "value"
    )
    DoyStats(daily.select(col("series_id").cast("string").as("series_key"), col("date"), col("value")))
      .filter(year(col("date")) === 2023)
      .select(
        col("series_key"),
        col("date"),
        round(col("value"), 4).as("value"),
        col("doy_count"),
        round(col("q10"), 4).as("q10"),
        round(col("q90"), 4).as("q90"),
        round(col("percent_historic_range"), 4).as("percent_historic_range")
      )
      .orderBy(col("series_key"), col("date"))
  }

  private val dailyUpdateE2eSql =
    """WITH base AS (
      |  SELECT range AS ts, dayofyear(range) AS doy, hour(range) AS h,
      |         year(range) - 2021 AS yr
      |  FROM range(TIMESTAMP '2021-01-01', TIMESTAMP '2024-01-01', INTERVAL 1 HOUR)
      |), s1 AS (
      |  SELECT ts, CAST(10 + (doy * 13 + h * 5 + yr * 29) % 97 AS DOUBLE) AS value FROM base
      |), temp AS (
      |  SELECT ts, CAST(5 + (doy * 7 + h * 3 + yr * 31) % 53 AS DOUBLE) AS value FROM base
      |), cond AS (
      |  SELECT ts, CAST(200 + (doy * 11 + h * 2 + yr * 37) % 83 AS DOUBLE) AS value FROM base
      |), s1m AS (
      |  SELECT ts, value FROM s1 WHERE ts < TIMESTAMP '2023-07-01'
      |  UNION ALL
      |  SELECT ts, value FROM s1
      |  WHERE ts >= TIMESTAMP '2023-06-01'
      |    AND ts > (SELECT max(ts) FROM s1 WHERE ts < TIMESTAMP '2023-07-01')
      |), corrected AS (
      |  SELECT 1 AS series_id, ts,
      |         CASE WHEN ts >= TIMESTAMP '2023-01-03' AND ts <= TIMESTAMP '2023-01-05'
      |              THEN value + 0.25 ELSE value END AS value
      |  FROM s1m
      |), comp AS (
      |  SELECT 10 AS series_id, temp.ts,
      |         cond.value / (1 + 0.0191 * (temp.value - 25)) AS value
      |  FROM temp JOIN cond USING (ts)
      |), daily AS (
      |  SELECT CAST(series_id AS VARCHAR) AS series_key, CAST(ts AS DATE) AS date,
      |         avg(value) AS value
      |  FROM (SELECT * FROM corrected UNION ALL SELECT * FROM comp)
      |  GROUP BY 1, 2
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
      |       round(quantile_cont(p.value, 0.10), 4) AS q10,
      |       round(quantile_cont(p.value, 0.90), 4) AS q90,
      |       round(CASE WHEN max(p.value) = min(p.value) THEN NULL
      |             ELSE (t.value - min(p.value)) / (max(p.value) - min(p.value)) * 100.0 END, 4)
      |         AS percent_historic_range
      |FROM norm t
      |LEFT JOIN norm p
      |  ON p.series_key = t.series_key AND p.ndoy = t.ndoy AND p.date < t.date
      |WHERE t.ndoy IS NOT NULL AND year(t.date) = 2023
      |GROUP BY t.series_key, t.date, t.value
      |ORDER BY t.series_key, t.date""".stripMargin

  // ---- corrected read path, end to end (SURVEY §3.2) ----------------

  /** The composition `measurements_continuous_corrected(tsid, from,
    * to, stat, step)` actually serves (`inst/patches/patch_44.R:
    * 1904-2073` composed with the patch_41 compound resolver): ONE
    * call through [[graft.operators.CorrectedReader.read]] resolving
    * an expression compound whose anchor member carries its own
    * correction, applying the compound's OWN two-correction fold
    * (patch_41.R:1487-1502), windowing, and resampling to 6-hour
    * bins with explicit empty bins. Every constituent operator is
    * individually oracle-green (q_expression_compound, q_corrections,
    * q_resample); this row pins the COMPOSITION — the driver-time
    * compound resolution producing one Catalyst plan end to end —
    * the way q_daily_update_e2e pins §3.1.
    *
    * Fixture series (from events): tsid 1 = hourly avg of clicks
    * ("temp", scale-corrected), tsid 2 = hourly avg of views
    * ("cond", correction-free fast path); tsid 10 = the reference's
    * own fixture expression over the two (R/create_test_DB.R:856-861)
    * with an offset then a scale correction of its own.
    */
  private def correctedReadE2e(s: SparkSession, d: String): DataFrame = {
    import graft.operators.CorrectedReader
    import graft.operators.CorrectedReader.{Catalog, CompoundDef, Member}
    val e = TestTables.events(s, d)
    def hourly(etype: String, tsid: Long): DataFrame =
      e.filter(col("event_type") === etype)
        .groupBy(date_trunc("hour", col("ts")).as("datetime"))
        .agg(avg(col("value")).as("value"))
        .select(lit(tsid).as("timeseries_id"), col("datetime"), col("value"))
    import s.implicits._
    val corrections = Seq(
      // member series 1: a scale over most of the window
      (1L, 1L, "2024-01-03 00:00:00", "2024-01-25 00:00:00", "scale", Some(110.0), Option.empty[Double], Option.empty[Long], Option.empty[String], 1),
      // the compound's OWN corrections: offset then scale (fold order
      // = (priority, correction_id) asc)
      (2L, 10L, "2024-01-08 00:00:00", "2024-01-16 00:00:00", "offset_linear", Some(0.5), None, None, None, 1),
      (3L, 10L, "2024-01-12 00:00:00", "2024-01-20 00:00:00", "scale", Some(90.0), None, None, None, 2)
    ).toDF("correction_id", "timeseries_id", "start_s", "end_s", "ctype", "value1", "value2", "window_seconds", "equation", "priority")
      .withColumn("start_dt", to_timestamp(col("start_s")))
      .withColumn("end_dt", to_timestamp(col("end_s")))
      .drop("start_s", "end_s")
    val cat = Catalog(
      measurements = hourly("click", 1L).unionByName(hourly("view", 2L)),
      corrections = corrections,
      compounds = Map(
        10L -> CompoundDef(
          // the reference's own fixture expression (R/create_test_DB.R:856-861)
          Some("cond / (1 + 0.0191 * (temp - 25))"),
          Seq(Member("temp", 1L, priority = 1), Member("cond", 2L, priority = 2))
        )
      ),
      correctedSeriesIds = Set(1L, 10L)
    )
    CorrectedReader
      .read(cat, 10L, from = "2024-01-05 00:00:00", to = "2024-01-28 00:00:00",
        resampleSeconds = Some(21600L), resampleStatistic = "mean")
      .select(
        unix_micros(col("datetime")).as("bin_us"),
        round(col("value"), 4).as("value"),
        col("n"),
        col("period_seconds")
      )
      .orderBy(col("bin_us"))
  }

  private val correctedReadE2eSql =
    """WITH m1 AS (
      |  SELECT date_trunc('hour', ts) AS datetime, avg(value) AS value
      |  FROM events WHERE event_type = 'click' GROUP BY 1
      |), m2 AS (
      |  SELECT date_trunc('hour', ts) AS datetime, avg(value) AS value
      |  FROM events WHERE event_type = 'view' GROUP BY 1
      |), m1c AS (
      |  SELECT datetime,
      |         CASE WHEN datetime >= TIMESTAMP '2024-01-03' AND datetime <= TIMESTAMP '2024-01-25'
      |              THEN value * 110.0 / 100.0 ELSE value END AS value
      |  FROM m1
      |), comp AS (
      |  SELECT t.datetime, c.value / (1 + 0.0191 * (t.value - 25)) AS value
      |  FROM m1c t JOIN m2 c USING (datetime)
      |), compc AS (
      |  SELECT datetime,
      |         CASE WHEN datetime >= TIMESTAMP '2024-01-12' AND datetime <= TIMESTAMP '2024-01-20'
      |              THEN w1 * 90.0 / 100.0 ELSE w1 END AS value
      |  FROM (SELECT datetime,
      |               CASE WHEN datetime >= TIMESTAMP '2024-01-08' AND datetime <= TIMESTAMP '2024-01-16'
      |                    THEN value + 0.5 ELSE value END AS w1
      |        FROM comp)
      |), bins AS (
      |  SELECT range AS bin_ts
      |  FROM range(TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-28', INTERVAL 6 HOUR)
      |), aggs AS (
      |  SELECT TIMESTAMP '2024-01-05'
      |           + INTERVAL 6 HOUR * CAST(floor(epoch(datetime - TIMESTAMP '2024-01-05') / 21600.0) AS BIGINT) AS bin_ts,
      |         avg(value) AS value, count(value) AS n
      |  FROM compc
      |  WHERE datetime >= TIMESTAMP '2024-01-05' AND datetime < TIMESTAMP '2024-01-28'
      |  GROUP BY 1
      |)
      |SELECT epoch_us(b.bin_ts) AS bin_us, round(a.value, 4) AS value,
      |       coalesce(a.n, 0) AS n, CAST(21600 AS BIGINT) AS period_seconds
      |FROM bins b LEFT JOIN aggs a USING (bin_ts)
      |ORDER BY bin_us""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_daily_update_e2e", dailyUpdateE2e, Some(dailyUpdateE2eSql)),
    QueryDef("q_corrected_read_e2e", correctedReadE2e, Some(correctedReadE2eSql)),
    QueryDef("q_asof_snapshot", asOfSnapshot, Some(asOfSnapshotSql)),
    QueryDef("q_corrected_asof", correctedAsOf, Some(correctedAsOfSql)),
    QueryDef("q_compound_closure", compoundClosure, Some(compoundClosureSql)),
    QueryDef("q_guidelines", guidelines, Some(guidelinesSql)),
    QueryDef("q_increments", increments, Some(incrementsSql)),
    QueryDef("q_period_infer", periodInfer, Some(periodInferSql))
  )
}
