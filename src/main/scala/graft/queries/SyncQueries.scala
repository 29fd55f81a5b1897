package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Imputation, Segments, Synchronize}
import graft.tables.TestTables

/** RLE segments, LOCF, JSON args parsing, and the synchronize
  * full-outer diff (SURVEY §2.5/§2.7/§3.3).
  */
object SyncQueries {

  // ---- RLE gaps-and-islands ----------------------------------------

  private def rleSegments(s: SparkSession, d: String): DataFrame =
    Segments
      .fromPoints(
        TestTables.events(s, d),
        keyCols = Seq("user_id"),
        dtCol = "ts",
        valueCol = "event_type",
        orderCols = Seq("event_id")
      )
      .select(
        col("user_id"),
        unix_micros(col("start_dt")).as("start_us"),
        unix_micros(col("end_dt")).as("end_us"),
        col("event_type").as("value"),
        col("n_points")
      )
      .orderBy(col("user_id"), col("start_us"))

  private val rleSegmentsSql =
    """WITH pts AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), grp AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS g
      |  FROM pts
      |), seg AS (
      |  SELECT user_id, g, min(ts) AS start_dt, min(event_type) AS value, count(*) AS n_points
      |  FROM grp GROUP BY 1, 2
      |)
      |SELECT user_id, epoch_us(start_dt) AS start_us,
      |       epoch_us(lead(start_dt) OVER (PARTITION BY user_id ORDER BY start_dt)) AS end_us,
      |       value, n_points
      |FROM seg
      |ORDER BY user_id, start_us""".stripMargin

  // ---- LOCF (forward + backward fill) ------------------------------

  private def locf(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d)
      .withColumn("v", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
    Imputation
      .locf(e, keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"), valueCol = "v")
      .select(
        col("event_id"),
        col("user_id"),
        round(col("filled"), 4).as("filled"),
        (col("event_id") % 7 === 0).as("was_missing")
      )
      .orderBy(col("event_id"))
  }

  private val locfSql =
    """SELECT event_id, user_id,
      |       round(coalesce(
      |         last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |       ), 4) AS filled,
      |       event_id % 7 = 0 AS was_missing
      |FROM (SELECT *, CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events)
      |ORDER BY event_id""".stripMargin

  // ---- spline self-interpolation ------------------------------------

  /** Drives the REAL `Imputation.splineFill` (flatMapGroups +
    * SplineKernel's tridiagonal solve — `R/imputeMissing.R:1104-1169`)
    * over a fixture whose knot GEOMETRY is fixed: the first 13 rows of
    * every series with positions 5 and 9 nulled, giving two interior
    * single-row gaps whose ±20-row context window always covers all 13
    * rows — so every series fits the same 11 knots at positions
    * [1,2,3,4,6,7,8,10,11,12,13] and only the VALUES are data-driven.
    * With fixed positions the natural-spline system matrix is a
    * constant, and the fill is a linear map of the knot values — which
    * is what lets the oracle restate the full solve in SQL (see
    * [[splineOracleInverse]]).
    */
  private def splineFillQ(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val base = TestTables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 13)
      .withColumn("v", when(col("rn").isin(5, 9), lit(null).cast("double")).otherwise(col("value")))
    Imputation
      .splineFill(base, "user_id", "ts", "v")
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("filled"), 4).as("filled"),
        col("imputed")
      )
      .orderBy(col("user_id"), col("ts_us"))
  }

  /** 1-based knot positions of the fixture (13 rows minus the nulled
    * positions 5 and 9) — the fixed geometry both the engine's fit and
    * the oracle's restated solve run on.
    */
  private val SplineKnotPos: Array[Int] = (1 to 13).filterNot(p => p == 5 || p == 9).toArray

  /** Inverse of the natural-cubic tridiagonal system matrix for the
    * fixed knot geometry, computed by a plain Gauss–Jordan — an
    * INDEPENDENT restatement of the solve (SplineKernel uses the
    * Thomas algorithm), so the oracle's literals do not come from the
    * code under test. Row j gives m(j+1) = Σ_i inv(j)(i) · rhs(i)
    * with m(0) = m(n−1) = 0 (natural end condition).
    */
  private lazy val splineOracleInverse: Array[Array[Double]] = {
    val pos = SplineKnotPos.map(_.toDouble)
    val n = pos.length
    val h = Array.tabulate(n - 1)(i => pos(i + 1) - pos(i))
    val a = Array.tabulate(n - 2, n - 2) { (i, j) =>
      if (j == i) (h(i) + h(i + 1)) / 3.0
      else if (j == i - 1) h(i) / 6.0
      else if (j == i + 1) h(i + 1) / 6.0
      else 0.0
    }
    // Gauss–Jordan with partial pivoting against the identity
    val m = n - 2
    val aug = Array.tabulate(m)(i => a(i) ++ Array.tabulate(m)(j => if (i == j) 1.0 else 0.0))
    var r = 0
    while (r < m) {
      val p = (r until m).maxBy(k => math.abs(aug(k)(r)))
      val t = aug(r); aug(r) = aug(p); aug(p) = t
      val d = aug(r)(r)
      var c = 0
      while (c < 2 * m) { aug(r)(c) /= d; c += 1 }
      var k = 0
      while (k < m) {
        if (k != r) {
          val f = aug(k)(r)
          c = 0
          while (c < 2 * m) { aug(k)(c) -= f * aug(r)(c); c += 1 }
        }
        k += 1
      }
      r += 1
    }
    aug.map(_.drop(m))
  }

  /** Oracle: the same 13-row fixture, the natural-spline solve
    * restated from first principles — rhs from second differences of
    * the knot values, m = A⁻¹·rhs with the INDEPENDENTLY inverted
    * constant matrix inlined as literals, and the cubic evaluated on
    * the gap's segment. Agreement of the two derivations (Thomas in
    * the engine, Gauss–Jordan literals here) pins the kernel.
    */
  private lazy val splineFillSql = {
    val pos = SplineKnotPos
    val n = pos.length
    val h = Array.tabulate(n - 1)(i => (pos(i + 1) - pos(i)).toDouble)
    // knot values k1..k11 out of the ordered 13-value array
    val kDefs = pos.zipWithIndex
      .map { case (p, i) => s"ys13[$p] AS k${i + 1}" }
      .mkString(",\n         ")
    // rhs_i = (y_{i+2}-y_{i+1})/h_{i+1} - (y_{i+1}-y_i)/h_i   (0-based y)
    val rhsDefs = (0 until n - 2)
      .map(i => s"(k${i + 3} - k${i + 2}) / ${h(i + 1)} - (k${i + 2} - k${i + 1}) / ${h(i)} AS rhs$i")
      .mkString(",\n         ")
    val mDefs = (0 until n - 2)
      .map { j =>
        val terms = (0 until n - 2).map(i => s"(${splineOracleInverse(j)(i)}) * rhs$i").mkString(" + ")
        s"$terms AS m${j + 1}"
      }
      .mkString(",\n         ")
    // cubic at gap position x on segment seg (0-based knots), dx = x - pos(seg)
    def fillExpr(x: Int): String = {
      var seg = 0
      while (seg < n - 2 && x > pos(seg + 1)) seg += 1
      val dx = (x - pos(seg)).toDouble
      val hs = h(seg)
      def mRef(i: Int) = if (i == 0 || i == n - 1) "0.0" else s"m$i"
      val b = s"((k${seg + 2} - k${seg + 1}) / $hs - $hs * (2.0 * ${mRef(seg)} + ${mRef(seg + 1)}) / 6.0)"
      s"(k${seg + 1} + $b * $dx + (${mRef(seg)} / 2.0) * ${dx * dx} + ((${mRef(seg + 1)} - ${mRef(seg)}) / (6.0 * $hs)) * ${dx * dx * dx})"
    }
    s"""WITH r AS (
       |  SELECT user_id, ts, value, row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
       |  FROM events
       |), b AS (
       |  SELECT user_id, ts, rn, CASE WHEN rn IN (5, 9) THEN NULL ELSE value END AS v
       |  FROM r WHERE rn <= 13
       |), agg AS (
       |  SELECT user_id, array_agg(v ORDER BY rn) AS ys13 FROM b GROUP BY user_id
       |), knots AS (
       |  SELECT user_id,
       |         $kDefs
       |  FROM agg
       |), rhs AS (
       |  SELECT *,
       |         $rhsDefs
       |  FROM knots
       |), msol AS (
       |  SELECT *,
       |         $mDefs
       |  FROM rhs
       |), fills AS (
       |  SELECT user_id, ${fillExpr(5)} AS fill5, ${fillExpr(9)} AS fill9 FROM msol
       |)
       |SELECT b.user_id, epoch_us(b.ts) AS ts_us,
       |       round(CASE WHEN b.rn = 5 THEN f.fill5
       |                  WHEN b.rn = 9 THEN f.fill9
       |                  ELSE b.v END, 4) AS filled,
       |       (b.rn IN (5, 9)) AS imputed
       |FROM b JOIN fills f USING (user_id)
       |ORDER BY user_id, ts_us""".stripMargin
  }

  // ---- JSON source_fx_args-style parsing ---------------------------

  private def jsonExtract(s: SparkSession, d: String): DataFrame =
    TestTables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("k")).as("n")
      )
      .orderBy(col("event_type"))

  private val jsonExtractSql =
    """SELECT event_type,
      |       round(avg(k), 4) AS avg_k, min(k) AS min_k, max(k) AS max_k, count(k) AS n
      |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---- synchronize: full-outer remote-wins diff --------------------

  private def syncDiff(s: SparkSession, d: String): DataFrame = {
    val e = TestTables.events(s, d)
    val remote = e.select(col("user_id"), col("event_id"), col("value"))
    val localBase = e
      .filter(col("event_id") % 11 =!= 0) // missing locally -> insert
      .select(
        col("user_id"),
        col("event_id"),
        when(col("event_id") % 13 === 0, col("value") + 1).otherwise(col("value")).as("value"),
        (col("event_id") % 19 === 0).as("no_update")
      )
    val localOnly = e
      .filter(col("event_id") % 17 === 0) // absent from remote -> delete
      .select(
        col("user_id"),
        (col("event_id") + 10000000L).as("event_id"),
        col("value"),
        lit(false).as("no_update")
      )
    Synchronize
      .diff(
        localBase.unionByName(localOnly),
        remote,
        keyCols = Seq("user_id", "event_id"),
        compareCols = Seq("value"),
        noUpdateCol = Some("no_update")
      )
      .select(col("event_id"), col("user_id"), col("action"))
      .orderBy(col("event_id"), col("user_id"))
  }

  private val syncDiffSql =
    """WITH local AS (
      |  SELECT user_id, event_id,
      |         CASE WHEN event_id % 13 = 0 THEN value + 1 ELSE value END AS value,
      |         event_id % 19 = 0 AS no_update
      |  FROM events WHERE event_id % 11 <> 0
      |  UNION ALL
      |  SELECT user_id, event_id + 10000000, value, false FROM events WHERE event_id % 17 = 0
      |), remote AS (
      |  SELECT user_id, event_id, value FROM events
      |)
      |SELECT coalesce(l.event_id, r.event_id) AS event_id,
      |       coalesce(l.user_id, r.user_id) AS user_id,
      |       CASE WHEN l.event_id IS NULL THEN 'insert'
      |            WHEN r.event_id IS NULL THEN
      |              CASE WHEN l.no_update THEN 'protected' ELSE 'delete' END
      |            WHEN l.value IS DISTINCT FROM r.value THEN
      |              CASE WHEN l.no_update THEN 'protected' ELSE 'update' END
      |            ELSE 'keep' END AS action
      |FROM local l
      |FULL OUTER JOIN remote r ON l.user_id = r.user_id AND l.event_id = r.event_id
      |ORDER BY event_id, user_id""".stripMargin

  // ---- segment algebra: RLE -> collapse/merge adjust ---------------

  /** Existing QC segments = RLE over the first half of the month; new
    * segments = RLE over the second half; adjusted per user with
    * bridge-latest-extension (the getNew append path, SURVEY §2.9).
    * The oracle re-implements the whole interval algebra relationally
    * (boundary union -> unit intervals -> new-wins value resolution ->
    * adjacent merge -> positional id reuse -> surplus deletes ->
    * idempotence short-circuit), so the hash check covers the full
    * adjust semantics.
    */
  private def segmentAdjust(s: SparkSession, d: String): DataFrame = {
    import graft.operators.SegmentAdjust
    val e = TestTables.events(s, d)
    def rle(from: String, to: String, withIds: Boolean) = {
      val seg = Segments
        .fromPoints(
          e.filter(col("ts") >= lit(from).cast("timestamp") && col("ts") < lit(to).cast("timestamp")),
          keyCols = Seq("user_id"),
          dtCol = "ts",
          valueCol = "event_type",
          orderCols = Seq("event_id")
        )
        .withColumn("end_dt", coalesce(col("end_dt"), col("last_dt") + expr("INTERVAL 1 HOUR")))
        .select(
          col("user_id").as("series_id"),
          col("event_type").as("value"),
          col("start_dt"),
          col("end_dt")
        )
      if (withIds)
        seg.withColumn(
          "id",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("series_id"))
              .orderBy(col("start_dt"))
          ).cast("long")
        )
      else seg.withColumn("id", lit(null).cast("long"))
    }
    SegmentAdjust
      .adjust(
        rle("2024-01-01 00:00:00", "2024-01-16 00:00:00", withIds = true),
        rle("2024-01-16 00:00:00", "2024-02-01 00:00:00", withIds = false),
        bridgeLatestExtension = true
      )
      .select(
        col("series_id"),
        col("id"),
        col("value"),
        unix_micros(col("start_dt")).as("start_us"),
        unix_micros(col("end_dt")).as("end_us"),
        col("op")
      )
      .orderBy(col("series_id"), col("op"), col("start_us"), col("id"))
  }

  private val segmentAdjustSql = {
    def rleCte(tag: String, from: String, to: String) =
      s"""p$tag AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
         |  FROM events
         |  WHERE ts >= TIMESTAMP '$from' AND ts < TIMESTAMP '$to'
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), g$tag AS (
         |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                           ROWS UNBOUNDED PRECEDING) AS g
         |  FROM p$tag
         |), s$tag AS (
         |  SELECT user_id, g, min(ts) AS start_dt, max(ts) AS last_dt, min(event_type) AS value
         |  FROM g$tag GROUP BY 1, 2
         |)""".stripMargin
    s"""WITH ${rleCte("1", "2024-01-01 00:00:00", "2024-01-16 00:00:00")},
       |${rleCte("2", "2024-01-16 00:00:00", "2024-02-01 00:00:00")},
       |e0 AS (
       |  SELECT user_id, value, start_dt,
       |         coalesce(lead(start_dt) OVER (PARTITION BY user_id ORDER BY start_dt),
       |                  last_dt + INTERVAL 1 HOUR) AS end_dt,
       |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_dt) AS BIGINT) AS id
       |  FROM s1
       |), n0 AS (
       |  SELECT user_id, value, start_dt,
       |         coalesce(lead(start_dt) OVER (PARTITION BY user_id ORDER BY start_dt),
       |                  last_dt + INTERVAL 1 HOUR) AS end_dt
       |  FROM s2
       |), firstnew AS (
       |  SELECT user_id, min(start_dt) AS n_start, arg_min(value, start_dt) AS n_value
       |  FROM n0 GROUP BY 1
       |), eb AS (
       |  -- bridge-latest-extension: stretch the latest existing segment
       |  -- to the first new one when values match across the gap
       |  SELECT e.user_id, e.id, e.value, e.start_dt,
       |         CASE WHEN e.end_dt = me.max_end AND e.end_dt < fn.n_start AND e.value = fn.n_value
       |              THEN fn.n_start ELSE e.end_dt END AS end_dt
       |  FROM e0 e
       |  LEFT JOIN (SELECT user_id, max(end_dt) AS max_end FROM e0 GROUP BY 1) me USING (user_id)
       |  LEFT JOIN firstnew fn USING (user_id)
       |), bnd AS (
       |  SELECT DISTINCT user_id, bd FROM (
       |    SELECT user_id, start_dt AS bd FROM eb
       |    UNION ALL SELECT user_id, end_dt FROM eb
       |    UNION ALL SELECT user_id, start_dt FROM n0
       |    UNION ALL SELECT user_id, end_dt FROM n0)
       |), units AS (
       |  SELECT * FROM (
       |    SELECT user_id, bd AS u_start,
       |           lead(bd) OVER (PARTITION BY user_id ORDER BY bd) AS u_end
       |    FROM bnd
       |  ) WHERE u_end IS NOT NULL
       |), valued AS (
       |  SELECT u.user_id, u.u_start, u.u_end, coalesce(n.value, e.value) AS value
       |  FROM units u
       |  LEFT JOIN n0 n ON n.user_id = u.user_id AND n.start_dt <= u.u_start AND n.end_dt >= u.u_end
       |  LEFT JOIN eb e ON e.user_id = u.user_id AND e.start_dt <= u.u_start AND e.end_dt >= u.u_end
       |  WHERE coalesce(n.value, e.value) IS NOT NULL
       |), m0 AS (
       |  SELECT *, CASE WHEN lag(value) OVER w IS DISTINCT FROM value
       |                   OR lag(u_end) OVER w IS DISTINCT FROM u_start THEN 1 ELSE 0 END AS chg
       |  FROM valued WINDOW w AS (PARTITION BY user_id ORDER BY u_start)
       |), m1 AS (
       |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY u_start
       |                           ROWS UNBOUNDED PRECEDING) AS g
       |  FROM m0
       |), merged AS (
       |  SELECT user_id, min(u_start) AS start_dt, max(u_end) AS end_dt, min(value) AS value,
       |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY min(u_start)) AS BIGINT) AS pos
       |  FROM m1 GROUP BY user_id, g
       |), withid AS (
       |  -- positional id reuse: existing ids ARE 1..n in start order
       |  SELECT m.user_id, CASE WHEN m.pos <= coalesce(ne.n, 0) THEN m.pos END AS id,
       |         m.value, m.start_dt, m.end_dt
       |  FROM merged m
       |  LEFT JOIN (SELECT user_id, count(*) AS n FROM e0 GROUP BY 1) ne USING (user_id)
       |), deletes AS (
       |  SELECT e.user_id, e.id FROM e0 e
       |  JOIN (SELECT user_id, count(*) AS m FROM merged GROUP BY 1) mc USING (user_id)
       |  WHERE e.id > mc.m
       |), sk_e AS (
       |  SELECT user_id, string_agg(coalesce(id::VARCHAR, 'NA') || '|' || value || '|'
       |           || epoch_us(start_dt) || '|' || epoch_us(end_dt), ';'
       |           ORDER BY start_dt, end_dt) AS sk
       |  FROM e0 GROUP BY 1
       |), sk_m AS (
       |  SELECT user_id, string_agg(coalesce(id::VARCHAR, 'NA') || '|' || value || '|'
       |           || epoch_us(start_dt) || '|' || epoch_us(end_dt), ';'
       |           ORDER BY start_dt, end_dt) AS sk
       |  FROM withid GROUP BY 1
       |), changed AS (
       |  -- idempotence short-circuit: only series whose canonical state
       |  -- differs (or with deletes) emit rows
       |  SELECT coalesce(m.user_id, e.user_id) AS user_id
       |  FROM sk_m m FULL JOIN sk_e e USING (user_id)
       |  WHERE m.sk IS DISTINCT FROM e.sk
       |  UNION SELECT user_id FROM deletes
       |)
       |SELECT * FROM (
       |  SELECT user_id AS series_id, id, value,
       |         epoch_us(start_dt) AS start_us, epoch_us(end_dt) AS end_us,
       |         'upsert' AS op
       |  FROM withid WHERE user_id IN (SELECT user_id FROM changed)
       |  UNION ALL
       |  SELECT user_id, id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'delete'
       |  FROM deletes WHERE user_id IN (SELECT user_id FROM changed)
       |)
       |ORDER BY series_id, op, start_us NULLS FIRST, id""".stripMargin
  }

  // ---- qualifier rank streams: overlapping different-type adjust ----

  /** Qualifier rank streams (SURVEY §2.9): segments of two qualifier
    * TYPES over the same series — per the reference's qualifier
    * semantics (`R/synchronize.R` qualifier handling), streams of
    * different types may overlap EACH OTHER while each type remains
    * independently non-overlapping. Exercises
    * [[graft.operators.SegmentAdjust.adjust]]'s `streamCol` grouping
    * (ONE shuffle on the composite (series, stream) key — the type
    * dimension rides the same exchange, never a second one) and the
    * non-bridged append path q_segment_adjust leaves uncovered. The
    * oracle re-runs the whole interval algebra relationally over the
    * composite key uk = user_id*2 + type.
    */
  private def qualifierRanks(s: SparkSession, d: String): DataFrame = {
    import graft.operators.SegmentAdjust
    val e = TestTables.events(s, d)
      .withColumn("stream", when(col("event_id") % 2 === 0, lit("ICE")).otherwise(lit("EST")))
    def rle(from: String, to: String, withIds: Boolean) = {
      val seg = Segments
        .fromPoints(
          e.filter(
            col("ts") >= lit(from).cast("timestamp") && col("ts") < lit(to).cast("timestamp")
          ),
          keyCols = Seq("user_id", "stream"),
          dtCol = "ts",
          valueCol = "event_type",
          orderCols = Seq("event_id")
        )
        .withColumn("end_dt", coalesce(col("end_dt"), col("last_dt") + expr("INTERVAL 1 HOUR")))
        .select(
          col("user_id").as("series_id"),
          col("stream"),
          col("event_type").as("value"),
          col("start_dt"),
          col("end_dt")
        )
      if (withIds)
        seg.withColumn(
          "id",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("series_id"), col("stream"))
              .orderBy(col("start_dt"))
          ).cast("long")
        )
      else seg.withColumn("id", lit(null).cast("long"))
    }
    SegmentAdjust
      .adjust(
        rle("2024-01-01 00:00:00", "2024-01-16 00:00:00", withIds = true),
        rle("2024-01-16 00:00:00", "2024-02-01 00:00:00", withIds = false),
        streamCol = Some("stream")
      )
      .select(
        col("series_id"),
        col("stream"),
        col("id"),
        col("value"),
        unix_micros(col("start_dt")).as("start_us"),
        unix_micros(col("end_dt")).as("end_us"),
        col("op")
      )
      .orderBy(col("series_id"), col("stream"), col("op"), col("start_us"), col("id"))
  }

  private val qualifierRanksSql = {
    // the q_segment_adjust relational algebra with (a) the composite
    // stream key uk = user_id*2 + event_id%2 in place of user_id and
    // (b) NO bridge-latest-extension step (eb == e0)
    def rleCte(tag: String, from: String, to: String) =
      s"""p$tag AS (
         |  SELECT uk, ts, event_id, event_type,
         |         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
         |  FROM (SELECT user_id * 2 + event_id % 2 AS uk, ts, event_id, event_type
         |        FROM events
         |        WHERE ts >= TIMESTAMP '$from' AND ts < TIMESTAMP '$to')
         |  WINDOW w AS (PARTITION BY uk ORDER BY ts, event_id)
         |), g$tag AS (
         |  SELECT *, sum(chg) OVER (PARTITION BY uk ORDER BY ts, event_id
         |                           ROWS UNBOUNDED PRECEDING) AS g
         |  FROM p$tag
         |), s$tag AS (
         |  SELECT uk, g, min(ts) AS start_dt, max(ts) AS last_dt, min(event_type) AS value
         |  FROM g$tag GROUP BY 1, 2
         |)""".stripMargin
    s"""WITH ${rleCte("1", "2024-01-01 00:00:00", "2024-01-16 00:00:00")},
       |${rleCte("2", "2024-01-16 00:00:00", "2024-02-01 00:00:00")},
       |e0 AS (
       |  SELECT uk, value, start_dt,
       |         coalesce(lead(start_dt) OVER (PARTITION BY uk ORDER BY start_dt),
       |                  last_dt + INTERVAL 1 HOUR) AS end_dt,
       |         CAST(row_number() OVER (PARTITION BY uk ORDER BY start_dt) AS BIGINT) AS id
       |  FROM s1
       |), n0 AS (
       |  SELECT uk, value, start_dt,
       |         coalesce(lead(start_dt) OVER (PARTITION BY uk ORDER BY start_dt),
       |                  last_dt + INTERVAL 1 HOUR) AS end_dt
       |  FROM s2
       |), bnd AS (
       |  SELECT DISTINCT uk, bd FROM (
       |    SELECT uk, start_dt AS bd FROM e0
       |    UNION ALL SELECT uk, end_dt FROM e0
       |    UNION ALL SELECT uk, start_dt FROM n0
       |    UNION ALL SELECT uk, end_dt FROM n0)
       |), units AS (
       |  SELECT * FROM (
       |    SELECT uk, bd AS u_start,
       |           lead(bd) OVER (PARTITION BY uk ORDER BY bd) AS u_end
       |    FROM bnd
       |  ) WHERE u_end IS NOT NULL
       |), valued AS (
       |  SELECT u.uk, u.u_start, u.u_end, coalesce(n.value, e.value) AS value
       |  FROM units u
       |  LEFT JOIN n0 n ON n.uk = u.uk AND n.start_dt <= u.u_start AND n.end_dt >= u.u_end
       |  LEFT JOIN e0 e ON e.uk = u.uk AND e.start_dt <= u.u_start AND e.end_dt >= u.u_end
       |  WHERE coalesce(n.value, e.value) IS NOT NULL
       |), m0 AS (
       |  SELECT *, CASE WHEN lag(value) OVER w IS DISTINCT FROM value
       |                   OR lag(u_end) OVER w IS DISTINCT FROM u_start THEN 1 ELSE 0 END AS chg
       |  FROM valued WINDOW w AS (PARTITION BY uk ORDER BY u_start)
       |), m1 AS (
       |  SELECT *, sum(chg) OVER (PARTITION BY uk ORDER BY u_start
       |                           ROWS UNBOUNDED PRECEDING) AS g
       |  FROM m0
       |), merged AS (
       |  SELECT uk, min(u_start) AS start_dt, max(u_end) AS end_dt, min(value) AS value,
       |         CAST(row_number() OVER (PARTITION BY uk ORDER BY min(u_start)) AS BIGINT) AS pos
       |  FROM m1 GROUP BY uk, g
       |), withid AS (
       |  SELECT m.uk, CASE WHEN m.pos <= coalesce(ne.n, 0) THEN m.pos END AS id,
       |         m.value, m.start_dt, m.end_dt
       |  FROM merged m
       |  LEFT JOIN (SELECT uk, count(*) AS n FROM e0 GROUP BY 1) ne USING (uk)
       |), deletes AS (
       |  SELECT e.uk, e.id FROM e0 e
       |  JOIN (SELECT uk, count(*) AS m FROM merged GROUP BY 1) mc USING (uk)
       |  WHERE e.id > mc.m
       |), sk_e AS (
       |  SELECT uk, string_agg(coalesce(id::VARCHAR, 'NA') || '|' || value || '|'
       |           || epoch_us(start_dt) || '|' || epoch_us(end_dt), ';'
       |           ORDER BY start_dt, end_dt) AS sk
       |  FROM e0 GROUP BY 1
       |), sk_m AS (
       |  SELECT uk, string_agg(coalesce(id::VARCHAR, 'NA') || '|' || value || '|'
       |           || epoch_us(start_dt) || '|' || epoch_us(end_dt), ';'
       |           ORDER BY start_dt, end_dt) AS sk
       |  FROM withid GROUP BY 1
       |), changed AS (
       |  SELECT coalesce(m.uk, e.uk) AS uk
       |  FROM sk_m m FULL JOIN sk_e e USING (uk)
       |  WHERE m.sk IS DISTINCT FROM e.sk
       |  UNION SELECT uk FROM deletes
       |)
       |SELECT * FROM (
       |  SELECT CAST(uk // 2 AS BIGINT) AS series_id,
       |         CASE WHEN uk % 2 = 0 THEN 'ICE' ELSE 'EST' END AS stream,
       |         id, value,
       |         epoch_us(start_dt) AS start_us, epoch_us(end_dt) AS end_us,
       |         'upsert' AS op
       |  FROM withid WHERE uk IN (SELECT uk FROM changed)
       |  UNION ALL
       |  SELECT CAST(uk // 2 AS BIGINT),
       |         CASE WHEN uk % 2 = 0 THEN 'ICE' ELSE 'EST' END,
       |         id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'delete'
       |  FROM deletes WHERE uk IN (SELECT uk FROM changed)
       |)
       |ORDER BY series_id, stream, op, start_us NULLS FIRST, id""".stripMargin
  }

  // ---- two-level discrete sample/result sync (synchronize_discrete.R)

  /** Sample-level reconciliation actions over a deterministic
    * local/remote derivation of orders: inserts (absent locally),
    * import-source-guarded deletes, no_update protection, field-wise
    * remote-wins updates.
    */
  private def discreteSync(s: SparkSession, d: String): DataFrame = {
    val o = TestTables.orders(s, d)
    def base(df: DataFrame) = df.select(
      col("o_orderkey").as("sample_series_id"),
      col("o_orderdate").cast("timestamp").as("datetime"),
      lit("grab").as("collection_method"),
      (col("o_orderkey") % 7).cast("double").as("depth_m"),
      col("o_orderstatus").as("owner")
    )
    val local = base(o.filter(col("o_orderkey") % 13 =!= 3))
      .withColumn("sample_id", col("sample_series_id"))
      .withColumn("import_source", when(col("sample_series_id") % 3 === 0, "eqwin").otherwise("manual"))
      .withColumn("no_update", col("sample_series_id") % 11 === 0)
    val remote = base(o.filter(col("o_orderkey") % 13 =!= 7))
      .withColumn(
        "depth_m",
        when(col("sample_series_id") % 5 === 0, col("depth_m") + 0.5).otherwise(col("depth_m"))
      )
    graft.operators.SynchronizeDiscrete
      .diffSamples(local, remote, Seq("depth_m", "owner", "share_with"),
        deleteMissing = true, importSource = Some("eqwin"))
      .groupBy(col("action"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("sample_series_id")).as("sum_series"),
        sum(size(col("changed_fields"))).as("n_changed_fields")
      )
      .orderBy(col("action"))
  }

  private val discreteSyncSql =
    """WITH base AS (
      |  SELECT o_orderkey AS sample_series_id,
      |         CAST(o_orderdate AS TIMESTAMP) AS datetime,
      |         'grab' AS collection_method,
      |         CAST(o_orderkey % 7 AS DOUBLE) AS depth_m,
      |         o_orderstatus AS owner
      |  FROM orders
      |), l AS (
      |  SELECT *,
      |         CASE WHEN sample_series_id % 3 = 0 THEN 'eqwin' ELSE 'manual' END AS import_source,
      |         sample_series_id % 11 = 0 AS no_update
      |  FROM base WHERE sample_series_id % 13 <> 3
      |), r AS (
      |  SELECT sample_series_id, datetime, collection_method,
      |         CASE WHEN sample_series_id % 5 = 0 THEN depth_m + 0.5 ELSE depth_m END AS depth_m,
      |         owner
      |  FROM base WHERE sample_series_id % 13 <> 7
      |), d AS (
      |  SELECT coalesce(l.sample_series_id, r.sample_series_id) AS sample_series_id,
      |         (l.depth_m IS DISTINCT FROM r.depth_m)::INT + (l.owner IS DISTINCT FROM r.owner)::INT AS nch,
      |         CASE
      |           WHEN l.sample_series_id IS NULL THEN 'insert'
      |           WHEN r.sample_series_id IS NULL THEN
      |             CASE WHEN NOT coalesce(l.no_update, FALSE) AND l.import_source = 'eqwin'
      |                  THEN 'delete' ELSE 'keep' END
      |           WHEN coalesce(l.no_update, FALSE) THEN 'protected'
      |           WHEN l.depth_m IS DISTINCT FROM r.depth_m OR l.owner IS DISTINCT FROM r.owner THEN 'update'
      |           ELSE 'keep' END AS action
      |  FROM l FULL OUTER JOIN r
      |    ON l.sample_series_id IS NOT DISTINCT FROM r.sample_series_id
      |   AND l.datetime IS NOT DISTINCT FROM r.datetime
      |   AND l.collection_method IS NOT DISTINCT FROM r.collection_method
      |)
      |SELECT action, count(*) AS n,
      |       CAST(sum(sample_series_id) AS BIGINT) AS sum_series,
      |       CAST(sum(nch) AS BIGINT) AS n_changed_fields
      |FROM d
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_rle_segments", rleSegments, Some(rleSegmentsSql)),
    QueryDef("q_segment_adjust", segmentAdjust, Some(segmentAdjustSql)),
    QueryDef("q_qualifier_ranks", qualifierRanks, Some(qualifierRanksSql)),
    QueryDef("q_locf", locf, Some(locfSql)),
    QueryDef("q_spline_fill", splineFillQ, Some(splineFillSql)),
    QueryDef("q_json_extract", jsonExtract, Some(jsonExtractSql)),
    QueryDef("q_sync_diff", syncDiff, Some(syncDiffSql)),
    QueryDef("q_discrete_sync", discreteSync, Some(discreteSyncSql))
  )
}
