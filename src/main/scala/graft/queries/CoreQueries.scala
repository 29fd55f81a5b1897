package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tables.TestTables

/** Catalog-enrichment / last-point query shapes from the reference's
  * read path (SURVEY §2.3): tiny-dimension broadcast joins and the
  * last-point-per-series lookup (`R/getNewContinuous.R:119-139`).
  */
object CoreQueries {

  /** Catalog enrichment: fact ⋈ dims. Only the genuinely
    * dimension-sized tables (nation 25 rows, region 5 — the
    * reference's parameters/media lookups) carry a broadcast hint;
    * orders and customer SCALE WITH THE FACT SIDE, so their joins are
    * left to Catalyst/AQE — at bench SF they still broadcast at
    * runtime, at 100 TB they become key-shuffled joins instead of an
    * OOM'd driver collect. Mirrors timeseries ⋈ locations ⋈
    * parameters ⋈ … (`R/getNewContinuous.R:119-139`).
    */
  private def catalogEnrich(s: SparkSession, d: String) = {
    val li = TestTables.lineitem(s, d)
    val o = TestTables.orders(s, d)
    val c = TestTables.customer(s, d)
    val n = TestTables.nation(s, d)
    val r = TestTables.region(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name").as("region_name"), li("l_returnflag").as("return_flag"))
      .agg(
        round(sum(li("l_extendedprice") * (lit(1.0) - li("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("region_name"), col("return_flag"))
  }

  /** Hot-key-aware salted join (SURVEY §4 skew handling): the events
    * table is heavily skewed by event_type (a few types dominate), so
    * the hot types are salted 8 ways while cold types join unsalted.
    * Result identical to the plain join — the oracle IS the plain
    * join; `SkewJoinSpec` asserts the salt distribution.
    */
  private def saltedJoin(s: SparkSession, d: String) = {
    val e = TestTables.events(s, d)
    val dim = e
      .select(col("event_type"))
      .distinct()
      .withColumn("type_weight", (length(col("event_type")) * 10).cast("double"))
    graft.operators.SkewJoin
      .skewAwareJoin(e, dim, Seq("event_type"), numSalts = 8, hotThreshold = 1000L)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        any_value(col("type_weight")).as("type_weight")
      )
      .withColumn("weighted", round(col("sum_cents") * col("type_weight") / 100.0, 2))
      .orderBy(col("event_type"))
  }

  private val saltedJoinSql =
    """WITH dim AS (
      |  SELECT DISTINCT event_type, CAST(length(event_type) * 10.0 AS DOUBLE) AS type_weight
      |  FROM events
      |)
      |SELECT e.event_type, count(*) AS n_events,
      |       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       any_value(d.type_weight) AS type_weight,
      |       round(CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) * any_value(d.type_weight) / 100.0, 2) AS weighted
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Location-code generation (`R/generateACLocationCode.R:1-9`): a
    * short prefix from the containing region + a zero-padded
    * per-prefix sequence — nations standing in for stations, regions
    * for basins.
    */
  private def locationCode(s: SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    val n = TestTables.nation(s, d)
    val r = TestTables.region(s, d)
    val w = Window.partitionBy(col("r_regionkey")).orderBy(col("n_name"))
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .withColumn("seq", row_number().over(w))
      .select(
        col("n_name").as("name"),
        concat(upper(substring(col("r_name"), 1, 2)), lpad(col("seq"), 3, "0")).as("code")
      )
      .orderBy(col("code"))
  }

  private val locationCodeSql =
    """SELECT n_name AS name,
      |       upper(substr(r_name, 1, 2)) || lpad(CAST(seq AS VARCHAR), 3, '0') AS code
      |FROM (
      |  SELECT n_name, r_name,
      |         row_number() OVER (PARTITION BY r.r_regionkey ORDER BY n_name) AS seq
      |  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |)
      |ORDER BY code""".stripMargin

  private val catalogEnrichSql =
    """SELECT r_name AS region_name, l_returnflag AS return_flag,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Last-point-per-series (`R/getNewContinuous.R:132-136`): the
    * incremental-ingest watermark lookup. One window over the
    * series key; deterministic tie-break (ts DESC, event_id DESC).
    */
  private def lastPoint(s: SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    val e = TestTables.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("last_ts_us"),
        round(col("value"), 4).as("last_value"),
        col("n_events")
      )
      .orderBy(col("user_id"))
  }

  private val lastPointSql =
    """SELECT user_id, epoch_us(ts) AS last_ts_us, round(value, 4) AS last_value, n_events
      |FROM (
      |  SELECT user_id, ts, value,
      |         count(*) OVER (PARTITION BY user_id) AS n_events,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Polygon-derived location codes (`R/generateACLocationCode.R:1-9`):
    * stations fall into basin polygons by even-odd ray cast over WKT
    * rings (native HOFs, no UDF — `graft.functions.Spatial`); the code
    * is the containing basin's prefix + a zero-padded per-prefix
    * sequence, 'XX' for stations outside every basin. The oracle
    * re-implements the ray cast relationally (edge table + crossing
    * count parity).
    */
  private def pointInPolygon(s: SparkSession, d: String) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Spatial
    val pts = TestTables.events(s, d)
      .select(col("user_id").cast("long").as("user_id"))
      .distinct()
      .withColumn("px", lit(-135.0) + col("user_id") % 7 * 0.5 + 0.1)
      .withColumn("py", lit(60.0) + col("user_id") % 10 * 0.5 + 0.1)
    val polys = Seq(
      ("BA", "POLYGON ((-135.05 59.85, -133.65 59.85, -133.65 63.15, -135.05 63.15, -135.05 59.85))"),
      ("TR", "POLYGON ((-133.65 59.85, -131.55 59.85, -131.55 65.05, -133.65 59.85))")
    ).toDF("prefix", "wkt")
      .withColumn("verts", Spatial.wktPolygonVertices(col("wkt")))
    val hits = pts
      .crossJoin(broadcast(polys))
      .filter(Spatial.pointInPolygon(col("px"), col("py"), col("verts")))
      .select(col("user_id"), col("prefix"))
    pts
      .join(hits, Seq("user_id"), "left")
      .withColumn("prefix", coalesce(col("prefix"), lit("XX")))
      .withColumn(
        "code",
        concat(
          col("prefix"),
          lpad(row_number().over(Window.partitionBy(col("prefix")).orderBy(col("user_id"))), 3, "0")
        )
      )
      .select(col("user_id"), round(col("px"), 4).as("px"), round(col("py"), 4).as("py"), col("prefix"), col("code"))
      .orderBy(col("user_id"))
  }

  private val pointInPolygonSql =
    """WITH pts AS (
      |  SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
      |         -135.0::DOUBLE + (user_id % 7) * 0.5::DOUBLE + 0.1::DOUBLE AS px,
      |         60.0::DOUBLE + (user_id % 10) * 0.5::DOUBLE + 0.1::DOUBLE AS py
      |  FROM events
      |), edges0(prefix, x1, y1, x2, y2) AS (VALUES
      |  ('BA', -135.05, 59.85, -133.65, 59.85),
      |  ('BA', -133.65, 59.85, -133.65, 63.15),
      |  ('BA', -133.65, 63.15, -135.05, 63.15),
      |  ('BA', -135.05, 63.15, -135.05, 59.85),
      |  ('TR', -133.65, 59.85, -131.55, 59.85),
      |  ('TR', -131.55, 59.85, -131.55, 65.05),
      |  ('TR', -131.55, 65.05, -133.65, 59.85)
      |), edges AS (
      |  SELECT prefix, x1::DOUBLE AS x1, y1::DOUBLE AS y1, x2::DOUBLE AS x2, y2::DOUBLE AS y2
      |  FROM edges0
      |), hits AS (
      |  SELECT p.user_id, e.prefix
      |  FROM pts p CROSS JOIN edges e
      |  GROUP BY 1, 2
      |  HAVING sum(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
      |                    AND p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1
      |                  THEN 1 ELSE 0 END) % 2 = 1
      |), coded AS (
      |  SELECT p.user_id, p.px, p.py, coalesce(h.prefix, 'XX') AS prefix
      |  FROM pts p LEFT JOIN hits h USING (user_id)
      |)
      |SELECT user_id, round(px, 4) AS px, round(py, 4) AS py, prefix,
      |       prefix || lpad(CAST(row_number() OVER (PARTITION BY prefix ORDER BY user_id) AS VARCHAR), 3, '0') AS code
      |FROM coded
      |ORDER BY user_id""".stripMargin

  /** WKT geometry validation (`insertACVector.R`'s insert gate): the
    * Spark side PARSES deterministically-constructed WKT through the
    * codegen'd validator; the oracle states each case's ground-truth
    * reason analytically — so a parser/validator bug on any rule
    * class fails the hash.
    */
  private def wktValidate(s: SparkSession, d: String) = {
    import graft.functions.Spatial
    val n = TestTables.nation(s, d)
      .withColumn("x0", (col("n_nationkey") % 12) * 10 - 60)
      .withColumn("y0", (col("n_nationkey") % 8) * 10 - 40)
    def sq() = {
      concat(
        lit("POLYGON (("),
        col("x0"), lit(" "), col("y0"), lit(", "),
        col("x0") + 4, lit(" "), col("y0"), lit(", "),
        col("x0") + 4, lit(" "), col("y0") + 4, lit(", "),
        col("x0"), lit(" "), col("y0") + 4, lit(", "),
        col("x0"), lit(" "), col("y0"), lit("))")
      )
    }
    val wkt = when(col("n_nationkey") % 5 === 0, sq())
      .when(
        col("n_nationkey") % 5 === 1, // open: drop the closing vertex
        concat(
          lit("POLYGON (("),
          col("x0"), lit(" "), col("y0"), lit(", "),
          col("x0") + 4, lit(" "), col("y0"), lit(", "),
          col("x0") + 4, lit(" "), col("y0") + 4, lit(", "),
          col("x0"), lit(" "), col("y0") + 4, lit("))")
        )
      )
      .when(
        col("n_nationkey") % 5 === 2, // lon +300 > 180 for every x0 in [-60, 50]
        concat(
          lit("POLYGON (("),
          col("x0") + 300, lit(" "), col("y0"), lit(", "),
          col("x0") + 304, lit(" "), col("y0"), lit(", "),
          col("x0") + 304, lit(" "), col("y0") + 4, lit(", "),
          col("x0") + 300, lit(" "), col("y0") + 4, lit(", "),
          col("x0") + 300, lit(" "), col("y0"), lit("))")
        )
      )
      .when(
        col("n_nationkey") % 5 === 3,
        concat(lit("LINESTRING ("), col("x0"), lit(" "), col("y0"), lit(", "), col("x0") + 1, lit(" "), col("y0") + 1, lit(")"))
      )
      .otherwise( // consecutive duplicate vertex
        concat(
          lit("POLYGON (("),
          col("x0"), lit(" "), col("y0"), lit(", "),
          col("x0") + 4, lit(" "), col("y0"), lit(", "),
          col("x0") + 4, lit(" "), col("y0"), lit(", "),
          col("x0"), lit(" "), col("y0") + 4, lit(", "),
          col("x0"), lit(" "), col("y0"), lit("))")
        )
      )
    n.select(
      col("n_name").as("name"),
      Spatial.wktGeomType(wkt).as("geom_type"),
      Spatial.polygonValidity(wkt).as("reason")
    ).orderBy(col("name"))
  }

  private val wktValidateSql =
    """SELECT n_name AS name,
      |       CASE WHEN n_nationkey % 5 = 3 THEN 'LINESTRING' ELSE 'POLYGON' END AS geom_type,
      |       CASE n_nationkey % 5
      |         WHEN 0 THEN NULL
      |         WHEN 1 THEN 'open_ring'
      |         WHEN 2 THEN 'out_of_range'
      |         WHEN 3 THEN 'not_polygon'
      |         ELSE 'duplicate_vertex' END AS reason
      |FROM nation
      |ORDER BY 1""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_catalog_enrich", catalogEnrich, Some(catalogEnrichSql)),
    QueryDef("q_last_point", lastPoint, Some(lastPointSql)),
    QueryDef("q_salted_join", saltedJoin, Some(saltedJoinSql)),
    QueryDef("q_location_code", locationCode, Some(locationCodeSql)),
    QueryDef("q_point_in_polygon", pointInPolygon, Some(pointInPolygonSql)),
    QueryDef("q_wkt_validate", wktValidate, Some(wktValidateSql))
  )
}
