package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Raster
import graft.sources.ImageIngest
import graft.tables.TestTables

/** Gridded-raster + image-series queries (SURVEY §2.1 raster/image
  * sources, `R/getNewRasters.R` / `R/writeRaster.R` /
  * `R/createRasterPyramids.R` / `R/getNewImages.R`). The raster grid
  * is synthesized deterministically (no raster testdata exists) —
  * both engines generate the identical integer lattice, so the
  * oracle verifies the ENTIRE tile/cell coordinate algebra, not just
  * aggregates.
  */
object RasterQueries {

  private val W = 600
  private val H = 400

  /** DuckDB-side twin of Raster.syntheticCells. */
  private val gridSql =
    s"""grid AS (
       |  SELECT CAST(i % $W AS INT) AS x, CAST(i // $W AS INT) AS y,
       |         ((i % $W) * 31 + (i // $W) * 17) % 97 / 8.0 AS value
       |  FROM (SELECT unnest(range(${W * H})) AS i)
       |)""".stripMargin

  /** Zonal mean/min/max per region stripe, THROUGH the tile layer:
    * cells are packed into 32x20 row-major tiles and unpacked again,
    * so a single coordinate bug anywhere in the tile algebra shifts a
    * stripe sum and fails the hash.
    */
  private def rasterZonal(s: SparkSession, d: String): DataFrame = {
    val stripe = W / 5
    val zones = TestTables.region(s, d).select(
      col("r_name").as("zone_id"),
      (col("r_regionkey") * stripe).as("x_min"),
      ((col("r_regionkey") + 1) * stripe).as("x_max"),
      lit(0).as("y_min"),
      lit(H).as("y_max")
    )
    val tiles = Raster.tileGrid(Raster.syntheticCells(s, W, H), 32, 20)
    Raster
      .zonalStats(Raster.cells(tiles), zones)
      .select(
        col("zone_id"),
        col("n_cells"),
        col("sum_scaled"),
        round(col("min_val"), 4).as("min_val"),
        round(col("max_val"), 4).as("max_val"),
        col("mean_val")
      )
      .orderBy(col("zone_id"))
  }

  private val rasterZonalSql =
    s"""WITH $gridSql
       |SELECT r.r_name AS zone_id,
       |       count(*) AS n_cells,
       |       CAST(sum(CAST(round(g.value * 10000) AS BIGINT)) AS BIGINT) AS sum_scaled,
       |       round(min(g.value), 4) AS min_val,
       |       round(max(g.value), 4) AS max_val,
       |       round(CAST(sum(CAST(round(g.value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 / count(*), 4) AS mean_val
       |FROM grid g
       |JOIN region r
       |  ON g.x >= r.r_regionkey * ${W / 5} AND g.x < (r.r_regionkey + 1) * ${W / 5}
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** One pyramid overview level: factor-4 mean downsample. */
  private def rasterPyramid(s: SparkSession, d: String): DataFrame =
    Raster
      .pyramidLevel(Raster.cells(Raster.tileGrid(Raster.syntheticCells(s, W, H), 32, 20)), 4)
      .select(col("x"), col("y"), col("n_src"), col("value"))
      .orderBy(col("x"), col("y"))

  private val rasterPyramidSql =
    s"""WITH $gridSql
       |SELECT CAST(x // 4 AS INT) AS x, CAST(y // 4 AS INT) AS y,
       |       count(*) AS n_src,
       |       round(CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 / count(*), 4) AS value
       |FROM grid
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** `keep_forecasts = 'selective'` supersede over a deterministic
    * tile index derived from orders: many issues share a valid month,
    * the newest issue must win per tile, reanalysis series exempt.
    */
  private def rasterSupersede(s: SparkSession, d: String): DataFrame = {
    val idx = TestTables.orders(s, d)
      .select(
        (col("o_orderkey") % 5).as("series_id"),
        lit("b1").as("band"),
        // type is a property of the SERIES (as in raster_series_index),
        // so supersede windows never mix forecast and reanalysis rows
        when(col("o_orderkey") % 5 % 2 === 0, "reanalysis").otherwise("forecast").as("raster_type"),
        // parquet NTZ -> session-UTC instant so unix_micros applies
        col("o_orderdate").cast("timestamp").as("issue_ts"),
        date_trunc("month", col("o_orderdate")).cast("timestamp").as("valid_ts"),
        (col("o_custkey") % 4).cast("int").as("tile_x"),
        lit(0).as("tile_y")
      )
      .distinct()
    Raster
      .supersedeForecasts(idx, "selective")
      .groupBy(col("series_id"), col("raster_type"))
      .agg(
        count(lit(1)).as("n_kept"),
        countDistinct(col("valid_ts")).as("n_valid"),
        unix_micros(max(col("issue_ts"))).as("max_issue_us")
      )
      .orderBy(col("series_id"), col("raster_type"))
  }

  private val rasterSupersedeSql =
    """WITH idx AS (
      |  SELECT DISTINCT
      |         o_orderkey % 5 AS series_id,
      |         'b1' AS band,
      |         CASE WHEN o_orderkey % 5 % 2 = 0 THEN 'reanalysis' ELSE 'forecast' END AS raster_type,
      |         o_orderdate AS issue_ts,
      |         date_trunc('month', o_orderdate) AS valid_ts,
      |         CAST(o_custkey % 4 AS INT) AS tile_x,
      |         0 AS tile_y
      |  FROM orders
      |), ranked AS (
      |  SELECT *,
      |         CASE WHEN raster_type = 'forecast'
      |              THEN row_number() OVER (PARTITION BY series_id, band, valid_ts, tile_x, tile_y
      |                                      ORDER BY issue_ts DESC)
      |              ELSE 1 END AS rk
      |  FROM idx
      |)
      |SELECT series_id, raster_type,
      |       count(*) AS n_kept,
      |       count(DISTINCT valid_ts) AS n_valid,
      |       CAST(epoch_us(max(issue_ts)) AS BIGINT) AS max_issue_us
      |FROM ranked WHERE rk = 1
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Image-series incremental ingest over documents-as-camera-frames:
    * active filter, last_img watermark, content fingerprint, latest
    * image + new watermark per series.
    */
  private def imageLatest(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val catalog = docs
      .select(col("source").as("img_series_id"))
      .distinct()
      .withColumn("active", substring(col("img_series_id"), 4, 10).cast("int") % 4 =!= 0)
      // 30 min: filters meaningfully at every SF (doc_ids start at 0,
      // so a larger watermark would empty the sf0.001 smoke run)
      .withColumn("last_img", timestamp_seconds(lit(1800)))
    val fetched = docs.select(
      col("source").as("img_series_id"),
      timestamp_seconds(col("doc_id") * 60).as("img_ts"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("txt").as("format")
    )
    val fresh = ImageIngest.newImages(catalog, fetched)
    val latest = ImageIngest.latestPerSeries(fresh)
    fresh
      .groupBy(col("img_series_id"))
      .agg(count(lit(1)).as("n_new"))
      .join(latest, Seq("img_series_id"))
      .select(
        col("img_series_id"),
        col("n_new"),
        unix_micros(col("last_img")).as("last_img_us"),
        col("last_fingerprint"),
        col("last_bytes")
      )
      .orderBy(col("img_series_id"))
  }

  private val imageLatestSql =
    """WITH fresh AS (
      |  SELECT source AS img_series_id,
      |         doc_id * 60 AS img_sec,
      |         text,
      |         ('0x' || substr(md5(text), 1, 14))::BIGINT AS fingerprint
      |  FROM documents
      |  WHERE CAST(substr(source, 4) AS INT) % 4 <> 0
      |    AND doc_id * 60 > 1800
      |), latest AS (
      |  SELECT img_series_id,
      |         CAST(img_sec AS BIGINT) * 1000000 AS last_img_us,
      |         fingerprint AS last_fingerprint,
      |         CAST(octet_length(encode(text)) AS INT) AS last_bytes,
      |         row_number() OVER (PARTITION BY img_series_id
      |                            ORDER BY img_sec DESC, fingerprint) AS rk
      |  FROM fresh
      |)
      |SELECT f.img_series_id,
      |       count(*) AS n_new,
      |       any_value(l.last_img_us) AS last_img_us,
      |       any_value(l.last_fingerprint) AS last_fingerprint,
      |       any_value(l.last_bytes) AS last_bytes
      |FROM fresh f
      |JOIN latest l ON l.img_series_id = f.img_series_id AND l.rk = 1
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Raster-series registration gates
    * ([[graft.sources.RasterIngest.registerSeries]], the
    * `addACRasterSeries` analog) over a part-derived fixture batch:
    * the modular classes plant every reject (missing model / start /
    * fetch fx, bad type, unknown parameter / fetch fx, multi-state
    * ambiguity, z without units, duplicate series) and the accepted
    * rows prove matrix-state defaulting, id seeding above
    * max(existing), and the start_datetime watermark seed. Round 6:
    * multi-state matrix states resolve through the media dim (reject
    * `unresolved_matrix_state` when the media has no mapping — the
    * catalog never takes a NULL matrix state), the duplicate key
    * includes the resolved matrix state null-safely, and repeated
    * (model, parameter, type, matrix) keys within the batch reject as
    * `duplicate_in_batch` (lowest src_key wins).
    */
  private def rasterSeries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = col("p_partkey")
    val incoming = TestTables.part(s, d)
      .filter(k % 13 === 0)
      .select(
        k.as("src_key"),
        when(k % 17 === 0, lit(null).cast("string"))
          .otherwise(element_at(array(lit("ERA5"), lit("HRDPS"), lit("HRDPA"), lit("CaLDAS")), (k % 4 + 1).cast("int")))
          .as("model"),
        ((k % 29) % 6).as("parameter_id"),
        when(k % 19 === 0, lit(null).cast("timestamp"))
          .otherwise(timestamp_seconds(unix_timestamp(lit("2024-01-01 00:00:00")) + (k % 30) * 86400))
          .as("start_datetime"),
        when(k % 23 === 0, lit(null).cast("string"))
          .otherwise(element_at(array(lit("downloadERA5"), lit("downloadHRDPS"), lit("downloadFTP")), (k % 3 + 1).cast("int")))
          .as("source_fx"),
        element_at(array(lit("forecast"), lit("reanalysis"), lit("nowcast")), ((k % 7) % 3 + 1).cast("int"))
          .as("raster_type"),
        when(k % 5 === 0, k % 3 + 1).as("media_id"),
        when(k % 11 === 0, lit(42L)).as("matrix_state_id"),
        when(k % 7 === 0, (k % 100).cast("double")).as("z_value"),
        when(k % 14 === 0, lit("m")).as("z_units")
      )
    val parameters = Seq[(Long, Option[Long], Boolean)](
      (1L, Some(10L), false),
      (2L, None, true),
      (3L, Some(30L), false),
      (4L, Some(40L), false)
    ).toDF("parameter_id", "default_matrix_state_id", "multi_state")
    val knownFx = Seq("downloadERA5", "downloadHRDPS", "downloadHRDPA").toDF("source_fx")
    val existing = Seq((7L, "HRDPA", 4L, "reanalysis", 40L))
      .toDF("raster_series_id", "model", "parameter_id", "raster_type", "matrix_state_id")
    val mediaDefaults = Seq((1L, 101L), (2L, 202L)).toDF("media_id", "default_matrix_state_id")
    val out = graft.sources.RasterIngest.registerSeries(incoming, parameters, knownFx, existing, mediaDefaults)
    val acceptedOut = out.accepted.select(
      col("src_key"),
      lit("accepted").as("status"),
      col("raster_series_id"),
      col("matrix_state_id"),
      unix_micros(col("end_datetime")).as("end_us"),
      col("active")
    )
    val rejectsOut = out.rejects.select(
      col("src_key"),
      col("reject_reason").as("status"),
      lit(null).cast("long").as("raster_series_id"),
      lit(null).cast("long").as("matrix_state_id"),
      lit(null).cast("long").as("end_us"),
      lit(null).cast("boolean").as("active")
    )
    acceptedOut.unionByName(rejectsOut).orderBy(col("src_key"))
  }

  private val rasterSeriesSql =
    """WITH inc AS (
      |  SELECT p_partkey AS src_key,
      |         CASE WHEN p_partkey % 17 = 0 THEN NULL
      |              ELSE (['ERA5', 'HRDPS', 'HRDPA', 'CaLDAS'])[CAST(p_partkey % 4 AS INT) + 1] END AS model,
      |         (p_partkey % 29) % 6 AS parameter_id,
      |         CASE WHEN p_partkey % 19 = 0 THEN NULL
      |              ELSE TIMESTAMP '2024-01-01 00:00:00' + (p_partkey % 30) * INTERVAL 1 DAY END AS start_datetime,
      |         CASE WHEN p_partkey % 23 = 0 THEN NULL
      |              ELSE (['downloadERA5', 'downloadHRDPS', 'downloadFTP'])[CAST(p_partkey % 3 AS INT) + 1] END AS source_fx,
      |         (['forecast', 'reanalysis', 'nowcast'])[CAST((p_partkey % 7) % 3 AS INT) + 1] AS raster_type,
      |         CASE WHEN p_partkey % 5 = 0 THEN p_partkey % 3 + 1 END AS media_id,
      |         CASE WHEN p_partkey % 11 = 0 THEN 42 END AS matrix_state_id,
      |         CASE WHEN p_partkey % 7 = 0 THEN CAST(p_partkey % 100 AS DOUBLE) END AS z_value,
      |         CASE WHEN p_partkey % 14 = 0 THEN 'm' END AS z_units
      |  FROM part WHERE p_partkey % 13 = 0
      |), dims AS (
      |  SELECT * FROM (VALUES (1, 10, FALSE), (2, NULL, TRUE), (3, 30, FALSE), (4, 40, FALSE))
      |         AS t(parameter_id, default_matrix_state_id, multi_state)
      |), media AS (
      |  SELECT * FROM (VALUES (1, 101), (2, 202)) AS m(media_id, media_matrix)
      |), resolved AS (
      |  SELECT inc.*, d.parameter_id AS dim_param, d.default_matrix_state_id, d.multi_state,
      |         m.media_matrix,
      |         coalesce(inc.matrix_state_id,
      |                  CASE WHEN d.multi_state THEN m.media_matrix
      |                       ELSE d.default_matrix_state_id END) AS resolved_matrix
      |  FROM inc LEFT JOIN dims d ON d.parameter_id = inc.parameter_id
      |           LEFT JOIN media m ON m.media_id = inc.media_id
      |), gated AS (
      |  SELECT *,
      |         CASE WHEN model IS NULL THEN 'missing_model'
      |              WHEN start_datetime IS NULL THEN 'missing_start'
      |              WHEN source_fx IS NULL THEN 'missing_source_fx'
      |              WHEN raster_type NOT IN ('forecast', 'reanalysis') THEN 'bad_type'
      |              WHEN dim_param IS NULL THEN 'unknown_parameter'
      |              WHEN source_fx NOT IN ('downloadERA5', 'downloadHRDPS', 'downloadHRDPA') THEN 'unknown_source_fx'
      |              WHEN matrix_state_id IS NULL AND multi_state AND media_id IS NULL THEN 'ambiguous_matrix_state'
      |              WHEN matrix_state_id IS NULL AND multi_state AND media_matrix IS NULL THEN 'unresolved_matrix_state'
      |              WHEN z_value IS NOT NULL AND z_units IS NULL THEN 'missing_z_units'
      |              WHEN model = 'HRDPA' AND parameter_id = 4 AND raster_type = 'reanalysis'
      |                   AND resolved_matrix IS NOT DISTINCT FROM 40 THEN 'duplicate_series'
      |         END AS reject_pre
      |  FROM resolved
      |), batch AS (
      |  SELECT *,
      |         row_number() OVER (
      |           PARTITION BY model, parameter_id, raster_type, resolved_matrix
      |           ORDER BY (reject_pre IS NOT NULL), src_key) AS batch_rank
      |  FROM gated
      |), final AS (
      |  SELECT *,
      |         coalesce(reject_pre,
      |                  CASE WHEN batch_rank > 1 THEN 'duplicate_in_batch' END) AS reject_reason
      |  FROM batch
      |), ids AS (
      |  SELECT *,
      |         CASE WHEN reject_reason IS NULL
      |              THEN 7 + row_number() OVER (
      |                     PARTITION BY (reject_reason IS NULL) ORDER BY src_key)
      |         END AS raster_series_id
      |  FROM final
      |)
      |SELECT src_key,
      |       coalesce(reject_reason, 'accepted') AS status,
      |       raster_series_id,
      |       CAST(CASE WHEN reject_reason IS NULL THEN resolved_matrix END AS BIGINT) AS matrix_state_id,
      |       CASE WHEN reject_reason IS NULL THEN epoch_us(start_datetime) END AS end_us,
      |       CASE WHEN reject_reason IS NULL THEN TRUE END AS active
      |FROM ids
      |ORDER BY src_key""".stripMargin

  /** Model-raster reference-row insertion
    * ([[graft.sources.RasterIngest.insertModelRasters]] —
    * `R/insertACModelRaster.R`): every gate fires in the fixture
    * (date-only end-of-day coercion, uncoercible timestamps,
    * units/band-count mismatch, unknown/ambiguous series), accepted
    * rows carry inherited index metadata and reference ids above
    * max(existing).
    */
  private def modelRasterInsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = col("p_partkey")
    // selectors run off the QUOTIENT j = k div 9, which walks every
    // residue class — selecting off k itself would freeze k mod 3 at
    // zero (the filter) and leave half the gates dead in the fixture
    val j = expr("p_partkey div 9")
    val incoming = TestTables
      .part(s, d)
      .filter(k % 9 === 0)
      .select(
        k.as("src_key"),
        (j % 12).as("raster_series_id"),
        when(j % 11 === 0, lit(null).cast("array<string>"))
          .otherwise(transform(sequence(lit(1), (j % 3 + 1).cast("int")), i => concat(lit("band"), i.cast("string"))))
          .as("band_names"),
        when(j % 5 === 0, lit(null).cast("array<string>"))
          .when(j % 5 === 1, array(lit("mm")))
          .when(j % 5 === 2, transform(sequence(lit(1), (j % 3 + 1).cast("int")), i => concat(lit("u"), i.cast("string"))))
          .when(j % 5 === 3, array(lit("C"), lit("kPa")))
          .otherwise(array(lit("C")))
          .as("units"),
        when(j % 7 === 0, lit("2024-03-01"))
          .when(j % 7 === 1, lit("not-a-date"))
          .otherwise(lit("2024-03-01 06:00:00"))
          .as("valid_from_raw"),
        when(j % 13 === 0, lit("2024-03-05"))
          .when(j % 13 === 1, lit("never"))
          .otherwise(lit("2024-03-05 12:00:00"))
          .as("valid_to_raw"),
        when(j % 6 === 0, lit(null).cast("string"))
          .when(j % 6 === 1, lit("2024-03-02"))
          .when(j % 6 === 2, lit("junk"))
          .otherwise(lit("2024-03-02 03:00:00"))
          .as("issued_raw"),
        when(j % 8 === 0, lit(null).cast("string")).otherwise(lit("HRDPS")).as("model"),
        lit("eccc").as("source"),
        lit(null).cast("string").as("description"),
        lit(null).cast("string").as("flag")
      )
    val seriesIndex = Seq(
      (0L, 1L, 10L, 100L, "ERA5"), (1L, 2L, 10L, 100L, "HRDPS"), (2L, 3L, 20L, 200L, "HRDPA"),
      (3L, 1L, 10L, 100L, "CaLDAS"), (4L, 2L, 20L, 200L, "ERA5"),
      (5L, 1L, 10L, 100L, "ERA5"), (5L, 2L, 20L, 200L, "HRDPS"),
      (6L, 3L, 10L, 100L, "ERA5"), (7L, 1L, 20L, 200L, "HRDPS"),
      (8L, 2L, 10L, 100L, "ERA5"), (9L, 3L, 20L, 200L, "CaLDAS")
    ).toDF("raster_series_id", "parameter_id", "media_id", "matrix_state_id", "model")
    val existing = Seq(500L).toDF("reference_id")
    val out = graft.sources.RasterIngest.insertModelRasters(incoming, seriesIndex, existing)
    out.accepted
      .select(
        col("src_key"),
        lit("accepted").as("status"),
        col("reference_id"),
        col("raster_series_id"),
        col("band_names_str"),
        col("units_str"),
        unix_micros(col("valid_from")).as("from_us"),
        unix_micros(col("valid_to")).as("to_us"),
        unix_micros(col("issued")).as("issued_us"),
        col("model"),
        col("parameter_id")
      )
      .unionByName(
        out.rejects.select(
          col("src_key"),
          col("reject_reason").as("status"),
          lit(null).cast("long").as("reference_id"),
          lit(null).cast("long").as("raster_series_id"),
          lit(null).cast("string").as("band_names_str"),
          lit(null).cast("string").as("units_str"),
          lit(null).cast("long").as("from_us"),
          lit(null).cast("long").as("to_us"),
          lit(null).cast("long").as("issued_us"),
          lit(null).cast("string").as("model"),
          lit(null).cast("long").as("parameter_id")
        )
      )
      .orderBy(col("src_key"))
  }

  private val modelRasterInsertSql =
    """WITH inc AS (
      |  SELECT p_partkey AS src_key, (p_partkey // 9) % 12 AS rsid,
      |         CASE WHEN (p_partkey // 9) % 11 = 0 THEN NULL
      |              ELSE list_transform(range(1, CAST((p_partkey // 9) % 3 AS INT) + 2), i -> 'band' || i) END AS band_names,
      |         CASE WHEN (p_partkey // 9) % 5 = 0 THEN NULL
      |              WHEN (p_partkey // 9) % 5 = 1 THEN ['mm']
      |              WHEN (p_partkey // 9) % 5 = 2 THEN list_transform(range(1, CAST((p_partkey // 9) % 3 AS INT) + 2), i -> 'u' || i)
      |              WHEN (p_partkey // 9) % 5 = 3 THEN ['C', 'kPa']
      |              ELSE ['C'] END AS units,
      |         CASE WHEN (p_partkey // 9) % 7 = 0 THEN '2024-03-01'
      |              WHEN (p_partkey // 9) % 7 = 1 THEN 'not-a-date'
      |              ELSE '2024-03-01 06:00:00' END AS valid_from_raw,
      |         CASE WHEN (p_partkey // 9) % 13 = 0 THEN '2024-03-05'
      |              WHEN (p_partkey // 9) % 13 = 1 THEN 'never'
      |              ELSE '2024-03-05 12:00:00' END AS valid_to_raw,
      |         CASE WHEN (p_partkey // 9) % 6 = 0 THEN NULL
      |              WHEN (p_partkey // 9) % 6 = 1 THEN '2024-03-02'
      |              WHEN (p_partkey // 9) % 6 = 2 THEN 'junk'
      |              ELSE '2024-03-02 03:00:00' END AS issued_raw,
      |         CASE WHEN (p_partkey // 9) % 8 = 0 THEN NULL ELSE 'HRDPS' END AS model
      |  FROM part WHERE p_partkey % 9 = 0
      |), idx AS (
      |  SELECT rsid, count(*) AS idx_n,
      |         first(parameter_id) AS parameter_id, first(idx_model) AS idx_model
      |  FROM (VALUES (0, 1, 'ERA5'), (1, 2, 'HRDPS'), (2, 3, 'HRDPA'),
      |               (3, 1, 'CaLDAS'), (4, 2, 'ERA5'),
      |               (5, 1, 'ERA5'), (5, 2, 'HRDPS'),
      |               (6, 3, 'ERA5'), (7, 1, 'HRDPS'),
      |               (8, 2, 'ERA5'), (9, 3, 'CaLDAS')) AS t(rsid, parameter_id, idx_model)
      |  GROUP BY rsid
      |), coerced AS (
      |  SELECT inc.*, idx.idx_n, idx.parameter_id, idx.idx_model,
      |         CASE WHEN len(valid_from_raw) = 10
      |              THEN CAST(TRY_CAST(valid_from_raw AS DATE) AS TIMESTAMP)
      |              ELSE TRY_CAST(valid_from_raw AS TIMESTAMP) END AS c_from,
      |         CASE WHEN len(valid_to_raw) = 10
      |              THEN CAST(TRY_CAST(valid_to_raw AS DATE) AS TIMESTAMP) + to_microseconds(86399640000)
      |              ELSE TRY_CAST(valid_to_raw AS TIMESTAMP) END AS c_to,
      |         CASE WHEN len(issued_raw) = 10
      |              THEN CAST(TRY_CAST(issued_raw AS DATE) AS TIMESTAMP) + to_microseconds(86399640000)
      |              ELSE TRY_CAST(issued_raw AS TIMESTAMP) END AS c_issued,
      |         len(band_names) AS n_bands
      |  FROM inc LEFT JOIN idx ON idx.rsid = inc.rsid
      |), gated AS (
      |  SELECT *,
      |         CASE WHEN band_names IS NULL OR n_bands < 1 THEN 'missing_bands'
      |              WHEN c_from IS NULL THEN 'bad_valid_from'
      |              WHEN c_to IS NULL THEN 'bad_valid_to'
      |              WHEN issued_raw IS NOT NULL AND c_issued IS NULL THEN 'bad_issued'
      |              WHEN units IS NOT NULL AND len(units) > 1 AND len(units) <> n_bands THEN 'units_band_mismatch'
      |              WHEN idx_n IS NULL THEN 'unknown_series'
      |              WHEN idx_n > 1 THEN 'ambiguous_series'
      |         END AS reject_reason
      |  FROM coerced
      |), ids AS (
      |  SELECT *,
      |         CASE WHEN reject_reason IS NULL
      |              THEN 500 + row_number() OVER (
      |                     PARTITION BY (reject_reason IS NULL) ORDER BY src_key)
      |         END AS reference_id
      |  FROM gated
      |)
      |SELECT src_key,
      |       coalesce(reject_reason, 'accepted') AS status,
      |       reference_id,
      |       CASE WHEN reject_reason IS NULL THEN rsid END AS raster_series_id,
      |       CASE WHEN reject_reason IS NULL
      |            THEN '{{' || array_to_string(band_names, '},{') || '}}' END AS band_names_str,
      |       CASE WHEN reject_reason IS NOT NULL THEN NULL
      |            WHEN units IS NULL THEN array_to_string(list_transform(band_names, x -> ''), ', ')
      |            ELSE array_to_string(units, ', ') END AS units_str,
      |       CASE WHEN reject_reason IS NULL THEN epoch_us(c_from) END AS from_us,
      |       CASE WHEN reject_reason IS NULL THEN epoch_us(c_to) END AS to_us,
      |       CASE WHEN reject_reason IS NULL THEN epoch_us(c_issued) END AS issued_us,
      |       CASE WHEN reject_reason IS NULL THEN coalesce(model, idx_model) END AS model,
      |       CASE WHEN reject_reason IS NULL THEN CAST(parameter_id AS BIGINT) END AS parameter_id
      |FROM ids
      |ORDER BY src_key""".stripMargin

  // ---- manual raster insert (R/insertACRaster.R:28-120) ------------

  /** Every manual-path gate fires somewhere in this fixture: missing
    * bands, units-vs-band mismatch, the `32BF/32BUI/32BSI` bit-depth
    * vocabulary (case-insensitive) with an unsupported value, the
    * parse-the-data default across all three 32-bit flavors
    * (fractional -> 32BF, negative ints -> 32BSI, else 32BUI, computed
    * as ONE distributed aggregate over the cell frame), and the
    * zero-cell write failure. The `'other'` raster-type resolution and
    * ids above max(existing) follow the q_model_raster_insert fixture
    * discipline — `R/insertACRaster.R:54-88`, `R/writeRaster.R:313-321`.
    */
  private def rasterInsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = col("p_partkey")
    val j = expr("p_partkey div 7")
    val base = TestTables.part(s, d).filter(k % 7 === 0)
    val incoming = base.select(
      k.cast("long").as("src_key"),
      when(j % 11 === 0, lit(null).cast("array<string>"))
        .otherwise(
          transform(sequence(lit(1), (j % 3 + 1).cast("int")), i => concat(lit("b"), i.cast("string")))
        )
        .as("band_names"),
      when(j % 5 === 0, lit(null).cast("array<string>"))
        .when(j % 5 === 1, array(lit("mm")))
        .when(j % 5 === 2, transform(sequence(lit(1), (j % 3 + 1).cast("int")), i => concat(lit("u"), i.cast("string"))))
        .when(j % 5 === 3, array(lit("C"), lit("kPa")))
        .otherwise(array(lit("C")))
        .as("units"),
      when(j % 6 === 1, lit("32bf"))
        .when(j % 6 === 2, lit("32BUI"))
        .when(j % 6 === 3, lit("32bsi"))
        .when(j % 6 === 4, lit("64BF"))
        .as("bit_depth"),
      lit("manual upload").as("description"),
      lit(null).cast("string").as("flag"),
      when(j % 2 === 0, lit("scan")).as("source")
    )
    val cells = base
      .filter(j % 13 =!= 0) // zero-cell rasters: the write-failure gate
      .select(
        k.cast("long").as("src_key"),
        (j % 4).cast("int").as("__vclass"),
        explode(sequence(lit(0), lit(3))).as("x")
      )
      .select(
        col("src_key"),
        lit(1).as("band"),
        col("x"),
        lit(0).as("y"),
        when(col("__vclass") === 0, col("x") + 0.5)
          .when(col("__vclass") === 1, -(col("x") + 1).cast("double"))
          .when(col("__vclass") === 2, col("x").cast("double"))
          .otherwise(col("x") * 0.25)
          .as("value")
      )
    val rasterTypes = Seq((1L, "model"), (2L, "other"), (3L, "mosaic"))
      .toDF("raster_type_id", "raster_type_name")
    val existing = Seq(900L).toDF("reference_id")
    val out = graft.sources.RasterIngest.insertRasters(incoming, cells, rasterTypes, existing)
    out.accepted
      .select(
        col("src_key"),
        lit("accepted").as("status"),
        col("reference_id"),
        col("raster_type_id"),
        col("band_names_str"),
        col("units_str"),
        col("bit_depth"),
        col("terra_datatype"),
        col("source")
      )
      .unionByName(
        out.rejects.select(
          col("src_key"),
          col("reject_reason").as("status"),
          lit(null).cast("long").as("reference_id"),
          lit(null).cast("long").as("raster_type_id"),
          lit(null).cast("string").as("band_names_str"),
          lit(null).cast("string").as("units_str"),
          lit(null).cast("string").as("bit_depth"),
          lit(null).cast("string").as("terra_datatype"),
          lit(null).cast("string").as("source")
        )
      )
      .orderBy(col("src_key"))
  }

  private val rasterInsertSql =
    """WITH inc AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS src_key, (p_partkey // 7) AS j
      |  FROM part WHERE p_partkey % 7 = 0
      |), meta AS (
      |  SELECT src_key, j,
      |         CASE WHEN j % 11 = 0 THEN NULL
      |              ELSE list_transform(range(1, CAST(j % 3 AS INT) + 2), i -> 'b' || i) END AS band_names,
      |         CASE WHEN j % 5 = 0 THEN NULL
      |              WHEN j % 5 = 1 THEN ['mm']
      |              WHEN j % 5 = 2 THEN list_transform(range(1, CAST(j % 3 AS INT) + 2), i -> 'u' || i)
      |              WHEN j % 5 = 3 THEN ['C', 'kPa']
      |              ELSE ['C'] END AS units,
      |         CASE WHEN j % 6 = 1 THEN '32bf'
      |              WHEN j % 6 = 2 THEN '32BUI'
      |              WHEN j % 6 = 3 THEN '32bsi'
      |              WHEN j % 6 = 4 THEN '64BF' END AS bit_depth,
      |         CASE WHEN j % 2 = 0 THEN 'scan' END AS source
      |  FROM inc
      |), cells AS (
      |  SELECT src_key, CAST(t.range AS INT) AS x,
      |         CASE CAST(j % 4 AS INT)
      |              WHEN 0 THEN t.range + 0.5
      |              WHEN 1 THEN CAST(-(t.range + 1) AS DOUBLE)
      |              WHEN 2 THEN CAST(t.range AS DOUBLE)
      |              ELSE t.range * 0.25 END AS value
      |  FROM inc CROSS JOIN range(0, 4) t
      |  WHERE j % 13 <> 0
      |), stats AS (
      |  SELECT src_key, count(*) AS n_cells, min(value) AS min_v,
      |         max(CASE WHEN value <> floor(value) THEN 1 ELSE 0 END) AS has_frac
      |  FROM cells GROUP BY src_key
      |), gated AS (
      |  SELECT m.*, s.n_cells, s.min_v, s.has_frac,
      |         upper(trim(m.bit_depth)) AS bd_up,
      |         CASE WHEN m.band_names IS NULL OR len(m.band_names) < 1 THEN 'missing_bands'
      |              WHEN m.units IS NOT NULL AND len(m.units) > 1
      |                   AND len(m.units) <> len(m.band_names) THEN 'units_band_mismatch'
      |              WHEN m.bit_depth IS NOT NULL
      |                   AND upper(trim(m.bit_depth)) NOT IN ('32BF','32BUI','32BSI')
      |                   THEN 'unsupported_bit_depth'
      |              WHEN s.n_cells IS NULL OR s.n_cells = 0 THEN 'empty_raster'
      |         END AS reject_reason
      |  FROM meta m LEFT JOIN stats s USING (src_key)
      |), ids AS (
      |  SELECT *,
      |         CASE WHEN reject_reason IS NULL
      |              THEN 900 + row_number() OVER (
      |                     PARTITION BY (reject_reason IS NULL) ORDER BY src_key)
      |         END AS reference_id,
      |         CASE WHEN reject_reason IS NULL
      |              THEN coalesce(bd_up,
      |                     CASE WHEN has_frac = 1 THEN '32BF'
      |                          WHEN min_v < 0 THEN '32BSI'
      |                          ELSE '32BUI' END)
      |         END AS bd_res
      |  FROM gated
      |)
      |SELECT src_key,
      |       coalesce(reject_reason, 'accepted') AS status,
      |       CAST(reference_id AS BIGINT) AS reference_id,
      |       CASE WHEN reject_reason IS NULL THEN CAST(2 AS BIGINT) END AS raster_type_id,
      |       CASE WHEN reject_reason IS NULL
      |            THEN '{{' || array_to_string(band_names, '},{') || '}}' END AS band_names_str,
      |       CASE WHEN reject_reason IS NOT NULL THEN NULL
      |            WHEN units IS NULL THEN array_to_string(list_transform(band_names, x -> ''), ', ')
      |            ELSE array_to_string(units, ', ') END AS units_str,
      |       bd_res AS bit_depth,
      |       CASE bd_res WHEN '32BF' THEN 'FLT4S'
      |                   WHEN '32BUI' THEN 'INT4U'
      |                   WHEN '32BSI' THEN 'INT4S' END AS terra_datatype,
      |       CASE WHEN reject_reason IS NULL THEN source END AS source
      |FROM ids
      |ORDER BY src_key""".stripMargin

  // ---- image SERIES registration (R/addACImageSeries.R:19-138) -----

  /** Every registration gate fires somewhere in this fixture: missing
    * start/source_fx, unknown location, invalid share_with group,
    * one-series-per-location duplicate refusal (against both existing
    * rows and within the batch), sequential id assignment above
    * max(existing), the "k: v, k: v" source_fx_args JSON round trip,
    * and the seeded first fetch that rolls back series whose fetch
    * found nothing and rewrites first_img/last_img for the rest.
    */
  private def imageSeries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.ImageIngest
    val n = TestTables.nation(s, d).select(col("n_nationkey").cast("long").as("n"))
    val base = n
      .select(col("n"), (col("n") * 10).as("src_key"))
      .unionByName(Seq((7L, 71L)).toDF("n", "src_key")) // intra-batch dup
    val incoming = base.select(
      col("src_key"),
      col("n").as("location_id"),
      when(col("n") === 1, lit(null).cast("timestamp"))
        .otherwise(timestamp_seconds(lit(1704067200L) + col("n") * 3600))
        .as("start_datetime"),
      when(col("n") === 2, lit(null).cast("string"))
        .otherwise(lit("downloadWSCImages"))
        .as("source_fx"),
      concat(lit("camera: cam"), col("n").cast("string"), lit(", path: a:b"))
        .as("source_fx_args"),
      when(col("n").isin(5, 10), array(lit("badgroup")))
        .otherwise(array(lit("public_reader")))
        .as("share_with")
    )
    val locations = n.select((col("n") + 1).as("location_id")) // 1..25: location 0 unknown
    val groups = Seq("public_reader", "yg").toDF("group_name")
    val existing = Seq((5L, 4L), (9L, 6L)).toDF("img_series_id", "location_id")
    val reg = ImageIngest.registerSeries(incoming, locations, groups, existing)
    val fetched = reg.accepted
      .filter(col("location_id") % 3 =!= 0) // the rest fetch nothing -> rollback
      .select(col("img_series_id"), col("location_id"))
      .withColumn("off", explode(array(lit(60L), lit(120L))))
      .select(
        col("img_series_id"),
        timestamp_seconds(
          lit(1704067200L) + col("location_id") * 3600 + col("location_id") * col("off")
        ).as("img_ts")
      )
    val seed = ImageIngest.seedFirstFetch(reg.accepted, fetched)
    val nulls = Seq(
      lit(null).cast("long").as("img_series_id"),
      lit(null).cast("long").as("first_img_us"),
      lit(null).cast("string").as("args_json")
    )
    reg.rejects
      .select(col("location_id") +: col("reject_reason").as("status") +: nulls: _*)
      .unionByName(
        seed.rolledBack.select(
          col("location_id"),
          lit("rolled_back").as("status"),
          col("img_series_id"),
          lit(null).cast("long").as("first_img_us"),
          lit(null).cast("string").as("args_json")
        )
      )
      .unionByName(
        seed.kept.select(
          col("location_id"),
          lit("registered").as("status"),
          col("img_series_id"),
          unix_micros(col("first_img")).as("first_img_us"),
          col("source_fx_args").as("args_json")
        )
      )
      .orderBy(col("location_id"), col("status"))
  }

  private val imageSeriesSql =
    """WITH inc AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS n,
      |         CAST(n_nationkey AS BIGINT) * 10 AS src_key
      |  FROM nation
      |  UNION ALL
      |  SELECT 7, 71
      |), flags AS (
      |  SELECT n, src_key,
      |         CASE WHEN n = 1 THEN 'missing_start'
      |              WHEN n = 2 THEN 'missing_source_fx'
      |              WHEN n = 0 THEN 'unknown_location'
      |              WHEN n IN (5, 10) THEN 'bad_share_with'
      |              WHEN n IN (4, 6) THEN 'duplicate_series'
      |              WHEN src_key = 71 THEN 'duplicate_in_batch'
      |         END AS reject
      |  FROM inc
      |), accepted AS (
      |  SELECT n, 9 + row_number() OVER (ORDER BY src_key) AS img_series_id
      |  FROM flags WHERE reject IS NULL
      |)
      |SELECT location_id, status, img_series_id, first_img_us, args_json
      |FROM (
      |  SELECT n AS location_id, reject AS status,
      |         CAST(NULL AS BIGINT) AS img_series_id,
      |         CAST(NULL AS BIGINT) AS first_img_us,
      |         CAST(NULL AS VARCHAR) AS args_json
      |  FROM flags WHERE reject IS NOT NULL
      |  UNION ALL
      |  SELECT n, 'rolled_back', img_series_id, NULL, NULL
      |  FROM accepted WHERE n % 3 = 0
      |  UNION ALL
      |  SELECT n, 'registered', img_series_id,
      |         (1704067200 + n * 3600 + n * 60) * 1000000,
      |         '{"camera":"cam' || n || '","path":"a:b"}'
      |  FROM accepted WHERE n % 3 <> 0
      |)
      |ORDER BY location_id, status""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_image_series", imageSeries, Some(imageSeriesSql)),
    QueryDef("q_raster_zonal", rasterZonal, Some(rasterZonalSql)),
    QueryDef("q_raster_pyramid", rasterPyramid, Some(rasterPyramidSql)),
    QueryDef("q_raster_supersede", rasterSupersede, Some(rasterSupersedeSql)),
    QueryDef("q_image_latest", imageLatest, Some(imageLatestSql)),
    QueryDef("q_raster_series", rasterSeries, Some(rasterSeriesSql)),
    QueryDef("q_model_raster_insert", modelRasterInsert, Some(modelRasterInsertSql)),
    QueryDef("q_raster_insert", rasterInsert, Some(rasterInsertSql))
  )
}
