package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gridded-raster algebra — the Spark-native re-expression of the
  * reference's raster surface: `R/getNewRasters.R:1-541` (forecast
  * vs reanalysis ingest with `keep_forecasts` supersede),
  * `R/writeRaster.R:1-656` (tiled storage appended tile-by-tile,
  * flexible per-upload tile dims), `R/createRasterPyramids.R`
  * (downsampled overview levels).
  *
  * Model: a raster is a set of TILE rows
  * `(series_id, band, issue_ts, valid_ts, tile_x, tile_y, tile_w,
  * tile_h, values array<double>)` with `values` row-major. Tiles are
  * the parallelism unit: a 100k x 100k grid is ~40k rows of 512x512
  * tiles spread across executors, never one driver-side matrix —
  * exactly PostGIS's rast-tile layout, re-expressed relationally so
  * every op below is a plain Catalyst plan (codegen'd higher-order
  * functions; zero UDFs, zero collect).
  */
object Raster {

  val TileKey: Seq[String] = Seq("series_id", "band", "valid_ts", "tile_x", "tile_y")

  /** Pack a cell frame (series_id, band, issue_ts, valid_ts, x, y,
    * value) into row-major tiles of `tileW` x `tileH`. Cells are
    * shuffled once on the tile key; partial edge tiles are padded to
    * the full tile with nulls (PostGIS nodata convention), so
    * position i is ALWAYS cell (i % w, i / w) — deterministic
    * regardless of arrival order.
    */
  def tileGrid(cells: DataFrame, tileW: Int, tileH: Int): DataFrame = {
    val keyed = cells
      .withColumn("tile_x", (col("x") / tileW).cast("int"))
      .withColumn("tile_y", (col("y") / tileH).cast("int"))
      .withColumn(
        "pos",
        (col("y") % tileH) * tileW + (col("x") % tileW)
      )
    val grouped = keyed
      .groupBy(col("series_id"), col("band"), col("issue_ts"), col("valid_ts"), col("tile_x"), col("tile_y"))
    val valueIsDouble =
      cells.schema.find(_.name == "value").map(_.dataType).contains(org.apache.spark.sql.types.DoubleType)
    val packed =
      if (valueIsDouble)
        // Fixed-slot positional aggregate (guide §5): one primitive
        // double buffer per tile instead of collect_list(struct) +
        // array_sort + the per-position map-padding transform on edge
        // tiles — identical output (slot = cell value, padding NULL),
        // see graft.functions.TilePack for the contract proof.
        grouped.agg(
          graft.functions.TilePack
            .of(col("pos").cast("int"), col("value"), tileW * tileH)
            .as("values")
        )
      else
        // non-double cell values (no current caller): keep the generic
        // composable form whose element type follows the input
        grouped
          .agg(array_sort(collect_list(struct(col("pos"), col("value")))).as("__p"))
          .withColumn(
            "values",
            // Full tiles (all but the edge row/column): the pos-sorted
            // pairs ARE the dense row-major array — O(n). Partial edge
            // tiles take the map-padding path; its per-position map lookup
            // is linear, but only O(edge) tiles pay it.
            when(
              size(col("__p")) === tileW * tileH,
              transform(col("__p"), p => p.getField("value"))
            ).otherwise(
              transform(
                sequence(lit(0), lit(tileW * tileH - 1)),
                i => element_at(map_from_entries(col("__p")), i)
              )
            )
          )
          .drop("__p")
    packed
      .withColumn("tile_w", lit(tileW))
      .withColumn("tile_h", lit(tileH))
  }

  /** Unpack tiles back to cells. Inverse of [[tileGrid]]:
    * `x = tile_x*tile_w + pos % tile_w`, `y = tile_y*tile_h + pos / tile_w`.
    */
  def cells(tiles: DataFrame): DataFrame =
    tiles
      .select(
        col("series_id"),
        col("band"),
        col("issue_ts"),
        col("valid_ts"),
        col("tile_x"),
        col("tile_y"),
        col("tile_w"),
        col("tile_h"),
        posexplode(col("values")).as(Seq("pos", "value"))
      )
      .filter(col("value").isNotNull) // nodata padding of partial edge tiles
      .withColumn("x", col("tile_x") * col("tile_w") + col("pos") % col("tile_w"))
      .withColumn("y", col("tile_y") * col("tile_h") + (col("pos") / col("tile_w")).cast("int"))
      .drop("pos", "tile_w", "tile_h")

  /** The `keep_forecasts` supersede of `getNewRasters.R`:
    *
    *   - "selective": per (series, band, valid_ts, tile), keep the
    *     raster of the LATEST issue — an old forecast survives only
    *     where no newer forecast covers its valid time;
    *   - "all": keep every (issue, valid) combination;
    *   - "none": keep only tiles of each series' newest issue —
    *     superseded forecasts are dropped even for valid times the
    *     new issue doesn't cover.
    *
    * Reanalysis series (`raster_type != 'forecast'`) are exempt: they
    * have one issue per valid time by construction and are appended
    * incrementally by end_datetime.
    *
    * One window over the tile key — a single hash shuffle; with the
    * store partitioned by (series, valid date), AQE coalesces this to
    * partition-local work at any scale.
    */
  def supersedeForecasts(tiles: DataFrame, mode: String): DataFrame = {
    require(Seq("selective", "all", "none").contains(mode), s"bad keep_forecasts mode: $mode")
    val isForecast = col("raster_type") === "forecast"
    mode match {
      case "all" => tiles
      case "selective" =>
        val w = Window
          .partitionBy(TileKey.map(col): _*)
          .orderBy(col("issue_ts").desc)
        tiles
          .withColumn("__rk", when(isForecast, row_number().over(w)).otherwise(lit(1)))
          .filter(col("__rk") === 1)
          .drop("__rk")
      case "none" =>
        tiles
          .withColumn("__mx", when(isForecast, max(col("issue_ts")).over(Window.partitionBy(col("series_id"), col("band")))).otherwise(col("issue_ts")))
          .filter(col("issue_ts") === col("__mx"))
          .drop("__mx")
    }
  }

  /** Zonal statistics over rectangular zones
    * (zone_id, x_min, x_max, y_min, y_max; max exclusive). Zones are a
    * small dim — broadcast, so the cell side never shuffles before the
    * final per-zone aggregation. Sums are kept on the integer-scaled
    * value (`scale` decimal digits) so the result is bit-identical
    * across engines and partitionings.
    */
  def zonalStats(cellsDf: DataFrame, zones: DataFrame, scale: Int = 4): DataFrame = {
    val m = math.pow(10, scale)
    val boxPred = col("x") >= col("x_min") && col("x") < col("x_max") &&
      col("y") >= col("y_min") && col("y") < col("y_max")
    // Grid-bucket equi-join instead of a pure-theta broadcast join:
    // the box predicate alone plans as BroadcastNestedLoopJoin,
    // which evaluates the 4-comparison condition INTERPRETED for every
    // (cell, zone) pair — n_cells x n_zones evals, the dominant CPU of
    // the zonal row (~10 task-CPU-seconds at gate SF). Exploding each
    // zone into the fixed-grid buckets its box intersects and
    // equi-joining on the cell's bucket turns it into a codegen'd
    // BroadcastHashJoin probing only zones that overlap the cell's
    // bucket, with the SAME box predicate kept as the join residual —
    // pair set provably identical (a passing pair's cell bucket always
    // intersects the zone box; one bucket row per (zone row, bucket)
    // means no duplicates). Bucket size is derived from the zone
    // extents driver-side — zones are a broadcast-small dim BY
    // CONTRACT (the collect is bounded the same way the broadcast is),
    // and the doubling loop caps the exploded index at 4096 rows, so a
    // continent-sized zone costs 4 bucket rows, never grid/B².
    val ext = zones
      .select(
        col("zone_id"),
        col("x_min").cast("long"),
        col("x_max").cast("long"),
        col("y_min").cast("long"),
        col("y_max").cast("long")
      )
      .collect()
    // NULL extents behave like the old theta join: the predicate can
    // never pass, so such zones contribute nothing either way. zone_id
    // nullability is NOT part of this filter — a null-keyed zone with
    // valid extents still joins and groups under the null key.
    val nonEmpty =
      ext.filter(r =>
        !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3) && !r.isNullAt(4) &&
          r.getLong(2) > r.getLong(1) && r.getLong(4) > r.getLong(3)
      )
    if (nonEmpty.isEmpty)
      // no zone can match any cell: keep the trivial (empty) plan
      return cellsDf
        .join(broadcast(zones), boxPred)
        .groupBy(col("zone_id"))
        .agg(
          count(lit(1)).as("n_cells"),
          sum(round(col("value") * m).cast("long")).as("sum_scaled"),
          min(col("value")).as("min_val"),
          max(col("value")).as("max_val")
        )
        .withColumn("mean_val", round(col("sum_scaled") / m / col("n_cells"), scale))

    def fdiv(a: Long, b: Long): Long = Math.floorDiv(a, b)
    def bucketRows(b: Long): Long =
      nonEmpty.iterator.map { r =>
        (fdiv(r.getLong(2) - 1, b) - fdiv(r.getLong(1), b) + 1) *
          (fdiv(r.getLong(4) - 1, b) - fdiv(r.getLong(3), b) + 1)
      }.sum
    var b = nonEmpty.iterator
      .map(r => math.max(1L, math.min(r.getLong(2) - r.getLong(1), r.getLong(4) - r.getLong(3))))
      .min
    while (bucketRows(b) > 4096) b *= 2

    // floor-division bucket on BOTH sides (negative-coordinate safe):
    // exact long division, the same as fdiv, so beyond 2^53 a cell never
    // lands in the bucket next to its zone's
    def bLong(c: Column): Column = {
      val v = c.cast("long")
      call_function("div", v, lit(b)) - when(v % b < 0, 1L).otherwise(0L)
    }

    val integralExtents = Seq("x_min", "x_max", "y_min", "y_max").forall { n =>
      zones.schema.find(_.name == n).map(_.dataType).exists {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
          true
        case _ => false
      }
    }
    val joined =
      if (integralExtents) {
        // The bucket index is built DRIVER-SIDE from the rows the bucket
        // sizing already collected: zones is scanned exactly once
        // per evaluation, the exploded-sequence projection disappears,
        // and the broadcast side is a LocalTableScan — built in the
        // driver without a job, so the plan the probe sees is the same
        // every rep (re-deriving the bucket side from a second zones
        // scan + two explodes per call measured one 62.8 s / ~126
        // CPU-s outlier rep at gate SF).
        // With integral extents the long-cast residual predicate below
        // is value-identical to the original-column box predicate.
        val bucketRowsLocal = nonEmpty.toSeq.flatMap { r =>
          val (x0, x1, y0, y1) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
          for {
            bx <- fdiv(x0, b) to fdiv(x1 - 1, b)
            by <- fdiv(y0, b) to fdiv(y1 - 1, b)
          } yield org.apache.spark.sql.Row(bx, by, r.get(0), x0, x1, y0, y1)
        }
        val zidType = zones.schema.find(_.name == "zone_id").map(_.dataType).get
        val bucketSchema = org.apache.spark.sql.types.StructType(
          Seq(
            org.apache.spark.sql.types.StructField("__bx", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("__by", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("zone_id", zidType),
            org.apache.spark.sql.types.StructField("x_min", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("x_max", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("y_min", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("y_max", org.apache.spark.sql.types.LongType)
          )
        )
        import scala.jdk.CollectionConverters._
        val zoneBuckets =
          zones.sparkSession.createDataFrame(bucketRowsLocal.asJava, bucketSchema)
        cellsDf
          .withColumn("__bx", bLong(col("x")))
          .withColumn("__by", bLong(col("y")))
          .join(broadcast(zoneBuckets), Seq("__bx", "__by"))
          .filter(boxPred)
      } else {
        // non-integral extents: the long-cast residual would change the
        // box predicate (truncation), so keep the exploded-scan form
        // whose residual runs on the original zone columns
        val zoneBuckets = zones
          .filter(col("x_max") > col("x_min") && col("y_max") > col("y_min"))
          .withColumn("__bx", explode(sequence(bLong(col("x_min")), bLong(col("x_max") - 1))))
          .withColumn("__by", explode(sequence(bLong(col("y_min")), bLong(col("y_max") - 1))))
        cellsDf
          .withColumn("__bx", bLong(col("x")))
          .withColumn("__by", bLong(col("y")))
          .join(broadcast(zoneBuckets), Seq("__bx", "__by"))
          .filter(boxPred)
      }
    joined
      .groupBy(col("zone_id"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(round(col("value") * m).cast("long")).as("sum_scaled"),
        min(col("value")).as("min_val"),
        max(col("value")).as("max_val")
      )
      .withColumn("mean_val", round(col("sum_scaled") / m / col("n_cells"), scale))
  }

  /** Zonal statistics over polygon zones (zone_id, wkt POLYGON):
    * ray-cast containment on cell centers via the codegen'd
    * higher-order-function expression — no UDF, no geometry library.
    */
  def zonalStatsPolygon(cellsDf: DataFrame, zones: DataFrame, scale: Int = 4): DataFrame = {
    val m = math.pow(10, scale)
    val z = zones.select(
      col("zone_id"),
      graft.functions.Spatial.wktPolygonVertices(col("wkt")).as("__ring")
    )
    cellsDf
      .join(
        broadcast(z),
        graft.functions.Spatial.pointInPolygon(
          col("x").cast("double") + 0.5,
          col("y").cast("double") + 0.5,
          col("__ring")
        )
      )
      .groupBy(col("zone_id"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(round(col("value") * m).cast("long")).as("sum_scaled"),
        min(col("value")).as("min_val"),
        max(col("value")).as("max_val")
      )
      .withColumn("mean_val", round(col("sum_scaled") / m / col("n_cells"), scale))
  }

  /** One overview level (`createRasterPyramids`): mean-downsample by
    * `factor` in both axes. Cell-level groupBy — one shuffle on the
    * (coarse x, coarse y) key; chain for a full pyramid. Integer-scaled
    * sum for cross-engine determinism.
    */
  def pyramidLevel(cellsDf: DataFrame, factor: Int, scale: Int = 4): DataFrame = {
    val m = math.pow(10, scale)
    cellsDf
      .groupBy(
        col("series_id"),
        col("band"),
        col("issue_ts"),
        col("valid_ts"),
        (col("x") / factor).cast("int").as("x"),
        (col("y") / factor).cast("int").as("y")
      )
      .agg(
        count(lit(1)).as("n_src"),
        sum(round(col("value") * m).cast("long")).as("sum_scaled")
      )
      .withColumn("value", round(col("sum_scaled") / m / col("n_src"), scale))
      .drop("sum_scaled")
  }

  /** Full overview stack (`createRasterPyramids.R:20-46`): one level
    * per factor, sorted/deduped, each > 1 — all levels computed from
    * the SAME base cell frame in one plan (Spark reuses the scan), a
    * `level` column distinguishing them.
    */
  def pyramids(cellsDf: DataFrame, factors: Seq[Int], scale: Int = 4): DataFrame = {
    require(factors.nonEmpty && factors.forall(_ > 1), "factors must be > 1")
    factors.distinct.sorted
      .map(f => pyramidLevel(cellsDf, f, scale).withColumn("level", lit(f)))
      .reduce(_ unionByName _)
  }

  /** Raster writer sink — the `writeRaster.R` role re-expressed as a
    * partitioned columnar layout: tiles appended under
    * `series_id / valid_date`, so a read of one model run touches one
    * directory and partition pruning does the rest. Append-only like
    * the reference's tile inserts; supersede logic runs at read time
    * or in compaction.
    */
  def writeTiles(tiles: DataFrame, path: String): Unit =
    tiles
      .withColumn("valid_date", to_date(col("valid_ts")))
      .repartition(col("series_id"), col("valid_date"))
      // spatial locality inside each file: a bounding-box read skips
      // whole row groups on the (tile_y, tile_x) min/max stats
      .sortWithinPartitions(col("band"), col("tile_y"), col("tile_x"))
      .write
      .mode("append")
      .partitionBy("series_id", "valid_date")
      .parquet(path)

  /** Deterministic synthetic grid used by specs and oracle queries:
    * value(x, y) = ((31x + 17y) mod 97) / 8 — exact in binary floating
    * point, so every engine computes bit-identical cells.
    */
  def syntheticCells(spark: org.apache.spark.sql.SparkSession, width: Int, height: Int): DataFrame =
    spark
      .range(width.toLong * height)
      .select(
        lit(1L).as("series_id"),
        lit("b1").as("band"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("issue_ts"),
        lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")).as("valid_ts"),
        (col("id") % width).cast("int").as("x"),
        (col("id") / width).cast("int").as("y"),
        (((col("id") % width) * 31 + (col("id") / width).cast("long") * 17) % 97 / lit(8.0)).as("value")
      )
}
