package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RasterSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("tileGrid/cells round-trips every cell exactly") {
    val grid = Raster.syntheticCells(spark, 20, 12)
    val back = Raster.cells(Raster.tileGrid(grid, 8, 5)) // non-divisor tile dims
    assert(back.count() == 240)
    val diff = grid
      .select("x", "y", "value")
      .except(back.select("x", "y", "value"))
    assert(diff.isEmpty, "round-trip must preserve (x, y, value) exactly")
  }

  test("tileGrid/cells round-trips across grid/tile shape combinations") {
    // divisor and non-divisor tile dims, tiles wider/taller than the
    // grid, 1-pixel tiles — every combination must be lossless
    for ((w, h, tw, th) <- Seq((16, 8, 4, 4), (17, 9, 4, 4), (5, 3, 8, 8), (7, 7, 1, 1), (20, 1, 6, 2))) {
      val grid = Raster.syntheticCells(spark, w, h)
      val back = Raster.cells(Raster.tileGrid(grid, tw, th))
      assert(back.count() == w.toLong * h, s"($w,$h,$tw,$th) cell count")
      assert(
        grid.select("x", "y", "value").except(back.select("x", "y", "value")).isEmpty,
        s"($w,$h,$tw,$th) round-trip"
      )
    }
  }

  test("tile packing is row-major and deterministic under shuffled input") {
    val grid = Raster.syntheticCells(spark, 6, 4).orderBy(rand(42)) // scramble arrival order
    val tile = Raster
      .tileGrid(grid, 6, 4)
      .select("values")
      .head()
      .getSeq[Double](0)
    val expect = for (y <- 0 until 4; x <- 0 until 6) yield ((x * 31 + y * 17) % 97) / 8.0
    assert(tile == expect)
  }

  test("tile_pack(pos, value) without a slot count fails with a descriptive error") {
    import spark.implicits._
    Seq((0, 1.0)).toDF("pos", "value").createOrReplaceTempView("tile_pack_arity")
    val e = intercept[Exception](spark.sql("SELECT tile_pack(pos, value) FROM tile_pack_arity").collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(
      chain.exists(c => c.isInstanceOf[IllegalArgumentException] && c.getMessage.contains("got 2 arguments")),
      s"expected the arity IllegalArgumentException, got $e"
    )
  }

  test("tile_pack aggregate reproduces the replaced collect_list formulation exactly") {
    import spark.implicits._
    // edge tiles on both axes (20x12 into 8x5 tiles) + NULL cell values:
    // every branch of the OLD formulation (full-tile fast path, map-
    // padding edge path, null-value passthrough) must match slot-for-slot
    val (tw, th) = (8, 5)
    val base = Raster
      .syntheticCells(spark, 20, 12)
      .withColumn("value", when(col("x") * 3 + col("y") % 7 === 4, lit(null)).otherwise(col("value")))
      .orderBy(rand(7)) // arrival order must not matter
    def key = Seq(col("series_id"), col("band"), col("issue_ts"), col("valid_ts"), col("tile_x"), col("tile_y"))
    val old = base
      .withColumn("tile_x", (col("x") / tw).cast("int"))
      .withColumn("tile_y", (col("y") / th).cast("int"))
      .withColumn("pos", (col("y") % th) * tw + (col("x") % tw))
      .groupBy(key: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("value")))).as("__p"))
      .withColumn(
        "values",
        when(size(col("__p")) === tw * th, transform(col("__p"), p => p.getField("value")))
          .otherwise(
            transform(
              sequence(lit(0), lit(tw * th - 1)),
              i => element_at(map_from_entries(col("__p")), i)
            )
          )
      )
      .select(col("tile_x"), col("tile_y"), col("values"))
    val neu = Raster.tileGrid(base, tw, th).select(col("tile_x"), col("tile_y"), col("values"))
    val oldRows = old.orderBy("tile_x", "tile_y").collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Any](2)))
    val neuRows = neu.orderBy("tile_x", "tile_y").collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Any](2)))
    assert(oldRows.length == neuRows.length && oldRows.length == 9) // 3x3 tile grid incl. partials
    oldRows.zip(neuRows).foreach { case (o, n) => assert(o == n, s"tile (${o._1},${o._2})") }
    // non-double values keep the generic path (element type follows input)
    val intCells = base.withColumn("value", col("x") + col("y"))
    val it = Raster.tileGrid(intCells, tw, th).schema("values").dataType
    assert(it == org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, true))
  }

  test("supersedeForecasts: selective keeps latest issue per tile, reanalysis exempt") {
    import spark.implicits._
    val tiles = Seq(
      // forecast series 1: two issues for the same valid hour
      (1L, "b1", "forecast", ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"), 0, 0),
      (1L, "b1", "forecast", ts("2024-01-01 12:00:00"), ts("2024-01-02 00:00:00"), 0, 0),
      // old forecast for a valid time the new issue doesn't cover: kept
      (1L, "b1", "forecast", ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"), 0, 0),
      // reanalysis series 2: one row per valid, never superseded
      (2L, "b1", "reanalysis", ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"), 0, 0),
      (2L, "b1", "reanalysis", ts("2024-01-02 00:00:00"), ts("2024-01-03 00:00:00"), 0, 0)
    ).toDF("series_id", "band", "raster_type", "issue_ts", "valid_ts", "tile_x", "tile_y")

    val selective = Raster.supersedeForecasts(tiles, "selective").orderBy("series_id", "valid_ts")
    val kept = selective.collect().map(r => (r.getLong(0), r.getTimestamp(3), r.getTimestamp(4)))
    assert(kept.length == 4)
    // the newer issue won for valid 01-02; the uncovered 01-03 forecast survived
    assert(kept.contains((1L, ts("2024-01-01 12:00:00"), ts("2024-01-02 00:00:00"))))
    assert(kept.contains((1L, ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"))))

    val none = Raster.supersedeForecasts(tiles, "none")
    // 'none' drops superseded forecasts even where not re-covered
    assert(none.filter(col("raster_type") === "forecast").count() == 1)
    assert(none.filter(col("raster_type") === "reanalysis").count() == 2)

    assert(Raster.supersedeForecasts(tiles, "all").count() == 5)
  }

  test("zonal stats over polygons matches the rectangle path on a rectangle") {
    import spark.implicits._
    val cells = Raster.syntheticCells(spark, 20, 12)
    val rect = Seq(("z1", 4, 12, 2, 9)).toDF("zone_id", "x_min", "x_max", "y_min", "y_max")
    // the same rectangle as a closed WKT ring (cell centers at +0.5)
    val poly = Seq(("z1", "POLYGON ((4 2, 12 2, 12 9, 4 9, 4 2))")).toDF("zone_id", "wkt")
    val a = Raster.zonalStats(cells, rect).select("zone_id", "n_cells", "sum_scaled").collect()
    val b = Raster.zonalStatsPolygon(cells, poly).select("zone_id", "n_cells", "sum_scaled").collect()
    assert(a.sameElements(b))
    assert(a.head.getLong(1) == 8L * 7L)
  }

  test("zonal stats keeps every cell of its zone beyond 2^53") {
    import spark.implicits._
    // ten cells fill a 10-wide zone starting at 2^53 + 18; the bucket
    // side is 10. The last cell, 2^53 + 27, rounds up to 2^53 + 28 as a
    // double, which would put it in the bucket after its zone's.
    val x0 = (1L << 53) + 18
    val cells = (0L until 10L).map(i => (x0 + i, 5L, 1.0)).toDF("x", "y", "value")
    val zones = Seq(("z1", x0, x0 + 10, 0L, 10L)).toDF("zone_id", "x_min", "x_max", "y_min", "y_max")
    val out = Raster.zonalStats(cells, zones).select("zone_id", "n_cells").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("z1", 10L)))
  }

  test("pyramidLevel means 4x4 blocks; writeTiles lays out by series/valid_date") {
    val cells = Raster.cells(Raster.tileGrid(Raster.syntheticCells(spark, 16, 8), 8, 8))
    val lvl = Raster.pyramidLevel(cells, 4)
    assert(lvl.count() == 4 * 2)
    val c00 = lvl.filter(col("x") === 0 && col("y") === 0).head()
    val expect = (for (y <- 0 until 4; x <- 0 until 4) yield ((x * 31 + y * 17) % 97).toDouble).sum / 16 / 8.0
    assert(c00.getAs[Long]("n_src") == 16L)
    assert(math.abs(c00.getAs[Double]("value") - math.rint(expect * 10000) / 10000) < 1e-9)

    // multi-level stack: factors deduped/sorted, one level per factor
    val stack = Raster.pyramids(cells, Seq(4, 2, 4))
    assert(stack.groupBy("level").count().count() == 2)
    assert(stack.filter(col("level") === 2).count() == 8 * 4)
    assertThrows[IllegalArgumentException](Raster.pyramids(cells, Seq(1)))

    val dir = java.nio.file.Files.createTempDirectory("rast").toString
    Raster.writeTiles(Raster.tileGrid(Raster.syntheticCells(spark, 16, 8), 8, 8), dir)
    val part = new java.io.File(s"$dir/series_id=1/valid_date=2024-01-02")
    assert(part.isDirectory, "partitioned tile layout series_id/valid_date")
    val readBack = spark.read.parquet(dir)
    assert(readBack.agg(sum(size(col("values")))).head().getLong(0) == 16 * 8)
  }
}
