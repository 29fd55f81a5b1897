package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class DailyAggregateSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dispatches per-series aggregation type and buckets by offset local day") {
    import spark.implicits._
    val df = Seq(
      // series 1: mean, offset 0 — day 2023-01-01 has 1.0, 3.0
      (1L, ts("2023-01-01 06:00:00"), 1.0, "mean", 0, false, Some(900L)),
      (1L, ts("2023-01-01 18:00:00"), 3.0, "mean", 0, false, Some(900L)),
      // series 2: sum, offset 7 — 2023-01-01 23:00 UTC shifts to Jan 2
      (2L, ts("2023-01-01 23:00:00"), 5.0, "sum", 7, false, Some(900L)),
      (2L, ts("2023-01-02 01:00:00"), 7.0, "sum", 7, true, Some(900L)),
      // series 3: rows with period > 1 day excluded
      (3L, ts("2023-01-01 12:00:00"), 9.0, "max", 0, false, Some(172800L)),
      (3L, ts("2023-01-01 13:00:00"), 4.0, "max", 0, false, Some(86400L)),
      // series 4: median (exact, interpolated)
      (4L, ts("2023-01-01 01:00:00"), 1.0, "median", 0, false, None),
      (4L, ts("2023-01-01 02:00:00"), 2.0, "median", 0, false, None),
      (4L, ts("2023-01-01 03:00:00"), 10.0, "median", 0, false, None),
      (4L, ts("2023-01-01 04:00:00"), 20.0, "median", 0, false, None)
    ).toDF("timeseries_id", "datetime", "value", "agg_type", "offset_hours", "imputed", "period_seconds")

    val out = DailyAggregate(df)
      .select("timeseries_id", "date", "value", "n", "imputed")
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2), r.getLong(3), r.getBoolean(4)))
      .sortBy(x => (x._1, x._2))
      .toList

    assert(out == List(
      (1L, "2023-01-01", 2.0, 2L, false),
      (2L, "2023-01-02", 12.0, 2L, true), // both rows shift into Jan 2 local day; imputed OR
      (3L, "2023-01-01", 4.0, 1L, false), // 2-day-period row excluded
      (4L, "2023-01-01", 6.0, 4L, false)  // median of 1,2,10,20 = (2+10)/2
    ))
  }

  test("min_max_mean = (min+max)/2") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2023-01-01 01:00:00"), 2.0, "min_max_mean", 0),
      (1L, ts("2023-01-01 02:00:00"), 8.0, "min_max_mean", 0),
      (1L, ts("2023-01-01 03:00:00"), 5.0, "min_max_mean", 0)
    ).toDF("timeseries_id", "datetime", "value", "agg_type", "offset_hours")
    val out = DailyAggregate(df).select("value").collect().map(_.getDouble(0)).toList
    assert(out == List(5.0))
  }

  test("an unknown agg_type yields a NULL value, not an error") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2023-01-01 01:00:00"), 2.0, "mode", 0),
      (1L, ts("2023-01-01 02:00:00"), 8.0, "mode", 0)
    ).toDF("timeseries_id", "datetime", "value", "agg_type", "offset_hours")
    val out = DailyAggregate(df).select("agg_type", "value", "n").collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "mode")
    assert(out(0).isNullAt(1), "no statistic for an unknown type")
    assert(out(0).getLong(2) == 2L)
  }
}
