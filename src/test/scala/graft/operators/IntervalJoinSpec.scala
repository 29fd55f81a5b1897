package graft.operators

import graft.SparkSpec
import java.sql.Timestamp

/** `IntervalJoin.excludeIntervals` drops the points of a series that fall
  * in one of that series' half-open `[start_dt, end_dt)` segments and
  * keeps everything else.
  */
class IntervalJoinSpec extends SparkSpec {
  private def ts(s: String) = Timestamp.valueOf(s)

  test("excludeIntervals: start_dt is excluded, end_dt is kept, other series untouched") {
    import spark.implicits._
    val points = Seq(
      (1L, ts("2023-01-01 23:59:59"), 1.0), // before the segment: kept
      (1L, ts("2023-01-02 00:00:00"), 2.0), // at start_dt: dropped
      (1L, ts("2023-01-02 12:00:00"), 3.0), // inside: dropped
      (1L, ts("2023-01-03 00:00:00"), 4.0), // at end_dt: kept
      (2L, ts("2023-01-02 00:00:00"), 5.0), // another series at start_dt: kept
      (2L, ts("2023-01-02 12:00:00"), 6.0)  // another series inside: kept
    ).toDF("timeseries_id", "datetime", "value")
    val segments = Seq((1L, ts("2023-01-02 00:00:00"), ts("2023-01-03 00:00:00")))
      .toDF("timeseries_id", "start_dt", "end_dt")

    val out = IntervalJoin.excludeIntervals(points, segments)
    assert(out.columns.toSeq == points.columns.toSeq)
    val kept = out.orderBy("timeseries_id", "datetime").select("value").as[Double].collect().toList
    assert(kept == List(1.0, 4.0, 5.0, 6.0))
  }
}
