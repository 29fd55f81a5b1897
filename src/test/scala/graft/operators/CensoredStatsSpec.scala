package graft.operators

import graft.SparkSpec

class CensoredStatsSpec extends SparkSpec {

  test("censored rows substitute DL/2; detected-only min/max; counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "zinc", Some(8.0), None: Option[String], None: Option[Double]),
      (1L, "zinc", None, Some("< DL"), Some(0.02)), // non-detect
      (1L, "zinc", Some(4.0), None, None),
      (1L, "pH", None, Some("< DL"), Some(0.1)),
      (1L, "orphan", None, None, None) // NULL without condition: dropped
    ).toDF("sample_id", "parameter", "result", "condition", "condition_value")
    val out = CensoredStats
      .summarize(df, Seq("parameter"))
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    val zinc = out("zinc")
    assert(zinc.getAs[Long]("n") == 3)
    assert(zinc.getAs[Long]("n_censored") == 1)
    assert(math.abs(zinc.getAs[Double]("mean_sub") - (8.0 + 0.01 + 4.0) / 3) < 1e-12)
    assert(zinc.getAs[Double]("min_detected") == 4.0)
    assert(zinc.getAs[Double]("max_detected") == 8.0)
    assert(zinc.getAs[Double]("max_dl") == 0.02)
    assert(out("pH").getAs[Long]("n_censored") == 1)
    assert(!out.contains("orphan"))
  }
}
