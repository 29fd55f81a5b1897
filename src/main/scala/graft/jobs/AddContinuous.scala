package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{SeriesKernels, Upsert}

/** Manual measurement insertion — `R/addNewContinuous.R:34-230`
  * (YukonWRB/AquaCache): validate the batch against the catalog
  * (series must exist and must not be a compound — compounds derive,
  * they don't accept inserts), default `imputed` to false, infer a
  * period for rows that lack one, upsert on (series, datetime) with
  * new-wins, and refresh the daily table ONLY for the touched ranges.
  * The accepted batch is materialized once, like the nightly batch of
  * [[DailyUpdate]], and the daily refresh is the same one.
  *
  * Batch-first like every gate here: the reference stops on the first
  * bad input; this classifies every row and carries the rest through.
  */
object AddContinuous {

  final case class AddResult(
      accepted: DataFrame,
      rejects: DataFrame,
      measurements: DataFrame,
      daily: DataFrame
  )

  /** @param batch   timeseries_id, datetime, value (+ optional grade/
    *                approval/qualifier/imputed)
    * @param catalog timeseries_id, timeseries_type ('basic'|'compound')
    * @param measurements current store (timeseries_id, datetime,
    *                value, period_seconds)
    * @param dailyBase current daily table
    * @param aggTypes per-series (agg_type, offset_hours)
    */
  def run(
      batch: DataFrame,
      catalog: DataFrame,
      measurements: DataFrame,
      dailyBase: DataFrame,
      aggTypes: Map[Long, (String, Int)]
  ): AddResult = {
    val cat = catalog
      .select(col("timeseries_id"), col("timeseries_type"))
      .withColumn("__known", lit(true))
    val flagged = batch
      .join(broadcast(cat), Seq("timeseries_id"), "left")
      .withColumn(
        "reject_reason",
        when(col("datetime").isNull, "missing_datetime")
          .when(col("value").isNull, "missing_value")
          .when(col("__known").isNull, "unknown_timeseries")
          .when(col("timeseries_type") === "compound", "compound_timeseries")
      )
    val rejects = flagged
      .filter(col("reject_reason").isNotNull)
      .select(col("timeseries_id"), col("datetime"), col("reject_reason"))
    val withImputed = flagged
      .filter(col("reject_reason").isNull)
      .drop("reject_reason", "__known", "timeseries_type")
      .withColumn("imputed", coalesce(col("imputed"), lit(false)))
    // period assignment for the accepted rows (calculate_period role):
    // the kernel emits (series, datetime, period) — join it back onto
    // the full rows and collapse ISO to seconds. Materialized once, so
    // the kernel runs once for the store write and the daily refresh.
    val periods = SeriesKernels.inferPeriods(withImputed, "timeseries_id", "datetime")
    val accepted = withImputed
      .join(periods, Seq("timeseries_id", "datetime"), "left")
      .withColumn("period_seconds", graft.functions.PeriodFormat.toSecondsCol(col("period")))
      .drop("period")
      .localCheckpoint()
    val merged = Upsert(
      measurements.select("timeseries_id", "datetime", "value", "period_seconds"),
      accepted.select("timeseries_id", "datetime", "value", "period_seconds"),
      keys = Seq("timeseries_id", "datetime"),
      mode = Upsert.DoUpdate
    )
    val (_, daily) = DailyUpdate.refreshDaily(merged, accepted, dailyBase, aggTypes)
    AddResult(accepted, rejects, merged, daily)
  }
}
