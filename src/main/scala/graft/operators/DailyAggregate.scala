package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Daily aggregation of continuous measurements with per-series
  * aggregation type and local-day bucketing.
  *
  * Mirrors the reference's daily-calc semantics
  * (`inst/patches/patch_41.R:2653-2732` in YukonWRB/AquaCache):
  *   - local day = date(datetime + timezone_daily_calc hours)
  *     (`:2659`);
  *   - per-series statistic chosen by aggregation type
  *     (CASE switch `:2689-2699`): instantaneous/mean -> mean,
  *     median -> exact median, min/max/sum, "(min+max)/2";
  *   - rows with period > 1 day are excluded from the daily calc
  *     (`:2667`);
  *   - imputed = BOOL_OR over contributing rows.
  *
  * Scale notes: one shuffle on (seriesId, day); partial aggregation is
  * map-side combined by Catalyst for min/max/sum/mean/count. Exact
  * median uses `percentile` (sort-based per group) — groups are
  * single-(series,day) so bounded (<= 86400/cadence rows), safe at any
  * table size. No window functions, no driver collection.
  */
object DailyAggregate {

  /** Local-day bucket: date of (datetime shifted by per-row offset
    * hours) — the `timezone_daily_calc` day shift
    * (`inst/patches/patch_41.R:2659`).
    */
  def localDay(datetime: Column, offsetHours: Column): Column =
    to_date(datetime + offsetHours * expr("INTERVAL '1' HOUR"))

  /** Daily aggregate where the aggregation type is itself a column
    * (per-series metadata joined in). Emits one row per
    * (keyCols, date) with the type-dispatched `value`, plus
    * n (contributing points) and imputed = bool_or. An `aggType` value
    * outside the six known types gets a NULL `value`.
    *
    * @param df columns: keyCols, datetime, value, aggType,
    *           offsetHours (int), optionally imputed, periodSeconds
    */
  def apply(
      df: DataFrame,
      keyCols: Seq[String] = Seq("timeseries_id"),
      datetime: String = "datetime",
      value: String = "value",
      aggType: String = "agg_type",
      offsetHours: String = "offset_hours"
  ): DataFrame = {
    val hasImputed = df.columns.contains("imputed")
    val hasPeriod = df.columns.contains("period_seconds")
    val base0 = df.withColumn("date", localDay(col(datetime), col(offsetHours)))
    // period > 1 day excluded, NULL period kept (patch_41.R:2667)
    val base =
      if (hasPeriod)
        base0.filter(col("period_seconds").isNull || col("period_seconds") <= lit(86400L))
      else base0
    val v = col(value)
    val imputedAgg =
      if (hasImputed) max(coalesce(col("imputed"), lit(false)))
      else lit(false)
    base
      .filter(v.isNotNull)
      .groupBy(keyCols.map(col) :+ col(aggType).as("agg_type_g") :+ col("date"): _*)
      .agg(
        avg(v).as("v_mean"),
        expr(s"percentile($value, 0.5)").as("v_median"),
        min(v).as("v_min"),
        max(v).as("v_max"),
        sum(v).as("v_sum"),
        count(v).as("n"),
        imputedAgg.as("imputed")
      )
      .withColumn(
        "value",
        when(col("agg_type_g").isin("instantaneous", "mean"), col("v_mean"))
          .when(col("agg_type_g") === "median", col("v_median"))
          .when(col("agg_type_g") === "min", col("v_min"))
          .when(col("agg_type_g") === "max", col("v_max"))
          .when(col("agg_type_g") === "sum", col("v_sum"))
          .when(col("agg_type_g") === "min_max_mean", (col("v_min") + col("v_max")) / 2.0)
      )
      .select(
        keyCols.map(col) ++ Seq(
          col("date"),
          col("agg_type_g").as(aggType),
          col("value"),
          col("n"),
          col("imputed")
        ): _*
      )
  }
}
