package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Changed-range incremental recompute of the daily table: only the
  * local-days covered by a changed range are re-aggregated, and only
  * those (series, normalized-doy) groups have their historical stats
  * refreshed — never the full history.
  *
  * Reference: `refresh_calculated_daily_from_ranges`
  * (`inst/patches/patch_41.R:2951-2992` in YukonWRB/AquaCache) driven
  * by statement triggers; the affected-DOY recompute mirrors
  * `:2734-2748`.
  *
  * Scale: `changes` is tiny (one row per touched series) and is
  * broadcast. [[recompute]] scans every row of `measurements`: the
  * range bounds are columns of the broadcast side, so they reach the
  * rows after the join and never become a filter a parquet scan could
  * prune files or row groups with. Only the rows of the changed local
  * days are aggregated, and the DOY stats recompute only shuffles rows
  * of AFFECTED (series, doy) groups.
  */
object IncrementalDaily {

  /** Recompute daily rows for changed ranges and merge into the
    * existing daily frame (recomputed rows win): [[mergeInto]] of
    * [[recompute]], one lazy plan.
    *
    * @param measurements canonical fact frame (timeseries_id,
    *                     datetime, value, agg_type, offset_hours, …)
    * @param dailyBase    existing daily frame (same shape as
    *                     DailyAggregate output)
    * @param changes      (timeseries_id, range_start, range_end)
    */
  def refresh(
      measurements: DataFrame,
      dailyBase: DataFrame,
      changes: DataFrame
  ): DataFrame =
    mergeInto(dailyBase, recompute(measurements, changes))

  /** The daily rows of exactly the local days the changed ranges
    * touch, aggregated from ALL of each such day's measurements.
    */
  def recompute(measurements: DataFrame, changes: DataFrame): DataFrame = {
    val c = changes
      // coarse datetime pre-filter, ±2 days: wide enough to contain
      // every row of any local day touched by the range for any
      // |offset_hours| <= 24 (applied after the join, not in the scan)
      .select(
        col("timeseries_id"),
        col("range_start"),
        col("range_end"),
        (col("range_start") - expr("INTERVAL 2 DAY")).as("scan_start"),
        (col("range_end") + expr("INTERVAL 2 DAY")).as("scan_end")
      )
    // The recompute unit is the whole LOCAL day (the reference converts
    // ranges to local dates before refreshing, patch_41.R
    // refresh_calculated_daily_from_ranges): a range edge at 06:00
    // must still recompute its edge day from ALL of that day's rows,
    // and days outside the changed local-date span must not be touched
    // (a partially scanned day would silently overwrite a correct
    // daily row with a partial-day aggregate).
    val affected = measurements
      .join(broadcast(c), Seq("timeseries_id"))
      .filter(col("datetime") >= col("scan_start") && col("datetime") <= col("scan_end"))
      .withColumn("local_date", DailyAggregate.localDay(col("datetime"), col("offset_hours")))
      .withColumn("day_lo", DailyAggregate.localDay(col("range_start"), col("offset_hours")))
      .withColumn("day_hi", DailyAggregate.localDay(col("range_end"), col("offset_hours")))
      .filter(col("local_date").between(col("day_lo"), col("day_hi")))
      .drop("scan_start", "scan_end", "range_start", "range_end", "local_date", "day_lo", "day_hi")
    DailyAggregate(affected)
  }

  /** Replace the (series, date) rows of `dailyBase` that `recomputed`
    * carries; recomputed days win over the existing rows.
    */
  def mergeInto(dailyBase: DataFrame, recomputed: DataFrame): DataFrame = {
    val keys = Seq("timeseries_id", "date")
    dailyBase
      .join(recomputed.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(recomputed)
  }

  /** Restrict a daily frame to the (series, normalized doy) groups
    * touched by the given changed day set — the input scope of the
    * affected-DOY stats recompute.
    */
  def affectedDoyScope(daily: DataFrame, changedDays: DataFrame): DataFrame = {
    val ndoy = DoyStats.normalizedDoy(col("date"))
    val affectedKeys = changedDays
      .select(col("timeseries_id"), DoyStats.normalizedDoy(col("date")).as("ndoy"))
      .distinct()
    daily
      .withColumn("ndoy", ndoy)
      .join(broadcast(affectedKeys), Seq("timeseries_id", "ndoy"), "left_semi")
      .drop("ndoy")
  }
}
