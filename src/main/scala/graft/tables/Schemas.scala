package graft.tables

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical, DECLARED table schemas (SURVEY §1.1/§1.2): the reference
  * versions its schema through 55 numbered migration patches; the
  * Spark build mirrors that with explicitly versioned `StructType`
  * objects — nothing is inferred.
  *
  * Type discipline (SURVEY §1.2): TIMESTAMPTZ -> TimestampType with
  * session TZ pinned UTC; NUMERIC measurement values -> DoubleType
  * (documented tradeoff; DecimalType(20,6) is the drop-in
  * alternative); INTERVAL -> LongType seconds (CalendarInterval is
  * not orderable), ISO-8601 via `graft.functions.PeriodFormat`;
  * TEXT[]/INT[] -> ArrayType; JSONB -> MapType(String,String).
  */
object Schemas {

  /** bump when any schema below changes shape (the patch-number analog) */
  val SchemaVersion = 1

  /** `continuous.timeseries` — catalog row per series
    * (`R/create_test_DB.R:722-729`).
    */
  val timeseries: StructType = StructType(
    Seq(
      StructField("timeseries_id", LongType, nullable = false),
      StructField("location_id", LongType),
      StructField("sub_location_id", LongType),
      StructField("parameter_id", LongType),
      StructField("media_id", LongType),
      StructField("aggregation_type", StringType),
      StructField("z", DoubleType),
      StructField("timeseries_type", StringType), // basic | compound
      StructField("source_fx", StringType),
      StructField("source_fx_args", MapType(StringType, StringType)),
      StructField("record_rate_seconds", LongType),
      StructField("start_datetime", TimestampType),
      StructField("end_datetime", TimestampType),
      StructField("last_new_data", TimestampType),
      StructField("active", BooleanType, nullable = false),
      StructField("share_with", ArrayType(StringType)),
      StructField("default_owner", LongType),
      StructField("sensor_priority", IntegerType),
      StructField("timezone_daily_calc", IntegerType), // hour offset
      StructField("sync_remote", BooleanType),
      StructField("publicly_visible", BooleanType)
    )
  )

  /** `continuous.measurements_continuous` (`R/create_test_DB.R:876-896`;
    * as-of columns `inst/patches/patch_43.R:690-696`). The surrogate
    * `measurement_row_id` is load-bearing: audit reconstruction keys
    * on it.
    */
  val measurements: StructType = StructType(
    Seq(
      StructField("measurement_row_id", LongType, nullable = false),
      StructField("timeseries_id", LongType, nullable = false),
      StructField("datetime", TimestampType, nullable = false),
      StructField("value", DoubleType),
      StructField("period_seconds", LongType),
      StructField("imputed", BooleanType, nullable = false),
      StructField("no_update", BooleanType, nullable = false),
      StructField("created", TimestampType),
      StructField("modified", TimestampType)
    )
  )

  /** `continuous.measurements_calculated_daily` with all-history and
    * 30-year stats (`inst/patches/patch_41.R:4129-4152`,
    * `patch_48.R:95-104`).
    */
  val calculatedDaily: StructType = {
    val statCols = Seq("max", "min", "q90", "q75", "q50", "q25", "q10", "mean")
    StructType(
      Seq(
        StructField("timeseries_id", LongType, nullable = false),
        StructField("date", DateType, nullable = false),
        StructField("value", DoubleType),
        StructField("imputed", BooleanType),
        StructField("percent_historic_range", DoubleType),
        StructField("doy_count", LongType)
      ) ++ statCols.map(c => StructField(c, DoubleType)) ++
        statCols.map(c => StructField(s"${c}_30yr", DoubleType)) :+
        StructField("percent_historic_range_30yr", DoubleType) :+
        StructField("doy_count_30yr", LongType)
    )
  }

  /** QC interval segments (grades/approvals/qualifiers/owners/
    * contributors/DSAs) — half-open `[start_dt, end_dt)`
    * (`inst/patches/patch_3.R`, exclusion `patch_55.R:222-267`).
    */
  val qcSegments: StructType = StructType(
    Seq(
      StructField("segment_id", LongType),
      StructField("timeseries_id", LongType, nullable = false),
      StructField("segment_type", StringType, nullable = false), // grade | approval | ...
      StructField("value", StringType, nullable = false),
      StructField("start_dt", TimestampType, nullable = false),
      StructField("end_dt", TimestampType, nullable = false)
    )
  )

  /** `continuous.corrections` (`R/create_test_DB.R:1142-1150`) — the
    * exact shape `operators.Corrections` consumes.
    */
  val corrections: StructType = StructType(
    Seq(
      StructField("correction_id", LongType, nullable = false),
      StructField("timeseries_id", LongType, nullable = false),
      StructField("start_dt", TimestampType, nullable = false),
      StructField("end_dt", TimestampType, nullable = false),
      StructField("ctype", StringType, nullable = false),
      StructField("value1", DoubleType),
      StructField("value2", DoubleType),
      StructField("window_seconds", LongType),
      StructField("equation", StringType),
      StructField("priority", IntegerType, nullable = false)
    )
  )

  /** `discrete.samples` (subset; `inst/patches/patch_11.R:814-846`). */
  val samples: StructType = StructType(
    Seq(
      StructField("sample_id", LongType, nullable = false),
      StructField("location_id", LongType),
      StructField("sub_location_id", LongType),
      StructField("media_id", LongType),
      StructField("z", DoubleType),
      StructField("datetime", TimestampType, nullable = false),
      StructField("target_datetime", TimestampType),
      StructField("collection_method", StringType),
      StructField("sample_type", StringType),
      StructField("documents", ArrayType(LongType)),
      StructField("share_with", ArrayType(StringType)),
      StructField("import_source", StringType),
      StructField("import_source_id", StringType),
      StructField("no_update", BooleanType)
    )
  )

  /** `discrete.results` — censored values are (result NULL,
    * condition, condition_value) (`inst/patches/patch_11.R:994-1017`).
    */
  val results: StructType = StructType(
    Seq(
      StructField("result_id", LongType, nullable = false),
      StructField("sample_id", LongType, nullable = false),
      StructField("parameter_id", LongType, nullable = false),
      StructField("sample_fraction", StringType),
      StructField("result", DoubleType),
      StructField("result_condition", StringType),
      StructField("result_condition_value", DoubleType),
      StructField("result_value_type", StringType),
      StructField("protocol_method", StringType),
      StructField("laboratory", StringType),
      StructField("analysis_datetime", TimestampType),
      StructField("share_with", ArrayType(StringType)),
      StructField("no_update", BooleanType)
    )
  )

  /** `audit.*_log` — UPDATE/DELETE-only row log, old payload as a map
    * (`inst/patches/patch_37.R:2434-2693`); the shape
    * `operators.AuditAsOf` consumes after payload projection.
    */
  val auditLog: StructType = StructType(
    Seq(
      StructField("log_id", LongType, nullable = false),
      StructField("table_name", StringType, nullable = false),
      StructField("row_id", LongType, nullable = false),
      StructField("action", StringType, nullable = false), // U | D
      StructField("action_ts", TimestampType, nullable = false),
      StructField("old_payload", MapType(StringType, StringType)),
      StructField("changed_fields", ArrayType(StringType))
    )
  )

  // ---- calendar helpers --------------------------------------------

  /** `continuous.local_noon_to_utc(date, offset_hours)`
    * (`inst/patches/patch_41.R:2497-2510`): the UTC instant of local
    * noon — 12:00 local = (12 − offset) UTC. HYDAT daily means are
    * written at this instant (`R/update_hydat.R`).
    */
  def localNoonUtc(dateCol: Column, offsetHours: Column): Column =
    timestamp_seconds(
      unix_timestamp(dateCol.cast("timestamp")) + (lit(12) - offsetHours) * 3600L
    )
}
