package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental "new data since last point" ingest driver —
  * `getNewContinuous` (`R/getNewContinuous.R:31` in
  * YukonWRB/AquaCache): per active series, find the last stored
  * point, dispatch the registered `source_fx` adapter from
  * last + 1 second, validate/filter, default-fill, and append.
  *
  * Spark shape: the catalog is metadata (driver-side loop over
  * series, like the reference's worker pool); each adapter returns a
  * DataFrame and the union is ONE append job. Last-point lookup is a
  * single groupBy(max) over the fact table — partition-pruned when
  * the table is partitioned by series bucket. Per-series writer
  * exclusivity comes from shuffle-by-key (SURVEY §2.10): one task
  * owns one series' rows.
  */
object IncrementalIngest {

  private val Epoch = java.sql.Timestamp.valueOf("1970-01-01 00:00:00")

  /** @return the new measurement rows to append (canonical schema +
    *         timeseries_id), strictly after each series' last point
    *
    * Scale notes: the dispatch worklist is a DATAFRAME — catalog ids
    * joined to the last-point aggregate with the start timestamp
    * (`last + 1s`) computed distributed. Driver-side collection is
    * demoted to ONE collect at the Transport-seam fetch boundary,
    * where a scalar start genuinely must exist to parameterize the
    * remote call:
    * ONE ROW PER FETCH GROUP for cache-sharing adapters (the scale
    * path — a million ECCC series at a thousand stations collects a
    * thousand rows), and one row per series only for adapters whose
    * protocol is inherently per-series (that driver loop is then
    * bounded by the number of remote calls, not by the catalog). The
    * correctness-critical "never re-append at-or-before the last
    * point" guard is NOT driver state — it is a distributed broadcast
    * join against the last-point frame, so a fetched batch of any
    * size is filtered executor-side.
    */
  def getNewContinuous(
      spark: SparkSession,
      catalog: Seq[SeriesConfig],
      measurements: DataFrame,
      registry: AdapterRegistry
  ): DataFrame = {
    import spark.implicits._
    val known = catalog.filter(c => registry.contains(c.sourceFx))
    val catalogIds = known.map(_.timeseriesId)
    // bounded by |worklist|: prune the fact scan to cataloged series
    // (partition/bucket-pruned under TableLayout) before aggregating
    val lastPointsDf = measurements
      .filter(col("timeseries_id").isin(catalogIds: _*))
      .groupBy(col("timeseries_id"))
      .agg(max(col("datetime")).as("last_dt"))

    // the worklist frame: (series, fx, fetch group) x start timestamp.
    // cache_key is NULL for per-series adapters; the group key of a
    // shared adapter is computed from catalog metadata (driver data
    // already — no fact-table access).
    val worklist = known
      .map { c =>
        val key = registry(c.sourceFx) match {
          case sa: SharedFetchAdapter => sa.cacheKey(c)
          case _                      => null
        }
        (c.timeseriesId, c.sourceFx, key)
      }
      .toDF("timeseries_id", "source_fx", "cache_key")
      .join(lastPointsDf, Seq("timeseries_id"), "left")
      .withColumn(
        "start_ts",
        coalesce(timestamp_millis(unix_millis(col("last_dt")) + 1000L), lit(Epoch))
      )

    // the ONE fetch-boundary collect: a row per shared GROUP (its
    // earliest start), and a row per series only where the protocol is
    // per-series (NULL cache_key keeps the series id in the key)
    val starts = worklist
      .groupBy(
        col("source_fx"),
        col("cache_key"),
        when(col("cache_key").isNull, col("timeseries_id")).as("timeseries_id")
      )
      .agg(min(col("start_ts")).as("start_ts"))
      .as[(String, Option[String], Option[Long], java.sql.Timestamp)]
      .collect()
    val groupStarts: Map[(String, String), java.sql.Timestamp] =
      starts.collect { case (fx, Some(key), _, ts) => (fx, key) -> ts }.toMap
    val seriesStarts: Map[Long, java.sql.Timestamp] =
      starts.collect { case (_, None, Some(id), ts) => id -> ts }.toMap

    def startOf(cfg: SeriesConfig): java.sql.Timestamp =
      seriesStarts.getOrElse(cfg.timeseriesId, Epoch)

    def normalize(fetched: DataFrame, cfg: SeriesConfig): DataFrame =
      fetched
        .withColumn("timeseries_id", lit(cfg.timeseriesId))
        .withColumn("grade", coalesce(col("grade"), lit(cfg.defaultGrade.orNull)))
        .withColumn("approval", coalesce(col("approval"), lit(cfg.defaultApproval.orNull)))
        .withColumn(
          "period_seconds",
          coalesce(col("period_seconds"), lit(cfg.recordRateSeconds.map(Long.box).orNull))
        )

    // cache-sharing task groups (`R/getNewContinuous.R:286-316`):
    // series of a SharedFetchAdapter with equal cache keys share ONE
    // fetch from the earliest start; everything else fetches per series
    val frames = known.groupBy(_.sourceFx).toSeq.sortBy(_._1).flatMap {
      case (fx, cfgs) =>
        registry(fx) match {
          case sa: SharedFetchAdapter =>
            cfgs.groupBy(sa.cacheKey).toSeq.sortBy(_._1).flatMap { case (key, group) =>
              val earliest = groupStarts.getOrElse((fx, key), Epoch)
              val shared0 = sa.fetchShared(spark, group, earliest)
              // barrier: N extracts must not re-run the fetch
              val shared = if (group.size > 1) shared0.localCheckpoint(false) else shared0
              group.map(cfg => normalize(sa.extract(shared, cfg), cfg))
            }
          case adapter =>
            cfgs.map(cfg => normalize(adapter.fetch(spark, cfg, startOf(cfg)), cfg))
        }
    }
    if (frames.isEmpty)
      spark.emptyDataFrame
    else {
      // re-check under the "lock" as a distributed join: never
      // re-append a row at-or-before the series' stored last point
      frames
        .reduce(_.unionByName(_))
        .join(broadcast(lastPointsDf), Seq("timeseries_id"), "left")
        .filter(col("last_dt").isNull || col("datetime") > col("last_dt"))
        .drop("last_dt")
    }
  }

  /** Changed ranges per series from an appended batch — the input of
    * the incremental daily recompute (the reference's statement
    * triggers collect exactly (tsid, min, max) of touched rows,
    * `inst/patches/patch_41.R:2951-2992`).
    */
  def changedRanges(appended: DataFrame): DataFrame =
    appended
      .groupBy(col("timeseries_id"))
      .agg(min(col("datetime")).as("range_start"), max(col("datetime")).as("range_end"))
}
