package graft.sources

import java.sql.Timestamp

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

  private val Epoch = Timestamp.valueOf("1970-01-01 00:00:00")

  /** @return the new measurement rows to append (canonical schema +
    *         timeseries_id), strictly after each series' last point
    *
    * Scale notes: the last stored point of every cataloged series is
    * read ONCE, as one groupBy(max) over the fact table collected to
    * the driver: one row per series, the same order of size as the
    * `catalog` the driver already holds. Everything per series is then
    * a driver value taken from that one snapshot:
    *  - a per-series adapter fetches from its own last point + 1 s;
    *  - a cache-sharing adapter fetches ONCE per group from the
    *    group's earliest start (`R/getNewContinuous.R:286-316`), so a
    *    million ECCC series at a thousand stations make a thousand
    *    remote calls, not a million;
    *  - the "never re-append at-or-before the last point" guard is a
    *    literal `datetime > last` filter in each series' own branch,
    *    next to its literal `timeseries_id`. It runs on the executors,
    *    so a fetched batch of any size is filtered without a join, a
    *    broadcast or a second read of the store.
    * Starts and guards come from the same collected snapshot, so a
    * store that changes while the batch is fetched cannot give a series
    * a start from one state and a guard from another.
    */
  def getNewContinuous(
      spark: SparkSession,
      catalog: Seq[SeriesConfig],
      measurements: DataFrame,
      registry: AdapterRegistry
  ): DataFrame = {
    import spark.implicits._
    val known = catalog.filter(c => registry.contains(c.sourceFx))
    // prune the fact scan to cataloged series (partition/bucket-pruned
    // under TableLayout) before aggregating
    val lastPoints: Map[Long, Timestamp] = measurements
      .filter(col("timeseries_id").isin(known.map(_.timeseriesId): _*))
      .groupBy(col("timeseries_id"))
      .agg(max(col("datetime")))
      .as[(Long, Option[Timestamp])]
      .collect()
      .collect { case (id, Some(last)) => id -> last }
      .toMap

    // the reference's `last + 1 s` (`R/getNewContinuous.R:132-136`),
    // truncated to the millisecond; a series with no stored point
    // backfills from the epoch
    def startOf(cfg: SeriesConfig): Timestamp =
      lastPoints.get(cfg.timeseriesId).fold(Epoch)(last => new Timestamp(last.getTime + 1000L))

    def normalize(fetched: DataFrame, cfg: SeriesConfig): DataFrame = {
      val guarded = lastPoints.get(cfg.timeseriesId).fold(fetched)(last => fetched.filter(col("datetime") > lit(last)))
      guarded
        .withColumn("timeseries_id", lit(cfg.timeseriesId))
        .withColumn("grade", coalesce(col("grade"), lit(cfg.defaultGrade.orNull)))
        .withColumn("approval", coalesce(col("approval"), lit(cfg.defaultApproval.orNull)))
        .withColumn(
          "period_seconds",
          coalesce(col("period_seconds"), lit(cfg.recordRateSeconds.map(Long.box).orNull))
        )
    }

    // series of a SharedFetchAdapter with equal cache keys share ONE
    // fetch from the earliest start; everything else fetches per series
    val frames = known.groupBy(_.sourceFx).toSeq.sortBy(_._1).flatMap {
      case (fx, cfgs) =>
        registry(fx) match {
          case sa: SharedFetchAdapter =>
            cfgs.groupBy(sa.cacheKey).toSeq.sortBy(_._1).flatMap { case (_, group) =>
              val shared0 = sa.fetchShared(spark, group, group.map(startOf).minBy(_.getTime))
              // barrier: N extracts must not re-run the fetch
              val shared = if (group.size > 1) shared0.localCheckpoint(false) else shared0
              group.map(cfg => normalize(sa.extract(shared, cfg), cfg))
            }
          case adapter =>
            cfgs.map(cfg => normalize(adapter.fetch(spark, cfg, startOf(cfg)), cfg))
        }
    }
    if (frames.isEmpty) spark.emptyDataFrame else frames.reduce(_.unionByName(_))
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
