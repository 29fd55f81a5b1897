package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.{AdapterRegistry, IncrementalIngest, SeriesConfig}

/** The batch ingest+derive pipeline — `dailyUpdate()`
  * (`R/dailyUpdate.R:27` in YukonWRB/AquaCache, lifecycle SURVEY
  * §3.1): fetch new points per series from the registered sources,
  * upsert into the measurement store, derive corrected values, and
  * incrementally refresh the daily + DOY statistics for exactly the
  * changed ranges.
  *
  * Execution shape: `run` itself runs the jobs that touch the
  * sources. It reads each series' last stored point once (see
  * [[IncrementalIngest.getNewContinuous]]), and materializes three
  * small frames with eager `localCheckpoint`s: the fetched, guarded
  * and key-deduplicated batch (`appended`, one night's rows), its
  * changed ranges (one row per touched series), and the daily rows of
  * exactly the changed local days, aggregated from the upserted store.
  * Every `Result` frame is built on those: `measurements` is the stored
  * rows upserted with `appended`, and `daily` is the daily base with
  * the recomputed days merged in. So the store write, the daily write
  * and [[refreshDoyStats]] scan the stores and the checkpoints, never a
  * source, and all of them see the one batch `run` fetched. Step 3 is
  * map-side (a broadcast of the correction table, which is read once).
  * Step 4 scans the whole measurement store once: the changed ranges
  * reach it as joined columns, not as a filter the parquet scan can
  * prune with, and the rows outside the changed local days are dropped
  * after the join. Nothing aggregates beyond the changed days.
  *
  * Every job `run` launches, AQE stage jobs included, is described as
  * `DailyUpdate › fetch` (step 1) or `DailyUpdate › refresh` (steps
  * 2-4), and the caller's job description is restored on return.
  *
  * The checkpoint blocks live in the executors' block managers until
  * the `Result` frames become unreachable, when Spark's
  * `ContextCleaner` drops them; nothing is `cache()`d, so nothing
  * needs unpersisting. Cluster trade-off: a local checkpoint is
  * neither replicated nor recomputable from its source, so losing an
  * executor that holds its blocks fails the cycle's writes instead of
  * silently re-fetching a remote batch that may have changed since.
  * Rerunning the cycle is safe: its watermark comes from the store.
  */
object DailyUpdate {

  final case class Result(
      appended: DataFrame,
      measurements: DataFrame,
      corrected: DataFrame,
      daily: DataFrame,
      changedRanges: DataFrame,
      /** QC segment upserts/deletes from this batch's grade/approval
        * observations (None when no segment store was passed)
        */
      qcChanges: Option[DataFrame] = None
  )

  /** @param catalog     active series configs (source_fx dispatch,
    *                     defaults, agg types via `aggTypes`)
    * @param measurements current measurement store
    * @param dailyBase    current daily table (refreshed incrementally)
    * @param corrections  correction dimension (may be empty)
    * @param aggTypes     per-series (agg_type, offset_hours)
    */
  def run(
      spark: SparkSession,
      catalog: Seq[SeriesConfig],
      measurements: DataFrame,
      dailyBase: DataFrame,
      corrections: DataFrame,
      registry: AdapterRegistry,
      aggTypes: Map[Long, (String, Int)],
      /** existing QC segment store (series_id, stream, id, value,
        * start_dt, end_dt) — enables the reference's per-batch
        * `adjust_grade`/`adjust_approval` step
        */
      qcSegments: Option[DataFrame] = None
  ): Result = {
    val keys = Seq("timeseries_id", "datetime")
    // 1. incremental fetch (one last-point read per cycle), read from
    // the sources exactly once and deduplicated on the store key, so
    // nothing downstream shuffles the batch again
    val appended = phase(spark, "fetch") {
      Upsert
        .dedupe(
          IncrementalIngest
            .getNewContinuous(spark, catalog, measurements, registry)
            .select("timeseries_id", "datetime", "value", "period_seconds", "grade", "approval"),
          keys
        )
        .localCheckpoint()
    }

    phase(spark, "refresh") {
      // 2. upsert into the store (conflict on (series, datetime): new wins)
      val merged = Upsert.merge(
        measurements.select("timeseries_id", "datetime", "value", "period_seconds"),
        appended,
        keys,
        Upsert.DoUpdate
      )

      // 2b. QC segment adjustment (`R/getNewContinuous.R:577-593`): the
      // batch's grade/approval observations become RLE segments and
      // reconcile against the store per (series, stream)
      val qcChanges = qcSegments.map(store => adjustQcFromBatch(appended, store))

      // 3. corrected values (broadcast fold; pass-through when empty)
      val corrected = Corrections(merged, corrections)

      // 4. changed ranges -> bounded daily recompute
      val (changes, daily) =
        refreshDaily(corrected.withColumn("value", col("corrected")), appended, dailyBase, aggTypes)

      Result(appended, merged, corrected, daily, changes, qcChanges)
    }
  }

  /** Runs `body` with every Spark job it launches, AQE stage jobs
    * included, described as `DailyUpdate › <name>`; the caller's job
    * description is restored afterwards.
    */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description") // what setJobDescription sets
    sc.setJobDescription(s"DailyUpdate › $name")
    try body
    finally sc.setJobDescription(caller)
  }

  /** The bounded daily refresh after a batch lands in `store`: the
    * batch's changed ranges, and `dailyBase` with exactly the changed
    * local days recomputed from `store`. The ranges and the recomputed
    * days are local checkpoints, so the writes downstream read them
    * instead of re-running the store scan behind them.
    *
    * @return (changed ranges, refreshed daily table)
    */
  private[jobs] def refreshDaily(
      store: DataFrame,
      batch: DataFrame,
      dailyBase: DataFrame,
      aggTypes: Map[Long, (String, Int)]
  ): (DataFrame, DataFrame) = {
    val changes = IncrementalIngest.changedRanges(batch).localCheckpoint()
    val aggMap = typedLit(aggTypes.map { case (k, v) => k -> v._1 })
    val offMap = typedLit(aggTypes.map { case (k, v) => k -> v._2 })
    val withMeta = store
      .withColumn("agg_type", coalesce(aggMap(col("timeseries_id")), lit("mean")))
      .withColumn("offset_hours", coalesce(offMap(col("timeseries_id")), lit(0)))
    val recomputed = IncrementalDaily.recompute(withMeta, changes).localCheckpoint()
    (changes, IncrementalDaily.mergeInto(dailyBase, recomputed))
  }

  /** Per-QC-dimension RLE segments from the batch's point
    * observations, reconciled against the existing store. The final
    * open segment closes one second after its last observation
    * (half-open `[)` like the reference's exclusion constraints).
    */
  def adjustQcFromBatch(appended: DataFrame, existingSegments: DataFrame): DataFrame = {
    def segmentsOf(dim: String) =
      Segments
        .fromPoints(appended.filter(col(dim).isNotNull), Seq("timeseries_id"), "datetime", dim)
        .select(
          col("timeseries_id").as("series_id"),
          lit(dim).as("stream"),
          lit(null).cast("long").as("id"),
          col(dim).cast("string").as("value"),
          col("start_dt"),
          coalesce(col("end_dt"), col("last_dt") + expr("INTERVAL 1 SECOND")).as("end_dt")
        )
    val newSegs = segmentsOf("grade").unionByName(segmentsOf("approval"))
    SegmentAdjust.adjust(existingSegments, newSegs, streamCol = Some("stream"))
  }

  /** The media legs of the daily run — `R/dailyUpdate.R:186-232`
    * calls `getNewImages()` and `getNewRasters()` after the
    * continuous/discrete rounds. Same shape here: one image round
    * (watermark-filtered fetch, skip-existing, watermark advance) and
    * one raster round (merge with supersede, watermark advance).
    */
  final case class MediaResult(
      newImages: DataFrame,
      imageCatalog: DataFrame,
      mergedTiles: DataFrame,
      rasterCatalog: DataFrame
  )

  def runMedia(
      imageCatalog: DataFrame,
      fetchedImages: DataFrame,
      existingImages: DataFrame,
      rasterCatalog: DataFrame,
      existingTiles: DataFrame,
      fetchedTiles: DataFrame
  ): MediaResult = {
    val fresh = graft.sources.ImageIngest.newImages(imageCatalog, fetchedImages)
    val novel = graft.sources.ImageIngest.skipExisting(fresh, existingImages)
    val latest = graft.sources.ImageIngest.latestPerSeries(novel)
    val advancedImageCatalog = imageCatalog
      .join(latest.select(col("img_series_id"), col("last_img").as("__new_last")), Seq("img_series_id"), "left")
      .withColumn("last_img", coalesce(greatest(col("__new_last"), col("last_img")), col("__new_last"), col("last_img")))
      .drop("__new_last")
    val mergedTiles = graft.sources.RasterIngest.mergeFetched(existingTiles, fetchedTiles)
    val advancedRasterCatalog = graft.sources.RasterIngest.advanceWatermarks(rasterCatalog, mergedTiles)
    MediaResult(novel, advancedImageCatalog, mergedTiles, advancedRasterCatalog)
  }

  /** DOY historical stats over the refreshed daily frame, recomputed
    * only for the (series, doy) groups the changed days touch.
    */
  def refreshDoyStats(daily: DataFrame, changes: DataFrame): DataFrame = {
    val changedDays = changes.select(
      col("timeseries_id"),
      explode(
        sequence(to_date(col("range_start")), to_date(col("range_end")))
      ).as("date")
    )
    val scoped = IncrementalDaily.affectedDoyScope(daily, changedDays)
    DoyStats(
      scoped.withColumn("series_key", col("timeseries_id").cast("string")),
      seriesKey = "series_key",
      dateCol = "date",
      valueCol = "value"
    )
  }
}
