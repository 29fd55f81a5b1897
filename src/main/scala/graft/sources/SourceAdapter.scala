package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest adapter contract, mirroring the reference's `source_fx`
  * dynamic dispatch (`do.call(source_fx, args)` with
  * `start_datetime` = last DB point + 1, `R/getNewContinuous.R:469-486`
  * in YukonWRB/AquaCache): every adapter returns the canonical
  * measurement frame and is registered under its `source_fx` name.
  *
  * Canonical output schema: datetime TIMESTAMP, value DOUBLE, and
  * optional grade/approval/qualifier/owner/contributor STRING,
  * period_seconds LONG — exactly the optional columns the reference
  * accepts from adapters (`R/getNewContinuous.R:504-556`); missing
  * ones are filled with series defaults downstream.
  */
final case class SeriesConfig(
    timeseriesId: Long,
    sourceFx: String,
    /** parsed source_fx_args JSON (the reference stores jsonb) */
    args: Map[String, String],
    defaultGrade: Option[String] = None,
    defaultApproval: Option[String] = None,
    recordRateSeconds: Option[Long] = None
)

trait SourceAdapter extends Serializable {
  def name: String

  /** Fetch rows with datetime >= startTs (inclusive); adapters may
    * over-fetch — the incremental driver re-filters under its lock.
    */
  def fetch(spark: SparkSession, cfg: SeriesConfig, startTs: java.sql.Timestamp): DataFrame
}

object SourceAdapter {
  val CanonicalColumns: Seq[String] =
    Seq("datetime", "value", "grade", "approval", "qualifier", "period_seconds")

  /** Project any adapter output onto the canonical schema, adding
    * missing optional columns as nulls (default-fill happens later
    * against series metadata).
    */
  def normalize(df: DataFrame): DataFrame = {
    val withCols = CanonicalColumns.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d
      else
        d.withColumn(
          c,
          lit(null).cast(c match {
            case "datetime"       => TimestampType
            case "value"          => DoubleType
            case "period_seconds" => LongType
            case _                => StringType
          })
        )
    }
    withCols
      .select(CanonicalColumns.map(col): _*)
      .filter(col("datetime").isNotNull && col("value").isNotNull && !isnan(col("value")))
  }
}

/** Transport seam — the ONE boundary between an adapter's
  * parse/map/normalize body and where payloads physically come from.
  * The reference binds transport inside each download function
  * (`httr::GET` in `R/downloadWSC.R:83-103`, `odbc::dbConnect` in
  * `R/downloadEQWin.R:43` of YukonWRB/AquaCache); here it is a
  * constructor argument, so the fixture transport (recorded files —
  * all a zero-egress environment can run) and a future live
  * HTTP/ODBC transport share every line of adapter logic. The
  * boundary is exactly one constructor argument wide.
  */
trait Transport extends Serializable {

  /** Raw payload bytes for one URL — an HTTP GET in a live
    * transport, a local file read in the fixture transport.
    */
  def bytes(url: String): Array[Byte]

  /** Tabular payload for a locator in a given source format
    * ("csv" | "json" | "text" | "jdbc" | ...) — how a recorded
    * response file, paged API response, or remote table surfaces as
    * a DataFrame. For "jdbc" the locator is the connection URL and
    * `options` carry dbtable/driver/partitioning. A declared `schema`
    * replaces the format's inference, which for a headed CSV is a
    * Spark job per call.
    */
  def rows(
      spark: SparkSession,
      locator: String,
      format: String,
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None
  ): DataFrame
}

/** Fixture transport: locators are recorded files (or embedded-driver
  * JDBC URLs) — behaviorally the live transport minus the network
  * hop.
  */
object FileTransport extends Transport {
  override def bytes(url: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(url))

  override def rows(
      spark: SparkSession,
      locator: String,
      format: String,
      options: Map[String, String],
      schema: Option[StructType]
  ): DataFrame = {
    val unschemed = spark.read.format(format).options(options)
    val reader = schema.fold(unschemed)(s => unschemed.schema(s))
    if (format == "jdbc") reader.option("url", locator).load()
    else {
      // `load("<dir>/*.xml")` makes Spark's FileStreamSink.hasMetadata
      // stat the LITERAL glob string while probing for a streaming-sink
      // `_spark_metadata` dir; RawLocalFileSystem throws
      // FileNotFoundException, which Spark WARN-logs with the full
      // calling-thread stack and swallows (FileStreamSink.scala:58,
      // Spark 4.1.2). Benign, but the stack pollutes log captures — it
      // masqueraded as a "bench transient" for three rounds.
      //
      // A glob confined to the final path segment is expanded HERE to
      // its direct children and the explicit file list passed to
      // load(): hasMetadata then stats only real paths (silent probe),
      // the literal glob's discovery scope is preserved exactly — no
      // descent into nested subdirectories the way a
      // load(dir)+pathGlobFilter listing would, no partition-column
      // inference surprises — and an empty match stays LOUD (a
      // pathGlobFilter form returns silently-empty under a
      // user-supplied schema where the literal glob fails).
      def hasGlob(s: String) = s.exists(c => c == '*' || c == '?' || c == '[' || c == '{')
      // The expansion lists via java.nio, which only speaks the local
      // filesystem: a scheme-qualified locator (hdfs://, s3a://,
      // file:) falls through to Spark's own glob handling, and a
      // caller-supplied pathGlobFilter means the caller owns file
      // selection — expanding under it would compose two filters.
      val hasScheme = locator.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")
      val callerFilters = options.contains("pathGlobFilter")
      val slash = locator.lastIndexOf('/')
      val (dir, leaf) =
        if (slash > 0) (locator.substring(0, slash), locator.substring(slash + 1))
        else ("", locator)
      if (slash > 0 && !hasScheme && !callerFilters && hasGlob(leaf) && !hasGlob(dir)) {
        val dirPath = java.nio.file.Paths.get(dir)
        val matcher = dirPath.getFileSystem.getPathMatcher(s"glob:$leaf")
        val listing = java.nio.file.Files.list(dirPath) // missing dir throws, like the literal glob
        val matched =
          try {
            import scala.jdk.CollectionConverters._
            listing.iterator().asScala
              .filter(p => matcher.matches(p.getFileName))
              .map(_.toString)
              .toArray
              .sorted
          } finally listing.close()
        if (matched.isEmpty)
          throw new java.io.FileNotFoundException(s"no files match glob $locator")
        reader.load(matched.toIndexedSeq: _*)
      } else reader.load(locator)
    }
  }
}

/** Registry keyed by `source_fx` name — the dynamic-dispatch table. */
final class AdapterRegistry(adapters: Seq[SourceAdapter]) extends Serializable {
  private val byName: Map[String, SourceAdapter] = adapters.map(a => a.name -> a).toMap
  def apply(name: String): SourceAdapter =
    byName.getOrElse(name, throw new IllegalArgumentException(s"no adapter registered for source_fx '$name'"))
  def contains(name: String): Boolean = byName.contains(name)
}
