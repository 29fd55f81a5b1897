package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory. Every entry point (Bench,
  * BenchScaled, Verify, Explain, ScaleUp, the test suites) opens its
  * session here, so each session setting is stated once.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the host's cores capped at 32. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  /** A `local[cores]` session with one shuffle partition per core, the
    * clock in UTC, the engine's native functions injected for SQL
    * ([[GraftExtensions]]) and scratch state under [[TempRoots]].
    */
  def local(cores: Int): SparkSession = {
    TempRoots.initJvmScratch()
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS), which Spark 4 rejects
      // unless read as long; TestTables.events converts back.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Local-mode heartbeats can only fail falsely: executor and driver
      // share one JVM, so a heartbeat "timeout" means the process was
      // busy (a full-GC pause, every core saturated), never a lost node.
      // HeartbeatReceiver still removes the sole executor, and every
      // later job dies with "SparkContext was shut down". Tolerate an
      // hour; on a real cluster these stay at their defaults.
      .config("spark.network.timeout", "3600s")
      .config("spark.executor.heartbeatInterval", "60s")
      // ContextCleaner frees shuffle files only when the driver GCs; with
      // a large heap GC may never run, and a long multi-query session
      // keeps every query's shuffle spill on disk until it fills. Side
      // effect: DAGScheduler may log non-fatal "Failed to update
      // accumulator" ERRORs when a GC reclaims a finished query's
      // SQLMetric accumulators before its late task-end events arrive.
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.warehouse.dir", TempRoots.warehouseDir)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
