package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main.
  *
  * Runs every registered query against `SPARK_GRAFT_SF_DIR` at
  * `local[N]`, **median-of-[[Reps]] warm timings** per query: one
  * untimed warm-up execution first, then [[Reps]] timed `count()`s.
  * Medians suppress the shared-JVM noise (GC, codegen cache churn)
  * that makes single-shot numbers swing 2-3x on unchanged code.
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated names) restricts the run
  * to a subset.
  *
  * Output:
  *   - ONE compact JSON line on stdout, printed LAST (the bench's
  *     output contract): {"metric":"total","value":N,"unit":"sec",...}
  *     — totals only; a per-query map on that line overflows a
  *     line-capturing reader and parses as null.
  *   - `BENCH_LOCAL.json` and `BENCH_LOCAL_c<cpus>.json` in the working
  *     directory: per-query min/median/max/runs plus the task-metric
  *     columns, pretty-printed. The bench is run at more than one
  *     core count; the per-count copy keeps one width's run from
  *     clobbering the other's per-query data.
  */
object Bench {

  /** Timed repetitions per query. */
  val Reps = 3

  private def fmt(d: Double): String = f"$d%.3f"

  /** One query's timed reps: wall seconds, plus the task-metric totals
    * the [[TaskMetricsListener]] saw over those reps.
    */
  final case class QueryTiming(median: Double, min: Double, max: Double, runs: Seq[Double], metrics: Map[String, Long])

  /** Accumulates executor task metrics across every task that ends
    * while registered. Snapshot deltas around a query's timed reps
    * give per-query totals of CPU time, GC time, shuffle/spill/input
    * bytes. `cpu_ns` is the steal-resistant companion to wall-clock:
    * ambient host contention inflates wall medians 2–3x on identical
    * code while actual CPU consumed stays put.
    */
  final class TaskMetricsListener extends org.apache.spark.scheduler.SparkListener {
    private val c =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    private def add(k: String, v: Long): Unit =
      c.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(v)
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        add("tasks", 1L)
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuf_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("shuf_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("spill_mem_b", m.memoryBytesSpilled)
        add("spill_disk_b", m.diskBytesSpilled)
        add("input_b", m.inputMetrics.bytesRead)
      }
    }
    def snapshot: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      c.asScala.map { case (k, v) => k -> v.get }.toMap
    }
  }

  /** Task-end events are posted async on the listener bus; drain it so
    * a snapshot delta attributes every task to the query that ran it.
    * Best-effort: a drain that times out is ignored (a missed late task
    * skews one query's bytes, never the timings).
    */
  private def drainListenerBus(spark: SparkSession): Unit =
    try org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => () }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Times one query: an untimed warm-up then `reps` timed runs, with
    * the task metrics `meter` saw over the timed runs (warm-up
    * excluded; the bus is drained at both snapshot points).
    * A query failure is a BENCH failure — it propagates with the
    * query name instead of shipping as a -1.0 row in the artifact.
    */
  def timeQuery(
      spark: SparkSession,
      sfDir: String,
      name: String,
      fn: (SparkSession, String) => DataFrame,
      reps: Int,
      meter: TaskMetricsListener
  ): QueryTiming = {
    def once(): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch {
        case e: Throwable => throw new IllegalStateException(s"bench query '$name' failed", e)
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Between executions (after the clock stops), drop the run's
    // leftover persistent RDDs: iterative queries (connected
    // components' per-round localCheckpoints) otherwise accumulate
    // blocks PER REP — resetSession only runs between queries — and
    // warmup + 3 reps of q_dedup_clusters at sf10 OOM'd a 96 GB heap
    // exactly this way. unpersist(blocking=false) is the same non-GC
    // hygiene resetSession uses (forced GC costs more than the debris).
    // Scope the unpersist to blocks CREATED during the rep: a blanket
    // sweep would also strip any localCheckpointed frame a query
    // memoized across calls (truncated lineage = unrecoverable →
    // crash on rep 2). All registered queries rebuild per call today,
    // but the instrument shouldn't depend on that.
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    def freeRepDebris(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach {
        case (id, rdd) if !preexisting.contains(id) => rdd.unpersist(blocking = false)
        case _                                      => ()
      }
    once() // warm-up: plan cache + codegen + file listing, untimed
    freeRepDebris()
    drainListenerBus(spark)
    val before = meter.snapshot
    val ts = (1 to reps.max(1)).map { _ =>
      val t = once()
      freeRepDebris()
      t
    }
    drainListenerBus(spark)
    val delta = meter.snapshot.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
    QueryTiming(median(ts), ts.min, ts.max, ts, delta)
  }

  /** Per-query hygiene: drop cached plans, leftover localCheckpoint
    * blocks and stray streaming queries so one query's debris doesn't
    * tax its successors — with 120+ queries in one JVM, accumulated
    * checkpoint blocks shift later-query timings for reasons that
    * have nothing to do with the query itself.
    *
    * Deliberately NO System.gc() here: both a bare GC (cleanup storms
    * land inside the next timed window, +13% on the suite total) and
    * GC + 400 ms settle (+8%) measured worse than the plain reset —
    * the lazy ContextCleaner debris costs less than forced cleanup.
    */
  def resetSession(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs a bench main's body and turns any failure into exit code 1.
    * A failed run's log is often kept only as its LAST lines, and
    * captures have truncated from either end, so the root-cause chain
    * is printed both before and after the stack trace. It is also
    * written to `BENCH_FAIL.txt`: a failure's stderr can die in a
    * harness pipe, but a file survives for the postmortem.
    */
  def reportingFailure(label: String)(body: => Unit): Unit =
    try body
    catch {
      case e: Throwable =>
        val chain = Iterator
          .iterate(e)(_.getCause)
          .takeWhile(_ != null)
          .map(t => s"${t.getClass.getName}: ${t.getMessage}")
          .toSeq
        def printChain(): Unit = {
          System.err.println(s"$label FAILED — root cause chain (innermost last):")
          chain.foreach(m => System.err.println(s"  $m"))
        }
        printChain()
        e.printStackTrace()
        printChain()
        try
          java.nio.file.Files.write(
            java.nio.file.Paths.get("BENCH_FAIL.txt"),
            (s"failed at ${java.time.Instant.now()}\n" + chain.mkString("\n")).getBytes("UTF-8")
          )
        catch { case _: Throwable => () }
        sys.exit(1)
    }

  def main(args: Array[String]): Unit = reportingFailure("BENCH")(run())

  /** The per-query artifact. cpu_s/run_s/gc_ms are executor task time
    * (CPU time consumed / wall inside tasks / GC) and the byte counters
    * are MB; all are PER-REP MEANS over the timed reps, so they compare
    * across rep counts.
    */
  def artifact(results: Seq[(String, QueryTiming)], reps: Int, sfDir: String): String = {
    val r = reps.max(1).toDouble
    def detail(k: String, t: QueryTiming): String = {
      val m = t.metrics
      def mb(key: String) = fmt(m.getOrElse(key, 0L) / r / 1048576.0)
      s"""    "$k": {"median": ${fmt(t.median)}, "min": ${fmt(t.min)}, "max": ${fmt(t.max)}, """ +
        s""""runs": [${t.runs.map(fmt).mkString(", ")}]""" +
        s""", "cpu_s": ${fmt(m.getOrElse("cpu_ns", 0L) / r / 1e9)}""" +
        s""", "run_s": ${fmt(m.getOrElse("run_ms", 0L) / r / 1e3)}""" +
        s""", "gc_ms": ${(m.getOrElse("gc_ms", 0L) / r).round}""" +
        s""", "tasks": ${(m.getOrElse("tasks", 0L) / r).round}""" +
        s""", "input_mb": ${mb("input_b")}, "shuf_read_mb": ${mb("shuf_read_b")}""" +
        s""", "shuf_write_mb": ${mb("shuf_write_b")}""" +
        s""", "spill_mem_mb": ${mb("spill_mem_b")}, "spill_disk_mb": ${mb("spill_disk_b")}}"""
    }
    s"""{
       |  "metric": "total_median_sec",
       |  "value": ${fmt(results.map(_._2.median).sum)},
       |  "reps": $reps,
       |  "sf": "$sfDir",
       |  "n_queries": ${results.size},
       |  "queries": {
       |${results.map { case (k, t) => detail(k, t) }.mkString(",\n")}
       |  }
       |}
       |""".stripMargin
  }

  private def writeArtifact(json: String, cpus: Int): Unit =
    Seq("BENCH_LOCAL.json", s"BENCH_LOCAL_c$cpus.json").foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f), json.getBytes("UTF-8"))
    }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val cpus = Session.cores
    val spark = Session.local(cpus)
    // warm up JVM/codegen/file listing so the first timed query isn't
    // charged session startup
    try {
      graft.tables.TestTables.events(spark, sfDir).count()
      graft.tables.TestTables.lineitem(spark, sfDir).count()
      graft.tables.TestTables.documents(spark, sfDir).count()
    } catch { case _: Throwable => }

    val queries = only match {
      case Some(sel) => SparkEntry.queries.filter { case (n, _) => sel(n) }
      case None      => SparkEntry.queries
    }

    // Sorted by name so the execution order (and each query's
    // predecessors) is stable as the registry grows: in-suite swings
    // have tracked to neighbor effects, not the queries themselves.
    // The artifact is rewritten after EVERY query: a rehearsal-scale
    // run that dies (OOM/disk) keeps its completed measurements.
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, QueryTiming)]
    val meter = new TaskMetricsListener
    spark.sparkContext.addSparkListener(meter)
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      resetSession(spark)
      results += name -> timeQuery(spark, sfDir, name, fn, Reps, meter)
      try writeArtifact(artifact(results.toSeq, Reps, sfDir), cpus)
      catch { case _: Throwable => () }
    }
    writeArtifact(artifact(results.toSeq, Reps, sfDir), cpus)
    spark.stop()
    // The driver's stdout-capture contract: ONE compact JSON line,
    // printed LAST (after spark.stop(), so no shutdown chatter can
    // follow it) and WITHOUT the per-query map. Per-query medians live
    // in BENCH_LOCAL.json.
    println(
      s"""{"metric":"total","value":${fmt(results.map(_._2.median).sum)},"unit":"sec","reps":$Reps,""" +
        s""""n_queries":${results.size},"queries_file":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    )
  }
}
