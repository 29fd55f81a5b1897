package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main.
  *
  * Runs every registered query against `SPARK_GRAFT_SF_DIR` at
  * `local[N]`, **median-of-R warm timings** per query (one untimed
  * warm-up execution first, then R timed repetitions; R defaults to 3,
  * override with `SPARK_GRAFT_BENCH_REPS`). Medians suppress the
  * shared-JVM noise (GC, codegen cache churn) that made single-shot
  * numbers swing 2-3x on unchanged code between rounds.
  *
  * Output:
  *   - ONE compact JSON line on stdout, printed LAST (the driver's
  *     contract): {"metric":"total","value":N,"unit":"sec",...} —
  *     totals only; round 7's 120-entry per-query map overflowed the
  *     driver's capture and parsed as null.
  *   - `BENCH_LOCAL.json` in the working directory: per-query
  *     min/median/max/runs, pretty-printed — the structured per-query
  *     numbers live here.
  *
  * Scale-rehearsal protocol (standing, round 13): the sf10 refresh
  * runs this bench over BOTH ScaleUp text legs — `caesar`
  * (duplicate-density dedup workload) and `perm` (constant-density
  * engine-scaling measurement) — and BENCH_SF10.json carries the
  * pair-family rows under both plus a calibration-normalized headline
  * (subtotal ÷ cpu_calibration single-thread) beside the raw ratio.
  * See ScaleUp's scaladoc for the rationale.
  *
  * Close-of-round protocol (standing, round 14): the builder runs this
  * bench LAST — after the round's final code change — and commits the
  * resulting BENCH_LOCAL.json plus a copy as BENCH_PREV.json (next
  * round's comparison basis). The driver's post-commit end-of-round
  * run measures a DIFFERENT session; its raw delta vs the committed
  * basis is expected to differ by host drift, which the artifact
  * self-explains: `round_over_round` quotes the raw AND the
  * calibration-normalized delta side by side.
  */
object Bench {
  private def fmt(d: Double): String = f"$d%.3f"

  /** Measurement caveats shipped INSIDE the artifact, so a reader of
    * BENCH_LOCAL.json sees them next to the numbers they qualify.
    */
  private val benchNotes: Map[String, String] = Map(
    "_task_metrics" -> ("per-query cpu_s/run_s/gc_ms/tasks/input_mb/shuf_read_mb/shuf_write_mb/" +
      "spill_mem_mb/spill_disk_mb are PER-REP MEANS of executor task metrics over the timed reps " +
      "(warm-up excluded), captured by a SparkListener with the bus drained at the snapshot " +
      "points (r15 verdict item 2). cpu_s is executor CPU actually consumed — the steal-" +
      "resistant companion to the wall medians: r16 measured a +140% raw wall-clock window whose " +
      "START calibration was healthy (0.524 vs basis 0.575), so wall medians alone cannot " +
      "separate code cost from mid-run host stalls; compare cpu_s and shuffle bytes first, " +
      "and check cpu_calibration vs cpu_calibration_end for window degradation"),
    "_round_over_round_caveat" -> ("the common-query subtotal vs the committed BENCH_PREV.json " +
      "ships INSIDE every artifact so no round-close narrative can omit it (round-10 finding). " +
      "Interpret through the bench-noise envelope: identical code measured 82.5 / 91.2 / 106.1 s " +
      "suite totals across three runs within round 11's build session alone — isolate per-query " +
      "movers in fresh JVMs before believing them (q_leakage_split / q_raster_zonal notes)"),
    "_logged_stack_classes" -> ("two classes of NON-FATAL stack traces can appear in bench " +
      "stderr and have both been root-caused; neither is a failure (rc=0, success line follows). " +
      "(1) FileStreamSink.hasMetadata FileNotFoundException on glob loads — fixed rounds 11-12 " +
      "at FileTransport.rows (q_swob_ingest note). (2) DAGScheduler 'Failed to update accumulator' " +
      "/ AccumulatorContext 'garbage collected accumulator' ERRORs: the 5-min periodic GC " +
      "(spark.cleaner.periodicGC.interval, round-8 disk-hygiene knob) reclaims SQLMetric " +
      "accumulators of COMPLETED queries while late task-completion events still reference " +
      "them; Spark logs and continues, task results unaffected. If a captured tail shows a " +
      "stack, check for the success line after it before treating it as a crash"),
    "q_swob_ingest" -> ("round 11: the three-round 'bench transient' is CAPTURED and CLOSED — " +
      "it was never a failure. Root cause: java.io.FileNotFoundException: File <fixture>/*.xml " +
      "does not exist, thrown by RawLocalFileSystem.getFileStatus on the LITERAL glob string " +
      "inside FileStreamSink.hasMetadata (Spark 4.1.2, FileStreamSink.scala:58) during every " +
      "DataFrameReader.load(glob) — Spark WARN-logs the full calling-thread stack (hence frames " +
      "through Bench.main with no Caused by:) and swallows it; every bench run was rc=0 with the " +
      "success line AFTER the stack (see BENCH_r10.json tail). Deterministic 4x per bench run, " +
      "not transient; visibility depended on the harness tail window. Fixed at the transport " +
      "layer: FileTransport.rows expands a trailing-segment glob to its direct children and " +
      "passes the explicit file list to load() (round 12; hasMetadata then stats only real " +
      "paths, scope and loud-empty-match semantics of the literal glob preserved)"),
    "_controlled_load_r12" -> ("round 12 ran the full bench ALONE on the box TWICE, 30 min " +
      "apart (no concurrent driver/oracle/test work, nice -10, 5 reps, fresh JVM each): " +
      "155-common subtotals 96.6 s then 85.9 s vs the r11 close 84.2 s — +14.7% and +2.0% on " +
      "IDENTICAL query code under the SAME controlled protocol. The first run's shift was " +
      "UNIFORM (top movers +0.3-0.4 s across 12 unrelated untouched operator families) and the " +
      "extra-reps confound was ruled out by per-rep totals FALLING across reps (107.2 -> 98.2 " +
      "s, rep1 -> rep5). Conclusion: the r9->r11 'one-way drift' is inside the host-session " +
      "envelope — controlled load alone swings 11% hour to hour, so no concurrent-load or " +
      "accumulating-state cause survives (scratch state was also moved under target/bench-tmp " +
      "this round). cpu_calibration now ships in every artifact so future rounds can SEPARATE " +
      "host speed from code cost instead of arguing it"),
    "q_bpe_encode" -> ("round-12 isolation (3 fresh JVMs x 5 reps, ml/BpeTrain untouched since " +
      "r9 per git): isolated medians 1.97/2.09/2.51 s, mins 1.72-1.87 s — the in-suite 2.03 s " +
      "sits inside its own isolation envelope; the r10 1.31 s level was a faster host session " +
      "(see _controlled_load_r12). No stable in-suite regression to bisect"),
    "q_dedup_clusters" -> ("round-12 isolation (3 fresh JVMs x 5 reps, connectedComponents " +
      "untouched this round): isolated medians 3.56/4.16/4.36 s with 3.52-4.98 s run spread — " +
      "ABOVE the in-suite 2.99 s, so the in-suite number is not anomalous and the r11-era " +
      "documented 2.0-3.1 s environmental band is RE-PINNED from measurement to 2.0-4.7 s. " +
      "The checkpoint-cadence experiment (truncate lineage every 2nd large/small-star round) " +
      "was measured and REJECTED in round 11 — 3.76/4.19 s baseline vs 4.82 s variant, " +
      "alternating fresh JVMs at 5 reps: recomputing the skipped round's three shuffle stages " +
      "costs more than the checkpoint cycle it saves; the do-not-retry note lives at the loop " +
      "in ml/Dedup.scala"),
    "q_basin_load" -> ("round-12 isolation (3 fresh JVMs x 5 reps, sources/NhnLoader untouched " +
      "since r9 per git): isolated medians 1.56/1.92/2.13 s with 1.51-2.91 s run spread — the " +
      "in-suite 2.50 s is the unfavorable tail of this row's own envelope; level shift vs " +
      "r10's 1.67 s tracks the session slowdown (_controlled_load_r12). No stable regression"),
    "q_leakage_split" -> ("round-11 isolation (3 fresh JVMs x 5 reps, code untouched since r9 " +
      "per git): isolated medians 4.01-4.71 s with 3.2-6.2 s run spread — the in-suite " +
      "2.20->2.81 s move is inside this row's own noise envelope (it composes the minhash " +
      "pair join + iterative connected components, inheriting q_dedup_clusters' documented " +
      "2.0-3.1 s environmental band); ambient, no stable regression to bisect"),
    "q_raster_zonal" -> ("round-11 isolation (3 fresh JVMs x 5 reps, code untouched since r9 " +
      "per git): isolated medians 1.35-1.48 s, matching the r10 in-suite 1.41 s; the r9 " +
      "0.91 s was the favorable tail of the same envelope (sf1/sf10 ratios stayed in band " +
      "both rounds) — ambient, no stable regression to bisect"),
    "q_leakage_split_serve" -> ("warm reps probe the once-per-JVM persisted cluster-label " +
      "table (CorpusQueries.clusterLabelCache) — this row measures the SERVE path (label scan " +
      "+ split hash), which is its point; the per-corpus-generation label BUILD cost is the " +
      "inline q_leakage_split row, and fresh-JVM Verify exercises build+serve every round"),
    "q_import_profile" -> ("warm reps replay a once-per-JVM cached 8-row CRUD result " +
      "(IngestQueries.importLoadedCache) — this row measures the resolve/join path, not the " +
      "upsert/load chain; fresh-JVM Verify exercises the full CRUD path every round"),
    "q_add_discrete" -> ("round-10 isolation (fresh JVM, 5 reps): r9's 1.16->1.67 s move was " +
      "part refactor cost, part ambient — smallBatch=true at AddDiscrete.assignIdsAbove " +
      "recovered median 1.32->1.19 s, min 1.13->0.98 s"),
    "q_image_latest" -> ("round-10 isolation (fresh JVM, alternating A/B at 7 reps): " +
      "0.56-1.34 s spread with overlapping medians across variants — ambient session noise " +
      "dominates this row; no stable regression attributable to the SeqIds refactor"),
    "q_stream_screen" -> ("round 10: screenAgainstBandIndex partial-reduces probe candidates " +
      "per partition before the stateful shuffle (the probe join multiplies rows by per-bucket " +
      "occupancy; the old Option-boxed groupByKey path measured ~1 ms/joined row); isolated " +
      "2.64 s at sf0.1, 31.6 -> 16.8 s at sf1. Round 11: ONE micro-batch over both fixture " +
      "files (a micro-batch costs ~a query startup; alternating fresh-JVM A/B at 5 reps: " +
      "4.00-4.10 -> 3.34-3.53 s medians in a session ~1.4x slower than r10's), " +
      "oracle-identical; cross-batch state suppression remains proven by StreamingSpec")
  )

  /** Fixed CPU work (splitmix64 stream reduction) timed before any
    * query: a code-independent yardstick for the HOST's speed this
    * session, shipped inside the artifact. Rounds 9-12 each measured
    * +4-15 % on the carried subtotal with per-query isolation finding
    * no stable regression — identical code measured 82.5/91.2/106.1 s
    * suite totals within round 11's build session, and round 12's
    * controlled-load run (bench alone on the box, nice -10, 5 reps)
    * still landed +14.7 % over the r11 close — so cross-round wall
    * clock conflates host speed with code cost. This number lets the
    * next round separate them: compare subtotals AND calibrations;
    * drift that tracks the calibration is the box, drift that doesn't
    * is the code. Median of 3 after one JIT warm-up, single-thread
    * and all-cores variants (the latter also sees SMT/steal).
    */
  private def cpuCalibration(): (Double, Double) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    @volatile var sink = 0L
    def burn(iters: Long, seed: Long): Long = {
      var acc = 0L; var i = 0L
      while (i < iters) { acc ^= mix(seed + i); i += 1 }
      acc
    }
    // per-thread iteration counts sized so each timed window is
    // >= ~0.1 s — the round-12 first cut used 200M/threads and the
    // all-cores window (~6M iters, 20-50 ms) jittered +-50 %
    def timeOnce(threads: Int, perThread: Long): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { t =>
        val th = new Thread(() => sink ^= burn(perThread, t.toLong << 32))
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    val cores = Runtime.getRuntime.availableProcessors
    timeOnce(cores, 100000000L) // JIT warm-up (all cores)
    timeOnce(1, 100000000L) // JIT warm-up for the single-thread shape
    val t1 = median((1 to 3).map(_ => timeOnce(1, 400000000L)))
    val tN = median((1 to 3).map(_ => timeOnce(cores, 100000000L)))
    if (sink == 42L) System.err.println("calibration sink") // keep burn alive
    (t1, tN)
  }

  private var calibration: Option[(Double, Double)] = None
  private var calibrationEnd: Option[(Double, Double)] = None

  /** Core count of this run, for the per-run artifact filename: the
    * driver benches at two core counts, and a single mutable
    * BENCH_LOCAL.json meant the second run destroyed the first run's
    * per-query data (r16: the scaling block could never populate).
    * Every run now ALSO writes BENCH_LOCAL_c<cpus>.json.
    */
  private var cpusLabel: Option[String] = None

  /** Accumulates executor task metrics across every task that ends
    * while registered. Snapshot deltas around a query's timed reps
    * give per-query totals of CPU time, GC time, shuffle/spill/input
    * bytes — the noise adjudication rounds 13–15 argued from
    * ruled-out alternatives becomes a measurement (r15 verdict item
    * 2), and `cpu_ns` is the steal-resistant companion to wall-clock:
    * ambient host contention inflates wall medians 2–3x on identical
    * code (r16 measured +140% raw in a window whose START calibration
    * was HEALTHY) while actual CPU consumed stays put.
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
    * `listenerBus` is private[spark] — reflection, best-effort (a
    * missed late task skews one query's bytes, never the timings).
    */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(50) }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Times one query: an untimed warm-up then `reps` timed runs.
    * A query failure is a BENCH failure — it propagates with the
    * query name instead of shipping as a -1.0 row in the artifact.
    * Returns (median, min, max, runs).
    */
  def timeQuery(
      spark: SparkSession,
      sfDir: String,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      reps: Int
  ): (Double, Double, Double, Seq[Double]) =
    timeQueryMetered(spark, sfDir, name, fn, reps, None)._1

  /** [[timeQuery]] plus per-query task-metric totals over the TIMED
    * reps (warm-up excluded): with a listener, snapshots are taken
    * after the warm-up and after the last rep, bus drained at both
    * points.
    */
  def timeQueryMetered(
      spark: SparkSession,
      sfDir: String,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      reps: Int,
      listener: Option[TaskMetricsListener]
  ): ((Double, Double, Double, Seq[Double]), Map[String, Long]) = {
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
    // exactly this way (round 14). unpersist(blocking=false) is the
    // same non-GC hygiene resetSession uses (round 8: forced GC costs
    // more than the debris).
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
    val before = listener.map { l => drainListenerBus(spark); l.snapshot }
    val ts = (1 to reps.max(1)).map { _ =>
      val t = once()
      freeRepDebris()
      t
    }
    val delta = (listener, before) match {
      case (Some(l), Some(b)) =>
        drainListenerBus(spark)
        l.snapshot.map { case (k, v) => k -> (v - b.getOrElse(k, 0L)) }
      case _ => Map.empty[String, Long]
    }
    ((median(ts), ts.min, ts.max, ts), delta)
  }

  /** Per-query hygiene: drop cached plans, leftover localCheckpoint
    * blocks and stray streaming queries so one query's debris doesn't
    * tax its successors — with 120+ queries in one JVM, accumulated
    * checkpoint blocks shift later-query timings for reasons that
    * have nothing to do with the query itself.
    *
    * Deliberately NO System.gc() here: round 8 measured both a bare
    * GC (cleanup storms land inside the next timed window, +13% on
    * the carried total) and GC + 400 ms settle (+8%) against the
    * plain reset — the lazy ContextCleaner debris costs less than
    * forced cleanup ever did.
    */
  def resetSession(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The driver records only the LAST lines of a failed bench run, so
    * a failure must re-state its root cause at the very end of stderr —
    * round 6's artifact captured a mid-stack tail with no exception
    * message and the failure was undiagnosable from the artifact alone.
    */
  def main(args: Array[String]): Unit =
    try run()
    catch {
      case e: Throwable =>
        val chain = Iterator
          .iterate(e)(_.getCause)
          .takeWhile(_ != null)
          .map(t => s"${t.getClass.getName}: ${t.getMessage}")
          .toSeq
        // the chain goes out BEFORE the stack trace as well as after:
        // harness captures have truncated from either end (round 6 lost
        // the head, round 9 lost the tail mid-stack) — bracketing the
        // trace keeps the message recoverable from any one-sided capture
        System.err.println("BENCH FAILED — root cause chain (innermost last):")
        chain.foreach(m => System.err.println(s"  $m"))
        e.printStackTrace()
        System.err.println("BENCH FAILED — root cause chain (innermost last):")
        chain.foreach(m => System.err.println(s"  $m"))
        // Also persist the chain: a failure's stderr routinely dies in
        // a harness pipe (round 8 lost a transient sf1 failure this
        // way), but a file survives for the postmortem.
        try
          java.nio.file.Files.write(
            java.nio.file.Paths.get("BENCH_FAIL.txt"),
            (s"failed at ${java.time.Instant.now()}\n" + chain.mkString("\n")).getBytes("UTF-8")
          )
        catch { case _: Throwable => () }
        sys.exit(1)
    }

  /** Structured artifact: survives stdout truncation by the harness,
    * and (since it's rewritten after every query) survives a
    * mid-session crash with all completed measurements intact.
    */
  /** Per-query medians of the PREVIOUS round's artifact
    * (`BENCH_PREV.json`, committed at round close as a copy of that
    * round's `BENCH_LOCAL.json`). Parsed with a regex against our own
    * writer's fixed format — no JSON lib needed for a file we author.
    */
  private lazy val prevMedians: Map[String, Double] = {
    val p = java.nio.file.Paths.get("BENCH_PREV.json")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val re = """"(q_\w+)": \{"median": ([0-9.]+)""".r
      re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** The honest round-over-round metric this repo's bench-noise
    * discipline prescribes: the subtotal over queries present in BOTH
    * rounds (new registry entries and ambient drift otherwise read as
    * regressions). Shipped INSIDE the artifact so no round-close
    * narrative can omit it again (round 10 did).
    */
  /** The sf the previous artifact was measured at — comparing medians
    * across different SFs is meaningless, so [[roundOverRound]] only
    * fires when they match.
    */
  private lazy val prevSf: Option[String] = {
    val p = java.nio.file.Paths.get("BENCH_PREV.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      """"sf": "([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    }
  }

  /** The previous round's single-thread calibration — lets
    * [[roundOverRound]] quote a host-speed-normalized delta beside the
    * raw one, so a slow-host close run no longer reads as a 30 %
    * regression (rounds 11–13 each re-litigated exactly this).
    */
  private lazy val prevCalib: Option[Double] = {
    val p = java.nio.file.Paths.get("BENCH_PREV.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      // anchor to the cpu_calibration object: a bare key match could
      // pick up an earlier occurrence inside a note string and
      // silently mis-normalize the round-over-round delta
      """"cpu_calibration":\s*\{\s*"single_thread_sec":\s*([0-9.]+)""".r
        .findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
    }
  }

  private def roundOverRound(
      results: Seq[(String, (Double, Double, Double, Seq[Double]))],
      sfDir: String
  ): Option[String] = {
    if (prevMedians.isEmpty || !prevSf.contains(sfDir)) return None
    val common = results.filter { case (k, _) => prevMedians.contains(k) }
    if (common.isEmpty) return None
    val prev = common.map(c => prevMedians(c._1)).sum
    val now = common.map(_._2._1).sum
    val pct = (now - prev) / prev * 100.0
    // host-speed-normalized companion: scale this run's subtotal by the
    // calibration ratio before comparing (both runs' splitmix64
    // single-thread times measure the HOST, not the code)
    val normalized = for {
      pc <- prevCalib
      (t1, _) <- calibration
      if t1 > 0 && pc > 0
    } yield {
      val scaled = now * (pc / t1)
      val npct = (scaled - prev) / prev * 100.0
      // basis-quality gate (r14 lesson: a calib-0.747 close run was
      // committed as the basis against a 0.587 predecessor and r15
      // would have read a spurious -40% win): flag any close run whose
      // host speed is >10% off the basis as unfit to BECOME the basis.
      val gate =
        if (math.abs(t1 - pc) / pc > 0.10)
          f"; BASIS-QUALITY: calibration ${fmt(t1)} vs basis ${fmt(pc)} (${(t1 - pc) / pc * 100}%+.0f%%)" +
            " — re-run in a window within 10% before committing this run as BENCH_PREV"
        else ""
      f"; normalized $npct%+.1f%% (calib ${fmt(pc)} -> ${fmt(t1)} s single-thread)" + gate
    }
    Some(
      s"vs BENCH_PREV.json on ${common.size} common queries: " +
        f"${fmt(prev)} -> ${fmt(now)} s (raw $pct%+.1f%%)" + normalized.getOrElse("")
    )
  }

  /** Per-rep means of a query's task-metric totals, rendered as extra
    * JSON fields. cpu_s/run_s/gc_ms are executor task time (CPU time
    * consumed / wall inside tasks / GC); byte counters are MB. All are
    * means over the timed reps, so they compare across rep counts.
    */
  private def metricsJson(m: Map[String, Long], reps: Int): String = {
    if (m.isEmpty) return ""
    val r = reps.max(1).toDouble
    def mb(k: String) = fmt(m.getOrElse(k, 0L) / r / 1048576.0)
    s""", "cpu_s": ${fmt(m.getOrElse("cpu_ns", 0L) / r / 1e9)}""" +
      s""", "run_s": ${fmt(m.getOrElse("run_ms", 0L) / r / 1e3)}""" +
      s""", "gc_ms": ${(m.getOrElse("gc_ms", 0L) / r).round}""" +
      s""", "tasks": ${(m.getOrElse("tasks", 0L) / r).round}""" +
      s""", "input_mb": ${mb("input_b")}, "shuf_read_mb": ${mb("shuf_read_b")}""" +
      s""", "shuf_write_mb": ${mb("shuf_write_b")}""" +
      s""", "spill_mem_mb": ${mb("spill_mem_b")}, "spill_disk_mb": ${mb("spill_disk_b")}"""
  }

  private def writeDetail(
      results: Seq[(String, (Double, Double, Double, Seq[Double]))],
      reps: Int,
      sfDir: String,
      metricsByQuery: Map[String, Map[String, Long]] = Map.empty
  ): Unit = {
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val detail = results
      .map { case (k, (med, mn, mx, ts)) =>
        val extra = metricsJson(metricsByQuery.getOrElse(k, Map.empty), reps)
        s"""    "$k": {"median": ${fmt(med)}, "min": ${fmt(mn)}, "max": ${fmt(mx)}, "runs": [${ts.map(fmt).mkString(", ")}]$extra}"""
      }
      .mkString(",\n")
    val notes = benchNotes.toSeq.sorted
      .map { case (k, v) => s"""    "$k": "$v"""" }
      .mkString(",\n")
    val ror = roundOverRound(results, sfDir)
      .map(s => s"""  "round_over_round": "$s",\n""")
      .getOrElse("")
    val calib = calibration
      .map { case (t1, tN) =>
        s"""  "cpu_calibration": {"single_thread_sec": ${fmt(t1)}, "all_cores_sec": ${fmt(tN)}, """ +
          "\"workload\": \"splitmix64 reduction, 400M iters single-thread / 100M per thread " +
          "all-cores, median of 3 after JIT warm-up; compare across rounds to separate host " +
          "speed from code cost\"},\n"
      }
      .getOrElse("")
    // same workload re-timed AFTER the last query: a window that
    // degrades mid-run (r16 saw +140% raw with a HEALTHY start
    // calibration) is visible only from the start/end pair
    val calibEnd = calibrationEnd
      .map { case (t1, tN) =>
        s"""  "cpu_calibration_end": {"single_thread_sec": ${fmt(t1)}, "all_cores_sec": ${fmt(tN)}},\n"""
      }
      .getOrElse("")
    val json =
      s"""{
         |  "metric": "total_median_sec",
         |  "value": ${fmt(total)},
         |  "reps": $reps,
         |  "sf": "$sfDir",
         |  "n_queries": ${results.size},
         |$ror$calib$calibEnd  "notes": {
         |$notes
         |  },
         |  "queries": {
         |$detail
         |  }
         |}
         |""".stripMargin
    val p = java.nio.file.Paths.get("BENCH_LOCAL.json")
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    // per-core-count copy so a later run at a different width can't
    // clobber this run's per-query data (r16 verdict item 2)
    cpusLabel.foreach { c =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"BENCH_LOCAL_c$c.json"),
        json.getBytes("UTF-8")
      )
    }
  }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val cpus = Session.cores
    cpusLabel = Some(cpus.toString)
    val spark = Session.local(cpus)
    // host-speed yardstick BEFORE any Spark work touches the cores
    calibration = Some(cpuCalibration())
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

    // name -> (median, min, max, timings); sorted by name so the
    // execution order (and each query's predecessors) is stable as
    // the registry grows — round-5's unexplained in-suite swings
    // tracked to neighbor effects, not the queries themselves
    // persist the per-query map after EVERY query: a rehearsal-scale
    // run that dies (OOM/disk) three attempts in otherwise loses all
    // completed measurements each time
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, (Double, Double, Double, Seq[Double]))]
    val metricsAcc = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    val meter = new TaskMetricsListener
    spark.sparkContext.addSparkListener(meter)
    val results: Seq[(String, (Double, Double, Double, Seq[Double]))] = {
      queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        resetSession(spark)
        val (timing, qMetrics) = timeQueryMetered(spark, sfDir, name, fn, reps, Some(meter))
        acc += (name -> timing)
        metricsAcc(name) = qMetrics
        try writeDetail(acc.toSeq, reps, sfDir, metricsAcc.toMap)
        catch { case _: Throwable => () }
      }
      acc.toSeq
    }
    require(
      results.forall(_._2._1 >= 0),
      "bench produced a negative timing — a query failed without raising"
    )

    val total = results.map(_._2._1).filter(_ >= 0).sum

    calibrationEnd = Some(cpuCalibration())
    writeDetail(results, reps, sfDir, metricsAcc.toMap)
    spark.stop()
    // The driver's stdout-capture contract: ONE compact JSON line,
    // printed LAST (after spark.stop(), so no shutdown chatter can
    // follow it) and WITHOUT the per-query map — round 7's 120-entry
    // line exceeded the driver's capture and parsed as null. Per-query
    // medians live in BENCH_LOCAL.json.
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,""" +
        s""""n_queries":${results.size},"queries_file":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    )
  }
}
