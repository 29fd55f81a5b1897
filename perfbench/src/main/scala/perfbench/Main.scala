package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * process with a config file, and answers its oracle request:
  *
  *   1. write `oracle_request.json` (the oracle SQL of every registry op
  *      the workload runs) and wait for `expected.json` (their DuckDB
  *      digests) — input generation and the oracle stay out of setup;
  *   2. set up: build the session and run the workload's untimed
  *      warm-up op; setup time runs from JVM start to the first timed op,
  *      less the wait for the oracle;
  *   3. run timed ops, closed loop, one client, until `seconds` elapse;
  *   4. check every op's output and write `result.json`.
  *
  * Usage: Main <config.json>
  */
object Main {
  val mapper = new ObjectMapper()

  final case class Op(name: String, wallMs: Double, ok: Boolean, error: String)

  /** What a workload hands back: its timed ops, the latency of each
    * user-visible op (a query, a cycle, a pass) and the work they did.
    */
  final case class Outcome(
      ops: Seq[Op],
      latenciesMs: Seq[Double],
      windows: Seq[OpWindow],
      workUnits: Double,
      workWallS: Double,
      warmupS: Double,
      warmFailures: Seq[String],
      extra: Map[String, Double] = Map.empty
  )

  /** Everything a workload needs from the harness. */
  final class Ctx(
      val cfg: JsonNode,
      val workDir: Path,
      val seconds: Double,
      val cores: Int,
      val tracer: Tracer,
      val expected: Map[String, (String, Long)]
  ) {
    var spark: SparkSession = _
    /** The traced run's event log; None with tracing off. */
    var events: Option[EventLog] = None
    def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Paths.get(args(0)).toFile)
    val workDir = Paths.get(cfg.get("work_dir").asText())
    val workload = cfg.get("workload").asText()
    val trace = cfg.get("trace").asBoolean()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val wanted = oracleNames(workload, cfg)
    lazy val oracle = graft.queries.Registry.oracleSql
    val request = mapper.createObjectNode()
    wanted.foreach(n => request.put(n, oracle.getOrElse(n, sys.error(s"$n has no oracle SQL"))))
    val oracleAsked = System.currentTimeMillis()
    atomicWrite(workDir.resolve("oracle_request.json"), mapper.writeValueAsString(request))
    val expected = awaitExpected(workDir.resolve("expected.json"))
    val oracleWaitMs = System.currentTimeMillis() - oracleAsked

    val ctx = new Ctx(cfg, workDir, cfg.get("seconds").asDouble(), cfg.get("cores").asInt(), new Tracer(trace), expected)
    val t0 = System.nanoTime()
    ctx.spark = Session.build(ctx.cores, workDir)
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    ctx.spark.sparkContext.setLogLevel("WARN")
    val rereg = ReregistrationCounter.install()
    if (trace) ctx.events = Some(Layers.install(ctx.spark))

    val outcome = workload match {
      case "hydromet_read"   => RegistryOps.read(ctx)
      case "corpus_prep"     => RegistryOps.corpus(ctx)
      case "hydromet_ingest" => Ingest.run(ctx)
      case other             => sys.error(s"unknown workload $other")
    }
    val reregDuringOps = rereg.count.get()

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    ctx.events.foreach { log =>
      org.apache.spark.BenchAccess.drainListenerBus(ctx.spark.sparkContext)
      perLayer ++= Layers.perOp(log, ctx.tracer, outcome.windows, ctx.cores)
      perLayer("functions.reregistrations") = reregDuringOps.toDouble / math.max(1, outcome.ops.size)
      perLayer("tables.resolve_ms") = RegistryOps.resolveSchemas(ctx)
      perLayer ++= outcome.extra
    }

    val res = mapper.createObjectNode()
    res.put("workload", workload)
    res.put("trace", trace)
    val firstOpMs = outcome.windows.headOption.map(_.startMs).getOrElse(System.currentTimeMillis())
    res.put("setup_s", (firstOpMs - jvmStartMs - oracleWaitMs) / 1e3)
    res.put("session_build_s", sessionBuildS)
    res.put("warmup_s", outcome.warmupS)
    res.put("work_units", outcome.workUnits)
    res.put("work_wall_s", outcome.workWallS)
    res.put("peak_rss_mb", peakRssMb())
    res.put("reregistrations", rereg.count.get())
    res.put("spark_version", ctx.spark.version)
    res.put("java_version", System.getProperty("java.version"))
    val lat = res.putArray("latency_ms")
    outcome.latenciesMs.foreach(x => lat.add(x))
    val opsNode = res.putArray("ops")
    outcome.ops.foreach { o =>
      val n = opsNode.addObject()
      n.put("name", o.name); n.put("wall_ms", o.wallMs); n.put("ok", o.ok)
      if (!o.ok) n.put("error", o.error)
    }
    val wf = res.putArray("warmup_failures")
    outcome.warmFailures.foreach(x => wf.add(x))
    val pl = res.putObject("per_layer")
    perLayer.foreach { case (k, v) => pl.put(k, v) }
    atomicWrite(workDir.resolve("result.json"), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(res))
    ctx.spark.stop()
  }

  private def oracleNames(workload: String, cfg: JsonNode): Seq[String] = workload match {
    case "hydromet_read" => strings(cfg.get("read").get("queries"))
    case "corpus_prep"   => strings(cfg.get("corpus").get("stages"))
    case _               => Nil
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  private def awaitExpected(p: Path): Map[String, (String, Long)] = {
    val deadline = System.nanoTime() + 150e9.toLong
    while (!Files.exists(p)) {
      if (System.nanoTime() > deadline) sys.error("no oracle digests arrived")
      Thread.sleep(20)
    }
    mapper.readTree(p.toFile).fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("digest").asText(), e.getValue.get("rows").asLong())
    }.toMap
  }

  def atomicWrite(p: Path, s: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, s)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  /** Root cause of a failure, one line. */
  def rootCause(t: Throwable): String = {
    var c = t
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).linesIterator.take(1).mkString}"
  }
}

object Session {
  /** `local[cores]`, one shuffle partition per core, the engine's
    * session settings (UTC, nanosAsLong, AQE) and its documented
    * extension. Scratch state lives under the run's work directory.
    */
  def build(cores: Int, workDir: Path): SparkSession =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.network.timeout", "3600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .getOrCreate()
}
