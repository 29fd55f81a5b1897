package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.ml.Dedup
import graft.queries.Registry
import graft.tables.TestTables
import org.apache.spark.sql.functions.col

import Main.{Ctx, Op, Outcome, rootCause, strings}

/** Workloads whose ops are registry queries: `hydromet_read` (analyst
  * reads over the hydromet tables) and `corpus_prep` (one op per stage of
  * the training-data pipeline). An op builds the query, plans it and
  * collects the rows to the client; its digest is checked against the
  * oracle's after the clock stops.
  */
object RegistryOps {
  final case class Run(op: Op, startMs: Long, endMs: Long)

  def runOp(ctx: Ctx, name: String, dir: String): Run = {
    val q = Registry.byName(name)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def done(err: Option[String]) = {
      val wall = (System.nanoTime() - t0) / 1e6
      Run(Op(name, wall, err.isEmpty, err.getOrElse("")), s0, System.currentTimeMillis())
    }
    try {
      val df = ctx.tracer.span("queries.construct")(q.run(ctx.spark, dir))
      val rows = df.collect()
      val wall = (System.nanoTime() - t0) / 1e6
      val s1 = System.currentTimeMillis()
      val got = Digest.of(df.schema, rows)
      val err = ctx.expected.get(name) match {
        case Some((d, _)) if d == got.digest => None
        case Some((_, n)) => Some(s"wrong result: ${got.rows} rows, oracle ${n} rows, digests differ")
        case None         => Some("no oracle digest")
      }
      Run(Op(name, wall, err.isEmpty, err.getOrElse("")), s0, s1)
    } catch { case NonFatal(e) => done(Some(rootCause(e))) }
  }

  /** Runs ops in `batches` (each a round or a pass) until their wall
    * time reaches `seconds` at a batch boundary, after the untimed
    * warm-up ops.
    */
  private def loop(ctx: Ctx, dir: String, warm: Seq[String], batches: Seq[Seq[String]]): (Outcome, Seq[Double]) = {
    val w0 = System.nanoTime()
    val warmFailures = warm.map(runOp(ctx, _, dir).op).filterNot(_.ok).map(o => s"${o.name}: ${o.error}")
    val warmupS = (System.nanoTime() - w0) / 1e9
    warmFailures.foreach(f => ctx.log(s"warm-up op failed: $f"))

    val runs = mutable.ArrayBuffer.empty[Run]
    val batchWalls = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i == 0 || batchWalls.sum / 1e3 < ctx.seconds) {
      val batch = batches(i % batches.size)
      val walls = batch.map { name =>
        ctx.tracer.op = runs.size
        val r = runOp(ctx, name, dir)
        if (!r.op.ok) ctx.log(s"op ${r.op.name} failed: ${r.op.error}")
        runs += r
        r.op.wallMs
      }
      batchWalls += walls.sum
      i += 1
    }
    ctx.tracer.op = -1
    val windows = runs.zipWithIndex.map { case (r, k) => OpWindow(k, r.startMs, r.endMs, r.op.wallMs) }
    val ops = runs.map(_.op).toSeq
    (Outcome(ops, ops.map(_.wallMs), windows.toSeq, runs.size, batchWalls.sum / 1e3, warmupS, warmFailures), batchWalls.toSeq)
  }

  /** Analysts query a long-running session, so reads are timed warm:
    * the warm-up op is the first round.
    */
  def read(ctx: Ctx): Outcome = {
    val rc = ctx.cfg.get("read")
    val rounds = rc.get("rounds").elements().asScala.map(strings).toSeq
    loop(ctx, rc.get("data_dir").asText(), rounds.head, rounds.tail)._1
  }

  /** A training-data batch runs once in a fresh JVM, so its pass is
    * timed cold: the warm-up op is only the cheapest stage.
    */
  val WarmupStage = "q_dedup_exact"

  def corpus(ctx: Ctx): Outcome = {
    val cc = ctx.cfg.get("corpus")
    val dir = cc.get("data_dir").asText()
    val stages = strings(cc.get("stages"))
    val docs = cc.get("docs").asDouble()
    val (o, passes) = loop(ctx, dir, Seq(WarmupStage), Seq(stages))
    val extra = if (ctx.tracer.enabled) mlProbe(ctx, dir) else Map.empty[String, Double]
    o.copy(latenciesMs = passes, workUnits = docs * passes.size, extra = extra)
  }

  /** The ml layer's own counts, from the corpus's near-duplicate search
    * with the registry's MinHash settings: candidate pairs LSH proposes,
    * the pairs that verify, and the connected-components rounds.
    */
  private def mlProbe(ctx: Ctx, dir: String): Map[String, Double] = {
    val docs = TestTables.documents(ctx.spark, dir)
    val (shingle, perms, bands, threshold) = (3, 8, 4, 0.6)
    val sig = Dedup.minHashSignaturesFused(docs, "doc_id", "text", shingle, perms)
    val candidates = Dedup.lshCandidates(sig, "doc_id", perms, bands).count().toDouble
    val pairs = Dedup
      .minHashNearDups(docs, "doc_id", "text", shingle, perms, bands, threshold, Dedup.PortableMd5)
      .localCheckpoint()
    val verified = pairs.count().toDouble
    val t0 = System.nanoTime()
    val (labels, rounds) = Dedup.connectedComponentsWithStats(docs.select("doc_id"), "doc_id", pairs.select(col("d1"), col("d2")))
    labels.count()
    Map(
      "ml.lsh_candidates" -> candidates,
      "ml.lsh_verified" -> verified,
      "ml.lsh_useful_ratio" -> (if (candidates > 0) verified / candidates else 0.0),
      "ml.cc_rounds" -> rounds.toDouble,
      "ml.cc_ms" -> (System.nanoTime() - t0) / 1e6
    )
  }

  /** Milliseconds to resolve the schema of every base table once. */
  def resolveSchemas(ctx: Ctx): Double = {
    val dir = ctx.cfg.get("base_dir").asText()
    val s = ctx.spark
    val loaders = Seq(
      () => TestTables.region(s, dir), () => TestTables.nation(s, dir), () => TestTables.customer(s, dir),
      () => TestTables.supplier(s, dir), () => TestTables.part(s, dir), () => TestTables.orders(s, dir),
      () => TestTables.lineitem(s, dir), () => TestTables.events(s, dir), () => TestTables.documents(s, dir),
      () => TestTables.embeddings(s, dir)
    )
    val t0 = System.nanoTime()
    loaders.foreach(l => l().schema)
    (System.nanoTime() - t0) / 1e6
  }
}
