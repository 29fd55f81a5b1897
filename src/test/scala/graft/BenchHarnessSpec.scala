package graft

import org.apache.spark.sql.functions._

/** The bench harness must never ship a failure as a timing row: a
  * crashing query propagates (with its name) instead of becoming a
  * -1.0 entry in BENCH_LOCAL.json, and the per-query session reset
  * actually clears the debris (cached plans, localCheckpoint blocks)
  * that in-suite timing swings tracked to. The artifact carries the
  * contract fields and nothing else.
  */
class BenchHarnessSpec extends SparkSpec {

  test("timeQuery: a crashing query fails the bench, names the query") {
    val explode = udf { (_: Int) =>
      throw new RuntimeException("kaboom"); false
    }
    val boom = (_: org.apache.spark.sql.SparkSession, _: String) =>
      spark.range(1).select(col("id").cast("int").as("x")).filter(explode(col("x")))
    val e = intercept[IllegalStateException] {
      Bench.timeQuery(spark, "/nonexistent", "q_exploding", boom, reps = 1, new Bench.TaskMetricsListener)
    }
    assert(e.getMessage.contains("q_exploding"))
  }

  test("timeQuery: a healthy query returns reps timings, median within range") {
    val ok = (_: org.apache.spark.sql.SparkSession, _: String) =>
      spark.range(100).toDF("n")
    val meter = new Bench.TaskMetricsListener
    spark.sparkContext.addSparkListener(meter)
    val t =
      try Bench.timeQuery(spark, "unused", "q_ok", ok, reps = 3, meter)
      finally spark.sparkContext.removeSparkListener(meter)
    assert(t.runs.length == 3)
    assert(t.min <= t.median && t.median <= t.max && t.min >= 0)
    assert(t.metrics.getOrElse("tasks", 0L) >= 3)
  }

  test("artifact: contract keys, per-query timings and task metrics, no round notes") {
    val metrics = Map("tasks" -> 6L, "cpu_ns" -> 3000000000L, "shuf_read_b" -> 3145728L)
    val results = Seq(
      "q_a" -> Bench.QueryTiming(1.0, 0.5, 2.0, Seq(0.5, 1.0, 2.0), metrics),
      "q_b" -> Bench.QueryTiming(0.25, 0.25, 0.25, Seq(0.25, 0.25, 0.25), Map.empty)
    )
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.artifact(results, reps = 3, sfDir = "/data/sf0.01"))
    assert(json.get("metric").asText == "total_median_sec")
    assert(json.get("value").asDouble == 1.25)
    assert(json.get("reps").asInt == 3)
    assert(json.get("sf").asText == "/data/sf0.01")
    assert(json.get("n_queries").asInt == 2)
    Seq("notes", "round_over_round", "cpu_calibration", "cpu_calibration_end").foreach { k =>
      assert(!json.has(k), k)
    }
    val qa = json.get("queries").get("q_a")
    assert(qa.get("median").asDouble == 1.0 && qa.get("min").asDouble == 0.5 && qa.get("max").asDouble == 2.0)
    assert(qa.get("runs").size == 3 && qa.get("runs").get(2).asDouble == 2.0)
    assert(qa.get("cpu_s").asDouble == 1.0) // per-rep mean: 3 s over 3 reps
    assert(qa.get("shuf_read_mb").asDouble == 1.0)
    val qb = json.get("queries").get("q_b")
    Seq("median", "min", "max", "runs", "cpu_s", "shuf_read_mb").foreach(k => assert(qb.has(k), k))
  }

  test("resetSession drops cached plans and localCheckpoint blocks") {
    import spark.implicits._
    val cached = (1 to 100).toDF("n").cache()
    cached.count()
    val ckpt = (1 to 100).toDF("m").localCheckpoint(true)
    ckpt.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Bench.resetSession(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
