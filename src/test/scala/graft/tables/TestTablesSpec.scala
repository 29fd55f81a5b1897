package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression for a bench failure: the testdata generator has been
  * re-run over time, and `events.ts` has shipped as INT64
  * epoch-nanos, as parquet TIMESTAMP_NTZ (isAdjustedToUTC=false), and
  * as a UTC-adjusted TIMESTAMP. `TestTables.events` must normalize all
  * three to the same TimestampType instants — the NTZ shape slipped
  * through once and every `unix_micros(ts)`-using query failed
  * analysis at bench time.
  */
class TestTablesSpec extends SparkSpec {
  import spark.implicits._

  // one instant, three physical encodings
  private val micros = Seq(1705276800000000L, 1705276801500000L, 1705363199999999L)

  private def dumpAndLoad(writeDf: org.apache.spark.sql.DataFrame): Seq[Long] = {
    val dir = java.nio.file.Files.createTempDirectory("ttspec").toString
    writeDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TestTables.events(spark, dir)
    assert(out.schema("ts").dataType == TimestampType, s"got ${out.schema("ts").dataType}")
    out.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted
  }

  test("events loader normalizes INT64-nanos, TIMESTAMP_NTZ, and TIMESTAMP ts to the same instants") {
    val base = micros.map(u => (1L, u)).toDF("event_id", "us")

    val asLong = base.select(col("event_id"), (col("us") * 1000L).as("ts"))
    val asNtz  = base.select(col("event_id"), timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    val asTz   = base.select(col("event_id"), timestamp_micros(col("us")).as("ts"))

    val fromLong = dumpAndLoad(asLong)
    val fromNtz  = dumpAndLoad(asNtz)
    val fromTz   = dumpAndLoad(asTz)

    assert(fromLong == micros.sorted)
    assert(fromNtz == micros.sorted)
    assert(fromTz == micros.sorted)
  }

  test("events loader output supports unix_micros at analysis time for every physical shape") {
    // the exact expression that failed in that bench
    val dir = java.nio.file.Files.createTempDirectory("ttspec-ntz").toString
    micros.map(u => Tuple1(u)).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val n = TestTables.events(spark, dir)
      .select(unix_micros(col("ts")).as("ord_us"))
      .count()
    assert(n == micros.size)
  }
}
