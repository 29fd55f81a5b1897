package graft.kernels

import graft.functions.PeriodFormat
import graft.kernels.SegmentAlgebra._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests over the pure kernels — the invariants SURVEY §5
  * flags as worth property-testing (non-overlapping segments,
  * non-negative increments, period round-trips).
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  test("PeriodFormat: toSeconds . fromSeconds is identity for whole-second periods") {
    check(Prop.forAll(Gen.choose(1L, 400L * 86400L)) { secs =>
      PeriodFormat.toSeconds(PeriodFormat.fromSeconds(secs)).contains(secs)
    })
  }

  private val segGen: Gen[List[Seg]] = for {
    n <- Gen.choose(0, 6)
    segs <- Gen.listOfN(
      n,
      for {
        start <- Gen.choose(0L, 50L)
        len <- Gen.choose(1L, 20L)
        v <- Gen.oneOf("A", "B", "C")
      } yield Seg(None, 7L, Some(v), start * 3600000000L, (start + len) * 3600000000L)
    )
  } yield segs

  /** Carve arbitrary segments into a valid non-overlapping existing state. */
  private val nonOverlappingGen: Gen[List[Seg]] =
    segGen.map { segs =>
      val sorted = segs.sortBy(_.startDt)
      var cursor = Long.MinValue
      var id = 0L
      sorted.flatMap { s =>
        val st = math.max(s.startDt, cursor)
        if (st >= s.endDt) None
        else {
          cursor = s.endDt
          id += 1
          Some(s.copy(id = Some(id), startDt = st))
        }
      }
    }

  test("SegmentAlgebra.adjust: result segments never overlap and have positive length") {
    check(Prop.forAll(nonOverlappingGen, segGen) { (exist, news) =>
      news.isEmpty || {
        SegmentAlgebra.adjust(exist, news, 7L) match {
          case None => true
          case Some((segs, _)) =>
            val live = segs.filter(_.seriesId != -1L).sortBy(_.startDt)
            val noOverlap = live.sliding(2).forall {
              case Seq(a, b) => a.endDt <= b.startDt
              case _         => true
            }
            noOverlap && live.forall(s => s.startDt < s.endDt)
        }
      }
    })
  }

  test("SegmentAlgebra.adjust: non-overlapping new segments' values win in their range") {
    check(Prop.forAll(nonOverlappingGen, segGen) { (exist, news0) =>
      val news = news0.sortBy(_.startDt).foldLeft(List.empty[Seg]) { (acc, s) =>
        if (acc.exists(o => s.startDt < o.endDt && o.startDt < s.endDt)) acc else s :: acc
      }
      news.isEmpty || {
        def covered(live: Seq[Seg]) = news.forall { n =>
          val mid = (n.startDt + n.endDt) / 2
          live.exists(s => s.startDt <= mid && mid < s.endDt && s.value == n.value)
        }
        SegmentAlgebra.adjust(exist, news, 7L) match {
          case None             => covered(exist)
          case Some((segs, _)) => covered(segs.filter(_.seriesId != -1L))
        }
      }
    })
  }

  test("SegmentAlgebra.adjust is idempotent: re-adjusting the result is a no-op") {
    check(Prop.forAll(nonOverlappingGen, segGen) { (exist, news) =>
      news.isEmpty || {
        SegmentAlgebra.adjust(exist, news, 7L) match {
          case None => true
          case Some((segs, _)) =>
            val live = segs.filter(_.seriesId != -1L)
            // applying the SAME new segments to the new state changes nothing
            SegmentAlgebra.adjust(live, news, 7L).isEmpty
        }
      }
    })
  }

  test("IncrementKernel: increments are never negative") {
    val valsGen = for {
      n <- Gen.choose(2, 40)
      vs <- Gen.listOfN(n, Gen.choose(0.0, 100.0))
    } yield vs.toArray
    check(Prop.forAll(valsGen) { vs =>
      val dts = Array.tabulate(vs.length)(i => 1672531200L + i * 3600L)
      val (_, inc) = IncrementKernel.computeIncrements(dts, vs, resetDrop = 20.0, minPos = 0.0)
      inc.flatten.forall(_ >= 0.0)
    })
  }

  // ------------------------------------------------------------------
  // localDay / era / Feb-29 net (SURVEY §7.4(5)): the localDay column
  // the ingest path runs must agree with pure epoch-day integer arithmetic
  // (no leap seconds, proleptic Gregorian) across 1900–2100 — the era
  // edges 1900 (NOT a leap year), 2000 (leap) and 2100 (not) included,
  // with extra density around every Feb 28/29 boundary. One DataFrame
  // pass over 10³ generated cases, not 10³ Spark jobs.
  // ------------------------------------------------------------------

  private lazy val sparkSession = graft.SparkSpec.session

  /** The reference formula: shift by whole offset seconds, floor-divide
    * into epoch days. Quarter-hour offsets keep the shift integral.
    */
  private def expectedLocalDay(epochSec: Long, offsetQuarterHours: Int): java.time.LocalDate =
    java.time.LocalDate.ofEpochDay(
      Math.floorDiv(epochSec + offsetQuarterHours * 900L, 86400L)
    )

  private val calendarCaseGen: Gen[(Long, Int)] = {
    val minEpoch = java.time.LocalDate.of(1900, 1, 1).toEpochDay * 86400L
    val maxEpoch = java.time.LocalDate.of(2100, 12, 31).toEpochDay * 86400L
    // offsets in quarter hours: real-world zone offsets span -12h..+14h
    val offGen = Gen.choose(-48, 56)
    val uniform = for {
      e <- Gen.choose(minEpoch, maxEpoch)
      o <- offGen
    } yield (e, o)
    // dense around Feb 28 00:00 ±72h of every year (hits Feb 29 when it
    // exists, Mar 1 rollover when it doesn't)
    val feb29 = for {
      y <- Gen.choose(1900, 2100)
      dh <- Gen.choose(-72, 72)
      o <- offGen
    } yield (java.time.LocalDate.of(y, 2, 28).toEpochDay * 86400L + dh * 3600L, o)
    Gen.frequency(1 -> uniform, 1 -> feb29)
  }

  test("localDay == epoch-day arithmetic, 1900–2100, Feb 29, era years") {
    import org.apache.spark.sql.functions._
    val spark = sparkSession
    import spark.implicits._
    val cases: List[(Long, Int)] =
      Iterator
        .continually(Gen.listOfN(1000, calendarCaseGen).sample)
        .flatten
        .next()
    val got = cases
      .toDF("epoch", "off_qh")
      .select(
        col("epoch"),
        col("off_qh"),
        graft.operators.DailyAggregate
          .localDay(timestamp_seconds(col("epoch")), col("off_qh") / 4.0)
          .as("agg_day")
      )
      .collect()
    assert(got.length == 1000)
    got.foreach { r =>
      val exp = expectedLocalDay(r.getLong(0), r.getInt(1))
      val a = r.getDate(2).toLocalDate
      assert(a == exp, s"epoch=${r.getLong(0)} offQh=${r.getInt(1)}: agg=$a expected=$exp")
    }
  }

  test("localNoonUtc is a section of localDay: localDay(localNoonUtc(d, off), off) == d") {
    import org.apache.spark.sql.functions._
    val spark = sparkSession
    import spark.implicits._
    val dayGen = for {
      d <- Gen.choose(
        java.time.LocalDate.of(1900, 1, 1).toEpochDay,
        java.time.LocalDate.of(2100, 12, 31).toEpochDay
      )
      o <- Gen.choose(-48, 48) // |offset| < 12h keeps noon inside the day
    } yield (d, o)
    val cases: List[(Long, Int)] =
      Iterator.continually(Gen.listOfN(1000, dayGen).sample).flatten.next()
    val got = cases
      .toDF("epoch_day", "off_qh")
      .select(
        col("epoch_day"),
        graft.operators.DailyAggregate
          .localDay(
            graft.tables.Schemas.localNoonUtc(
              date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("epoch_day").cast("int")),
              col("off_qh") / 4.0
            ),
            col("off_qh") / 4.0
          )
          .as("round_trip")
      )
      .collect()
    got.foreach { r =>
      val exp = java.time.LocalDate.ofEpochDay(r.getLong(0))
      assert(r.getDate(1).toLocalDate == exp, s"day=${r.getLong(0)} off_qh case failed")
    }
  }

  test("PeriodFormat: toSecondsCol agrees with driver toSeconds on generated whole-second periods") {
    import org.apache.spark.sql.functions._
    val spark = sparkSession
    import spark.implicits._
    val secGen = Gen.choose(1L, 400L * 86400L)
    val cases: List[Long] =
      Iterator.continually(Gen.listOfN(1000, secGen).sample).flatten.next()
    val isoCases = cases.map(PeriodFormat.fromSeconds)
    val got = isoCases
      .toDF("iso")
      .select(col("iso"), PeriodFormat.toSecondsCol(col("iso")).as("secs"))
      .collect()
    got.foreach { r =>
      val driver = PeriodFormat.toSeconds(r.getString(0))
      assert(
        !r.isNullAt(1) && driver.contains(r.getLong(1)),
        s"iso=${r.getString(0)} col=${if (r.isNullAt(1)) "null" else r.getLong(1)} driver=$driver"
      )
    }
  }
}
