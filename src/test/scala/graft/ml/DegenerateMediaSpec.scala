package graft.ml

import graft.SparkSpec
import graft.operators.Imputation

/** Degenerate-input net for the two input classes the
  * DegenerateInputSpec mutation table skips: truncated/garbage
  * (non-NULL) binary payloads into the real-codec paths, and
  * sub-minimum knot counts into the spline family.
  *
  * Contract (same as the other degenerate nets): no media/spline
  * operator may THROW on such rows — undecodable payloads keep their
  * row with NULL features (or are dropped where the schema is
  * non-nullable, per each operator's scaladoc), and un-splinable gaps
  * stay unfilled. A 100 TB crawl contains every one of these shapes:
  * truncated downloads, text served under an image MIME type,
  * crafted containers.
  */
class DegenerateMediaSpec extends SparkSpec {

  private lazy val validPng: Array[Byte] =
    MediaCodecs.encodeImage(16, 12, (x, y) => (x * 13 + y * 7) % 256 << 8)
  private lazy val validWav: Array[Byte] =
    MediaCodecs.encodeWav(Array.tabulate(64)(i => ((i * 7) % 4096 - 2048).toShort), 8000f)

  /** (id, payload): 1..8 garbage, 100+ valid controls. */
  private def mediaDf = {
    val rng = new scala.util.Random(42)
    val rows: Seq[(Long, Array[Byte])] = Seq(
      1L -> Array.empty[Byte],                                   // zero-length
      2L -> Array[Byte](0x42),                                   // single byte
      3L -> Array.fill(100)(rng.nextInt(256).toByte),            // random noise
      4L -> validPng.take(10),                                   // truncated PNG (magic only)
      5L -> validPng.take(validPng.length / 2),                  // half a PNG
      6L -> validWav.take(20),                                   // truncated WAV header
      7L -> ("RIFFÿÿÿWAVE".getBytes("ISO-8859-1") ++
        Array.fill(32)(0x41.toByte)),                            // crafted huge chunk size
      8L -> (validWav.take(44) ++ Array.fill(7)(0x01.toByte)),   // odd-length PCM tail
      100L -> validPng,
      101L -> validWav
    )
    import spark.implicits._
    rows.toDF("id", "media")
  }

  test("imageFeatures: garbage payloads -> NULL features, valid control decodes, no throw") {
    val out = Multimodal.imageFeatures(mediaDf, "id", "media").collect()
    assert(out.length == 10)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    (1L to 8L).foreach(id => assert(byId(id).isNullAt(1), s"garbage payload $id decoded?"))
    assert(byId(100L).getInt(1) == 16 && byId(100L).getInt(2) == 12)
  }

  test("audioFeatures: garbage payloads -> NULL features, valid control decodes, no throw") {
    val out = Multimodal.audioFeatures(mediaDf, "id", "media").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L, 3L, 4L, 5L, 6L).foreach(id => assert(byId(id).isNullAt(1), s"garbage payload $id decoded?"))
    assert(byId(101L).getLong(2) == 64L) // n_samples of the control clip
    // 7/8 may parse as empty-data WAVs or fail — either is fine, the
    // class under test is crashes; decoded aggregates must be finite
    out.foreach(r => assert(r.isNullAt(2) || r.getLong(2) >= 0L))
  }

  test("imageDHashes / audioEnergyHashes: garbage -> NULL hash, no throw") {
    val dh = Multimodal.imageDHashes(mediaDf, "id", "media").collect()
    val dById = dh.map(r => r.getLong(0) -> r).toMap
    (1L to 8L).foreach(id => assert(dById(id).isNullAt(1)))
    assert(!dById(100L).isNullAt(1))
    val ah = Multimodal.audioEnergyHashes(mediaDf, "id", "media").collect()
    val aById = ah.map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L, 3L, 4L, 5L, 6L).foreach(id => assert(aById(id).isNullAt(1)))
    assert(!aById(101L).isNullAt(1))
  }

  test("resizeImages / frameSample / extractFeatures: garbage survives the stub+real plumbing") {
    val rz = Multimodal.resizeImages(mediaDf, "id", "media", 8, 6).collect()
    val rById = rz.map(r => r.getLong(0) -> r).toMap
    (1L to 8L).foreach(id => assert(rById(id).isNullAt(1)))
    assert(!rById(100L).isNullAt(1))
    // opaque-bytes paths: garbage is legitimate content, just count
    assert(Multimodal.frameSample(mediaDf, "id", "media", frameBytes = 16).count() >= 1L)
    assert(Multimodal.extractFeatures(mediaDf, "id", "media").count() == 10L)
  }

  test("MediaCodecs direct: every decode surface returns None on garbage, never throws") {
    val garbage: Seq[Array[Byte]] = Seq(
      null,
      Array.empty[Byte],
      Array[Byte](0x00),
      validPng.take(3),
      validWav.take(12),
      Array.fill(1000)(0xff.toByte)
    )
    garbage.foreach { g =>
      assert(MediaCodecs.decodeImage(g).isEmpty)
      assert(MediaCodecs.decodeWav(g).isEmpty)
      assert(MediaCodecs.dHash56(g).isEmpty)
      assert(MediaCodecs.audioEnergyHash(g).isEmpty)
      assert(MediaCodecs.resizeImage(g, 8, 6).isEmpty)
    }
  }

  // ---- spline knot edges --------------------------------------------

  private def seriesDf(rows: Seq[(Long, Int, Option[Double])]) = {
    import spark.implicits._
    rows
      .map { case (k, minuteOffset, v) => (k, java.sql.Timestamp.valueOf(f"2026-01-01 00:$minuteOffset%02d:00"), v) }
      .toDF("user_id", "ts", "v")
  }

  test("splineFill: sub-minimum knots leave gaps unfilled, never throw") {
    // 1-row group; all-NULL group; leading/trailing NULL runs (no
    // interior context); lone defined point between NULLs
    val df = seriesDf(
      Seq(
        (1L, 0, Some(1.0)),
        (2L, 0, None), (2L, 1, None), (2L, 2, None),
        (3L, 0, None), (3L, 1, Some(5.0)), (3L, 2, None),
        (4L, 0, Some(2.0)), (4L, 1, None), (4L, 2, None)
      )
    )
    val out = Imputation.splineFill(df, "user_id", "ts", "v").collect()
    assert(out.length == 10)
    // nothing is imputable in any of these groups
    assert(out.forall(r => !r.getBoolean(3)), "imputed a gap with no two-sided context")
    out.filter(_.getLong(0) == 2L).foreach(r => assert(r.isNullAt(2)))
  }

  test("splineFill: exactly-two-knot interior gap fills (the minimum contract)") {
    val df = seriesDf(Seq((1L, 0, Some(1.0)), (1L, 1, None), (1L, 2, Some(3.0))))
    val out = Imputation.splineFill(df, "user_id", "ts", "v").collect().sortBy(_.getTimestamp(1).getTime)
    assert(out(1).getBoolean(3) && math.abs(out(1).getDouble(2) - 2.0) < 1e-9)
  }

  test("naturalSpline: n < 2 knots is a contract violation (explicit require, not garbage output)") {
    val e = intercept[IllegalArgumentException] {
      graft.kernels.SplineKernel.naturalSpline(Array(1.0), Array(1.0), Array(1.5))
    }
    assert(e.getMessage.contains("2 knots"))
  }
}
