package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The transport seam: an adapter body must be transport-agnostic —
  * swapping the fixture [[FileTransport]] for any other
  * [[Transport]] is exactly one constructor argument, and the
  * adapter's parse/map/normalize logic runs unchanged. This is the
  * boundary behind which live HTTP/ODBC slots in (SURVEY §8.1's
  * environment-imposed deferral).
  */
class TransportSpec extends SparkSpec {

  /** Delegates to the fixture transport but records every call —
    * proves the adapter reads ONLY through the seam.
    */
  private final class RecordingTransport extends Transport {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    override def bytes(url: String): Array[Byte] = {
      calls += (("bytes", url))
      FileTransport.bytes(url)
    }
    override def rows(
        spark: SparkSession,
        locator: String,
        format: String,
        options: Map[String, String],
        schema: Option[StructType]
    ): DataFrame = {
      calls += ((format, locator))
      FileTransport.rows(spark, locator, format, options, schema)
    }
  }

  private def writeStationCsv(): String = {
    val dir = java.nio.file.Files.createTempDirectory("transport").toString
    val csv = new java.io.PrintWriter(s"$dir/station.csv")
    csv.println("datetime,value,qualifier_code,approval_label")
    csv.println("2023-01-01 00:00:00,1.5,10,Final")
    csv.println("2023-01-01 01:00:00,2.5,20,Provisoire")
    csv.close()
    s"$dir/station.csv"
  }

  test("an injected transport carries every adapter read; output identical to the fixture default") {
    val path = writeStationCsv()
    val cfg = SeriesConfig(2L, "downloadCsvStation", Map("path" -> path))
    val start = java.sql.Timestamp.valueOf("2023-01-01 00:00:00")
    val recording = new RecordingTransport
    val viaSeam = new CsvStationAdapter(recording).fetch(spark, cfg, start)
    val viaDefault = CsvStationAdapter.fetch(spark, cfg, start)
    assert(
      viaSeam.collect().map(_.toString).sorted.toSeq ==
        viaDefault.collect().map(_.toString).sorted.toSeq
    )
    assert(recording.calls.toList == List(("csv", path)), "exactly one payload fetch, through the seam")
  }

  test("the jdbc face of the seam: locator is the URL, options carry dbtable") {
    val recording = new RecordingTransport
    // Derby ships with Spark; an embedded scratch DB stands in for the
    // remote server exactly as in JdbcIngestSpec
    val url = s"jdbc:derby:memory:transportSpec;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE obs (datetime TIMESTAMP, value DOUBLE)")
    st.execute("INSERT INTO obs VALUES ('2023-01-01 00:00:00', 7.25)")
    st.close(); conn.close()
    val cfg = SeriesConfig(3L, "downloadJdbc", Map("url" -> url, "table" -> "obs"))
    val out = new JdbcSourceAdapter(recording)
      .fetch(spark, cfg, java.sql.Timestamp.valueOf("2022-01-01 00:00:00"))
      .collect()
    assert(out.length == 1 && out(0).getAs[Double]("value") == 7.25)
    assert(recording.calls.toList == List(("jdbc", url)))
  }

  test("glob locators keep the literal glob's scope: direct children only, empty match loud") {
    val dir = graft.TempRoots.newDir("transport-glob").toString
    def put(rel: String): Unit = {
      val p = java.nio.file.Paths.get(s"$dir/$rel")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, "a,b\n1,2\n".getBytes("UTF-8"))
    }
    put("one.csv")
    put("two.csv")
    put("nested/three.csv") // matches *.csv by leaf name but is NOT a direct child
    val out = FileTransport.rows(
      spark, s"$dir/*.csv", "csv", Map("header" -> "true", "inferSchema" -> "true"))
    assert(out.count() == 2, "a trailing-segment glob must not descend into subdirectories")
    // empty match fails loudly even under a user-supplied schema (the
    // silent-empty case the pathGlobFilter rewrite introduced)
    val ex = intercept[java.io.FileNotFoundException] {
      FileTransport.rows(spark, s"$dir/*.xml", "csv", Map("schema" -> "a INT, b INT"))
    }
    assert(ex.getMessage.contains("*.xml"))
  }
}
