package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DocumentIngestSpec extends SparkSpec {

  test("ingest: content dedupe (store + in-batch), type gate, geom links filtered to known") {
    import spark.implicits._
    val knownTypes = Seq("report", "map").toDF("doc_type")
    val knownGeoms = Seq(100L, 200L).toDF("geom_id")
    def doc(name: String, t: String, body: String, geoms: Seq[Long] = Seq.empty) =
      (name, t, body.getBytes("UTF-8"), Seq("public_reader"), geoms)
    val incoming = Seq(
      doc("annual report", "report", "contents A", Seq(100L, 999L)), // accepted; geom 999 dropped
      doc("duplicate of stored", "report", "stored contents"),       // duplicate_content
      doc("same-batch copy", "report", "contents A"),                // duplicate_in_batch (name sorts after)
      doc("bad type", "thesis", "contents B"),                       // unknown_type
      (null: String, "map", "contents C".getBytes("UTF-8"), Seq("public_reader"), Seq.empty[Long]),
      doc("no groups", "map", "contents D")
    ).toDF("name", "doc_type", "payload", "share_with", "geom_ids")
      .withColumn("share_with", when(col("name") === "no groups", array().cast("array<string>")).otherwise(col("share_with")))
    val existingHash = Seq("stored contents").toDF("body")
      .select(graft.functions.PortableHash.md5num56(encode(col("body"), "UTF-8")).as("file_hash"))

    val out = DocumentIngest.ingest(incoming, knownTypes, existingHash, knownGeoms)
    assert(out.accepted.select("name").as[String].collect().toList == List("annual report"))
    val rejects = out.rejects.collect()
      .map(r => (Option(r.getString(0)).getOrElse("<null>"), r.getString(1))).toMap
    assert(rejects == Map(
      "duplicate of stored" -> "duplicate_content",
      "same-batch copy" -> "duplicate_in_batch",
      "bad type" -> "unknown_type",
      "<null>" -> "missing_name",
      "no groups" -> "missing_share_with"
    ))
    assert(out.geomLinks.select("geom_id").as[Long].collect().toList == List(100L))
  }

  test("a duplicated hash in the existing store marks existence once — no reject fan-out") {
    // regression (surfaced at sf0.1): the __exists join ran
    // without distinct, so every store copy of a hash fanned the
    // matching incoming row into an extra reject row
    import spark.implicits._
    val knownTypes = Seq("report").toDF("doc_type")
    val knownGeoms = Seq(100L).toDF("geom_id")
    val incoming = Seq(
      ("dup doc", "report", "stored contents".getBytes("UTF-8"), Seq("g"), Seq.empty[Long]),
      ("bad type dup", "thesis", "stored contents2".getBytes("UTF-8"), Seq("g"), Seq.empty[Long])
    ).toDF("name", "doc_type", "payload", "share_with", "geom_ids")
    val existing = Seq("stored contents", "stored contents", "stored contents2", "stored contents2")
      .toDF("body")
      .select(graft.functions.PortableHash.md5num56(encode(col("body"), "UTF-8")).as("file_hash"))
    val out = DocumentIngest.ingest(incoming, knownTypes, existing, knownGeoms)
    val rejects = out.rejects.collect().map(r => (r.getString(0), r.getString(1))).toList.sorted
    assert(rejects == List("bad type dup" -> "unknown_type", "dup doc" -> "duplicate_content"),
      s"each incoming row must reject exactly once: $rejects")
    assert(out.accepted.count() == 0)
  }
}
