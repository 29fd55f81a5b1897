package graft.operators

import graft.SparkSpec
import graft.functions.Spatial
import org.apache.spark.sql.functions._

class VectorStoreSpec extends SparkSpec {

  test("polygonValidity catches each failure class, passes valid rings") {
    import spark.implicits._
    val cases = Seq(
      ("ok_closed", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", null),
      ("not_poly", "LINESTRING (0 0, 1 1)", "not_polygon"),
      ("open", "POLYGON ((0 0, 4 0, 4 4, 0 4))", "open_ring"),
      ("few", "POLYGON ((0 0, 1 1, 0 0))", "too_few_vertices"),
      ("range", "POLYGON ((0 0, 200 0, 200 4, 0 4, 0 0))", "out_of_range"),
      ("dup", "POLYGON ((0 0, 4 0, 4 0, 0 4, 0 0))", "duplicate_vertex"),
      ("garbage", "nonsense", "not_polygon")
    ).toDF("name", "wkt", "expect")
    val out = cases
      .withColumn("got", Spatial.polygonValidity(col("wkt")))
      .filter(!(col("got") <=> col("expect")))
    assert(out.isEmpty, "every case must produce its expected reason")
  }

  test("ingest: layer check, name check, geometry gate, duplicate skip") {
    import spark.implicits._
    val layers = Seq("basins", "roads").toDF("layer_name")
    val existing = Seq(("basins", "Yukon", "POLYGON")).toDF("layer_name", "feature_name", "geom_type")
    val incoming = Seq(
      ("basins", "Teslin", "POLYGON ((0 60, 4 60, 4 64, 0 64, 0 60))"),  // accepted
      ("basins", "Yukon", "POLYGON ((0 60, 4 60, 4 64, 0 64, 0 60))"),   // duplicate_feature
      ("glaciers", "Kaskawulsh", "POLYGON ((0 60, 4 60, 4 64, 0 64, 0 60))"), // unknown_layer
      ("basins", null, "POLYGON ((0 60, 4 60, 4 64, 0 64, 0 60))"),      // missing_feature_name
      ("basins", "Broken", "POLYGON ((0 60, 4 60, 4 64, 0 64))")         // open_ring
    ).toDF("layer_name", "feature_name", "wkt")

    val out = VectorStore.ingest(incoming, layers, existing)
    val acc = out.accepted.select("feature_name").as[String].collect().toList
    assert(acc == List("Teslin"))
    assert(out.accepted.head().getAs[String]("geom_type") == "POLYGON")
    val rej = out.rejects.collect()
      .map(r => (Option(r.getString(1)).getOrElse("<null>"), r.getString(2))).toMap
    assert(rej == Map(
      "Yukon" -> "duplicate_feature",
      "Kaskawulsh" -> "unknown_layer",
      "<null>" -> "missing_feature_name",
      "Broken" -> "open_ring"
    ))
  }

  test("a repeated feature triple in the existing store rejects the incoming row once") {
    // the DocumentIngest fan-out class: membership joins must
    // distinct their store side
    import spark.implicits._
    val layers = Seq("basins").toDF("layer_name")
    val existing = Seq(
      ("basins", "Yukon", "POLYGON"),
      ("basins", "Yukon", "POLYGON")
    ).toDF("layer_name", "feature_name", "geom_type")
    val incoming = Seq(("basins", "Yukon", "POLYGON ((0 60, 4 60, 4 64, 0 64, 0 60))"))
      .toDF("layer_name", "feature_name", "wkt")
    val out = VectorStore.ingest(incoming, layers, existing)
    val rej = out.rejects.collect().map(r => (r.getString(1), r.getString(2))).toList
    assert(rej == List("Yukon" -> "duplicate_feature"), s"exactly one reject row: $rej")
  }
}
