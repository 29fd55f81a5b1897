package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Spatial

/** Vector-feature store ops — `R/insertACVector.R` (YukonWRB/
  * AquaCache): features belong to a known layer, carry a feature
  * name, must hold valid geometry (the reference runs terra::is.valid
  * and stops on unfixable geoms), and an existing (layer_name,
  * feature_name, geom_type) is not re-inserted.
  *
  * Spark shape: geometries are WKT string columns validated by the
  * codegen'd `Spatial.polygonValidity` rules; layer membership is a
  * broadcast semi join; dedupe is a left-anti join. One batch of ten
  * million features runs the identical plan as one feature.
  */
object VectorStore {

  final case class VectorImport(accepted: DataFrame, rejects: DataFrame)

  /** Validate + dedupe a batch of incoming features.
    *
    * @param incoming layer_name, feature_name, wkt
    * @param layers   known layers: layer_name
    * @param existing current store: layer_name, feature_name, geom_type
    * @return accepted (with geom_type) and rejects (with reason:
    *         unknown_layer | missing_feature_name | geometry reasons |
    *         duplicate_feature)
    */
  def ingest(incoming: DataFrame, layers: DataFrame, existing: DataFrame): VectorImport = {
    val known = layers.select(col("layer_name")).distinct()
      .withColumn("__layer_known", lit(true))
    val typed = incoming
      .withColumn("geom_type", Spatial.wktGeomType(col("wkt")))
      .join(broadcast(known), Seq("layer_name"), "left")
    val withExisting = typed.join(
      // distinct: existence is a fact, not a count — a repeated triple
      // in the store must not fan the incoming row out per store copy
      existing
        .select(col("layer_name"), col("feature_name"), col("geom_type"))
        .distinct()
        .withColumn("__exists", lit(true)),
      Seq("layer_name", "feature_name", "geom_type"),
      "left"
    )
    val reason = when(col("__layer_known").isNull, "unknown_layer")
      .when(col("feature_name").isNull || trim(col("feature_name")) === "", "missing_feature_name")
      .otherwise(
        coalesce(
          Spatial.polygonValidity(col("wkt")),
          when(col("__exists").isNotNull, "duplicate_feature")
        )
      )
    val flagged = withExisting
      .withColumn("reject_reason", reason)
      .drop("__layer_known", "__exists")
    VectorImport(
      accepted = flagged.filter(col("reject_reason").isNull).drop("reject_reason"),
      rejects = flagged
        .filter(col("reject_reason").isNotNull)
        .select(col("layer_name"), col("feature_name"), col("reject_reason"))
    )
  }
}
