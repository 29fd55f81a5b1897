package graft

import graft.functions.VectorOps
import graft.ml.Similarity
import graft.tables.{EmbeddingFixtures, MultilingualFixtures, TestTables}
import org.apache.spark.sql.functions._

/** The finite-norm embedding contract, pinned end to end.
  *
  * Contract: a vector enters cosine geometry (normalization, cluster
  * assignment, pair scoring, top-k serving) iff its squared L2 norm is
  * FINITE and strictly POSITIVE — zero-norm, NaN/Inf-component,
  * NULL-element and NULL vectors are dropped at the seam, in BOTH
  * engines. One expression is the whole contract on the Spark side
  * ([[graft.functions.VecNorm2]]: finite-positive norm² or NULL); the
  * DuckDB twin is `Similarity.finiteNormWhere` (coalesce-NULL→NaN
  * inside the dot, then `n2 > 0 AND isfinite(n2)`).
  *
  * Why a bare `norm² > 0` was NOT enough: both Spark
  * SQL and DuckDB order NaN ABOVE every other double — including +Inf
  * — so `NaN > 0` is TRUE in both engines and a NaN-component vector
  * sails through, then ranks cos=NaN FIRST in a DuckDB DESC top-k
  * while the native Spark kernel yields NULL: silent cross-engine
  * divergence on exactly the rows a failed embedder emits. Worse,
  * DuckDB's `list_dot_product` hard-ERRORS on NULL elements, so one
  * such row used to kill an entire oracle query. The first test pins
  * those engine premises so a Spark-semantics change is caught here,
  * not in a hash mismatch three stages later.
  */
class EmbeddingContractSpec extends SparkSpec {

  private def vecDf(rows: Seq[(Long, Seq[Option[Double]])]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = true), nullable = true)
    ))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (id, v) =>
        Row(id, if (v == null) null else v.map(_.map(java.lang.Double.valueOf).orNull))
      }.asJava,
      schema
    )
  }

  test("premise: Spark SQL orders NaN above +Inf, so `norm > 0` alone keeps NaN rows") {
    val r = spark
      .sql("SELECT double('NaN') > 0 AS nan_gt0, double('NaN') < double('Infinity') AS nan_lt_inf")
      .head()
    assert(r.getBoolean(0), "NaN > 0 must be TRUE in Spark SQL (NaN sorts largest)")
    assert(!r.getBoolean(1), "NaN < +Inf must be FALSE — the <Inf bound is what drops NaN")
  }

  test("VecNorm2: finite-positive norm² or NULL, across every degenerate class") {
    val fin = Seq(Some(3.0), Some(4.0)).map(x => x: Option[Double])
    val df = vecDf(Seq(
      1L -> fin,
      2L -> Seq(Some(0.0), Some(0.0)),
      3L -> Seq(Some(Double.NaN), Some(1.0)),
      4L -> Seq(Some(Double.PositiveInfinity), Some(1.0)),
      5L -> Seq(Some(1.0), None),
      6L -> null
    ))
    val out = df
      .select(col("id"), VectorOps.norm2(col("v")).as("n2"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out(1L).contains(25.0))
    assert(out(2L).isEmpty, "zero-norm → NULL")
    assert(out(3L).isEmpty, "NaN component → NULL")
    assert(out(4L).isEmpty, "Inf component → NULL")
    assert(out(5L).isEmpty, "NULL element → NULL (DuckDB would hard-error on the dot)")
    assert(out(6L).isEmpty, "NULL vector → NULL")
    // interpreted path must agree with codegen (same rows via eval)
    val interp = df
      .select(col("id"), VectorOps.norm2(col("v")).as("n2"))
      .filter(col("n2").isNotNull)
      .count()
    assert(interp == 1L)
  }

  test("normalizedVecs keeps exactly the finite-norm rows; nv is unit-length") {
    val e = TestTables.embeddingsDeg(spark, sf001)
    val n = Similarity.cosineTopK(e, "vec_id", "embedding", col("vec_id") % 100 === 0, k = 3)
    // no degenerate fixture id may ever appear in a serve result
    val degIds = EmbeddingFixtures.rows.drop(2).map(_._1)
    val served = n.select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
    assert(degIds.forall(id => !served.contains(id)), "degenerate fixtures must not serve")
  }

  test("control near-dup pair surfaces; degenerate fixtures are dropped (q_embed_neardup shape)") {
    val e = TestTables.embeddingsDeg(spark, sf001)
    val pairs = Similarity
      .nearDupPairs(e, "vec_id", "embedding", threshold = 0.35)
      .collect()
    val a = EmbeddingFixtures.MinId
    val b = EmbeddingFixtures.MinId + 1
    assert(
      pairs.exists(r => r.getLong(0) == a && r.getLong(1) == b),
      "the planted control pair must be found — a green hash must mean 'degenerates dropped', not 'fixtures lost'"
    )
    val degIds = EmbeddingFixtures.rows.drop(2).map(_._1).toSet
    assert(
      pairs.forall(r => !degIds.contains(r.getLong(0)) && !degIds.contains(r.getLong(1))),
      "no degenerate fixture may appear in any scored pair"
    )
    val cos = pairs.find(r => r.getLong(0) == a && r.getLong(1) == b).get.getDouble(2)
    assert(cos > 0.9 && cos <= 1.0)
  }

  test("cluster assignment keeps controls, drops degenerates (q_ivf_clusters shape)") {
    val out = Similarity
      .clusterAssignments(TestTables.embeddingsDeg(spark, sf001), "vec_id", "embedding", nCentroids = 16, seed = 7L)
      .filter(col("vec_id") >= EmbeddingFixtures.MinId)
      .select("vec_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(out == Set(EmbeddingFixtures.MinId, EmbeddingFixtures.MinId + 1))
  }

  test("fitCentroids survives a degenerate sample (NULL-element row would NPE unguarded)") {
    val e = TestTables.embeddingsDeg(spark, sf001)
    // stride 1 so every fixture lands in the sample
    val cents = Similarity.fitCentroids(e, "vec_id", "embedding", k = 4, iters = 2, sampleN = Int.MaxValue)
    assert(cents.length == 4)
    assert(cents.flatten.forall(x => !x.isNaN && !x.isInfinity), "no NaN/Inf may leak into fitted centroids")
  }

  test("fixture id ranges: embedding fixtures sit above the multilingual doc fixtures") {
    assert(EmbeddingFixtures.MinId > MultilingualFixtures.MinId)
    assert(EmbeddingFixtures.rows.map(_._1).distinct.size == EmbeddingFixtures.rows.size)
  }
}
