package graft.functions

import graft.SparkSpec
import graft.ml.TextStats
import org.apache.spark.sql.functions._

class SimHash64Spec extends SparkSpec {

  test("simhash64 expression: identical token sets equal; near-dups closer than unrelated") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every day"),
      (2L, "the quick brown fox jumps over the lazy dog every night"),
      (3L, "the quick brown fox jumps over the lazy dog every day"),
      (4L, "tungsten codegen shuffle broadcast partition executor stage driver")
    ).toDF("doc_id", "text")
      .withColumn("sh", SimHash64.simhash64(TextStats.tokens(col("text"))))
    val h = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(h(1L) == h(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(4L)))
    // SQL registration works too
    df.createOrReplaceTempView("docs_simhash")
    val viaSql = spark
      .sql("select doc_id, simhash64(array('a','b')) from docs_simhash where doc_id = 1")
      .collect()
    assert(viaSql.length == 1)
  }

  test("simhash64 rejects non-array-of-string input") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(1L).toDF("x").select(SimHash64.simhash64(col("x"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
  }
}
