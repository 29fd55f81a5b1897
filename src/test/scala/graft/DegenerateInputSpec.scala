package graft

import graft.queries.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degenerate-input robustness net — the empty-corpus net
  * caught 5 real crashes at zero rows; this is the next-cheapest input
  * family a 100 TB pipeline actually produces:
  *
  *  - 1-row tables (every table is `limit(1)` of sf0.001 — breaks
  *    anything assuming ≥2 rows: windows with lag, pair joins,
  *    variance-style aggregates, period inference's 3-change rule);
  *  - all-NULL / empty / punctuation-only text (tokenizes to zero
  *    tokens — divides by token counts, empty shingle sets);
  *  - NULL numeric values and NULL event types in the series table
  *    (single-point series per key as a side effect of limit(1));
  *  - zero-norm and NULL embeddings (cosine's division, IVF argmax
  *    over NaN scores, dim inference from a row whose vector is NULL);
  *  - NaN/Inf-component, NULL-element and truncated-dimension
  *    embeddings — NaN orders above +Inf in BOTH engines so a bare
  *    `norm > 0` guard keeps it, a NULL element hard-errors DuckDB's
  *    list_dot_product, and a truncated vector probes min-length
  *    kernels (the finite-norm contract: functions/VecNorm2 +
  *    EmbeddingContractSpec).
  *
  * Same contract as EmptyCorpusSpec: every registered query must run
  * WITHOUT THROWING and produce a collectable result. Row counts are
  * not asserted — 0, 1 or a fixture-driven constant are all
  * legitimate; the class under test is crashes, not values.
  * Mutations are written via `withColumn` on the real 1-row frame so
  * the spec inherits whatever physical schema the driver generated.
  */
class DegenerateInputSpec extends SparkSpec {

  private def mutations(table: String, one: DataFrame): Seq[DataFrame] = table match {
    case "documents" =>
      val strT = one.schema("text").dataType
      Seq(
        one.withColumn("doc_id", lit(9000001L)).withColumn("text", lit(null).cast(strT)),
        one.withColumn("doc_id", lit(9000002L)).withColumn("text", lit("")),
        one
          .withColumn("doc_id", lit(9000003L))
          .withColumn("text", lit("!!! ... ??? --- ,,,"))
          .withColumn("lang", lit(null).cast(one.schema("lang").dataType))
      )
    case "embeddings" =>
      val embT = one.schema("embedding").dataType
      Seq(
        // zero-norm vector of the corpus's true dimension
        one
          .withColumn("vec_id", lit(9000001L))
          .withColumn("embedding", expr("transform(embedding, x -> CAST(0.0 AS FLOAT))").cast(embT)),
        one.withColumn("vec_id", lit(9000002L)).withColumn("embedding", lit(null).cast(embT)),
        one
          .withColumn("vec_id", lit(9000003L))
          .withColumn("label", lit(null).cast(one.schema("label").dataType)),
        // non-finite components: NaN orders ABOVE +Inf in both Spark
        // SQL and DuckDB, so a bare `norm > 0` guard KEEPS these — the
        // finite-norm contract (VecNorm2) must drop them before they
        // NaN-poison a ranking or an IVF argmax
        one
          .withColumn("vec_id", lit(9000004L))
          .withColumn(
            "embedding",
            expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN float('NaN') ELSE CAST(x AS FLOAT) END)").cast(embT)
          ),
        one
          .withColumn("vec_id", lit(9000005L))
          .withColumn(
            "embedding",
            expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN float('Infinity') ELSE CAST(x AS FLOAT) END)").cast(embT)
          ),
        // NULL element: DuckDB's list_dot_product hard-errors on these
        // and a primitive-loop kernel would read an undefined slot —
        // must be dropped at the geometry seam, never scored
        one
          .withColumn("vec_id", lit(9000006L))
          .withColumn(
            "embedding",
            expr("transform(embedding, (x, i) -> CASE WHEN i = 1 THEN CAST(NULL AS FLOAT) ELSE CAST(x AS FLOAT) END)").cast(embT)
          ),
        // wrong dimension (truncated write): min-length kernels must
        // not crash on it
        one
          .withColumn("vec_id", lit(9000007L))
          .withColumn("embedding", expr("slice(embedding, 1, 3)").cast(embT))
      )
    case "events" =>
      Seq(
        one
          .withColumn("event_id", lit(9000001L))
          .withColumn("value", lit(null).cast(one.schema("value").dataType)),
        one
          .withColumn("event_id", lit(9000002L))
          .withColumn("event_type", lit(null).cast(one.schema("event_type").dataType))
      )
    case _ => Seq.empty
  }

  private lazy val degenerateDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-degenerate").toString
    val names = Seq(
      "region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings"
    )
    names.foreach { n =>
      val one = spark.read.parquet(s"$sf001/$n.parquet").limit(1).localCheckpoint(true)
      mutations(n, one)
        .foldLeft(one)(_ unionByName _)
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$dir/$n.parquet")
    }
    dir
  }

  Registry.all.foreach { q =>
    test(s"${q.name} survives 1-row/NULL/zero-norm degenerate inputs") {
      val n = q.run(spark, degenerateDir).count()
      assert(n >= 0L)
    }
  }
}
