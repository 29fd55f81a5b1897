package graft.tables

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Planted degenerate-embedding rows for the cosine-geometry queries
  * (q_embed_neardup / q_cosine_topk / q_ivf_clusters). The
  * driver-generated `embeddings` table contains only well-formed
  * vectors, so the finite-norm contract — zero-norm, NaN/Inf-component,
  * NULL-element and NULL vectors are DROPPED by both engines before
  * any dot product — would otherwise never be exercised by an oracle
  * row. One Scala value feeds BOTH engines: [[df]] for
  * Spark and [[embDegCteSql]] (an `emb_deg` CTE unioning the same rows
  * as a VALUES list) for DuckDB, so the fixture can never drift.
  *
  * Why each class is here (all real failed-embedder outputs at corpus
  * scale):
  *  - zero vector: no direction; Spark `x/0` under the old guard vs
  *    DuckDB `x/0 = NULL`;
  *  - NaN component: Spark SQL and DuckDB both order NaN ABOVE +Inf,
  *    so `norm² > 0` alone KEEPS the row in both engines — but DuckDB
  *    would then rank cos=NaN FIRST in a DESC top-k while Spark's
  *    native kernel yields NULL-ranked-last: silent divergence;
  *  - +Inf component: norm² = +Inf passes `> 0` in both engines and
  *    normalizes to a zero/NaN vector;
  *  - NULL element: DuckDB's `list_dot_product` hard-ERRORS ("can not
  *    contain NULL values") — one such row kills the whole oracle
  *    query — while Spark's primitive kernel would read an undefined
  *    slot;
  *  - NULL vector: the classic missing row.
  * The two control rows are a planted near-duplicate pair (cos ≈ 0.99,
  * identical but for the last component) proving fixtures actually
  * FLOW through both engines — q_embed_neardup must surface the pair
  * and q_ivf_clusters must assign both — so a green hash means "the
  * degenerates were dropped", not "the fixtures were lost".
  *
  * All finite components are small powers of two (exact in float32 and
  * in decimal SQL text), so the Spark Array[Float] and the DuckDB
  * VALUES literal are bit-identical.
  *
  * vec_ids start at [[MinId]] = 10^12 + 10001 (strictly above the
  * MultilingualFixtures doc range to keep the two fixture families
  * disjoint for cross-table sanity greps); ScaleUp asserts every
  * driver/replica vec_id stays below the fixture range.
  */
object EmbeddingFixtures {

  /** Lowest fixture vec_id; every driver/ScaleUp-generated id must
    * stay strictly below this (asserted by ScaleUp per run).
    */
  val MinId: Long = 1000000010001L

  val Dim: Int = 64

  /** The repeating finite pattern: 2^-(j % 8) — exact in float32. */
  private def pat(j: Int): Float = (1.0 / (1L << (j % 8))).toFloat

  sealed trait Vec
  case object NullVec extends Vec
  /** elements, any of which may be NULL / NaN / +Inf */
  final case class Elems(v: Vector[Option[Float]]) extends Vec

  private def pattern(last: Option[Float] = None): Elems =
    Elems(Vector.tabulate(Dim)(j => Some(if (j == Dim - 1) last.getOrElse(pat(j)) else pat(j))))

  /** (vec_id, embedding, label). Rows 0–1 are the control near-dup
    * pair (kept, same label); rows 2–6 are the degenerate classes
    * (dropped by the finite-norm contract in BOTH engines).
    */
  val rows: Seq[(Long, Vec, Option[Int])] = Seq(
    (MinId + 0, pattern(), Some(5)),
    (MinId + 1, pattern(last = Some(0.5f)), Some(5)),
    (MinId + 2, Elems(Vector.fill(Dim)(Some(0.0f))), Some(6)),
    (MinId + 3, Elems(Vector.tabulate(Dim)(j => Some(if (j == 0) Float.NaN else pat(j)))), Some(6)),
    (MinId + 4, Elems(Vector.tabulate(Dim)(j => Some(if (j == 0) Float.PositiveInfinity else pat(j)))), Some(6)),
    (MinId + 5, NullVec, Some(6)),
    (MinId + 6, Elems(Vector.tabulate(Dim)(j => if (j == 1) None else Some(pat(j)))), Some(6))
  )

  /** The fixture rows as a DataFrame in the embeddings-table schema
    * (float elements, nullable — matches TestTables.embeddings'
    * normalized shape).
    */
  def df(s: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true),
      StructField("label", IntegerType, nullable = true)
    ))
    val data = rows.map { case (id, vec, label) =>
      val emb = vec match {
        case NullVec  => null
        case Elems(v) => v.map(_.map(java.lang.Float.valueOf).orNull)
      }
      Row(id, emb, label.map(Integer.valueOf).orNull)
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(data.asJava, schema)
  }

  /** Render one float component as exact SQL text. Small powers of two
    * print as exact decimals; the specials go through DuckDB's string
    * cast.
    */
  private def sqlElem(e: Option[Float]): String = e match {
    case None                     => "NULL::FLOAT"
    case Some(f) if f.isNaN       => "'NaN'::FLOAT"
    case Some(f) if f.isInfinity  => "'Infinity'::FLOAT"
    case Some(f)                  => new java.math.BigDecimal(f.toDouble).stripTrailingZeros.toPlainString + "::FLOAT"
  }

  private def sqlVec(vec: Vec): String = vec match {
    case NullVec  => "CAST(NULL AS FLOAT[])"
    case Elems(v) => v.map(sqlElem).mkString("[", ", ", "]")
  }

  /** `emb_deg` CTE body: the embeddings table plus the fixture rows,
    * typed to the parquet schema.
    */
  def embDegCteSql: String = {
    val values = rows.map { case (id, vec, label) =>
      val lbl = label.map(l => s"$l::INT").getOrElse("NULL::INT")
      s"($id::BIGINT, ${sqlVec(vec)}, $lbl)"
    }.mkString(",\n    ")
    s"""emb_deg AS (
       |  SELECT vec_id, embedding, label FROM embeddings
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    $values
       |  ) AS f(vec_id, embedding, label)
       |)""".stripMargin
  }
}
