package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import graft.functions.ExpressionSandbox

/** The value-correction engine: priority-ordered fold of correction
  * operators over each measurement point.
  *
  * Reference semantics (`continuous.apply_corrections`,
  * `inst/patches/patch_22.R:37-133` in YukonWRB/AquaCache):
  * corrections matching a point inclusively (`start_dt <= dt AND
  * end_dt >= dt`, patch_22.R:66-67) are applied in
  * `correction_types.priority` order, folding the value
  * left-to-right and short-circuiting once NULL:
  *
  *   - `delete`                -> NULL
  *   - `trim`                  -> NULL only when the folded value falls
  *                                outside [value1, value2] (either bound
  *                                may be NULL = unbounded), else unchanged
  *                                (patch_22.R:75-81)
  *   - `offset_linear`         -> v + value1
  *   - `offset_two_point`      -> v + value1 + (value2-value1) * frac
  *                                (frac = elapsed / segment length)
  *   - `scale`                 -> v * value1 / 100
  *   - `drift_linear`          -> v + value1 * elapsed / timestep_window
  *   - `drift_equation`        -> stored SQL of $1 = current value,
  *                                $2 = elapsed seconds
  *
  * Spark-first design: corrections are per-series METADATA (thousands
  * of rows against billions of points), so the table is collected to
  * the driver once, grouped there into a priority-sorted array per
  * series, and broadcast-joined to the fact table. The fold itself is
  * a single `aggregate()` higher-order function over the filtered
  * array: the whole operator is one map-side, whole-stage-codegen'd
  * projection with NO shuffle of the fact table and no per-point
  * grouping.
  * Stored drift equations pass the `ExpressionSandbox` lexer and are
  * spliced directly into the lambda as SQL text (the reference's
  * validator plays the same role before its dynamic SQL,
  * `inst/patches/patch_55.R:766-846`).
  */
object Corrections {

  /** The fields of one correction, in fold order: `sort_array` orders
    * by priority, then correction_id.
    */
  private val Fields =
    Seq("priority", "correction_id", "start_dt", "end_dt", "ctype", "value1", "value2", "window_seconds", "equation")

  /** Expected `corrections` columns: correction_id (long), seriesId
    * (same name as in `points`), start_dt, end_dt (timestamp),
    * ctype (string, one of the six above), value1, value2 (double),
    * window_seconds (long), equation (string), priority (int).
    * The table is read once, on the driver, when this is called; an
    * empty table gives the pass-through without a join.
    */
  def apply(
      points: DataFrame,
      corrections: DataFrame,
      seriesId: String = "timeseries_id",
      dtCol: String = "datetime",
      valueCol: String = "value",
      outCol: String = "corrected"
  ): DataFrame = {
    // The one read of the correction table: every row, on the driver.
    val table = corrections.select((seriesId +: Fields).map(col): _*)
    val rows = table.collect()
    if (rows.isEmpty)
      // no correction applies: the fold's pass-through, in the join's
      // column order (series column first)
      points
        .select(points.columns.sortBy(_ != seriesId).map(col).toIndexedSeq: _*)
        .withColumn(outCol, col(valueCol).cast("double"))
    else fold(points, table.schema, rows, seriesId, dtCol, valueCol, outCol)
  }

  /** @param rows the correction table's (seriesId +: [[Fields]]) rows */
  private def fold(
      points: DataFrame,
      schema: StructType,
      rows: Array[Row],
      seriesId: String,
      dtCol: String,
      valueCol: String,
      outCol: String
  ): DataFrame = {
    val spark = points.sparkSession
    val field = (name: String) => 1 + Fields.indexOf(name)

    // Validate every stored equation before splicing (sandbox gate).
    val equations: Map[Long, String] = rows.collect {
      case r if r.getString(field("ctype")) == "drift_equation" && !r.isNullAt(field("equation")) =>
        r.getLong(field("correction_id")) -> r.getString(field("equation"))
    }.toMap
    equations.foreach { case (id, eq) =>
      ExpressionSandbox.validate(eq) match {
        case Left(err) =>
          throw new IllegalArgumentException(s"unsafe correction equation $id: $err")
        case Right(_) =>
          // parse check against the real Spark SQL grammar
          spark.sessionState.sqlParser.parseExpression(
            ExpressionSandbox.bindPlaceholders(eq, Map(1 -> "1.0", 2 -> "1.0"))
          )
      }
    }

    // Per-series correction array, grouped on the driver (a NULL series
    // joins nothing). Its rows become a local relation, so `sort_array`
    // runs at optimization and the broadcast below is the only job it
    // costs: no shuffle and no second read of the table.
    val element = StructType(schema.fields.tail)
    val perSeries = rows.filterNot(_.isNullAt(0)).groupBy(_.get(0)).toSeq.map { case (key, rs) =>
      Row(key, rs.map(r => Row.fromSeq(r.toSeq.tail)).toSeq)
    }
    val corrArr = spark
      .createDataFrame(
        perSeries.asJava,
        StructType(Seq(schema.fields.head, StructField("corr_arr", ArrayType(element, containsNull = false))))
      )
      .select(col(seriesId), sort_array(col("corr_arr")).as("corr_arr"))

    // Fold lambda as SQL text. elapsed/frac use fractional epoch
    // seconds (cast timestamp -> double).
    val equationCase =
      if (equations.isEmpty) "CAST(NULL AS DOUBLE)"
      else
        equations.toSeq.sortBy(_._1).map { case (id, eq) =>
          val bound = ExpressionSandbox.bindPlaceholders(
            eq,
            Map(
              1 -> "acc",
              2 -> s"CAST(`$dtCol` AS DOUBLE) - CAST(c.start_dt AS DOUBLE)"
            )
          )
          s"WHEN c.correction_id = ${id}L THEN CAST(($bound) AS DOUBLE)"
        }.mkString("CASE ", " ", " ELSE CAST(NULL AS DOUBLE) END")

    val elapsed = s"(CAST(`$dtCol` AS DOUBLE) - CAST(c.start_dt AS DOUBLE))"
    val segLen = "(CAST(c.end_dt AS DOUBLE) - CAST(c.start_dt AS DOUBLE))"
    val foldSql =
      s"""aggregate(
         |  filter(corr_arr, c -> `$dtCol` >= c.start_dt AND `$dtCol` <= c.end_dt),
         |  CAST(`$valueCol` AS DOUBLE),
         |  (acc, c) -> CASE
         |    WHEN acc IS NULL THEN CAST(NULL AS DOUBLE)
         |    WHEN c.ctype = 'delete' THEN CAST(NULL AS DOUBLE)
         |    WHEN c.ctype = 'trim' THEN
         |      CASE WHEN (c.value1 IS NOT NULL AND acc < c.value1)
         |             OR (c.value2 IS NOT NULL AND acc > c.value2)
         |           THEN CAST(NULL AS DOUBLE) ELSE acc END
         |    WHEN c.ctype = 'offset_linear' THEN acc + c.value1
         |    WHEN c.ctype = 'offset_two_point'
         |      THEN acc + c.value1 + (c.value2 - c.value1) * $elapsed / $segLen
         |    WHEN c.ctype = 'scale' THEN acc * c.value1 / 100.0
         |    WHEN c.ctype = 'drift_linear'
         |      THEN acc + c.value1 * $elapsed / c.window_seconds
         |    WHEN c.ctype = 'drift_equation' THEN $equationCase
         |    ELSE acc
         |  END
         |)""".stripMargin

    points
      .join(broadcast(corrArr), Seq(seriesId), "left")
      .withColumn(outCol, when(col("corr_arr").isNull, col(valueCol).cast("double")).otherwise(expr(foldSql)))
      .drop("corr_arr")
  }
}
