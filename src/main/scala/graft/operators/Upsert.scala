package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bulk upsert with the reference's `dbAppendTableRLS` conflict modes
  * (`R/dbAppendTableRLS.R:25-140` in YukonWRB/AquaCache): staged bulk
  * write with `ON CONFLICT DO NOTHING` or `DO UPDATE` on the key
  * columns — the exact semantics `synchronize_continuous` relies on
  * (`R/synchronize_continuous.R:728-744`).
  *
  * On a lake table this is `MERGE INTO target USING updates ON keys
  * WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT` (Delta/Iceberg); the
  * engine-only equivalent here materializes the merged frame:
  * anti-join + union — one shuffle on the keys, which is also the
  * partitioning a bucketed target table would already have, so at
  * scale only matched partitions rewrite.
  */
object Upsert {

  sealed trait ConflictMode
  case object DoNothing extends ConflictMode
  case object DoUpdate extends ConflictMode

  /** [[merge]] of [[dedupe]]: one row per key of `updates`, merged
    * into `target`.
    */
  def apply(
      target: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      mode: ConflictMode,
      orderCol: Option[String] = None
  ): DataFrame =
    merge(target, dedupe(updates, keys, orderCol), keys, mode)

  /** One row per key of `updates`, with every column of `updates`.
    *
    * @param orderCol when updates contain several rows per key, the
    *                 row with the highest orderCol wins (deterministic
    *                 batch semantics)
    *
    * The conflict pick is a TOTAL rule — max over the struct of
    * (orderCol, every remaining column) — never `dropDuplicates(keys)`
    * or a partial-order window: a scan-order-dependent winner means a
    * retried task on a real cluster can emit a different row than the
    * lost attempt (retry-unstable output). max(struct) keeps the
    * map-side partial aggregation dropDuplicates had, so the cost at
    * scale is one combine-enabled shuffle, no per-key sort. Update
    * columns must be orderable (no MapType) — true of every store
    * schema here.
    */
  def dedupe(updates: DataFrame, keys: Seq[String], orderCol: Option[String] = None): DataFrame = {
    val restNames = updates.columns.filterNot(keys.contains)
    val pickNames = orderCol match {
      case Some(oc) => oc +: restNames.filterNot(_ == oc).toSeq
      case None     => restNames.toSeq
    }
    if (pickNames.isEmpty) updates.dropDuplicates(keys) // key-only frame: rows within a key are identical
    else
      updates
        .groupBy(keys.map(col): _*)
        .agg(max(struct(pickNames.map(col): _*)).as("__p"))
        .select(keys.map(col) ++ pickNames.map(n => col(s"__p.$n").as(n)): _*)
  }

  /** Merge `deduped` (at most one row per key, e.g. from [[dedupe]])
    * into `target`, staged onto the target's column set.
    */
  def merge(target: DataFrame, deduped: DataFrame, keys: Seq[String], mode: ConflictMode): DataFrame = {
    val staged = deduped.select(target.columns.map(col): _*)
    mode match {
      case DoNothing =>
        target.unionByName(staged.join(target.select(keys.map(col): _*), keys, "left_anti"))
      case DoUpdate =>
        target.join(staged.select(keys.map(col): _*), keys, "left_anti").unionByName(staged)
    }
  }
}
