package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Manual discrete sample + results insertion — `R/addNewDiscrete.R`
  * (YukonWRB/AquaCache): the reference inserts ONE sample row plus
  * its results in a transaction, resolving matrix states from the
  * sample's media and enforcing the parameter table's
  * sample-fraction / result-speciation requirements, erroring on the
  * first bad input. Batch-first here, same convention as
  * [[AddContinuous]] and the CRUD gates: every sample/result is
  * classified, rejects carry a reason column, and the accepted set
  * flows through — the transaction-per-sample shape becomes
  * all-or-nothing per sample key (a sample whose metadata rejects
  * takes its results with it).
  *
  * Scale: every dimension (parameters, media defaults, the 1-row max
  * id) is broadcast; the only shuffles are the results-to-samples
  * equi join on the batch's own sample key and the id-assignment
  * window — both bounded by batch size, not store size.
  *
  * Bench note: at sf0.1 the registered query costs ~1.1 s/rep
  * regardless of core count (8 vs 32) and regardless of whether the
  * shared frontiers are checkpointed — i.e. the time is plan
  * construction + codegen of the three-branch union plus the id
  * allocator's materialization job, a fixed per-invocation cost, not
  * a data-volume cost. Isolated measurement 2026-08: 1.19 s/rep at
  * 32 cores, 1.11 at 8; checkpoint on/off within noise.
  */
object AddDiscrete {

  final case class AddDiscreteResult(
      samples: DataFrame,
      results: DataFrame,
      sampleRejects: DataFrame,
      resultRejects: DataFrame
  )

  /** @param samples  batch sample metadata: sample_key (batch-local),
    *                 location_id, datetime, media_id
    * @param results  batch results: sample_key, parameter_id, result,
    *                 result_type_id (+ optional result_condition_id,
    *                 result_condition_value, sample_fraction_id,
    *                 result_speciation_id, matrix_state_id)
    * @param parameters dim: parameter_id, needs_fraction,
    *                 needs_speciation
    * @param mediaDefaults dim: media_id, default_matrix_state_id
    * @param existingSamples current store, read only for max(sample_id)
    */
  def run(
      samples: DataFrame,
      results: DataFrame,
      parameters: DataFrame,
      mediaDefaults: DataFrame,
      existingSamples: DataFrame
  ): AddDiscreteResult = {
    // ---- sample gates (reference: required metadata, one row each) --
    // a sample_key appearing twice in one batch is a caller bug the
    // reference's one-row-at-a-time flow cannot express; both rows
    // reject (no tiebreak exists between identical keys) so neither
    // fans out the results join with an arbitrary winner's id
    val keyCounts = Window.partitionBy(col("sample_key"))
    val sampleFlagged = samples
      .join(
        broadcast(results.groupBy("sample_key").agg(count(lit(1)).as("__n_results"))),
        Seq("sample_key"),
        "left"
      )
      .withColumn("__key_n", count(lit(1)).over(keyCounts))
      .withColumn(
        "reject_reason",
        when(col("sample_key").isNull, "missing_sample_key")
          .when(col("__key_n") > 1, "duplicate_sample_key")
          .when(col("location_id").isNull, "missing_location")
          .when(col("datetime").isNull, "missing_datetime")
          .when(col("media_id").isNull, "missing_media")
          .when(coalesce(col("__n_results"), lit(0L)) === 0, "no_results")
      )
      .drop("__key_n")
      // the gate frontier feeds rejects AND the accepted id path —
      // materialize once (batch-bounded) so the four output frames
      // don't each rescan+regate the batch
      .localCheckpoint(false)
    val sampleRejects = sampleFlagged
      .filter(col("reject_reason").isNotNull)
      .select(col("sample_key"), col("reject_reason"))
    val goodSamples = sampleFlagged.filter(col("reject_reason").isNull).drop("reject_reason")

    // ---- id assignment above the existing max: range-partitioned
    // rank (SeqIds), not a single-task global window ----------------
    // smallBatch (skip globalRank's range-repartition + checkpoint,
    // measured at ~0.4 s per CRUD chain) is only safe
    // when the batch truly is dimension-sized — addACDiscrete is a
    // manual upload in the reference, but nothing here enforces that,
    // so gate the hatch on the MEASURED batch size instead of the
    // contract: the frontier is already localCheckpoint'd, so the
    // count is a cheap scan of pinned blocks, and a bulk backfill
    // (batch grows with data volume) keeps the distributed rank.
    val smallBatch = goodSamples.count() <= 50000L
    val withIds = graft.operators.SeqIds
      .assignIdsAbove(existingSamples, "sample_id", goodSamples, Seq(col("sample_key")),
        "sample_id", smallBatch = smallBatch)
      .drop("__n_results")

    // ---- result gates --------------------------------------------
    val dims = broadcast(
      parameters.select(
        col("parameter_id"),
        col("needs_fraction"),
        col("needs_speciation"),
        lit(true).as("__known_param")
      )
    )
    val keyed = results
      .join(
        withIds.select(
          col("sample_key"),
          col("sample_id"),
          col("media_id").as("__media_id"),
          lit(true).as("__sample_ok")
        ),
        Seq("sample_key"),
        "left"
      )
      .join(dims, Seq("parameter_id"), "left")
      .withColumn(
        "reject_reason",
        when(col("__sample_ok").isNull, "sample_rejected")
          .when(col("__known_param").isNull, "unknown_parameter")
          // NULL result with no stated condition: the reference drops
          // these rows; surfacing them as rejects keeps the audit trail
          .when(col("result").isNull && col("result_condition_id").isNull, "null_result")
          // censored conditions (below/above detection limit) need the
          // limit value itself
          .when(
            col("result_condition_id").isin(1, 2) && col("result_condition_value").isNull,
            "missing_condition_value"
          )
          .when(col("needs_fraction") && col("sample_fraction_id").isNull, "missing_fraction")
          .when(
            col("needs_speciation") && col("result_speciation_id").isNull,
            "missing_speciation"
          )
      )
      // shared by resultRejects and goodResults (batch-bounded)
      .localCheckpoint(false)
    val resultRejects = keyed
      .filter(col("reject_reason").isNotNull)
      .select(col("sample_key"), col("parameter_id"), col("reject_reason"))
    // matrix state defaults from the parent sample's media when absent
    val goodResults = keyed
      .filter(col("reject_reason").isNull)
      .join(broadcast(mediaDefaults), col("__media_id") === mediaDefaults("media_id"), "left")
      .withColumn(
        "matrix_state_id",
        coalesce(col("matrix_state_id"), col("default_matrix_state_id"))
      )
      .select(
        col("sample_id"),
        col("parameter_id"),
        col("result"),
        col("result_type_id"),
        col("result_condition_id"),
        col("result_condition_value"),
        col("sample_fraction_id"),
        col("result_speciation_id"),
        col("matrix_state_id")
      )

    AddDiscreteResult(
      withIds.drop("__sample_ok"),
      goodResults,
      sampleRejects,
      resultRejects
    )
  }
}
