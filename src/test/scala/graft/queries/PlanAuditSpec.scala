package graft.queries

import graft.SparkSpec

/** Plan-quality assertions over the full query registry: the scale
  * properties SURVEY §8.4 claims must be visible in the physical
  * plan, not just argued. The no-cartesian sweep runs on every
  * registered query (`Registry.all`), so new rounds are covered
  * automatically; the shape assertions below pin the specific plans
  * the 100 TB story depends on.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sf).queryExecution.executedPlan.toString

  test("the native tokenizer projection stays inside whole-stage codegen (token stats is scan-side)") {
    val df = Registry.byName("q_token_stats").run(spark, sf)
    df.collect() // finalize the AQE plan — codegen spans only show on the executed final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("unicode_tokens"), s"q_token_stats must use the native tokenizer:\n$p")
    // the tokenize+count projection compiles into a whole-stage-codegen
    // span — the `*(n)` prefix in the final plan (UnicodeTokens has
    // doGenCode; a CodegenFallback expression would break the span and
    // evaluate interpreted per row, losing the * on its Project)
    val codegenTokenProject =
      p.linesIterator.exists(l => l.contains("unicode_tokens") && l.contains(") Project"))
    assert(codegenTokenProject, s"the tokenizer projection lost codegen:\n$p")
  }

  test("the finite-norm seam (vec_norm2 filter + normalize) stays inside whole-stage codegen") {
    val df = Registry.byName("q_ivf_clusters").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("vec_norm2"), s"q_ivf_clusters must guard with the native VecNorm2 kernel:\n$p")
    // the degenerate-vector filter evaluates the one-pass kernel inside
    // a codegen span — a CodegenFallback there would re-interpret every
    // scan row (the seam runs once per row at 100 TB, so losing the
    // span matters even though pair scoring dominates)
    val codegenNormFilter =
      p.linesIterator.exists(l => l.contains("vec_norm2") && (l.contains(") Filter") || l.contains(") Project")))
    assert(codegenNormFilter, s"the finite-norm seam lost codegen:\n$p")
  }

  test("no CartesianProduct anywhere in the whole registry") {
    for (q <- Registry.all.map(_.name)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
  }

  test("dsir select/screen join the bucket-bounded ratio table broadcast — the corpus never shuffles by bucket") {
    assert(plan("q_dsir_select").contains("BroadcastHashJoin"), plan("q_dsir_select"))
    assert(plan("q_dsir_screen").contains("BroadcastHashJoin"), plan("q_dsir_screen"))
  }

  test("zonal stats broadcasts the zone dim — the cell side never pre-shuffles") {
    val p = plan("q_raster_zonal")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("image-latest catalog/watermark joins are all broadcast, not sort-merge") {
    val p = plan("q_image_latest")
    assert(!p.contains("SortMergeJoin"), s"metadata joins must broadcast:\n$p")
  }

  test("discrete sync is one full-outer join per level (no extra shuffle of the fact side)") {
    val p = plan("q_discrete_sync")
    assert(p.contains("FullOuter"), p)
  }

  test("tfidf keeps the df side broadcast — the corpus never shuffles by term") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastHashJoin"), s"df join must broadcast:\n$p")
  }

  test("contamination screens via a broadcast of the eval shingle set, one doc aggregation") {
    val p = plan("q_contamination")
    assert(
      p.contains("BroadcastHashJoin"),
      s"eval shingles must reach the train side as a broadcast filter:\n$p"
    )
    assert(!p.contains("SortMergeJoin"), s"the corpus must never shuffle by shingle:\n$p")
  }

  test("the e2e lifecycle slice broadcasts its dimension sides (corrections, watermark)") {
    val p = plan("q_daily_update_e2e")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("media codec queries are pure map-side pipelines — no joins at all") {
    for (q <- Seq("q_image_decode", "q_image_resize", "q_audio_decode", "q_pii_redact")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must stay a scan-side projection:\n$p")
    }
  }

  test("semdedup's pair join is equi on cluster id — never a nested-loop scan") {
    val p = plan("q_semdedup")
    assert(!p.contains("NestedLoop"), s"within-cluster candidates must hash-partition:\n$p")
  }

  test("boilerplate strip anti-joins against a BROADCAST frequent-line set") {
    val p = plan("q_boilerplate")
    assert(
      p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the df-thresholded line set must broadcast back, not shuffle the corpus:\n$p"
    )
  }

  test("duplicate-span semi join broadcasts the repeated-gram set") {
    val p = plan("q_dup_spans")
    assert(
      p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"the dup-gram set must broadcast; the corpus shuffles by gram only once:\n$p"
    )
  }

  test("filter decision is join-free — one content-hash window is the only exchange") {
    val p = plan("q_filter_decision")
    assert(!p.contains("Join"), s"signal fusion must stay scan-side, no joins:\n$p")
  }

  test("KN counts broadcast the vocabulary-sized continuation table") {
    val p = plan("q_kn_counts")
    assert(p.contains("BroadcastHashJoin"), s"continuation join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the trigram table must not reshuffle:\n$p")
  }

  test("url filter broadcasts the blocklist — the corpus never shuffles by domain") {
    val p = plan("q_url_filter")
    assert(p.contains("BroadcastHashJoin"), s"blocklist join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bm25 broadcasts query terms and corpus stats — postings never sort-merge") {
    val p = plan("q_bm25_search")
    assert(p.contains("BroadcastHashJoin"), s"query-term probe must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the postings side must not reshuffle by term:\n$p")
  }

  test("bpe encode joins the segmentation dict broadcast onto corpus tokens") {
    val p = plan("q_bpe_encode")
    assert(p.contains("BroadcastHashJoin"), s"the post-merge dict is vocab-sized, must broadcast:\n$p")
  }

  test("classifier scoring keeps the hash projection join-free up to the doc aggregation") {
    val p = plan("q_classifier_score")
    assert(!p.contains("NestedLoop"), s"the join-back must stay equi:\n$p")
    assert(p.contains("HashAggregate"), s"the weight sum must map-side combine:\n$p")
  }

  // ---- later additions, each named by its query ---------------------

  test("corrected-read e2e pushes event_type to the events scan and prunes to the 2 read columns") {
    val p = plan("q_corrected_read_e2e")
    assert(
      p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type"),
      s"the member-series filter must reach the parquet scan:\n$p"
    )
    assert(!p.contains("props"), s"unused event columns must be pruned from the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the compound member join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing in the e2e slice is big enough to sort-merge:\n$p")
  }

  test("spline fill is one key shuffle into the per-series group kernel") {
    val p = plan("q_spline_fill")
    assert(p.contains("MapGroups"), s"the fit must run per series inside flatMapGroups:\n$p")
    val keyShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(
      keyShuffles <= 2, // window rank + groupByKey land on the same key; no other shuffle allowed
      s"spline fill must shuffle only by series key (found $keyShuffles hash exchanges):\n$p"
    )
  }

  test("LSH-ANN at rule geometry joins candidates on bucket — never a nested-loop or cartesian") {
    val p = plan("q_ann_lsh_scaled")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("IVF serve probe (the scaled twins' stage) broadcasts the query batch against stored lists") {
    // the registered twins return a localCheckpoint (their plan is an
    // RDD scan), so assert on the probe composition they both run:
    // buildIvfIndex -> parquet -> ivfTopKIndexed
    import org.apache.spark.sql.functions.col
    val emb = graft.tables.TestTables.embeddings(spark, sf)
    val n = emb.count()
    val (nc, np) = graft.ml.Similarity.ruleGeometry(n)
    val dir = graft.TempRoots.newDir("graft-planaudit-ivf").toString
    graft.ml.Similarity
      .buildIvfIndex(emb, "vec_id", "embedding", nCentroids = nc)
      .write.mode("overwrite").parquet(dir)
    val p = graft.ml.Similarity
      .ivfTopKIndexed(
        emb, "vec_id", "embedding",
        queryPred = col("vec_id") % math.max(1L, n / 200L) === 0,
        index = spark.read.parquet(dir), k = 5, nCentroids = nc, nProbe = np
      )
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"the probe join must broadcast the query batch:\n$p")
    assert(
      !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the stored lists must never reshuffle for a probe batch:\n$p"
    )
  }
}
