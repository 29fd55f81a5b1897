package graft

import graft.queries.Registry

/** Partition-invariance sweep: the engine's correctness story (and the
  * driver's hash oracle) rests on every registered query producing the
  * SAME rows in the SAME order regardless of physical data layout. This
  * re-runs a risk-weighted subset — window/rank queries, iterative
  * jobs, hash-ranked sampling, LSH banding, collect_list aggregations —
  * under deliberately perturbed scan splits (tiny
  * `files.maxPartitionBytes`) and a skewed shuffle partition count, and
  * asserts byte-identical results. A query that passes the DuckDB
  * oracle but breaks here would be relying on accidental layout — the
  * class of bug that only shows up on a real cluster.
  */
class DeterminismSpec extends SparkSpec {

  // queries whose shapes are most at risk of layout dependence; the
  // rest of the registry shares these operators and the oracle's
  // hash check
  private val sweep = Seq(
    "q_stratified_sample", // hash-rank windows
    "q_weighted_mix",      // apportionment + rank
    "q_seq_packing",       // prefix-sum bucketing
    "q_dedup_clusters",    // iterative large/small-star CC
    "q_minhash_lsh",       // banded candidate join
    "q_incremental_dedup", // band-index lookup
    "q_dup_spans",         // gaps-and-islands windows
    "q_boilerplate",       // collect_list + array_sort checksum
    "q_image_neardup",     // LSH banding over dHashes
    "q_semdedup",          // cluster-keyed pair join
    "q_doy_stats",         // exact percentile windows
    "q_segment_adjust",    // per-series flatMapGroups kernel
    "q_corrections",       // correction fold
    "q_tolerance_asof",    // mutual-nearest join
    "q_heavy_hitters",     // top-k with ties
    "q_tfidf",             // rank by ratio with ties
    "q_span_mask",         // span collect + indexed array filter
    "q_kn_counts",         // count-of-counts aggregation
    "q_video_phash",       // container decode + per-frame hashing
    "q_filter_decision",   // content-hash window + reason precedence
    "q_simhash_screen",    // persisted band-index probe
    "q_semdedup_screen",   // persisted cluster-index probe
    "q_shard_manifest",    // prefix-sum pack plan aggregate
    "q_embed_neardup_blocked", // multiprobe bucket pair join
    "q_model_raster_insert", // first()-aggregated index join + distributed id rank
    "q_kn_perplexity",     // self-trained LM scoring + percentile tercile thresholds
    "q_kn_screen",         // persisted-LM-index probe with backoff chain
    "q_containment",       // df-capped inverted-index pair join, asymmetric score
    "q_epoch_shuffle",     // seeded hash permutation + per-shard rank windows
    "q_temperature_mix",   // sqrt-weight apportionment + hash-rank fill
    "q_qualifier_ranks",   // composite-stream flatMapGroups kernel
    "q_bounds_maintenance", // null-safe extrema merge + broadcast catalog join
    "q_corrected_read_e2e", // compound resolve + correction fold + resample composition
    "q_ivf_serve_scaled",  // count-derived geometry + quantized-margin rank over probe join
    "q_ivf_pq_serve_scaled", // count-derived geometry + ADC rank over probe join
    "q_ann_lsh_scaled",    // count-derived plane count + multiprobe bucket join
    "q_spline_fill"        // per-series tridiagonal-solve kernel over a window fixture
  )

  private def rows(name: String): Seq[String] =
    Registry.byName(name).run(spark, sf001).collect().map(_.toString).toSeq

  sweep.foreach { name =>
    test(s"$name is invariant to scan splits and shuffle partition count") {
      val conf = spark.conf
      val baseline = rows(name)
      val savedBytes = conf.get("spark.sql.files.maxPartitionBytes", "134217728")
      val savedParts = conf.get("spark.sql.shuffle.partitions", "32")
      try {
        conf.set("spark.sql.files.maxPartitionBytes", "65536") // shred the scans
        conf.set("spark.sql.shuffle.partitions", "3")          // skew the shuffles
        val perturbed = rows(name)
        assert(
          perturbed == baseline,
          s"$name produced layout-dependent results (${baseline.size} vs ${perturbed.size} rows)"
        )
      } finally {
        conf.set("spark.sql.files.maxPartitionBytes", savedBytes)
        conf.set("spark.sql.shuffle.partitions", savedParts)
      }
    }
  }
}
