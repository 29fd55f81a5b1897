package graft

import graft.queries.Registry

/** One-shot FULL-registry layout-invariance sweep: every registered
  * query, compared byte-for-byte across three physical layouts of the
  * same data —
  *
  *   1. the driver's single-file-per-table corpus as-is (baseline);
  *   2. shredded scans + skewed shuffles (files.maxPartitionBytes=64k,
  *      shuffle.partitions=3), the DeterminismSpec perturbation;
  *   3. a REWRITTEN corpus: each table round-robin repartitioned into
  *      5 part-files, which permutes input file order AND row order
  *      within files — the axis the 36-query rotation never moved.
  *
  * Gated behind GRAFT_FULL_LAYOUT_SWEEP=1 because the full sweep runs
  * every query three times (~8 min): it is a once-per-audit
  * instrument, not a per-commit cost. The standing per-commit net
  * remains DeterminismSpec's risk-weighted 36. Result of its first
  * run: 160/160 invariant (see SURVEY §bench notes).
  */
class LayoutSweepFullSpec extends SparkSpec {

  private val enabled = sys.env.get("GRAFT_FULL_LAYOUT_SWEEP").contains("1")

  private lazy val rewrittenDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val names = Seq(
      "region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings"
    )
    names.foreach { n =>
      spark.read
        .parquet(s"$sf001/$n.parquet")
        .repartition(5)
        .write
        .mode("overwrite")
        .parquet(s"$dir/$n.parquet")
    }
    dir
  }

  private def rows(name: String, dir: String): Seq[String] =
    Registry.byName(name).run(spark, dir).collect().map(_.toString).toSeq

  Registry.all.foreach { q =>
    test(s"${q.name} is invariant to scan splits, shuffle count, and file order") {
      assume(enabled, "set GRAFT_FULL_LAYOUT_SWEEP=1 to run the full sweep")
      val conf = spark.conf
      val baseline = rows(q.name, sf001)
      val savedBytes = conf.get("spark.sql.files.maxPartitionBytes", "134217728")
      val savedParts = conf.get("spark.sql.shuffle.partitions", "32")
      try {
        conf.set("spark.sql.files.maxPartitionBytes", "65536")
        conf.set("spark.sql.shuffle.partitions", "3")
        val perturbed = rows(q.name, sf001)
        assert(perturbed == baseline, s"${q.name}: split/shuffle-count dependent results")
      } finally {
        conf.set("spark.sql.files.maxPartitionBytes", savedBytes)
        conf.set("spark.sql.shuffle.partitions", savedParts)
      }
      val refiled = rows(q.name, rewrittenDir)
      assert(refiled == baseline, s"${q.name}: file-order/row-order dependent results")
    }
  }
}
