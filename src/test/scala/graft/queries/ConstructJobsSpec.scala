package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Jobs a registry builder launches before its action (checkpoints,
  * probes, collects), at sf0.001: each listed builder has an upper
  * bound, so an eager job put back into a builder fails here.
  */
class ConstructJobsSpec extends SparkSpec {

  /** Upper bounds on construction jobs, as measured at sf0.001 with
    * connected components and BPE merges finished on the driver, and
    * the station CSV read with a declared schema and literal code maps
    * (`q_wsc_csv` counts its fixture's first build too).
    */
  private val budget = Seq(
    "q_dedup_clusters" -> 16,
    "q_leakage_split" -> 16,
    "q_bpe_encode" -> 5,
    "q_kn_perplexity" -> 12,
    "q_wsc_csv" -> 5
  )

  private def constructJobs(query: String): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      Registry.byName(query).run(spark, sf001)
      ListenerBusAccess.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  budget.foreach { case (query, bound) =>
    test(s"construction jobs: $query launches at most $bound before its action") {
      val n = constructJobs(query)
      info(s"$query: $n construction jobs")
      assert(n <= bound, s"$query launched $n jobs before its action, budget $bound")
    }
  }
}
