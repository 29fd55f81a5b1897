package graft

import graft.queries.Registry

/** Plan-quality diagnostic: prints the formatted physical plan of the
  * given queries (all when none named). Used to audit pushdown,
  * broadcast choices, and whole-stage-codegen coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Registry.all.map(_.name)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Registry.byName(n).run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
