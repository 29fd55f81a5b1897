package graft

import graft.queries.Registry

/** Every registered query must run and return rows on sf0.001, the
  * registry holds 160 distinct names, and every one has an oracle.
  */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  Registry.all.foreach { q =>
    test(s"${q.name} runs on sf0.001 with rows > 0") {
      assert(q.run(spark, sf001).count() > 0)
    }
  }

  test("registry: 160 distinct names, each with an oracle") {
    val names = Registry.all.map(_.name)
    assert(names.size == 160, s"registered: ${names.size}")
    assert(names.distinct.size == names.size, s"duplicates: ${names.diff(names.distinct)}")
    assert(Registry.all.filter(_.oracle.isEmpty).map(_.name).isEmpty, "queries without an oracle")
  }

  test("oracleSql keys ⊆ queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
