package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Analytics, CorpusQueries}

class SparkEntrySpec extends AnyFunSuite {

  test("registered query names are unique — the Map construction loses nothing") {
    val all = Analytics.all ++ CorpusQueries.all
    val dupes = all.groupBy(_.name).filter(_._2.size > 1).keys.toSeq
    assert(dupes.isEmpty, s"duplicate query names silently dropped: $dupes")
    assert(SparkEntry.queries.size == all.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("a query-name filter names every unregistered query and keeps known ones") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.registered(Seq("q1_pricing_summary", "q1_pricing_sumary", "nope")))
    assert(e.getMessage.contains("unknown query: q1_pricing_sumary, nope"))
    assert(SparkEntry.registered(Seq("q1_pricing_summary", "emb_norms")) ==
      Set("q1_pricing_summary", "emb_norms"))
    assert(SparkEntry.registered(Nil).isEmpty)
  }

  test("driver smoke contract: entry() returns rows on the smallest fixture") {
    assert(!SparkEntry.entry(TestSpark.spark).isEmpty)
  }
}
