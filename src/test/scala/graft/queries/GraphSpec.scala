package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Integer-scaled PageRank: hand-computed fixpoints on tiny graphs and
  * invariants on the real transition graph. Each tiny graph runs through
  * both the DataFrame core ([[Relational.pagerank]]) and the event-graph
  * fold ([[EventGraph.pagerank]]), which must agree rank for rank.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(edges: Seq[(String, String, Long)]) = {
    val df = edges.toDF("src", "dst", "w")
    def ranks(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val core = ranks(Relational.pagerank(df, 5))
    assert(ranks(EventGraph.pagerank(df, personalized = false)) == core,
      "the fold and the DataFrame core disagree")
    core
  }

  test("2-cycle is a fixpoint at the initial rank") {
    // r' = 150000 + 85*((1000000*1)//1)//100 = 1000000 every iteration
    val got = ranksOf(Seq(("a", "b", 1L), ("b", "a", 1L)))
    assert(got == Map("a" -> 1000000L, "b" -> 1000000L))
  }

  test("star a->{b,c} converges to the hand-computed ranks") {
    // iter1: b,c get (1e6*1)//2=500000 -> 150000+425000=575000; a: 150000
    // iter2+: contribution from a is (150000)//2=75000 -> 150000+63750=213750
    val got = ranksOf(Seq(("a", "b", 1L), ("a", "c", 1L)))
    assert(got == Map("a" -> 150000L, "b" -> 213750L, "c" -> 213750L))
  }

  test("edge weights matter: heavier in-edge earns a higher rank") {
    val got = ranksOf(Seq(("a", "b", 3L), ("a", "c", 1L)))
    assert(got("b") > got("c"))
  }

  test("real transition graph: every node ranked, ranks positive, source nodes present") {
    val rows = EventGraph.graphPagerank(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 5) // the five event types
    rows.foreach(r => assert(r.getLong(1) >= 150000L))
  }
}
