package graft.queries

import org.apache.spark.sql.functions._

/** Pins the run-to-convergence graph variants (r5 VERDICT #2) against
  * the certified fixed-round queries and the early-exit contract.
  */
class GraphConvergenceSpec extends graft.SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("kcoreConverged reaches the fixpoint and equals the certified 4-round peel") {
    val conv = GraphConvergence.kcoreConverged(spark, dir)
    val rows = conv.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), "must converge on the driver corpus")
    val rounds = rows.head.getInt(2)
    assert(rounds <= 20)
    // the certified query is a 4-round unroll; the corpus fixpoint is
    // already asserted at round ≤ 4 (round4 == round5), so the converged
    // result must be the SAME (node, deg) set
    val fixed = Relational.graphKcore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == fixed, "converged peel diverges from the certified 4-round peel")
  }

  test("labelpropConverged terminates with an honest status and a self-consistent state") {
    val conv = GraphConvergence.labelpropConverged(spark, dir)
    val rows = conv.collect()
    assert(rows.nonEmpty)
    val status = rows.head.getString(4)
    assert(status == "converged" || status == "cycle",
      s"corpus neither converges nor 2-cycles within the cap (status=$status)")
    val roundsRun = rows.head.getInt(3)
    assert(roundsRun >= 1 && roundsRun <= 20)
    // verify the claimed status against the literal update rule:
    // converged -> one more round changes nothing; cycle -> two more
    // rounds return the same labels (period-2 limit cycle)
    val edges = Relational.graphBuild(spark, dir)
    val e2 = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val lbl = conv.select(col("node"), col("community").as("lbl"))
    val steps = if (status == "converged") 1 else 2
    val after = (1 to steps).foldLeft(lbl) { (cur, _) =>
      GraphConvergence.labelpropRound(e2, cur).localCheckpoint(true)
    }
    val changed = lbl.as("a").join(after.as("b"), col("a.node") === col("b.node"))
      .filter(col("a.lbl") =!= col("b.lbl")).count()
    assert(changed == 0L,
      s"$changed labels differ after $steps more rounds despite status=$status")
  }

  test("pagerankConverged: capped run equals the unrolled fixed-iteration result") {
    // small deterministic weighted digraph — a chain with a cycle and a hub
    val edges = spark.createDataFrame(Seq(
      ("a", "b", 3L), ("b", "c", 2L), ("c", "a", 1L), ("c", "d", 1L),
      ("d", "a", 5L), ("a", "d", 2L), ("b", "d", 1L)
    )).toDF("src", "dst", "w")
    // tol=0, cap=5: must stop at 5 un-converged and reproduce the
    // 5-iteration unroll exactly (the early-exit-equals-unrolled pin)
    val capped = GraphConvergence.pagerankConverged(edges, maxIters = 5, tolUnits = -1L)
    val cappedMap = capped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val unrolled = Relational.pagerank(edges, 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cappedMap == unrolled, "capped run diverges from the 5-iteration unroll")
    assert(capped.collect().forall(r => r.getInt(2) == 5 && !r.getBoolean(3)))
    // generous cap: converges to a (near-)fixpoint and says so
    val conv = GraphConvergence.pagerankConverged(edges, maxIters = 100, tolUnits = 1L)
    val rows = conv.collect()
    assert(rows.forall(_.getBoolean(3)), "must converge within 100 iterations")
    assert(rows.forall(_.getLong(4) <= 1L), "final delta exceeds tolerance")
    // ranks sum to ~total mass (damping conserves mass up to floor loss)
    val mass = rows.map(_.getLong(1)).sum
    assert(mass > 0L && mass <= rows.length * 2000000L)
  }

  test("sccConverged equals the certified 3-round doubling and reports convergence") {
    val conv = GraphConvergence.sccConverged(spark, dir)
    val rows = conv.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), "must converge on the driver corpus")
    assert(rows.head.getInt(2) <= 10)
    val fixed = EventGraph.graphScc(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val got = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == fixed, "converged SCC diverges from the certified 3-round doubling")
  }

  test("graph_bc_coverage: sane fractions consistent with a driver-side reach check") {
    val r = Relational.graphBcCoverage(spark, dir).collect().head
    val (nNodes, nSeeds, nReached, cov) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(nNodes > 0 && nSeeds == math.min(32L, nNodes))
    assert(nReached >= nSeeds && nReached <= nNodes)
    assert(cov == nReached.toDouble / nNodes.toDouble)
    assert(cov > 0.0 && cov <= 1.0)
  }
}
