package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-7 milestone 7: SimRank and inter-annotator agreement
  * certified against plain-Scala replays.
  */
class SimrankAgreementSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("graph_simrank equals a plain-Scala scaled-integer replay") {
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val edges = ev.groupBy(_._1).values.flatMap { g =>
      g.sortBy(t => (t._3, t._4)).map(_._2).toSeq.sliding(2).collect {
        case Seq(a, b) if a != b => (a, b)
      }
    }.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val inN = nodes.map(n => n -> edges.filter(_._2 == n).map(_._1).toSeq.sorted).toMap
    val scale = 1000000L
    var s = (for (a <- nodes; b <- nodes)
      yield (a, b) -> (if (a == b) scale else 0L)).toMap
    (1 to 3).foreach { _ =>
      s = (for (a <- nodes; b <- nodes) yield {
        val v =
          if (a == b) scale
          else {
            val (ia, ib) = (inN(a), inN(b))
            if (ia.isEmpty || ib.isEmpty) 0L
            else {
              val tot = (for (i <- ia; j <- ib) yield s((i, j))).sum
              Math.floorDiv(4L * tot, 5L * ia.size * ib.size)
            }
          }
        (a, b) -> v
      }).toMap
    }
    val got = EventGraph.graphSimrank(spark, dir).collect()
    assert(got.length == nodes.size * nodes.size && got.nonEmpty)
    got.foreach { r =>
      val want = s((r.getString(0), r.getString(1)))
      assert(r.getLong(2) == want, s"s(${r.getString(0)},${r.getString(1)})")
      assert(r.getDouble(3) == want.toDouble / 1000000.0)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L)
    }
  }

  test("eval_agreement equals the closed-form kappa/alpha replay") {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val ya = docs.map(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase).size >= 40)
    val yb = docs.map(_.length >= 250)
    val n = docs.length.toLong
    val a1 = ya.count(identity).toLong; val b1 = yb.count(identity).toLong
    val n11 = ya.zip(yb).count { case (x, y) => x && y }.toLong
    val n00 = ya.zip(yb).count { case (x, y) => !x && !y }.toLong
    val po = (n11 + n00).toDouble / n
    val pe = (a1 * b1 + (n - a1) * (n - b1)).toDouble / (n * n).toDouble
    val kappa = if (pe < 1.0) (po - pe) / (1.0 - pe) else 1.0
    val r = MlExtra.agreement(spark, dir).collect().head
    assert(r.getLong(0) == n && r.getLong(1) == a1 && r.getLong(2) == b1)
    assert(r.getLong(3) == n11 && r.getLong(4) == n00)
    assert(r.getDouble(5) == po && r.getDouble(6) == pe)
    assert(math.abs(r.getDouble(7) - kappa) < 1e-15)
    // alpha: binary-nominal two-rater Krippendorff
    val nTot = 2.0 * n; val ones = (a1 + b1).toDouble
    val de = ones * (nTot - ones) / (nTot * (nTot - 1.0))
    val alpha = if (de > 0) 1.0 - ((n - n11 - n00).toDouble / n) / (2.0 * de) else 1.0
    assert(math.abs(r.getDouble(8) - alpha) < 1e-12)
    // kappa and alpha agree closely for large n (they differ O(1/n))
    assert(math.abs(r.getDouble(7) - r.getDouble(8)) < 0.05)
  }
}
