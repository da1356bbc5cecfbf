package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-7: removal-effect Markov attribution and Benjamini–Hochberg
  * certified against plain-Scala replays.
  */
class AttributionFdrSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("attribution_markov equals a plain-Scala scaled-integer replay") {
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // journeys: per user ordered by (ts, event_id), truncated at first purchase
    val edges = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    ev.groupBy(_._1).foreach { case (_, g) =>
      val seq = g.sortBy(t => (t._4, t._2)).map(_._3)
      val fp = seq.indexOf("purchase")
      val (kept, term): (Seq[String], String) =
        if (fp >= 0) (seq.take(fp).toSeq, "CONV") else (seq.toSeq, "NULL")
      if (kept.isEmpty) edges(("START", term)) += 1
      else {
        edges(("START", kept.head)) += 1
        kept.sliding(2).foreach {
          case Seq(a, b) => edges((a, b)) += 1
          case _ =>
        }
        edges((kept.last, term)) += 1
      }
    }
    val outs = edges.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val channels = outs.keySet - "START"
    val scale = 1000000L
    def run(removed: String): Long = {
      var v = Map("CONV" -> scale, "NULL" -> 0L) ++
        (outs.keySet.map(_ -> 0L))
      v = v.updated("CONV", scale) // CONV may also be absent from outs
      (1 to 8).foreach { _ =>
        val nv = outs.keys.map { s =>
          if (s == removed) s -> 0L
          else {
            val num = edges.toSeq.filter(_._1._1 == s)
              .map { case ((_, d), c) => c * v(d) }.sum
            s -> num / outs(s)
          }
        }.toMap
        v = nv ++ Map("CONV" -> scale, "NULL" -> 0L)
      }
      v("START")
    }
    val pbase = run("none")
    val want = channels.toSeq.sorted.map { c =>
      val prem = run(c)
      val re = if (pbase > 0) ((pbase - prem) * scale) / pbase else 0L
      (c, pbase, prem, re)
    }
    val tot = want.map(_._4).sum
    val got = Attribution.markov(spark, dir).collect()
    assert(got.length == want.size && got.nonEmpty)
    got.zip(want).foreach { case (r, (c, pb, pr, re)) =>
      assert(r.getString(0) == c)
      assert(r.getDouble(1) == pb.toDouble / 1000000.0, s"p_base @ $c")
      assert(r.getDouble(2) == pr.toDouble / 1000000.0, s"p_removed @ $c")
      assert(r.getLong(3) == re, s"re_micro @ $c")
      val share = if (tot > 0) re.toDouble / tot.toDouble else 0.0
      assert(r.getDouble(4) == share, s"attribution @ $c")
    }
    // removal can only hurt: p_removed <= p_base, effects sum to ~1
    got.foreach(r => assert(r.getDouble(2) <= r.getDouble(1) + 1e-15))
    if (tot > 0)
      assert(math.abs(got.map(_.getDouble(4)).sum - 1.0) < 1e-9)
  }

  test("attribution_markov: a dst channel that is never a src is worth 0, not null") {
    import spark.implicits._
    // "ghost" is only ever a destination: its edge drops out of a's sum
    val ed = Seq(
      ("START", "a", 2L, 4L), ("START", "b", 2L, 4L),
      ("a", "CONV", 1L, 2L), ("a", "ghost", 1L, 2L),
      ("b", "CONV", 2L, 2L)).toDF("src", "dst", "cnt", "outc")
    val got = Attribution.markovFromEdges(ed).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    // v(a) = 1e6/2, v(b) = 1e6, v(START) = (2·v(a) + 2·v(b))/4 = 750000;
    // knocking out a leaves 500000, knocking out b leaves 250000
    assert(got.toSeq == Seq(
      ("a", 0.75, 0.5, 333333L, 333333.0 / 999999.0),
      ("b", 0.75, 0.25, 666666L, 666666.0 / 999999.0)))
  }

  test("stats_fdr equals a plain-Scala Benjamini-Hochberg replay") {
    val ps = Inference.statsFisher(spark, dir)
      .select(col("nation"), col("p_value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val m = ps.length
    val ranked = ps.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((n, p), i0) => (n, p, i0 + 1) }
    val raw = ranked.map { case (n, p, i) => (n, p, i, p * m / i) }
    val adj = raw.reverse
      .scanLeft(("", 0.0, 0, Double.MaxValue)) { case (acc, (n, p, i, r)) =>
        (n, p, i, math.min(acc._4, r))
      }.drop(1).reverse
      .map { case (n, p, i, a) => (n, p, i, math.min(1.0, a)) }
    val kstar = ranked.filter { case (_, p, i) => p <= 0.1 * i / m }
      .map(_._3).maxOption
    val got = Inference.statsFdr(spark, dir).collect()
    assert(got.length == m)
    got.zip(adj).foreach { case (r, (n, p, i, a)) =>
      assert(r.getString(0) == n && r.getLong(2) == i)
      assert(r.getDouble(1) == p)
      assert(math.abs(r.getDouble(4) - a) < 1e-15, s"p_adj @ $n")
      val rej = kstar.exists(i <= _)
      assert(r.getInt(5) == (if (rej) 1 else 0), s"reject @ $n")
    }
    // adjusted p is monotone non-decreasing in rank
    got.map(_.getDouble(4)).sliding(2).foreach {
      case Array(a, b) => assert(b >= a - 1e-15)
      case _ =>
    }
  }
}
