package graft.queries

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{Harness, SparkSpec}

/** [[EventGraph]] certified against independent plain-Scala references
  * (the DuckDB oracle runs in the driver gate): Floyd–Warshall for the
  * doubling-closure eccentricities, and a step-by-step md5 replay for
  * the deterministic walks. Also pinned: building a query runs no job,
  * and the transition window is derived in one place.
  */
class EventGraphSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Distinct directed a→b transition edges, the same definition the
    * queries use, recomputed independently from raw events.
    */
  private def transitionEdges(): Set[(String, String)] = {
    val evs = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    evs.groupBy(_._1).values.flatMap { g =>
      val ordered = g.sortBy(e => (e._4, e._2)).map(_._3)
      ordered.zip(ordered.tail)
    }.filter(p => p._1 != p._2).toSet
  }

  test("graph_eccentricity equals Floyd-Warshall") {
    val es = transitionEdges()
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val dist = scala.collection.mutable.Map.empty[(String, String), Long]
    es.foreach(e => dist(e) = 1L)
    for (k <- nodes; i <- nodes; j <- nodes if i != j)
      (dist.get((i, k)), dist.get((k, j))) match {
        case (Some(a), Some(b)) if dist.get((i, j)).forall(_ > a + b) =>
          dist((i, j)) = a + b
        case _ =>
      }
    val want = dist.keys.groupBy(_._1).map { case (n, ks) =>
      n -> (ks.size.toLong, ks.map(dist).max)
    }
    val got = EventGraph.graphEccentricity(spark, dir).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (nReach, ecc) = want(r.getString(0))
      assert(r.getLong(1) == nReach && r.getLong(2) == ecc, s"node ${r.getString(0)}")
    }
  }

  test("graph_walks equals a step-by-step md5 replay") {
    val es = transitionEdges()
    val nbrs = es.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    def h(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16)
    }
    val got = EventGraph.graphWalks(spark, dir).collect()
    val nodes = es.flatMap(e => Seq(e._1, e._2))
    assert(got.map(_.getString(0)).toSet == nodes)
    got.foreach { r =>
      val start = r.getString(0)
      assert(r.getString(1) == start)
      var cur: String = start
      (1 to 4).foreach { t =>
        val expect: String =
          if (cur == null) null
          else nbrs.get(cur) match {
            case Some(ns) if ns.nonEmpty =>
              ns((h(s"$start:$t:$cur") % ns.length).toInt)
            case _ => null
          }
        assert(r.getString(t + 1) == expect, s"start=$start step=$t")
        cur = expect
      }
    }
    // walks must actually move (fixture sanity)
    assert(got.exists(r => r.getString(2) != null && r.getString(2) != r.getString(1)))
  }

  test("the nine event-graph queries run no job at construction under AQE") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    graft.Tables(spark, dir, "events") // the schema memo's first read is not the query's
    val jobs = EventGraph.all.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> Harness.countJobs(spark)(fn(spark, dir))._2
    }
    assert(jobs.size == 9)
    assert(jobs.forall(_._2 == 0), s"construction jobs: $jobs")
  }

  test("the per-user event_type transition window is written only in EventGraph and Attribution.journeyEdges") {
    val window = """lead(col("event_type"), 1)"""
    val uses = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p))
      .map { case (f, text) => f -> (text.split(java.util.regex.Pattern.quote(window), -1).length - 1) }
      .filter(_._2 > 0).toMap
    assert(uses == Map("EventGraph.scala" -> 1, "Attribution.scala" -> 1))
    // the journey graph has its own START/CONV/NULL states
    val attribution = Files.readString(Paths.get("src/main/scala/graft/queries/Attribution.scala"))
    val journey = attribution.drop(attribution.indexOf("def journeyEdges"))
    assert(journey.take(journey.indexOf("\n  }\n")).contains(window))
  }
}
