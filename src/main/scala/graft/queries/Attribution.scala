package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Iterate, Tables}
import Exact.{intdiv, let}

/** Removal-effect Markov attribution (Anderl et al. 2016) — the
  * data-driven sibling of the heuristic `attribution_position`
  * (TimeSeriesQueries.scala): build the first-order Markov chain of
  * user journeys (START → channel… → CONV | NULL, truncated at the
  * first purchase), estimate each journey's conversion probability,
  * then score every channel by how much total conversion probability
  * disappears when that channel is knocked out (its state's value
  * clamped to zero — paths through it fail).
  *
  * Determinism (the pagerank discipline): probabilities live in
  * SCALED INTEGER micro-units; each of the [[MkRounds]] value-
  * iteration rounds is one integer Σ cnt·v followed by ONE exact
  * floor division by the state's out-degree, replayed in the oracle
  * as unrolled CTEs. The final removal effect is an integer
  * micro-share; only the two reporting columns divide to double.
  *
  * Truncation: v_K(START) counts conversion mass reachable within K
  * transitions — certified as implemented (the oracle replays the
  * same K); rounds beyond the longest journey are exact fixpoints.
  *
  * Scale: journey edges are ONE keyed window pass over events + a
  * hash aggregation down to the (channel+2)² transition table; the
  * iteration then runs on (channels+1) × states rows — alphabet-
  * bounded, corpus-independent. The tiny edge table is checkpoint-
  * barriered so the K-round loop never re-runs the corpus window.
  */
object Attribution {

  private val MkRounds = 8
  private val Scale = 1000000L

  /** Transition counts: src, dst, cnt, outc (out-degree total). */
  private def journeyEdges(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    // r12: the per-user limits are WINDOW aggregates over the same
    // user_id partitioning as rn — the old groupBy + join-back re-read
    // the whole windowed stream a second time (profiled: two full
    // exchanges of the event stream per execution). All three windows
    // share one exchange + sort; values are identical integer logic.
    val wu = Window.partitionBy(col("user_id"))
    val rn = ev.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("fprn",
        min(when(col("event_type") === "purchase", col("rn"))).over(wu))
      .withColumn("n", max(col("rn")).over(wu))
      .withColumn("L",
        when(col("fprn").isNotNull, col("fprn") - 1).otherwise(col("n")))
      .withColumn("term",
        when(col("fprn").isNotNull, lit("CONV")).otherwise(lit("NULL")))
    val kept = rn.filter(col("rn") <= col("L"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val mid = kept
      .withColumn("dst", coalesce(lead(col("event_type"), 1).over(w2), col("term")))
      .select(col("event_type").as("src"), col("dst"))
    val starts = kept.filter(col("rn") === 1L)
      .select(lit("START").as("src"), col("event_type").as("dst"))
    val zero = rn.filter(col("rn") === 1L && col("L") === 0L)
      .select(lit("START").as("src"), col("term").as("dst"))
    val edges = mid.unionAll(starts).unionAll(zero)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    val outs = edges.groupBy(col("src")).agg(sum(col("cnt")).as("outc"))
    // r13: no checkpoint — the single-plan markov below consumes this
    // exactly once, so the barrier bought nothing (one construction
    // job + one pinned block removed).
    edges.join(outs, "src")
  }

  /** channel, p_base, p_removed, re_micro (integer removal effect in
    * micro-units of p_base), attribution (share of total effect).
    */
  def markov(s: SparkSession, dir: String): DataFrame =
    markovFromEdges(journeyEdges(s, dir))

  /** [[markov]] over a given transition table (src, dst, cnt, outc). */
  private[queries] def markovFromEdges(ed: DataFrame): DataFrame = {
    // r13: the whole post-edge computation is ALPHABET-BOUNDED — the
    // transition table is ≤(channels+2)² rows at ANY corpus size — yet
    // the r12 shape paid per MM round one eager checkpoint + one
    // broadcast over it, times (channels+1) knockout variants folded
    // into the keyed frame: 27 construction jobs of ≤99-row algebra.
    // Collapse: collect the edge table into ONE row and run every
    // variant's 8-round value iteration as array folds inside a single
    // linear plan (corpus window → edge aggregation → expression) —
    // zero checkpoints, zero loop jobs. Arithmetic is EXACTLY the r12
    // chain: per-state Σ cnt·v(dst) is an integer sum (order-free),
    // the per-round division is the same Exact.intdiv
    // (a − a mod b)/b double-exact chain, knockout zeroing and the
    // CONV/NULL absorbing constants are reproduced in the lookup, and
    // the removal-effect / attribution tail is token-identical.
    // Oracle unchanged.
    val one = ed.agg(sort_array(collect_list(
      struct(col("src"), col("dst"), col("cnt"), col("outc")))).as("eds"))
    val rowsArr = let(col("eds")) { eds =>
      // per-state table: (s, outc, xs=[(dst, cnt)]) in state order
      let(transform(array_distinct(transform(eds, e => e.getField("src"))), st =>
        struct(st.as("s"),
          element_at(filter(eds, e => e.getField("src") === st), 1)
            .getField("outc").as("o"),
          transform(filter(eds, e => e.getField("src") === st), e =>
            struct(e.getField("dst").as("d"), e.getField("cnt").as("c"))).as("xs")))) { pe =>
        // v(dst) lookup: absorbing CONV/NULL are constants, else the
        // state's slot in the current value array. A dst that is never
        // a src has no slot: it is worth 0, so its edge drops out of the
        // sum (element_at would fail the query under ANSI, or null the
        // state's fold without it).
        def look(vr: Column, d: Column): Column =
          when(d === lit("CONV"), lit(Scale))
            .when(d === lit("NULL"), lit(0L))
            .otherwise(coalesce(try_element_at(
              filter(vr, y => y.getField("s") === d), lit(1)).getField("v"), lit(0L)))
        // K-round value iteration for knockout variant r → v_K(START)
        def vStart(r: Column): Column = {
          val v0 = transform(pe, e =>
            struct(e.getField("s").as("s"), lit(0L).as("v")))
          val vf = Iterate.fold(MkRounds, v0)(acc =>
            transform(pe, e => struct(e.getField("s").as("s"),
              when(e.getField("s") === r, lit(0L)).otherwise(
                intdiv(aggregate(e.getField("xs"), lit(0L), (a, x) =>
                  a + x.getField("c") * look(acc, x.getField("d"))),
                  e.getField("o"))).as("v"))))
          element_at(filter(vf, y => y.getField("s") === lit("START")), 1)
            .getField("v")
        }
        let(vStart(lit("none"))) { pbase =>
          let(transform(
            filter(transform(pe, e => e.getField("s")), st => st =!= lit("START")),
            c => struct(c.as("channel"), vStart(c).as("prem")))) { pr =>
            let(transform(pr, x => struct(
              x.getField("channel").as("channel"),
              x.getField("prem").as("prem"),
              when(pbase > 0,
                intdiv((pbase - x.getField("prem")) * lit(Scale), pbase))
                .otherwise(lit(0L)).as("re_micro")))) { re =>
              let(aggregate(re, lit(0L), (a, x) => a + x.getField("re_micro"))) { t =>
                transform(re, x => struct(
                  x.getField("channel").as("channel"),
                  (pbase.cast("double") / lit(1000000.0)).as("p_base"),
                  (x.getField("prem").cast("double") / lit(1000000.0)).as("p_removed"),
                  x.getField("re_micro").as("re_micro"),
                  when(t > 0,
                    x.getField("re_micro").cast("double") / t.cast("double"))
                    .otherwise(lit(0.0)).as("attribution")))
              }
            }
          }
        }
      }
    }
    one.filter(size(col("eds")) > 0)
      .select(explode(rowsArr).as("r"))
      .select(col("r.channel").as("channel"), col("r.p_base").as("p_base"),
        col("r.p_removed").as("p_removed"), col("r.re_micro").as("re_micro"),
        col("r.attribution").as("attribution"))
      .orderBy(col("channel"))
  }

  val markovSql: String = {
    val rounds = (1 to MkRounds).map { i =>
      s"""v$i AS (SELECT e.removed, e.src AS state,
         |    CAST(CASE WHEN e.src = e.removed THEN 0
         |      ELSE CAST(SUM(e.cnt * p.v) AS BIGINT) // MAX(e.outc) END AS BIGINT) AS v
         |  FROM ve e JOIN v${i - 1} p ON p.removed = e.removed AND p.state = e.dst
         |  GROUP BY e.removed, e.src
         |  UNION ALL SELECT removed, 'CONV', CAST(1000000 AS BIGINT) FROM var
         |  UNION ALL SELECT removed, 'NULL', CAST(0 AS BIGINT) FROM var)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
       |  FROM events),
       |rn AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY ts_ms, event_id) AS BIGINT) AS rn FROM ev),
       |lim AS (SELECT user_id,
       |    CASE WHEN fprn IS NOT NULL THEN fprn - 1 ELSE n END AS L,
       |    CASE WHEN fprn IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS term
       |  FROM (SELECT user_id,
       |      MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS fprn,
       |      MAX(rn) AS n FROM rn GROUP BY 1)),
       |kept AS (SELECT r.user_id, r.rn, r.event_type, l.term
       |  FROM rn r JOIN lim l USING (user_id) WHERE r.rn <= l.L),
       |mid AS (SELECT event_type AS src, COALESCE(LEAD(event_type) OVER (
       |    PARTITION BY user_id ORDER BY rn), term) AS dst FROM kept),
       |st0 AS (SELECT 'START' AS src, event_type AS dst FROM kept WHERE rn = 1),
       |z AS (SELECT 'START' AS src, term AS dst FROM lim WHERE L = 0),
       |edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT * FROM mid UNION ALL SELECT * FROM st0
       |    UNION ALL SELECT * FROM z) GROUP BY 1, 2),
       |outs AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS outc FROM edges GROUP BY 1),
       |var AS (SELECT DISTINCT src AS removed FROM edges WHERE src <> 'START'
       |  UNION ALL SELECT 'none'),
       |ve AS MATERIALIZED (SELECT v.removed, e.src, e.dst, e.cnt, o.outc
       |  FROM edges e JOIN outs o USING (src) CROSS JOIN var v),
       |states AS (SELECT DISTINCT src AS state FROM edges
       |  UNION ALL SELECT 'CONV' UNION ALL SELECT 'NULL'),
       |v0 AS (SELECT v.removed, s.state,
       |    CAST(CASE WHEN s.state = 'CONV' THEN 1000000 ELSE 0 END AS BIGINT) AS v
       |  FROM states s CROSS JOIN var v),
       |$rounds,
       |pb AS (SELECT v AS pbase FROM v$MkRounds
       |  WHERE removed = 'none' AND state = 'START'),
       |pr AS (SELECT removed AS channel, v AS prem FROM v$MkRounds
       |  WHERE removed <> 'none' AND state = 'START'),
       |re AS (SELECT channel, pbase, prem,
       |    CASE WHEN pbase > 0 THEN ((pbase - prem) * 1000000) // pbase
       |      ELSE 0 END AS re_micro
       |  FROM pr CROSS JOIN pb),
       |tot AS (SELECT CAST(SUM(re_micro) AS BIGINT) AS t FROM re)
       |SELECT channel, CAST(pbase AS DOUBLE) / 1000000.0e0 AS p_base,
       |  CAST(prem AS DOUBLE) / 1000000.0e0 AS p_removed,
       |  CAST(re_micro AS BIGINT) AS re_micro,
       |  CASE WHEN t > 0 THEN CAST(re_micro AS DOUBLE) / CAST(t AS DOUBLE)
       |    ELSE 0.0e0 END AS attribution
       |FROM re CROSS JOIN tot ORDER BY channel""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "attribution_markov" -> (markov _))

  val oracles: Map[String, String] = Map(
    "attribution_markov" -> markovSql)
}
