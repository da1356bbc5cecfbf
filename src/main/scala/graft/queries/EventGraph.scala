package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Iterate, Tables}
import Exact.{intdiv, let}

/** The event-type transition graph and every registered query over it.
  *
  * Consecutive events of one user (ordered by ts, event_id) make a
  * directed edge event_type → next event_type, weighted by how often
  * the pair occurs. [[edges]] is the one derivation: the corpus-scale
  * work of every query here is that per-user lead() window plus one
  * edge aggregation.
  *
  * Scale: the nodes are the event-type alphabet (five types in the test
  * data), so the edge table is alphabet²-bounded at any corpus size.
  * Each query collects it into ONE sorted row, binds the per-node table
  * with [[Exact.let]], and runs its rounds as an [[Iterate.fold]] inside
  * one expression: the plan is corpus window → edge aggregation → one
  * projection, with no checkpoint, no loop job and nothing run at
  * construction. Round counts are compile-time constants that the
  * oracle replays in unrolled CTEs, and the arithmetic is scaled
  * integers: exact integer sums and the [[Exact.intdiv]] floor division,
  * with a missing in-edge contributing the 0 the oracle's left join
  * coalesces to. The corpus-scale [[Relational.pagerank]] core stays
  * the reference for general graphs.
  */
object EventGraph {

  private val PrIters = 5 // pagerank and ppr
  private val HitsIters = 3
  private val DoublingRounds = 3 // exact for all shortest paths ≤ 2^3 edges
  private val WalkSteps = 4
  private val SimRounds = 3
  private val Scale = 1000000L

  /** Weighted transition edges (src, dst, w): `w` counts the same-user
    * consecutive event pairs src → dst. The grouped rows are distinct.
    */
  def edges(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev.select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** [[edges]] without self-loops: the distinct a ≠ b graph. */
  private def moves(s: SparkSession, dir: String): DataFrame =
    edges(s, dir).filter(col("src") =!= col("dst"))

  /** The edge table as one row: `es`, its (src, dst, w) structs sorted. */
  private def collected(edges: DataFrame): DataFrame =
    edges.agg(sort_array(collect_list(struct(col("src"), col("dst"), col("w")))).as("es"))

  /** The per-node table of a collected edge array: one struct per node
    * in name order with its name `n`, its in- and out-edges `ins` and
    * `outs` (each the other end's 1-based node index `i` and the weight
    * `w`, in the other end's name order) and its out-weight `wt`.
    */
  private def nodeTable(es: Column): Column =
    let(array_sort(array_distinct(concat(
      transform(es, _.getField("src")), transform(es, _.getField("dst")))))) { ns =>
      def side(at: String, other: String, n: Column): Column =
        transform(filter(es, _.getField(at) === n), e => struct(
          array_position(ns, e.getField(other)).cast("int").as("i"), e.getField("w").as("w")))
      transform(ns, n => struct(n.as("n"), side("dst", "src", n).as("ins"),
        side("src", "dst", n).as("outs"),
        aggregate(filter(es, _.getField("src") === n), lit(0L), (a, e) => a + e.getField("w"))
          .as("wt")))
    }

  /** The rows `rows(pe)` builds from the per-node table `pe` of one
    * collected edge table, as columns; no rows when there is no edge.
    */
  private def over(edges: DataFrame)(rows: Column => Column): DataFrame =
    collected(edges).filter(size(col("es")) > 0)
      .select(explode(let(nodeTable(col("es")))(rows)).as("r"))
      .select(col("r.*"))

  /** First-order Markov transition probabilities over the event-type
    * graph (the normalized form of the edge table [[pagerank]] ranks):
    * P(next = dst | cur = src) as one exact division per edge.
    */
  def graphTransitions(s: SparkSession, dir: String): DataFrame =
    edges(s, dir).withColumn("wt", sum(col("w")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("w"),
        (col("w").cast("double") / col("wt")).as("p"))
      .orderBy(col("src"), col("dst"))

  val graphTransitionsSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
      |nx AS (SELECT event_type AS src, lead(event_type) OVER (
      |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS dst FROM ev),
      |edges AS (SELECT src, dst, COUNT(*) AS w FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, w,
      |  CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE) AS p
      |FROM edges ORDER BY src, dst""".stripMargin

  /** Reciprocity of the DIRECTED transition graph: the fraction of
    * a ≠ b edges whose reverse also exists — the dyad-level symmetry
    * statistic, as two sizes of the collected edge array and one
    * division of exact integers. One row, also on an empty graph.
    */
  def graphReciprocity(s: SparkSession, dir: String): DataFrame = {
    val es = col("es")
    collected(moves(s, dir))
      .select(size(es).cast("long").as("n_edges"),
        size(filter(es, e => exists(es, x =>
          x.getField("src") === e.getField("dst") && x.getField("dst") === e.getField("src"))))
          .cast("long").as("n_reciprocal"))
      .select(col("n_edges"), col("n_reciprocal"),
        when(col("n_edges") > 0,
          col("n_reciprocal").cast("double") / col("n_edges").cast("double"))
          .as("reciprocity"))
  }

  val graphReciprocitySql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
      |nx AS (SELECT event_type AS a, lead(event_type) OVER (
      |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS b FROM ev),
      |e AS (SELECT DISTINCT a, b FROM nx WHERE b IS NOT NULL AND a <> b),
      |r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal FROM e
      |  WHERE EXISTS (SELECT 1 FROM e x WHERE x.a = e.b AND x.b = e.a)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
      |SELECT n_edges, n_reciprocal,
      |  CASE WHEN n_edges > 0
      |    THEN CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE) END AS reciprocity
      |FROM n CROSS JOIN r""".stripMargin

  /** Weighted PageRank over a weighted edge table (src, dst, w): ranks
    * ×10⁶, 5 Jacobi rounds of r'(n) = restart(n) + (85·Σ (r(src)·w)
    * div wt(src)) div 100 over n's in-edges. Global PageRank restarts
    * 0.15 at every node from rank 1 everywhere; `personalized` puts the
    * initial rank and the restart mass on the seed alone — the highest
    * out-weight node, lowest name on ties — the "related to X" ranking
    * a recommender runs. Dangling mass is dropped (the oracle makes the
    * same choice). The rows are (node, r), unordered.
    */
  def pagerank(edges: DataFrame, personalized: Boolean): DataFrame = over(edges) { pe =>
    val wts = transform(pe, _.getField("wt"))
    val home =
      if (!personalized) transform(pe, _ => lit(1L))
      else let(array_position(wts, array_max(wts)).cast("int")) { seed =>
        transform(pe, (_, k) => when(k + 1 === seed, lit(1L)).otherwise(lit(0L)))
      }
    let(home) { h =>
      let(Iterate.fold(PrIters, transform(h, _ * lit(Scale))) { r =>
        transform(pe, (e, k) => element_at(h, k + 1) * lit(150000L) +
          intdiv(lit(85L) * aggregate(e.getField("ins"), lit(0L), (a, x) =>
            a + intdiv(element_at(r, x.getField("i")) * x.getField("w"),
              element_at(pe, x.getField("i")).getField("wt"))), lit(100L)))
      }) { r =>
        transform(pe, (e, k) => struct(e.getField("n").as("node"), element_at(r, k + 1).as("r")))
      }
    }
  }

  /** Weighted PageRank over the event-type transition graph, in SCALED
    * INTEGER arithmetic so every round is exact and the oracle REPLAYS
    * the full computation in unrolled CTEs (the text_bpe_train
    * convention: iterative algorithms get replay oracles, not golden
    * values). See [[pagerank]].
    */
  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    pagerank(edges(s, dir), personalized = false).orderBy(col("node"))

  val graphPagerankSql: String = {
    val base =
      """ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |nx AS (SELECT event_type AS src, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS dst FROM ev),
        |edges AS (SELECT src, dst, COUNT(*) AS w FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2),
        |wout AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wt FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)""".stripMargin
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS (SELECT n.node, CAST(150000 + (85 * COALESCE(CAST(SUM((r.r * e.w) // w2.wt) AS BIGINT), 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN r${i - 1} r ON r.node = e.src
         |  LEFT JOIN wout w2 ON w2.src = e.src
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$iters
       |SELECT node, r FROM r$PrIters ORDER BY node""".stripMargin
  }

  /** PERSONALIZED PageRank from the data-derived seed (see
    * [[pagerank]]): restart mass returns to the seed only, vs the
    * global importance [[graphPagerank]] computes. Same arithmetic and
    * replay oracle.
    */
  def graphPpr(s: SparkSession, dir: String): DataFrame =
    pagerank(edges(s, dir), personalized = true).orderBy(col("node"))

  val graphPprSql: String = {
    val base =
      """ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |nx AS (SELECT event_type AS src, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS dst FROM ev),
        |edges AS (SELECT src, dst, COUNT(*) AS w FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2),
        |wout AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wt FROM edges GROUP BY src),
        |seed AS (SELECT src AS sn FROM wout ORDER BY wt DESC, src LIMIT 1),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |r0 AS (SELECT node, CASE WHEN node = (SELECT sn FROM seed)
        |    THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS r FROM nodes)""".stripMargin
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS (SELECT n.node,
         |    CAST(CASE WHEN n.node = (SELECT sn FROM seed) THEN 150000 ELSE 0 END
         |      + (85 * COALESCE(CAST(SUM((r.r * e.w) // w2.wt) AS BIGINT), 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN r${i - 1} r ON r.node = e.src
         |  LEFT JOIN wout w2 ON w2.src = e.src
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$iters
       |SELECT node, r FROM r$PrIters ORDER BY node""".stripMargin
  }

  /** Weighted HITS (Kleinberg hubs/authorities) over the event-type
    * transition graph — the link-analysis companion to
    * [[graphPagerank]], same scaled-integer discipline: scores ×10⁶,
    * each of the 3 rounds is auth = Σ w·hub over in-edges, then hub =
    * Σ w·auth over out-edges with the new auths, each L1-normalized as
    * (x·10⁶) div Σx. Every sum is an exact integer and the division is
    * [[Exact.intdiv]], so the oracle REPLAYS all rounds bit-for-bit.
    */
  def graphHits(s: SparkSession, dir: String): DataFrame = over(edges(s, dir)) { pe =>
    def normalize(raw: Column): Column = let(raw) { v =>
      let(aggregate(v, lit(0L), (a, x) => a + x)) { tot =>
        transform(v, x => intdiv(x * lit(Scale), tot))
      }
    }
    def pull(side: String, score: Column): Column = transform(pe, e =>
      aggregate(e.getField(side), lit(0L), (a, x) =>
        a + x.getField("w") * element_at(score, x.getField("i"))))
    val init = struct(transform(pe, _ => lit(Scale)).as("hs"), transform(pe, _ => lit(0L)).as("as"))
    let(Iterate.fold(HitsIters, init) { acc =>
      let(normalize(pull("ins", acc.getField("hs")))) { auth =>
        struct(normalize(pull("outs", auth)).as("hs"), auth.as("as"))
      }
    }) { fin =>
      transform(pe, (e, k) => struct(e.getField("n").as("node"),
        element_at(fin.getField("hs"), k + 1).as("hub_score"),
        element_at(fin.getField("as"), k + 1).as("auth_score")))
    }
  }.orderBy(col("node"))

  val graphHitsSql: String = {
    val base =
      """ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |nx AS (SELECT event_type AS src, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS dst FROM ev),
        |edges AS (SELECT src, dst, COUNT(*) AS w FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)""".stripMargin
    val iters = (1 to HitsIters).map { i =>
      s"""a${i}r AS (SELECT n.node, COALESCE(CAST(SUM(e.w * h.h) AS BIGINT), 0) AS ar
         |  FROM nodes n LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN h${i - 1} h ON h.node = e.src GROUP BY n.node),
         |a$i AS (SELECT node, (ar * 1000000) // (SELECT CAST(SUM(ar) AS BIGINT) FROM a${i}r) AS a FROM a${i}r),
         |h${i}r AS (SELECT n.node, COALESCE(CAST(SUM(e.w * a.a) AS BIGINT), 0) AS hr
         |  FROM nodes n LEFT JOIN edges e ON e.src = n.node
         |  LEFT JOIN a$i a ON a.node = e.dst GROUP BY n.node),
         |h$i AS (SELECT node, (hr * 1000000) // (SELECT CAST(SUM(hr) AS BIGINT) FROM h${i}r) AS h FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$iters
       |SELECT node, h$HitsIters.h AS hub_score, a$HitsIters.a AS auth_score
       |FROM h$HitsIters JOIN a$HitsIters USING (node) ORDER BY node""".stripMargin
  }

  /** All-pairs shortest-path lengths by min-plus doubling: an n×n
    * matrix in node order, null where j is unreachable from i and on
    * the diagonal. Each of the 3 rounds is d'(i,j) = min(d(i,j),
    * min_k d(i,k) + d(k,j)), exact for every path of ≤ 2³ edges — far
    * beyond the alphabet. Self-loops and i = j pairs are dropped: they
    * shorten no path between two other nodes.
    */
  private def distances(pe: Column): Column = {
    val d0 = transform(pe, (e, i) => transform(pe, (_, j) =>
      when(i =!= j && exists(e.getField("outs"), _.getField("i") === j + 1), lit(1L))))
    Iterate.fold(DoublingRounds, d0) { d =>
      transform(d, (row, i) => transform(row, (dij, j) =>
        when(i =!= j, array_min(concat(array(dij),
          transform(row, (dik, k) => dik + element_at(element_at(d, k + 1), j + 1)))))))
    }
  }

  /** Strongly connected components of the DIRECTED transition graph:
    * v, w share a component iff each reaches the other in the
    * [[distances]] closure (the spec asserts 3 rounds reach the true
    * closure), and scc_id(v) is the least name in v's component.
    */
  def graphScc(s: SparkSession, dir: String): DataFrame = over(edges(s, dir)) { pe =>
    let(distances(pe)) { d =>
      def reach(i: Column, j: Column): Column = element_at(element_at(d, i + 1), j + 1).isNotNull
      transform(pe, (e, i) => struct(e.getField("n").as("node"),
        element_at(filter(transform(pe, _.getField("n")), (_, j) =>
          j === i || (reach(i, j) && reach(j, i))), 1).as("scc_id")))
    }
  }.orderBy(col("node"))

  val graphSccSql: String = {
    val base =
      """ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |nx AS (SELECT event_type AS a, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS b FROM ev),
        |c0 AS (SELECT DISTINCT a, b FROM nx WHERE b IS NOT NULL),
        |nodes AS (SELECT a AS node FROM c0 UNION SELECT b FROM c0)""".stripMargin
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (SELECT a, b FROM c${i - 1}
         |  UNION SELECT x.a, y.b FROM c${i - 1} x JOIN c${i - 1} y ON x.b = y.a)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$rounds,
       |mut AS (SELECT f.a AS v, f.b AS w FROM c3 f
       |    JOIN c3 r ON f.a = r.b AND f.b = r.a
       |  UNION SELECT node, node FROM nodes)
       |SELECT v AS node, MIN(w) AS scc_id FROM mut GROUP BY v ORDER BY node""".stripMargin
  }

  /** Per-node eccentricity over the directed transition graph: the
    * number of nodes each node reaches and its largest exact shortest
    * path in the [[distances]] closure. Unreachable pairs are absent,
    * not infinite, and a node that reaches none has no row: `n_reached`
    * says how far the node sees. The graph diameter is max(ecc), the
    * radius min(ecc) — recoverable from the rows.
    */
  def graphEccentricity(s: SparkSession, dir: String): DataFrame = over(edges(s, dir)) { pe =>
    let(distances(pe)) { d =>
      transform(pe, (e, i) => let(filter(element_at(d, i + 1), _.isNotNull)) { reached =>
        struct(e.getField("n").as("node"), size(reached).cast("long").as("n_reached"),
          array_max(reached).as("ecc"))
      })
    }
  }.filter(col("n_reached") > 0).orderBy(col("node"))

  val graphEccentricitySql: String = {
    val base =
      """ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |nx AS (SELECT event_type AS a, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS b FROM ev),
        |d0 AS (SELECT DISTINCT a, b, CAST(1 AS BIGINT) AS dist
        |  FROM nx WHERE b IS NOT NULL AND a <> b)""".stripMargin
    val rounds = (1 to DoublingRounds).map { i =>
      s"""d$i AS (SELECT a, b, MIN(dist) AS dist FROM (
         |    SELECT a, b, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT x.a, y.b, x.dist + y.dist FROM d${i - 1} x JOIN d${i - 1} y ON x.b = y.a)
         |  GROUP BY a, b HAVING a <> b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$rounds
       |SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS n_reached,
       |  CAST(MAX(dist) AS BIGINT) AS ecc
       |FROM d$DoublingRounds GROUP BY a ORDER BY node""".stripMargin
  }

  /** Deterministic hash-seeded random walks: one 4-step walk from
    * every node of the a ≠ b graph, each step choosing among the
    * current node's sorted distinct out-neighbors by
    * `md5(start:step:current) mod degree` — the DeepWalk corpus
    * generator (Perozzi et al. 2014) made replayable: the oracle
    * recomputes every choice bit-exactly, so the "random" corpus is
    * oracle-certified. Dead-end nodes emit nulls from that step on.
    */
  def graphWalks(s: SparkSession, dir: String): DataFrame = over(moves(s, dir)) { pe =>
    // A walk is the fold's array of 1-based node indices, 0 once it has
    // hit a dead end; the step number is its length so far.
    def name(i: Column): Column = when(i > 0, element_at(pe, i).getField("n"))
    transform(pe, (e, k) => let(Iterate.fold(WalkSteps, array(k + 1)) { walk =>
      let(element_at(walk, -1)) { cur =>
        let(when(cur > 0, element_at(pe, cur).getField("outs"))) { ns =>
          val hash = conv(substring(md5(concat(e.getField("n"), lit(":"),
            size(walk).cast("string"), lit(":"), name(cur))), 1, 8), 16, 10).cast("long")
          concat(walk, array(when(size(ns) > 0,
            element_at(ns, (pmod(hash, size(ns).cast("long")) + 1L).cast("int")).getField("i"))
            .otherwise(lit(0))))
        }
      }
    }) { walk =>
      struct(e.getField("n").as("start") +: (0 to WalkSteps).map(t =>
        name(element_at(walk, t + 1)).as(s"c$t")): _*)
    })
  }.orderBy(col("start"))

  val graphWalksSql: String = {
    val base =
      """ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |nx AS (SELECT event_type AS a, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS b FROM ev),
        |e AS (SELECT DISTINCT a, b FROM nx WHERE b IS NOT NULL AND a <> b),
        |nbr AS (SELECT a AS u, list(DISTINCT b ORDER BY b) AS ns FROM e GROUP BY a),
        |w0 AS (SELECT node AS start, node AS c0 FROM
        |  (SELECT a AS node FROM e UNION SELECT b FROM e))""".stripMargin
    val steps = (1 to WalkSteps).map { t =>
      s"""w$t AS (SELECT w.*, CASE WHEN len(n.ns) > 0 THEN n.ns[CAST(
         |    CAST(concat('0x', substr(md5(w.start || ':$t:' || w.c${t - 1}), 1, 8)) AS BIGINT)
         |      % CAST(len(n.ns) AS BIGINT) + 1 AS INT)] END AS c$t
         |  FROM w${t - 1} w LEFT JOIN nbr n ON w.c${t - 1} = n.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$steps
       |SELECT start, c0, c1, c2, c3, c4 FROM w$WalkSteps ORDER BY start""".stripMargin
  }

  /** SimRank (Jeh & Widom 2002) over the directed a ≠ b transition
    * graph: "two nodes are similar if their in-neighbors are similar",
    * s(a,b) = (C/|I(a)||I(b)|)·Σ s(i,j) over in-neighbor pairs, C=0.8,
    * s(a,a)=1, and 0 when either side has no in-neighbor. Three
    * value-iteration rounds in SCALED INTEGER micro-units (the pagerank
    * discipline): each update is one exact integer Σ followed by ONE
    * floor division (4·Σ) div (5·|I(a)|·|I(b)|) — the oracle replays
    * all rounds in unrolled CTEs.
    */
  def graphSimrank(s: SparkSession, dir: String): DataFrame = over(moves(s, dir)) { pe =>
    def pairs(f: (Column, Column, Column, Column) => Column): Column =
      transform(pe, (a, i) => transform(pe, (b, j) => f(a, i, b, j)))
    val s0 = pairs((_, i, _, j) => when(i === j, lit(Scale)).otherwise(lit(0L)))
    let(Iterate.fold(SimRounds, s0) { sim =>
      pairs { (a, i, b, j) =>
        val (ia, ib) = (a.getField("ins"), b.getField("ins"))
        when(i === j, lit(Scale)).otherwise(
          when(size(ia) > 0 && size(ib) > 0,
            intdiv(lit(4L) * aggregate(ia, lit(0L), (acc, x) => acc + aggregate(ib, lit(0L),
              (acc2, y) => acc2 + element_at(element_at(sim, x.getField("i")), y.getField("i")))),
              lit(5L) * size(ia).cast("long") * size(ib).cast("long")))
            .otherwise(lit(0L)))
      }
    }) { sim =>
      flatten(pairs { (a, i, b, j) =>
        let(element_at(element_at(sim, i + 1), j + 1)) { v =>
          struct(a.getField("n").as("a"), b.getField("n").as("b"), v.as("s_micro"),
            (v.cast("double") / lit(1000000.0)).as("simrank"))
        }
      })
    }
  }.orderBy(col("a"), col("b"))

  val graphSimrankSql: String = {
    val base =
      """ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |nx AS (SELECT event_type AS a, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS b FROM ev),
        |e AS (SELECT DISTINCT a, b FROM nx WHERE b IS NOT NULL AND a <> b),
        |deg AS (SELECT b AS n, CAST(COUNT(*) AS BIGINT) AS ind FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT a AS n FROM e UNION ALL SELECT b FROM e)),
        |pairs AS (SELECT x.n AS pa, y.n AS pb FROM nodes x CROSS JOIN nodes y),
        |s0 AS (SELECT pa, pb, CAST(CASE WHEN pa = pb THEN 1000000 ELSE 0
        |    END AS BIGINT) AS s FROM pairs)""".stripMargin
    val rounds = (1 to SimRounds).map { i =>
      s"""s$i AS (SELECT p.pa, p.pb,
         |    CAST(CASE WHEN p.pa = p.pb THEN 1000000
         |      ELSE COALESCE((4 * c.sum_s) // (5 * da.ind * db.ind), 0)
         |      END AS BIGINT) AS s
         |  FROM pairs p
         |  LEFT JOIN (SELECT ea.b AS ca, eb.b AS cb,
         |      CAST(SUM(v.s) AS BIGINT) AS sum_s
         |    FROM e ea CROSS JOIN e eb
         |    JOIN s${i - 1} v ON v.pa = ea.a AND v.pb = eb.a
         |    GROUP BY 1, 2) c ON c.ca = p.pa AND c.cb = p.pb
         |  LEFT JOIN deg da ON da.n = p.pa
         |  LEFT JOIN deg db ON db.n = p.pb)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$rounds
       |SELECT pa AS a, pb AS b, s AS s_micro,
       |  CAST(s AS DOUBLE) / 1000000.0e0 AS simrank
       |FROM s$SimRounds ORDER BY a, b""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_transitions" -> (graphTransitions _),
    "graph_reciprocity" -> (graphReciprocity _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_ppr" -> (graphPpr _),
    "graph_hits" -> (graphHits _),
    "graph_scc" -> (graphScc _),
    "graph_eccentricity" -> (graphEccentricity _),
    "graph_walks" -> (graphWalks _),
    "graph_simrank" -> (graphSimrank _))

  val oracles: Map[String, String] = Map(
    "graph_transitions" -> graphTransitionsSql,
    "graph_reciprocity" -> graphReciprocitySql,
    "graph_pagerank" -> graphPagerankSql,
    "graph_ppr" -> graphPprSql,
    "graph_hits" -> graphHitsSql,
    "graph_scc" -> graphSccSql,
    "graph_eccentricity" -> graphEccentricitySql,
    "graph_walks" -> graphWalksSql,
    "graph_simrank" -> graphSimrankSql)
}
