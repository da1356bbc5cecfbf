package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Record-linkage and link-analysis completions: Fellegi–Sunter
  * probabilistic match scoring (Fellegi & Sunter 1969 — the model
  * behind every serious ER engine), truncated Katz centrality, and the
  * resource-allocation link-prediction index (Zhou, Lü & Zhang 2009 —
  * the rational-arithmetic sibling of Adamic–Adar, chosen over AA
  * because 1/deg needs no cross-engine logarithm).
  *
  * Scale/determinism discipline: candidates are always block- or
  * edge-bounded (never all-pairs); u-probabilities are exact
  * frequency rationals; Katz runs in integer micro-units exactly like
  * [[Relational.pagerank]]; RA folds 1/deg in neighbor order.
  */
object LinkOps {

  /** Fellegi–Sunter match weights over the er_match candidate space
    * (17-char name-prefix blocks, so the quadratic is block-bounded):
    * a three-field comparison vector (name levenshtein≤2, nation,
    * market segment), u-probabilities for the exact-match fields
    * ESTIMATED from the data as the random-pair agreement rate
    * Σ f(f−1) / N(N−1) (an exact integer rational), m-probabilities
    * and the name-field u as classic literal initializers (0.95/0.9 /
    * 0.001 — the Splink-style starting point, documented). The match
    * score is the likelihood-ratio product Π m/u (agree) ×
    * (1−m)/(1−u) (disagree) in fixed field order — every factor a
    * correctly-rounded division of plan literals or the exact-rational
    * u columns, so scores hash bit-for-bit. Top-100 by (score desc,
    * ids). One pass for each u + the blocked self-join.
    */
  def erFellegiSunter(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"), substring(col("c_name"), 1, 17).as("blk"))
    def agreePairs(field: String, out: String) =
      c.groupBy(col(field)).agg(count(lit(1)).as("c"))
        .agg(sum((col("c") * (col("c") - 1)).cast("decimal(38,0)"))
          .cast("double").as(out))
    val u = c.agg(count(lit(1)).cast("double").as("nd"))
      .crossJoin(broadcast(agreePairs("c_nationkey", "pn")))
      .crossJoin(broadcast(agreePairs("c_mktsegment", "ps")))
      .select(
        (col("pn") / (col("nd") * (col("nd") - lit(1.0)))).as("u_nation"),
        (col("ps") / (col("nd") * (col("nd") - lit(1.0)))).as("u_segment"))
    val cand = c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"),
        (levenshtein(col("a.c_name"), col("b.c_name"), 2) =!= -1)
          .cast("int").as("g_name"),
        (col("a.c_nationkey") === col("b.c_nationkey")).cast("int").as("g_nation"),
        (col("a.c_mktsegment") === col("b.c_mktsegment")).cast("int").as("g_segment"))
    cand.crossJoin(broadcast(u))
      .withColumn("score",
        when(col("g_name") === 1, lit(0.95) / lit(0.001))
          .otherwise((lit(1.0) - lit(0.95)) / (lit(1.0) - lit(0.001))) *
          when(col("g_nation") === 1, lit(0.9) / col("u_nation"))
            .otherwise((lit(1.0) - lit(0.9)) / (lit(1.0) - col("u_nation"))) *
          when(col("g_segment") === 1, lit(0.9) / col("u_segment"))
            .otherwise((lit(1.0) - lit(0.9)) / (lit(1.0) - col("u_segment"))))
      .select(col("id_a"), col("id_b"), col("g_name"), col("g_nation"),
        col("g_segment"), col("score"))
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  val erFellegiSunterSql: String =
    """WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
      |    substr(c_name, 1, 17) AS blk FROM customer),
      |n0 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM c),
      |un AS (SELECT CAST(SUM(CAST(c * (c - 1) AS DECIMAL(38,0))) AS DOUBLE) AS pn
      |  FROM (SELECT COUNT(*) AS c FROM c GROUP BY c_nationkey)),
      |us AS (SELECT CAST(SUM(CAST(c * (c - 1) AS DECIMAL(38,0))) AS DOUBLE) AS ps
      |  FROM (SELECT COUNT(*) AS c FROM c GROUP BY c_mktsegment)),
      |u AS (SELECT pn / (nd * (nd - 1.0e0)) AS u_nation,
      |    ps / (nd * (nd - 1.0e0)) AS u_segment
      |  FROM n0 CROSS JOIN un CROSS JOIN us),
      |cand AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |    CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 1 ELSE 0 END AS g_name,
      |    CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END AS g_nation,
      |    CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS g_segment
      |  FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey),
      |w AS (SELECT *,
      |    CASE WHEN g_name = 1 THEN 0.95e0 / 0.001e0
      |      ELSE (1.0e0 - 0.95e0) / (1.0e0 - 0.001e0) END
      |    * (CASE WHEN g_nation = 1 THEN 0.9e0 / u_nation
      |      ELSE (1.0e0 - 0.9e0) / (1.0e0 - u_nation) END)
      |    * (CASE WHEN g_segment = 1 THEN 0.9e0 / u_segment
      |      ELSE (1.0e0 - 0.9e0) / (1.0e0 - u_segment) END) AS score
      |  FROM cand CROSS JOIN u)
      |SELECT id_a, id_b, g_name, g_nation, g_segment, score
      |FROM w ORDER BY score DESC, id_a, id_b LIMIT 100""".stripMargin

  private val KatzIters = 4

  /** Truncated Katz centrality (4 unrolled rounds, α = 0.05) over the
    * symmetrized co-supply graph: x ← 1 + α·Aᵀx counts attenuated
    * walks up to length 4. Runs in exact integer micro-units like
    * [[Relational.pagerank]] (α·x as `intdiv(5x, 100)`), so per-node
    * sums are order-free and the oracle replays every round
    * bit-for-bit; a finite truncation also sidesteps the α·λmax
    * divergence question entirely. The edge set is the shared memoized
    * [[Relational.graphBuild]] index; iteration cost is |E| per round.
    */
  def graphKatz(s: SparkSession, dir: String): DataFrame = {
    val edges = Relational.graphBuild(s, dir)
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val nodes = sym.select(col("src").as("node")).distinct()
    var x = nodes.withColumn("x", lit(1000000L))
    (1 to KatzIters).foreach { _ =>
      val contrib = sym.join(x.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), Exact.intdiv(lit(5L) * col("x"), lit(100L)).as("cx"))
        .groupBy(col("dst")).agg(sum(col("cx")).as("sc"))
      x = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"), (lit(1000000L) + coalesce(col("sc"), lit(0L))).as("x"))
    }
    x.select(col("node"), col("x").as("katz_micro"),
        (col("x").cast("double") / lit(1000000.0)).as("katz"))
      .orderBy(col("node"))
  }

  val graphKatzSql: String = {
    val iters = (1 to KatzIters).map { i =>
      s"""x$i AS (SELECT n.node,
         |    CAST(1000000 + COALESCE(CAST(SUM((5 * x.x) // 100) AS BIGINT), 0) AS BIGINT) AS x
         |  FROM knodes n LEFT JOIN ksym e ON e.t = n.node
         |  LEFT JOIN x${i - 1} x ON x.node = e.s
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Relational.CoSupplyCtes},
       |ksym AS MATERIALIZED (SELECT u AS s, v AS t FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |knodes AS (SELECT DISTINCT s AS node FROM ksym),
       |x0 AS (SELECT node, CAST(1000000 AS BIGINT) AS x FROM knodes),
       |$iters
       |SELECT node, x AS katz_micro, CAST(x AS DOUBLE) / 1000000.0e0 AS katz
       |FROM x$KatzIters ORDER BY node""".stripMargin
  }

  /** Resource-allocation link prediction (Zhou et al. 2009): for
    * non-adjacent co-supply pairs, RA(u,v) = Σ_z 1/deg(z) over common
    * neighbors z — each neighbor "allocates" a unit of resource split
    * across its degree. Candidates are the wedge pairs (common-
    * neighbor join — linear in wedges, never all-pairs), existing
    * edges anti-joined away; the 1/deg fold runs in NEIGHBOR ORDER
    * (sort_array ≡ list ORDER BY z) so the double sum is
    * deterministic. Top-30 by (ra desc, ids) on bit-identical doubles.
    */
  def graphResourceAlloc(s: SparkSession, dir: String): DataFrame = {
    val edges = Relational.graphBuild(s, dir)
    val e2 = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val deg = e2.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val cn = e2.as("a").join(e2.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .select(col("a.src").as("u"), col("b.src").as("v"), col("a.dst").as("z"))
      .join(deg.select(col("node").as("z"), col("deg")), "z")
    val nc = cn.join(edges.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
    nc.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sort_array(collect_list(struct(col("z"), col("deg")))).as("zs"))
      .withColumn("ra", aggregate(
        transform(col("zs"), x => lit(1.0) / x.getField("deg").cast("double")),
        lit(0.0), (a, b) => a + b))
      .select(col("u"), col("v"), col("cn"), col("ra"))
      .orderBy(col("ra").desc, col("u"), col("v"))
      .limit(30)
  }

  val graphResourceAllocSql: String =
    s"""WITH ${Relational.CoSupplyCtes},
       |e2 AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM e2 GROUP BY src),
       |cn AS (SELECT a.src AS u, b.src AS v, a.dst AS z
       |  FROM e2 a JOIN e2 b ON a.dst = b.dst AND a.src < b.src),
       |cnd AS (SELECT cn.u, cn.v, cn.z, deg.deg FROM cn
       |  JOIN deg ON deg.node = cn.z),
       |nc AS (SELECT * FROM cnd
       |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = cnd.u AND e.v = cnd.v)),
       |agg AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
       |    CAST(list_reduce(list_prepend(0.0e0,
       |      list_transform(list(struct_pack(z := z, d := deg) ORDER BY z),
       |        x -> 1.0e0 / CAST(x.d AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) AS ra
       |  FROM nc GROUP BY u, v)
       |SELECT u, v, cn, ra FROM agg
       |ORDER BY ra DESC, u, v LIMIT 30""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_fellegi_sunter" -> (erFellegiSunter _),
    "graph_katz" -> (graphKatz _),
    "graph_resource_alloc" -> (graphResourceAlloc _))

  val oracles: Map[String, String] = Map(
    "er_fellegi_sunter" -> erFellegiSunterSql,
    "graph_katz" -> graphKatzSql,
    "graph_resource_alloc" -> graphResourceAllocSql)
}
