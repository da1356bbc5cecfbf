package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Exact.let

/** Ranking-quality metrics for the retrieval plane — the offline eval
  * suite a search/recommendation team runs against a judged corpus:
  * nDCG@10, MRR@10 and MAP@10 per query. Here each user is a "query",
  * the ranked list is that user's events by value (ties broken by
  * event_id — a total order), and relevance is binary
  * (event_type = 'purchase'); the same operators apply unchanged to a
  * (query, doc, score, label) judgment table. Completes the model-eval
  * family ([[FeatureQueries]]'s AUC/confusion/calibration/lift) on the
  * ranking side.
  *
  * Determinism: the log2 discount table is computed ONCE in Scala and
  * embedded as shortest-repr double literals in BOTH the Spark plan and
  * the oracle SQL (`0.63...e0` — the e0 suffix defeats DuckDB's
  * decimal-literal default), so no transcendental is ever evaluated by
  * either engine; per-user folds run left-to-right in rank order
  * (`aggregate` ≡ `list_reduce`) over ≤K elements. The MAP accumulator
  * struct orders its fields so no field reads an already-updated slot —
  * the ts_cusum DuckDB sequential-struct lesson.
  *
  * Scale: one keyed window per user (rank ≤ K prune immediately after),
  * then a per-user ≤K-element array fold — no global sort, no
  * unpartitioned window; output is one row per user.
  */
object RankingEval {

  private val K = 10

  /** 1/log2(i+1) for ranks i = 1..K, as plan-time constants. */
  private val Discounts: IndexedSeq[Double] =
    (1 to K).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  private def discountsLit: Column = array(Discounts.map(lit): _*)

  private def discountsSql: String =
    "[" + Discounts.map(d => s"${d}e0").mkString(", ") + "]"

  /** Per-user array of binary relevance flags in rank order (≤K),
    * ranked by value desc with event_id tiebreak. */
  private def rankedRels(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables(s, dir, "events")
      .filter(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .withColumn("rel", (col("event_type") === "purchase").cast("long"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("rn"), col("rel")))).as("rr"))
      .withColumn("rels", transform(col("rr"), x => x.getField("rel")))
      .withColumn("n_top", size(col("rels")).cast("long"))
      .withColumn("r10", aggregate(col("rels"), lit(0L), (a, b) => a + b))
  }

  /** Shared oracle CTE prefix: same ranked per-user rel arrays. */
  private val RelsCte: String =
    """r0 AS (SELECT user_id, event_id, value,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
      |  FROM events WHERE value IS NOT NULL),
      |r1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY value DESC, event_id) AS rn FROM r0),
      |r2 AS (SELECT user_id,
      |    list_transform(list(struct_pack(rn := rn, rel := rel) ORDER BY rn),
      |      x -> CAST(x.rel AS BIGINT)) AS rels
      |  FROM r1 WHERE rn <= 10 GROUP BY user_id),
      |r3 AS (SELECT user_id, rels, CAST(len(rels) AS BIGINT) AS n_top,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), rels),
      |      (a, b) -> a + b) AS BIGINT) AS r10 FROM r2)""".stripMargin

  /** nDCG@10 per user: DCG from the literal discount table zipped with
    * the rel flags (ordered fold), IDCG from the first r10 discounts. */
  def evalNdcg(s: SparkSession, dir: String): DataFrame =
    rankedRels(s, dir)
      .withColumn("dcg", aggregate(
        zip_with(col("rels"), slice(discountsLit, 1, K),
          (r, d) => r.cast("double") * d),
        lit(0.0), (a, b) => a + b))
      .withColumn("idcg", aggregate(
        slice(discountsLit, lit(1), col("r10").cast("int")), lit(0.0), (a, b) => a + b))
      .select(col("user_id"), col("n_top"), col("r10"), col("dcg"),
        when(col("r10") > 0L, col("dcg") / col("idcg")).as("ndcg"))
      .orderBy(col("user_id"))

  val evalNdcgSql: String =
    s"""WITH $RelsCte,
       |d AS (SELECT *, $discountsSql AS disc FROM r3),
       |c AS (SELECT user_id, n_top, r10,
       |    CAST(list_reduce(list_prepend(0.0e0,
       |      list_transform(list_zip(rels, disc[1:len(rels)]),
       |        x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b) AS DOUBLE) AS dcg,
       |    CAST(list_reduce(list_prepend(0.0e0, disc[1:r10]),
       |      (a, b) -> a + b) AS DOUBLE) AS idcg
       |  FROM d)
       |SELECT user_id, n_top, r10, dcg,
       |  CASE WHEN r10 > 0 THEN dcg / idcg END AS ndcg
       |FROM c ORDER BY user_id""".stripMargin

  /** MRR@10 per user: reciprocal rank of the first relevant item —
    * a rank selection plus one correctly-rounded division. */
  def evalMrr(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables(s, dir, "events")
      .filter(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .withColumn("rel", (col("event_type") === "purchase").cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_top"),
        min(when(col("rel") === 1L, col("rn"))).as("first_rel"))
      .select(col("user_id"), col("n_top"), col("first_rel"),
        when(col("first_rel").isNotNull,
          lit(1.0) / col("first_rel").cast("double")).as("mrr"))
      .orderBy(col("user_id"))
  }

  val evalMrrSql: String =
    """WITH r0 AS (SELECT user_id, event_id, value,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
      |  FROM events WHERE value IS NOT NULL),
      |r1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY value DESC, event_id) AS rn FROM r0),
      |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_top,
      |    CAST(MIN(CASE WHEN rel = 1 THEN rn END) AS BIGINT) AS first_rel
      |  FROM r1 WHERE rn <= 10 GROUP BY user_id)
      |SELECT user_id, n_top, first_rel,
      |  CASE WHEN first_rel IS NOT NULL
      |    THEN 1.0e0 / CAST(first_rel AS DOUBLE) END AS mrr
      |FROM a ORDER BY user_id""".stripMargin

  /** MAP@10 per user: average of precision-at-i over relevant
    * positions, via a left-to-right struct-accumulator fold (s before
    * c so DuckDB's sequential struct evaluation reads the pre-update
    * count — the ts_cusum field-order discipline). */
  def evalMap(s: SparkSession, dir: String): DataFrame =
    rankedRels(s, dir)
      // fold elements are pre-mapped into the ACCUMULATOR's struct type
      // (s := rank-as-double, c := rel) — DuckDB's list_reduce needs a
      // homogeneous list, so init and elements must share one shape
      // (the ts_cusum convention)
      .withColumn("acc", aggregate(
        zip_with(col("rels"), sequence(lit(1), size(col("rels"))),
          (r, i) => struct(i.cast("double").as("s"), r.as("c"))),
        struct(lit(0.0).as("s"), lit(0L).as("c")),
        (acc, x) => struct(
          (acc.getField("s") +
            x.getField("c").cast("double") *
              ((acc.getField("c") + x.getField("c")).cast("double") / x.getField("s")))
            .as("s"),
          (acc.getField("c") + x.getField("c")).as("c")))
      )
      .select(col("user_id"), col("n_top"), col("r10"),
        when(col("r10") > 0L,
          col("acc").getField("s") / col("r10").cast("double")).as("ap"))
      .orderBy(col("user_id"))

  val evalMapSql: String =
    s"""WITH $RelsCte,
       |z AS (SELECT user_id, n_top, r10,
       |    list_transform(list_zip(rels, range(1, len(rels) + 1)),
       |      x -> struct_pack(s := CAST(x[2] AS DOUBLE), c := x[1])) AS es FROM r3),
       |f AS (SELECT user_id, n_top, r10,
       |    list_reduce(list_prepend(struct_pack(s := 0.0e0, c := CAST(0 AS BIGINT)), es),
       |      (acc, x) -> struct_pack(
       |        s := acc.s + CAST(x.c AS DOUBLE) *
       |          (CAST(acc.c + x.c AS DOUBLE) / x.s),
       |        c := acc.c + x.c)) AS acc
       |  FROM z)
       |SELECT user_id, n_top, r10,
       |  CASE WHEN r10 > 0 THEN acc.s / CAST(r10 AS DOUBLE) END AS ap
       |FROM f ORDER BY user_id""".stripMargin

  /** Bradley–Terry strength estimation from pairwise preferences —
    * the arena-style model-ranking method (Bradley & Terry 1952;
    * Hunter 2004's MM algorithm, the fixed point Chatbot-Arena-style
    * leaderboards iterate): given pairwise battle outcomes between
    * entities, the MM update
    *
    *   p_i ← W_i / Σ_j N_ij / (p_i + p_j)
    *
    * converges to the maximum-likelihood strengths. Deterministic
    * battle log derived from the corpus: each order stages a battle
    * between its lowest and highest supplier league (s_suppkey mod 8,
    * an 8-entity league); the side with the larger total quantity in
    * the order wins (integer compare; equal-league and tied orders
    * are dropped). Five MM rounds from p = 1, strengths normalized to
    * sum 1 at the end; report wins, games, strength, per entity.
    *
    * Determinism: battle outcomes and the W/N tables are exact
    * integers; each round's denominator is the opponent-ordered fold
    * (`sort_array`+`aggregate` ≡ `list(... ORDER BY j)`+`list_reduce`)
    * of n/(p_i+p_j) terms; rounds are unrolled in the oracle CTE
    * chain (the attribution_markov discipline); final normalization
    * one entity-ordered fold. (strength DESC, model) total order.
    *
    * Scale shape: ONE corpus-wide aggregation (per-order league
    * totals); everything after lives on alphabet-sized frames —
    * 8-row strength tables per round, checkpointReset per round with
    * the previous round's blocks freed (the Markov loop recipe),
    * coalesce(1) + broadcast so the tail never schedules 32-partition
    * jobs over 8 rows.
    */
  def evalBt(s: SparkSession, dir: String, rounds: Int = 5): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"),
        pmod(col("l_suppkey"), lit(8)).cast("long").as("lg"),
        col("l_quantity").cast("long").as("q"))
    // per (order, league) totals, then min/max league per order
    val perLeague = li.groupBy(col("ok"), col("lg"))
      .agg(sum(col("q")).as("qs"))
    val battles = perLeague.groupBy(col("ok"))
      .agg(min(col("lg")).as("a"), max(col("lg")).as("b"),
        min_by(col("qs"), col("lg")).as("qa"),
        max_by(col("qs"), col("lg")).as("qb"))
      .filter(col("a") =!= col("b") && col("qa") =!= col("qb"))
      .select(col("a"), col("b"),
        when(col("qa") > col("qb"), col("a")).otherwise(col("b")).as("winner"))
    // ordered-pair win counts → symmetric expansion with per-entity
    // integer W (wins) and G (games). r13: the expansion is one
    // in-row explode (no checkpoint, no self-union — pairs has ONE
    // consumer now).
    val pairs = battles.groupBy(col("a"), col("b"))
      .agg(sum(when(col("winner") === col("a"), 1L).otherwise(0L)).as("wab"),
        sum(when(col("winner") === col("b"), 1L).otherwise(0L)).as("wba"))
    val ex = pairs.select(explode(array(
        struct(col("a").as("i"), col("b").as("j"),
          (col("wab") + col("wba")).as("n"), col("wab").as("w")),
        struct(col("b").as("i"), col("a").as("j"),
          (col("wab") + col("wba")).as("n"), col("wba").as("w")))).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"),
        col("e.n").as("n"), col("e.w").as("w"))
    btFold(ex, rounds)
  }

  /** [[evalBt]]'s MM rounds over the directed pair table (i, j, n, w). */
  private[queries] def btFold(ex: DataFrame, rounds: Int): DataFrame = {
    // r13 (verdict #6): the MM loop runs on an ALPHABET-BOUNDED frame
    // (≤8 leagues by construction — suppkey mod 8 — so ≤56 directed
    // pairs at ANY corpus size), yet the r12 shape paid per round one
    // eager checkpoint + two broadcast exchanges + a grouped
    // sort_array fold: ~20 scheduler round trips for ≤8-row algebra.
    // Collapse: collect the pair table into ONE row and unroll all
    // rounds as array folds over it — the whole query is a single
    // linear plan (corpus aggregation → pair aggregation → expression),
    // zero checkpoints, zero loop jobs. IEEE order preserved exactly:
    // per-entity opponent terms fold in j order (exs is sorted by
    // (i, j), filter preserves order — same order sort_array gave the
    // grouped fold), each term is n.cast(double)/(pi+pj) with the same
    // operand shapes, wins/games are integer sums (order-free), and
    // the final normalizer folds p in entity order exactly as the old
    // sort_array(collect_list(struct(i, p))) did. Oracle unchanged.
    val one = ex.agg(sort_array(collect_list(
      struct(col("i"), col("j"), col("n"), col("w")))).as("exs"))
    val rowsArr = let(col("exs")) { exs =>
      // per-entity table: (i, wi, gi, xs=[(j, n) in j order]),
      // entity-ordered (exs sorted by (i, j) ⟹ first occurrences
      // ascending)
      let(transform(array_distinct(transform(exs, x => x.getField("i"))), e =>
        struct(e.as("i"),
          aggregate(filter(exs, x => x.getField("i") === e), lit(0L),
            (a, x) => a + x.getField("w")).as("wi"),
          aggregate(filter(exs, x => x.getField("i") === e), lit(0L),
            (a, x) => a + x.getField("n")).as("gi"),
          transform(filter(exs, x => x.getField("i") === e), x =>
            struct(x.getField("j").as("j"), x.getField("n").as("n"))).as("xs")))) { pe =>
        // p_k as array<struct<i, p>> ALIGNED with pe; p_0 = 1.0
        val p0 = transform(pe, e => struct(e.getField("i").as("i"), lit(1.0).as("p")))
        def mm(p: Column): Column = transform(pe, (e, idx) =>
          struct(e.getField("i").as("i"),
            (e.getField("wi").cast("double") /
              aggregate(e.getField("xs"), lit(0.0), (a, x) =>
                a + x.getField("n").cast("double") /
                  (element_at(p, idx + 1).getField("p") +
                    element_at(filter(p, y =>
                      y.getField("i") === x.getField("j")), 1).getField("p"))))
              .as("p")))
        // unroll rounds as a let-chain (each round's array bound once).
        // Depth limit: every round nests one more lambda level, so the
        // expression tree, and the recursion that analyses, optimizes,
        // generates code for and evaluates it, deepens linearly with
        // `rounds`. The fold is sized for the registry's 5 rounds; a
        // much larger count belongs in a checkpointed loop instead.
        def chain(p: Column, k: Int): Column =
          if (k == 0)
            let(aggregate(p, lit(0.0), (a, y) => a + y.getField("p"))) { t =>
              transform(pe, (e, idx) => struct(
                e.getField("i").as("model"),
                e.getField("wi").as("wins"),
                e.getField("gi").as("games"),
                (element_at(p, idx + 1).getField("p") / t).as("strength")))
            }
          else let(mm(p))(pn => chain(pn, k - 1))
        chain(p0, rounds)
      }
    }
    // empty input: no pairs, no rows (the markov/hits guard)
    one.filter(size(col("exs")) > 0)
      .select(explode(rowsArr).as("r"))
      .select(col("r.model").as("model"), col("r.wins").as("wins"),
        col("r.games").as("games"), col("r.strength").as("strength"))
      .orderBy(col("strength").desc, col("model"))
  }

  val evalBtSql: String = {
    // one MM round as a CTE body over the previous round `pr`: the
    // opponent-ordered fold is a list() aggregate, so GROUP BY e.i,
    // w.wi suffices
    def roundS2(pr: String): String =
      s"""SELECT e.i, CAST(w.wi AS DOUBLE) / list_reduce(
         |    list(CAST(e.n AS DOUBLE) / (pi.p + pj.p) ORDER BY e.j),
         |    (x, y) -> x + y) AS p
         |  FROM e JOIN $pr pi ON pi.i = e.i JOIN $pr pj ON pj.i = e.j
         |  JOIN w ON w.i = e.i
         |  GROUP BY e.i, w.wi""".stripMargin
    s"""WITH pl AS (SELECT l_orderkey AS ok, l_suppkey % 8 AS lg,
       |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qs
       |  FROM lineitem GROUP BY 1, 2),
       |bt AS (SELECT ok, MIN(lg) AS a, MAX(lg) AS b,
       |    MIN_BY(qs, lg) AS qa, MAX_BY(qs, lg) AS qb
       |  FROM pl GROUP BY ok),
       |bw AS (SELECT a, b, CASE WHEN qa > qb THEN a ELSE b END AS winner
       |  FROM bt WHERE a <> b AND qa <> qb),
       |pc AS (SELECT a, b,
       |    CAST(SUM(CASE WHEN winner = a THEN 1 ELSE 0 END) AS BIGINT) AS wab,
       |    CAST(SUM(CASE WHEN winner = b THEN 1 ELSE 0 END) AS BIGINT) AS wba
       |  FROM bw GROUP BY a, b),
       |e AS (SELECT a AS i, b AS j, wab + wba AS n, wab AS w FROM pc
       |  UNION ALL SELECT b AS i, a AS j, wab + wba AS n, wba AS w FROM pc),
       |w AS (SELECT i, CAST(SUM(w) AS BIGINT) AS wi,
       |    CAST(SUM(n) AS BIGINT) AS gi FROM e GROUP BY i),
       |r0 AS (SELECT DISTINCT i, 1.0e0 AS p FROM e),
       |r1 AS (${roundS2("r0")}),
       |r2 AS (${roundS2("r1")}),
       |r3 AS (${roundS2("r2")}),
       |r4 AS (${roundS2("r3")}),
       |r5 AS (${roundS2("r4")}),
       |t AS (SELECT list_reduce(list(p ORDER BY i), (x, y) -> x + y) AS t
       |  FROM r5)
       |SELECT r5.i AS model, w.wi AS wins, w.gi AS games, r5.p / t.t AS strength
       |FROM r5 JOIN w ON w.i = r5.i CROSS JOIN t
       |ORDER BY strength DESC, model""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eval_ndcg" -> (evalNdcg _),
    "eval_mrr" -> (evalMrr _),
    "eval_bt" -> ((s: SparkSession, dir: String) => evalBt(s, dir)),
    "eval_map" -> (evalMap _))

  val oracles: Map[String, String] = Map(
    "eval_ndcg" -> evalNdcgSql,
    "eval_mrr" -> evalMrrSql,
    "eval_bt" -> evalBtSql,
    "eval_map" -> evalMapSql)
}
