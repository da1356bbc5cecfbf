package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 decisioning-plane queries — the sequel to the
  * experimentation set (eval_did / eval_srm / eval_power / eval_cuped):
  * sequential monitoring, instrumental-variable estimation, effect
  * heterogeneity, and offline policy replay. All four share the
  * plane's salted-md5 assignment coin and the house determinism
  * discipline (decimal-exact moments, fixed IEEE chains, ordered folds
  * for any cross-row double reduction).
  */
object Decisioning {

  /** The experimentation plane's salted md5 coin (bit-identical across
    * engines): first 8 md5 hex chars of `salt || user_id`, mod 2.
    */
  private def coin(salt: String): Column =
    pmod(conv(substr(md5(concat(lit(salt),
      col("user_id").cast("string"))), lit(1), lit(8)), 16, 10)
      .cast("long"), lit(2L))

  /** Group-sequential monitoring (Pocock 1977 / O'Brien & Fleming 1979):
    * the experiment's 30-day window is cut into K = 5 equal looks, and
    * at each look the CUMULATIVE two-sample Welch z for treatment vs
    * control mean `value` is compared against the O'Brien–Fleming-shape
    * boundary z_k = C·√(K/k) with C = 2.04 (the classic K = 5,
    * α = 0.05 two-sided constant, baked as ONE literal — the
    * eval_power z-sum convention, since the boundary constants are
    * transcendental).
    *
    * Determinism: per-look per-arm moments are decimal-exact
    * ((18,2) sums, (38,4) sum-of-squares — the eval_power scales);
    * the cumulative sums stay DECIMAL through the window (exact,
    * order-free) and convert to double once; z is a fixed 8-op IEEE
    * chain with a single correctly-rounded sqrt. Degenerate looks
    * (an empty arm, zero variance) emit NULL z, never divide by zero.
    *
    * Scale: ONE map-side-combinable corpus aggregation to per-day
    * cells (keyed on the raw day so d0 and the look roll-up fold from
    * the checkpointed aggregate — a single scan); the cumulative
    * window runs on the ≤5-row look table — alphabet-bounded, no
    * corpus window, no join.
    */
  def evalSequential(s: SparkSession, dir: String): DataFrame = {
    val ev0 = Tables(s, dir, "events").filter(col("value").isNotNull)
      .select(col("value").cast("decimal(18,2)").as("v"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"),
        coin("did:").as("treat"))
    def cell(t: Int, c: Column): Column = when(col("treat") === t, c)
    // ONE corpus aggregation keyed on the raw day (≤ |days| rows,
    // checkpointed); d0, the look labels, and the look roll-up all
    // fold from it — decimal sums re-aggregate exactly
    val perDay = graft.Caches.checkpointReset(
      ev0.groupBy(col("day"))
        .agg(
          count(cell(0, col("v"))).as("pn_c"),
          count(cell(1, col("v"))).as("pn_t"),
          sum(cell(0, col("v"))).as("ps_c"),
          sum(cell(1, col("v"))).as("ps_t"),
          sum(cell(0, (col("v") * col("v")).cast("decimal(38,4)"))).as("pss_c"),
          sum(cell(1, (col("v") * col("v")).cast("decimal(38,4)"))).as("pss_t"))
        .coalesce(1))
    val d0 = perDay.agg(min(col("day")).as("d0"))
    val perLook = perDay.crossJoin(broadcast(d0))
      .withColumn("look",
        least(Exact.intdiv(col("day") - col("d0"), lit(6L)) + 1L, lit(5L)))
      .groupBy(col("look"))
      .agg(
        sum(col("pn_c")).as("pn_c"), sum(col("pn_t")).as("pn_t"),
        sum(col("ps_c")).as("ps_c"), sum(col("ps_t")).as("ps_t"),
        sum(col("pss_c")).as("pss_c"), sum(col("pss_t")).as("pss_t"))
    val w = Window.orderBy(col("look"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perLook
      .withColumn("n_c", sum(col("pn_c")).over(w))
      .withColumn("n_t", sum(col("pn_t")).over(w))
      .withColumn("s_c", sum(col("ps_c")).over(w).cast("double"))
      .withColumn("s_t", sum(col("ps_t")).over(w).cast("double"))
      .withColumn("ss_c", sum(col("pss_c")).over(w).cast("double"))
      .withColumn("ss_t", sum(col("pss_t")).over(w).cast("double"))
    def meanOf(sx: Column, n: Column): Column =
      when(n > 0, sx / n.cast("double"))
    def varOf(sx: Column, sxx: Column, n: Column): Column =
      when(n > 1,
        (n.cast("double") * sxx - sx * sx) /
          (n.cast("double") * (n.cast("double") - lit(1.0))))
    cum
      .withColumn("m_c", meanOf(col("s_c"), col("n_c")))
      .withColumn("m_t", meanOf(col("s_t"), col("n_t")))
      .withColumn("v_c", varOf(col("s_c"), col("ss_c"), col("n_c")))
      .withColumn("v_t", varOf(col("s_t"), col("ss_t"), col("n_t")))
      .withColumn("se", sqrt(col("v_c") / col("n_c").cast("double") +
        col("v_t") / col("n_t").cast("double")))
      .withColumn("z", when(col("se") > 0.0,
        (col("m_t") - col("m_c")) / col("se")))
      .withColumn("bound",
        lit(2.04) * sqrt(lit(5.0) / col("look").cast("double")))
      .select(col("look"), col("n_c"), col("n_t"), col("m_c"), col("m_t"),
        col("z"), col("bound"),
        (abs(col("z")) > col("bound")).cast("int").as("crossed"))
      .orderBy(col("look"))
  }

  val evalSequentialSql: String =
    """WITH ev0 AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
      |    epoch_ms(ts) // 86400000 AS day,
      |    CAST(CAST(concat('0x', substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 2 AS BIGINT) AS treat
      |  FROM events WHERE value IS NOT NULL),
      |d0 AS (SELECT MIN(day) AS d0 FROM ev0),
      |ev AS (SELECT v, treat, least((day - d0) // 6 + 1, 5) AS look
      |  FROM ev0 CROSS JOIN d0),
      |pl AS (SELECT look,
      |    CAST(COUNT(CASE WHEN treat = 0 THEN v END) AS BIGINT) AS pn_c,
      |    CAST(COUNT(CASE WHEN treat = 1 THEN v END) AS BIGINT) AS pn_t,
      |    SUM(CASE WHEN treat = 0 THEN v END) AS ps_c,
      |    SUM(CASE WHEN treat = 1 THEN v END) AS ps_t,
      |    SUM(CASE WHEN treat = 0 THEN CAST(v * v AS DECIMAL(38,4)) END) AS pss_c,
      |    SUM(CASE WHEN treat = 1 THEN CAST(v * v AS DECIMAL(38,4)) END) AS pss_t
      |  FROM ev GROUP BY 1),
      |cum AS (SELECT look,
      |    CAST(SUM(pn_c) OVER lw AS BIGINT) AS n_c,
      |    CAST(SUM(pn_t) OVER lw AS BIGINT) AS n_t,
      |    CAST(SUM(ps_c) OVER lw AS DOUBLE) AS s_c,
      |    CAST(SUM(ps_t) OVER lw AS DOUBLE) AS s_t,
      |    CAST(SUM(pss_c) OVER lw AS DOUBLE) AS ss_c,
      |    CAST(SUM(pss_t) OVER lw AS DOUBLE) AS ss_t
      |  FROM pl WINDOW lw AS (ORDER BY look
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |mv AS (SELECT look, n_c, n_t,
      |    CASE WHEN n_c > 0 THEN s_c / CAST(n_c AS DOUBLE) END AS m_c,
      |    CASE WHEN n_t > 0 THEN s_t / CAST(n_t AS DOUBLE) END AS m_t,
      |    CASE WHEN n_c > 1 THEN (CAST(n_c AS DOUBLE) * ss_c - s_c * s_c)
      |      / (CAST(n_c AS DOUBLE) * (CAST(n_c AS DOUBLE) - 1.0e0)) END AS v_c,
      |    CASE WHEN n_t > 1 THEN (CAST(n_t AS DOUBLE) * ss_t - s_t * s_t)
      |      / (CAST(n_t AS DOUBLE) * (CAST(n_t AS DOUBLE) - 1.0e0)) END AS v_t
      |  FROM cum),
      |se AS (SELECT *, sqrt(v_c / CAST(n_c AS DOUBLE)
      |    + v_t / CAST(n_t AS DOUBLE)) AS se FROM mv),
      |z AS (SELECT *, CASE WHEN se > 0.0e0 THEN (m_t - m_c) / se END AS z,
      |    2.04e0 * sqrt(5.0e0 / CAST(look AS DOUBLE)) AS bound FROM se)
      |SELECT look, n_c, n_t, m_c, m_t, z, bound,
      |  CAST(abs(z) > bound AS INT) AS crossed
      |FROM z ORDER BY look""".stripMargin

  /** Complier average causal effect (Angrist, Imbens & Rubin 1996) in
    * an encouragement design: users are ASSIGNED by the plane's salted
    * coin, but TAKE UP treatment only per a second, independent hash
    * ("iv:" salt) with rate 0.7 when assigned vs 0.2 when not — the
    * classic two-sided-noncompliance setup. The Wald/IV estimator is
    * CACE = ITT effect ÷ take-up difference.
    *
    * Determinism: take-up thresholds are INTEGER comparisons on the
    * 32-bit hash (⌊0.7·2³²⌋, ⌊0.2·2³²⌋ — no float boundary); per-user
    * outcomes are decimal sums summed again per arm (two-level decimal
    * — exact), converting to double once; the estimator is 4 divisions
    * + 2 subtractions in fixed order, NULL-guarded on empty arms and a
    * zero take-up difference.
    *
    * Scale: one per-user aggregation (map-side combinable on user_id)
    * then a 1-row fold — no join, no window, no per-user state.
    */
  def evalCace(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(coalesce(sum(col("value").cast("decimal(18,6)")),
        lit(0).cast("decimal(18,6)")).as("y"))
      .select(col("y"), coin("did:").as("z"),
        conv(substr(md5(concat(lit("iv:"), col("user_id").cast("string"))),
          lit(1), lit(8)), 16, 10).cast("long").as("u"))
      .withColumn("taken",
        when(col("z") === 1, col("u") < 3006477107L)
          .otherwise(col("u") < 858993459L).cast("long"))
    def arm(z: Int, c: Column): Column = when(col("z") === z, c)
    perUser.agg(
        count(arm(0, col("y"))).as("n_z0"),
        count(arm(1, col("y"))).as("n_z1"),
        sum(arm(0, col("taken"))).as("t_z0"),
        sum(arm(1, col("taken"))).as("t_z1"),
        sum(arm(0, col("y"))).cast("double").as("sy0"),
        sum(arm(1, col("y"))).cast("double").as("sy1"))
      .withColumn("takeup_c", when(col("n_z0") > 0,
        col("t_z0").cast("double") / col("n_z0").cast("double")))
      .withColumn("takeup_t", when(col("n_z1") > 0,
        col("t_z1").cast("double") / col("n_z1").cast("double")))
      .withColumn("itt", when(col("n_z0") > 0 && col("n_z1") > 0,
        col("sy1") / col("n_z1").cast("double") -
          col("sy0") / col("n_z0").cast("double")))
      .withColumn("takeup_diff", col("takeup_t") - col("takeup_c"))
      .select(col("n_z0"), col("n_z1"), col("takeup_c"), col("takeup_t"),
        col("itt"), col("takeup_diff"),
        when(col("takeup_diff") =!= 0.0,
          col("itt") / col("takeup_diff")).as("cace"))
  }

  val evalCaceSql: String =
    """WITH pu AS (SELECT user_id,
      |    COALESCE(SUM(CAST(value AS DECIMAL(18,6))),
      |      CAST(0 AS DECIMAL(18,6))) AS y
      |  FROM events GROUP BY 1),
      |au AS (SELECT y,
      |    CAST(CAST(concat('0x', substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 2 AS BIGINT) AS z,
      |    CAST(CAST(concat('0x', substr(md5('iv:' || CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) AS BIGINT) AS u
      |  FROM pu),
      |tk AS (SELECT y, z, CAST(CASE WHEN z = 1 THEN u < 3006477107
      |    ELSE u < 858993459 END AS BIGINT) AS taken FROM au),
      |c AS (SELECT
      |    CAST(COUNT(CASE WHEN z = 0 THEN y END) AS BIGINT) AS n_z0,
      |    CAST(COUNT(CASE WHEN z = 1 THEN y END) AS BIGINT) AS n_z1,
      |    CAST(SUM(CASE WHEN z = 0 THEN taken END) AS BIGINT) AS t_z0,
      |    CAST(SUM(CASE WHEN z = 1 THEN taken END) AS BIGINT) AS t_z1,
      |    CAST(SUM(CASE WHEN z = 0 THEN y END) AS DOUBLE) AS sy0,
      |    CAST(SUM(CASE WHEN z = 1 THEN y END) AS DOUBLE) AS sy1
      |  FROM tk),
      |r AS (SELECT n_z0, n_z1,
      |    CASE WHEN n_z0 > 0 THEN CAST(t_z0 AS DOUBLE) / CAST(n_z0 AS DOUBLE) END AS takeup_c,
      |    CASE WHEN n_z1 > 0 THEN CAST(t_z1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) END AS takeup_t,
      |    CASE WHEN n_z0 > 0 AND n_z1 > 0
      |      THEN sy1 / CAST(n_z1 AS DOUBLE) - sy0 / CAST(n_z0 AS DOUBLE) END AS itt
      |  FROM c),
      |d AS (SELECT *, takeup_t - takeup_c AS takeup_diff FROM r)
      |SELECT n_z0, n_z1, takeup_c, takeup_t, itt, takeup_diff,
      |  CASE WHEN takeup_diff <> 0.0e0 THEN itt / takeup_diff END AS cace
      |FROM d""".stripMargin

  /** Heterogeneous treatment effects by segment (event_type) with
    * Cochran's Q heterogeneity test (Cochran 1954) and the I²
    * inconsistency statistic (Higgins & Thompson 2002): per segment
    * the Welch effect d_j = m̄_T − m̄_C with variance
    * v_j = s²_T/n_T + s²_C/n_C, inverse-variance weights w_j = 1/v_j,
    * pooled d̄ = Σw_j d_j / Σw_j, Q = Σ w_j (d_j − d̄)², and
    * I² = max(0, (Q − df)/Q).
    *
    * Determinism: segment moments are decimal-exact (the eval_power
    * scales); every Σ over segments is an ORDERED FOLD over the
    * segment-sorted list (the eval_ece bin-fold convention — a plain
    * double SUM would be partial-aggregation-order-dependent), and the
    * Q terms are computed per segment BEFORE the fold so both engines
    * add identical doubles in identical order.
    *
    * Scale: ONE map-side-combinable corpus aggregation to |segments|
    * rows (checkpointed — the pool fold, Q terms, and final select
    * reuse it without re-scanning); all folds run on that
    * alphabet-sized list. Degenerate segments (an empty arm or
    * n ≤ 1) are excluded from the pooled statistics by the same
    * w IS NULL rule on both engines.
    */
  def evalHte(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type").as("segment"),
        col("value").cast("decimal(18,2)").as("v"), coin("did:").as("treat"))
    def cell(t: Int, c: Column): Column = when(col("treat") === t, c)
    def meanOf(sx: Column, n: Column): Column =
      when(n > 0, sx / n.cast("double"))
    def varOf(sx: Column, sxx: Column, n: Column): Column =
      when(n > 1,
        (n.cast("double") * sxx - sx * sx) /
          (n.cast("double") * (n.cast("double") - lit(1.0))))
    // ONE corpus aggregation to |segments| rows, checkpointed — the
    // pool fold, the Q terms, and the final select all reuse it
    // without re-scanning
    val segs = graft.Caches.checkpointReset(ev.groupBy(col("segment"))
      .agg(
        count(cell(0, col("v"))).as("n_c"),
        count(cell(1, col("v"))).as("n_t"),
        sum(cell(0, col("v"))).cast("double").as("s_c"),
        sum(cell(1, col("v"))).cast("double").as("s_t"),
        sum(cell(0, (col("v") * col("v")).cast("decimal(38,4)")))
          .cast("double").as("ss_c"),
        sum(cell(1, (col("v") * col("v")).cast("decimal(38,4)")))
          .cast("double").as("ss_t"))
      .coalesce(1))
      .withColumn("m_c", meanOf(col("s_c"), col("n_c")))
      .withColumn("m_t", meanOf(col("s_t"), col("n_t")))
      .withColumn("v_c", varOf(col("s_c"), col("ss_c"), col("n_c")))
      .withColumn("v_t", varOf(col("s_t"), col("ss_t"), col("n_t")))
      .withColumn("d", col("m_t") - col("m_c"))
      .withColumn("v", col("v_c") / col("n_c").cast("double") +
        col("v_t") / col("n_t").cast("double"))
      .withColumn("w", when(col("v") > 0.0, lit(1.0) / col("v")))
    // ordered folds over the weighted segments (collect_list drops the
    // NULL structs of degenerate segments)
    val pool = segs.agg(
        sort_array(collect_list(when(col("w").isNotNull,
          struct(col("segment"), col("w"), (col("w") * col("d")).as("wd")))))
          .as("l"))
      .select(size(col("l")).as("k"),
        aggregate(transform(col("l"), x => x.getField("w")),
          lit(0.0), (a, b) => a + b).as("sum_w"),
        aggregate(transform(col("l"), x => x.getField("wd")),
          lit(0.0), (a, b) => a + b).as("sum_wd"))
      .withColumn("dbar", when(col("sum_w") > 0.0,
        col("sum_wd") / col("sum_w")))
    val withTerm = segs.crossJoin(broadcast(pool))
      .withColumn("term",
        col("w") * (col("d") - col("dbar")) * (col("d") - col("dbar")))
    val qRow = withTerm.agg(
        max(col("k")).as("k"),
        sort_array(collect_list(when(col("term").isNotNull,
          struct(col("segment"), col("term"))))).as("tl"))
      .select(col("k"),
        when(col("k") > 0, aggregate(transform(col("tl"),
          x => x.getField("term")), lit(0.0), (a, b) => a + b)).as("q"))
      .withColumn("df", when(col("k") > 0, col("k") - 1).cast("long"))
      .withColumn("i2", when(col("q") > 0.0,
        greatest(lit(0.0), (col("q") - col("df").cast("double")) / col("q"))))
    withTerm.crossJoin(broadcast(qRow.select(col("q"), col("df"), col("i2"))))
      .select(col("segment"), col("n_c"), col("n_t"), col("m_c"), col("m_t"),
        col("d").as("effect"), col("v").as("var_effect"),
        col("w").as("weight"), col("q"), col("df"), col("i2"))
      .orderBy(col("segment"))
  }

  val evalHteSql: String =
    """WITH ev AS (SELECT event_type AS segment,
      |    CAST(value AS DECIMAL(18,2)) AS v,
      |    CAST(CAST(concat('0x', substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 2 AS BIGINT) AS treat
      |  FROM events WHERE value IS NOT NULL),
      |m AS (SELECT segment,
      |    CAST(COUNT(CASE WHEN treat = 0 THEN v END) AS BIGINT) AS n_c,
      |    CAST(COUNT(CASE WHEN treat = 1 THEN v END) AS BIGINT) AS n_t,
      |    CAST(SUM(CASE WHEN treat = 0 THEN v END) AS DOUBLE) AS s_c,
      |    CAST(SUM(CASE WHEN treat = 1 THEN v END) AS DOUBLE) AS s_t,
      |    CAST(SUM(CASE WHEN treat = 0 THEN CAST(v * v AS DECIMAL(38,4)) END)
      |      AS DOUBLE) AS ss_c,
      |    CAST(SUM(CASE WHEN treat = 1 THEN CAST(v * v AS DECIMAL(38,4)) END)
      |      AS DOUBLE) AS ss_t
      |  FROM ev GROUP BY 1),
      |v AS (SELECT *,
      |    CASE WHEN n_c > 0 THEN s_c / CAST(n_c AS DOUBLE) END AS m_c,
      |    CASE WHEN n_t > 0 THEN s_t / CAST(n_t AS DOUBLE) END AS m_t,
      |    CASE WHEN n_c > 1 THEN (CAST(n_c AS DOUBLE) * ss_c - s_c * s_c)
      |      / (CAST(n_c AS DOUBLE) * (CAST(n_c AS DOUBLE) - 1.0e0)) END AS v_c,
      |    CASE WHEN n_t > 1 THEN (CAST(n_t AS DOUBLE) * ss_t - s_t * s_t)
      |      / (CAST(n_t AS DOUBLE) * (CAST(n_t AS DOUBLE) - 1.0e0)) END AS v_t
      |  FROM m),
      |segs AS (SELECT *, m_t - m_c AS d,
      |    v_c / CAST(n_c AS DOUBLE) + v_t / CAST(n_t AS DOUBLE) AS vv
      |  FROM v),
      |ws AS (SELECT *, CASE WHEN vv > 0.0e0 THEN 1.0e0 / vv END AS w FROM segs),
      |wseg AS (SELECT * FROM ws WHERE w IS NOT NULL),
      |pool AS (SELECT CAST(COUNT(*) AS INT) AS k,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(w ORDER BY segment)), (a, b) -> a + b) AS sum_w,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(w * d ORDER BY segment)), (a, b) -> a + b) AS sum_wd
      |  FROM wseg),
      |pb AS (SELECT k, CASE WHEN sum_w > 0.0e0 THEN sum_wd / sum_w END AS dbar
      |  FROM pool),
      |terms AS (SELECT ws.*, pb.k,
      |    ws.w * (ws.d - pb.dbar) * (ws.d - pb.dbar) AS term
      |  FROM ws CROSS JOIN pb),
      |qr AS (SELECT MAX(k) AS k, CASE WHEN MAX(k) > 0 THEN
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(term ORDER BY segment) FILTER (WHERE term IS NOT NULL)),
      |      (a, b) -> a + b) END AS q
      |  FROM terms),
      |qq AS (SELECT q, CASE WHEN k > 0 THEN CAST(k - 1 AS BIGINT) END AS df,
      |    CASE WHEN q > 0.0e0 THEN greatest(0.0e0,
      |      (q - CAST(k - 1 AS DOUBLE)) / q) END AS i2
      |  FROM qr)
      |SELECT t.segment, t.n_c, t.n_t, t.m_c, t.m_t, t.d AS effect,
      |  t.vv AS var_effect, t.w AS weight, qq.q, qq.df, qq.i2
      |FROM terms t CROSS JOIN qq ORDER BY t.segment""".stripMargin

  /** Offline ε-greedy policy replay (Li et al. 2010's offline
    * evaluation protocol, greedy arm): arms = event_type, reward =
    * mean `value` observed for that arm that day. Each day the policy
    * plays the arm with the best cumulative realized mean over all
    * PRIOR days (ties and no-history → lexicographically first arm),
    * and the per-day regret is measured against the best FIXED arm in
    * hindsight. The decisioning plane's bridge from estimation to
    * action.
    *
    * Determinism: the day×arm grid is densified (missing cells → 0
    * count / 0.00 sum) so the cumulative window sees identical rows;
    * cumulative counts/sums stay integer/decimal through the window
    * (DuckDB's segment-tree window accumulation makes a DOUBLE window
    * sum order-unsafe — exact types make the tree order irrelevant);
    * every realized mean is one double division; the total regret is
    * an ordered day-fold, not a double SUM.
    *
    * Scale: ONE map-side-combinable corpus aggregation to the
    * day×arm table (keyed on the raw day so d0 folds from the
    * aggregate, not a second scan), checkpointed; the grid, windows,
    * and folds all run on that alphabet-bounded table — no corpus
    * window, no per-event state, exactly one scan at any scale.
    */
  def evalBandit(s: SparkSession, dir: String): DataFrame = {
    val ev0 = Tables(s, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type").as("arm"),
        col("value").cast("decimal(18,2)").as("v"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
    // ONE corpus aggregation (keyed on the raw day so d0 folds from the
    // aggregate, not a second scan); the checkpointed day×arm table is
    // the whole downstream input
    val da0 = ev0.groupBy(col("day"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val d0 = da0.agg(min(col("day")).as("d0"))
    val da = graft.Caches.checkpointReset(
      da0.crossJoin(broadcast(d0))
        .select((col("day") - col("d0")).as("day_idx"), col("arm"),
          col("n"), col("sv"))
        .coalesce(1))
    val grid = da.select(col("day_idx")).distinct()
      .crossJoin(da.select(col("arm")).distinct())
      .join(broadcast(da), Seq("day_idx", "arm"), "left")
      .select(col("day_idx"), col("arm"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sv"), lit(0).cast("decimal(18,2)")).as("sv"))
    val hist = Window.partitionBy(col("arm")).orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid
      .withColumn("cn", sum(col("n")).over(hist))
      .withColumn("cs", sum(col("sv")).over(hist))
      .withColumn("cum_mean", when(col("cn") > 0,
        col("cs").cast("double") / col("cn").cast("double")))
      .withColumn("r_day", when(col("n") > 0,
        col("sv").cast("double") / col("n").cast("double")).otherwise(lit(0.0)))
    val chosen = cum
      .withColumn("rn", row_number().over(Window.partitionBy(col("day_idx"))
        .orderBy(col("cum_mean").desc_nulls_last, col("arm"))))
      .filter(col("rn") === 1)
      .select(col("day_idx"), col("arm").as("chosen_arm"),
        col("r_day").as("r_chosen"))
    val best = grid.groupBy(col("arm"))
      .agg(sum(col("n")).as("tn"), sum(col("sv")).as("ts"))
      .withColumn("tot_mean", when(col("tn") > 0,
        col("ts").cast("double") / col("tn").cast("double")))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("tot_mean").desc_nulls_last, col("arm"))))
      .filter(col("rn") === 1)
      .select(col("arm").as("best_arm"))
    val bestDay = cum.select(col("day_idx").as("bd"), col("arm").as("ba"),
      col("r_day").as("r_best"))
    val perDay = chosen
      .crossJoin(broadcast(best))
      .join(broadcast(bestDay),
        col("bd") === col("day_idx") && col("ba") === col("best_arm"))
      .select(col("day_idx"), col("chosen_arm"), col("r_chosen"),
        col("best_arm"), col("r_best"),
        (col("r_best") - col("r_chosen")).as("regret"))
    val tot = perDay.agg(
        sort_array(collect_list(struct(col("day_idx"), col("regret")))).as("l"))
      .select(aggregate(transform(col("l"), x => x.getField("regret")),
        lit(0.0), (a, b) => a + b).as("total_regret"))
    perDay.crossJoin(broadcast(tot)).orderBy(col("day_idx"))
  }

  val evalBanditSql: String =
    """WITH ev0 AS (SELECT event_type AS arm, CAST(value AS DECIMAL(18,2)) AS v,
      |    epoch_ms(ts) // 86400000 AS day
      |  FROM events WHERE value IS NOT NULL),
      |d0 AS (SELECT MIN(day) AS d0 FROM ev0),
      |ev AS (SELECT arm, v, day - d0 AS day_idx FROM ev0 CROSS JOIN d0),
      |da AS (SELECT day_idx, arm, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(v) AS sv FROM ev GROUP BY 1, 2),
      |grid AS (SELECT d.day_idx, a.arm,
      |    COALESCE(da.n, 0) AS n,
      |    COALESCE(da.sv, CAST(0 AS DECIMAL(18,2))) AS sv
      |  FROM (SELECT DISTINCT day_idx FROM ev) d
      |  CROSS JOIN (SELECT DISTINCT arm FROM ev) a
      |  LEFT JOIN da ON da.day_idx = d.day_idx AND da.arm = a.arm),
      |cum AS (SELECT day_idx, arm, n, sv,
      |    CAST(SUM(n) OVER hw AS BIGINT) AS cn,
      |    SUM(sv) OVER hw AS cs
      |  FROM grid WINDOW hw AS (PARTITION BY arm ORDER BY day_idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |cm AS (SELECT *,
      |    CASE WHEN cn > 0 THEN CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) END
      |      AS cum_mean,
      |    CASE WHEN n > 0 THEN CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
      |      ELSE 0.0e0 END AS r_day
      |  FROM cum),
      |chosen AS (SELECT day_idx, arm AS chosen_arm, r_day AS r_chosen
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY day_idx
      |      ORDER BY cum_mean DESC NULLS LAST, arm) AS rn FROM cm)
      |  WHERE rn = 1),
      |best AS (SELECT arm AS best_arm
      |  FROM (SELECT arm,
      |      CASE WHEN SUM(n) > 0 THEN CAST(SUM(sv) AS DOUBLE)
      |        / CAST(SUM(n) AS DOUBLE) END AS tot_mean
      |    FROM grid GROUP BY 1)
      |  ORDER BY tot_mean DESC NULLS LAST, arm LIMIT 1),
      |perday AS (SELECT c.day_idx, c.chosen_arm, c.r_chosen, b.best_arm,
      |    cm.r_day AS r_best, cm.r_day - c.r_chosen AS regret
      |  FROM chosen c CROSS JOIN best b
      |  JOIN cm ON cm.arm = b.best_arm AND cm.day_idx = c.day_idx),
      |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list(regret ORDER BY day_idx)), (a, b) -> a + b) AS total_regret
      |  FROM perday)
      |SELECT p.day_idx, p.chosen_arm, p.r_chosen, p.best_arm, p.r_best,
      |  p.regret, t.total_regret
      |FROM perday p CROSS JOIN tot t ORDER BY p.day_idx""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eval_sequential" -> (evalSequential _),
    "eval_cace" -> (evalCace _),
    "eval_hte" -> (evalHte _),
    "eval_bandit" -> (evalBandit _))

  val oracles: Map[String, String] = Map(
    "eval_sequential" -> evalSequentialSql,
    "eval_cace" -> evalCaceSql,
    "eval_hte" -> evalHteSql,
    "eval_bandit" -> evalBanditSql)
}
