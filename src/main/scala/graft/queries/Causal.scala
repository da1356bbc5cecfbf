package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 causal-inference quartet — the observational sequel to the
  * decisioning plane (reference scope: the engine's analytics surface,
  * e.g. `dig_etl_engine/digsandpaper` aggregation queries, generalized
  * to the estimators a decisioning team runs on the same event/orders
  * corpus): sharp regression discontinuity, quantile treatment
  * effects, stratified 1-NN covariate matching, and post-stratified
  * ATE. House determinism discipline throughout: corpus moments stay
  * INTEGER/DECIMAL (order-free), every double is produced by one cast
  * and consumed by a fixed IEEE chain, and any cross-row double
  * reduction is an ORDERED fold (sort_array + aggregate), never a
  * bare SUM.
  */
object Causal {

  /** The experimentation plane's salted md5 coin (bit-identical across
    * engines) on an arbitrary integer key column.
    */
  private def coinOn(salt: String, k: Column): Column =
    pmod(conv(substr(md5(concat(lit(salt), k.cast("string"))), lit(1),
      lit(8)), 16, 10).cast("long"), lit(2L))

  private def coinSql(salt: String, k: String): String =
    s"CAST(CAST(concat('0x', substr(md5('$salt' || CAST($k AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS BIGINT)"

  /** Per-customer outcome: total order spend in integer cents (0 for
    * customers with no orders) joined to the customer row. ONE
    * map-side-combinable aggregation on o_custkey plus one equi-join
    * on the same key — co-partitioned, no broadcast needed, the same
    * plan at any corpus size.
    */
  private def spend(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100.0).cast("long")).as("y0"))
    Tables(s, dir, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100.0).cast("long").as("x"),
        coalesce(col("y0"), lit(0L)).as("y"))
  }

  private val spendSql: String =
    """pc AS (SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS y0
      |  FROM orders GROUP BY 1),
      |cust AS (SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100.0) AS BIGINT) AS x,
      |    COALESCE(y0, 0) AS y
      |  FROM customer LEFT JOIN pc ON c_custkey = o_custkey)""".stripMargin

  /** Sharp regression discontinuity (Thistlethwaite & Campbell 1960;
    * Imbens & Lemieux 2008): running variable = account balance in
    * cents, cutoff 0, bandwidth ±100000 (±$1000); outcome = total
    * order spend cents. A separate OLS line is fit on each side from
    * closed-form moments and the effect is the difference of the
    * intercepts AT the cutoff (the running variable is already
    * centered at 0, so the intercept IS the limit).
    *
    * Determinism: all five moments per side (n, Σx, Σy, Σxy, Σx²) are
    * DECIMAL(38,0) — exact, order-free; slope/intercept are a fixed
    * 7-op double chain off one cast per moment; sides with n < 2 or a
    * degenerate x (zero variance) emit NULL, never divide by zero.
    *
    * Scale: the spend join, then ONE map-side-combinable aggregation
    * to exactly 2 side rows; everything after is 2-row algebra. The
    * bandwidth filter prunes the scan before the aggregate.
    */
  def evalRdd(s: SparkSession, dir: String): DataFrame = {
    val h = 100000L
    val rows = spend(s, dir)
      .filter(col("x") >= -h && col("x") <= h)
      .withColumn("side", when(col("x") < 0, lit(0)).otherwise(lit(1)))
    val m = rows.groupBy(col("side"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x").cast("decimal(38,0)") * col("y")).cast("decimal(38,0)"))
          .as("sxy"),
        sum((col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)"))
          .as("sxx"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("dsx", col("sx").cast("double"))
      .withColumn("dsy", col("sy").cast("double"))
      .withColumn("dsxy", col("sxy").cast("double"))
      .withColumn("dsxx", col("sxx").cast("double"))
      .withColumn("den", col("nd") * col("dsxx") - col("dsx") * col("dsx"))
      .withColumn("slope", when(col("n") >= 2 && col("den") =!= 0.0,
        (col("nd") * col("dsxy") - col("dsx") * col("dsy")) / col("den")))
      .withColumn("icept", when(col("slope").isNotNull,
        (col("dsy") - col("slope") * col("dsx")) / col("nd")))
    def pick(side: Int, c: String): Column = max(when(col("side") === side, col(c)))
    m.agg(
        pick(0, "n").as("n_left"), pick(1, "n").as("n_right"),
        pick(0, "slope").as("slope_left"), pick(1, "slope").as("slope_right"),
        pick(0, "icept").as("intercept_left"), pick(1, "icept").as("intercept_right"))
      .withColumn("effect", col("intercept_right") - col("intercept_left"))
  }

  val evalRddSql: String =
    s"""WITH $spendSql,
      |rows_bw AS (SELECT CASE WHEN x < 0 THEN 0 ELSE 1 END AS side, x, y
      |  FROM cust WHERE x >= -100000 AND x <= 100000),
      |m AS (SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(CAST(x AS DECIMAL(38,0)) * y AS DECIMAL(38,0))) AS sxy,
      |    SUM(CAST(CAST(x AS DECIMAL(38,0)) * x AS DECIMAL(38,0))) AS sxx
      |  FROM rows_bw GROUP BY 1),
      |f AS (SELECT side, n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS dsx,
      |    CAST(sy AS DOUBLE) AS dsy, CAST(sxy AS DOUBLE) AS dsxy,
      |    CAST(sxx AS DOUBLE) AS dsxx
      |  FROM m),
      |g AS (SELECT *, nd * dsxx - dsx * dsx AS den FROM f),
      |sl AS (SELECT *, CASE WHEN n >= 2 AND den <> 0.0e0
      |    THEN (nd * dsxy - dsx * dsy) / den END AS slope FROM g),
      |ic AS (SELECT *, CASE WHEN slope IS NOT NULL
      |    THEN (dsy - slope * dsx) / nd END AS icept FROM sl),
      |p AS (SELECT
      |    MAX(CASE WHEN side = 0 THEN n END) AS n_left,
      |    MAX(CASE WHEN side = 1 THEN n END) AS n_right,
      |    MAX(CASE WHEN side = 0 THEN slope END) AS slope_left,
      |    MAX(CASE WHEN side = 1 THEN slope END) AS slope_right,
      |    MAX(CASE WHEN side = 0 THEN icept END) AS intercept_left,
      |    MAX(CASE WHEN side = 1 THEN icept END) AS intercept_right
      |  FROM ic)
      |SELECT *, intercept_right - intercept_left AS effect FROM p""".stripMargin

  /** Quantile treatment effects (Doksum 1974; Koenker & Bassett 1978's
    * motivation): the difference of EXACT per-arm order statistics of
    * per-user total spend (cents) at p = 25/50/75 — where a mean
    * effect (eval_cuped et al.) hides distributional shift, the QTE
    * profile shows WHERE in the outcome distribution the treatment
    * acts. Arms by the plane's salted coin ("qte:" salt) on user_id.
    *
    * Determinism: outcomes are integer cents; the quantile is a rank
    * SELECTION — k = (p·(n−1)) div 100 + 1, pure integer arithmetic,
    * the ts_percentiles convention — off the exact two-level
    * cumulative rank, so both engines pick the same cell with no
    * float boundary anywhere.
    *
    * Scale: one per-user aggregation (map-side combinable), one
    * per-(arm, value) count, then [[FeatureQueries.cumRanksBy]] — the
    * encode_binning machinery: 1024 range buckets per arm, offsets
    * prefix-summed in a tiny window, within-bucket remainder in a
    * (arm, bucket)-keyed window. No global sort at any corpus size.
    */
  def evalQte(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = Tables(s, dir, "events").filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100.0).cast("long")).as("y"))
      .select(coinOn("qte:", col("user_id")).as("g"), col("y"))
    val vals = perUser.groupBy(col("g"), col("y").as("v"))
      .agg(count(lit(1)).as("c"))
    val ranked = FeatureQueries.cumRanksBy(vals)
    val ps = broadcast(Seq(25L, 50L, 75L).toDF("p"))
    val sel = ranked.crossJoin(ps)
      .filter(col("cum") >= expr("p * (n - 1) div 100") + 1L)
      .groupBy(col("g"), col("p"))
      .agg(min(col("v")).as("q"), max(col("n")).as("n"))
    def pick(g: Int, c: String): Column = max(when(col("g") === g, col(c)))
    sel.groupBy(col("p"))
      .agg(pick(0, "n").as("n_c"), pick(1, "n").as("n_t"),
        pick(0, "q").as("q_c"), pick(1, "q").as("q_t"))
      .withColumn("qte", col("q_t") - col("q_c"))
      .orderBy(col("p"))
  }

  val evalQteSql: String =
    s"""WITH pu AS (SELECT ${coinSql("qte:", "user_id")} AS g,
      |    CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
      |vals AS (SELECT g, y AS v, COUNT(*) AS c FROM pu GROUP BY 1, 2),
      |r AS (SELECT g, v, c,
      |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
      |  FROM vals),
      |ps AS (SELECT * FROM (VALUES (CAST(25 AS BIGINT)), (50), (75)) t(p)),
      |sel AS (SELECT g, p, MIN(v) AS q, MAX(n) AS n
      |  FROM r CROSS JOIN ps WHERE cum >= p * (n - 1) // 100 + 1
      |  GROUP BY 1, 2)
      |SELECT p,
      |  MAX(CASE WHEN g = 0 THEN n END) AS n_c,
      |  MAX(CASE WHEN g = 1 THEN n END) AS n_t,
      |  MAX(CASE WHEN g = 0 THEN q END) AS q_c,
      |  MAX(CASE WHEN g = 1 THEN q END) AS q_t,
      |  MAX(CASE WHEN g = 1 THEN q END) - MAX(CASE WHEN g = 0 THEN q END) AS qte
      |FROM sel GROUP BY p ORDER BY p""".stripMargin

  /** Stratified 1-NN covariate matching ATT (Rubin 1973; Abadie &
    * Imbens 2006's simple matching estimator): treated customers
    * (salted coin, "match:" salt) matched WITHIN (nation, market
    * segment) strata to the control with the nearest account balance;
    * ATT = mean matched outcome difference in cents.
    *
    * Determinism: controls are first deduped to ONE representative
    * per distinct (stratum, x) — the smallest custkey (arg_min) — so
    * the nearest-control lookup is a pure function of the data; the
    * nearest rule is backward-vs-forward lag comparison with ties to
    * the backward (≤ x) side, integer cents throughout; the ATT
    * division is the only double op.
    *
    * Scale: two keyed [[graft.operators.AsOf]] passes (backward +
    * forward) over the stratum-partitioned sorted stream — the
    * ts_asof_nearest shape — then one aggregation. The per-stratum
    * window is the honest cost: parallelism is bounded by the
    * stratum alphabet (|nation|×|segment| = 125 here); a finer
    * stratification key widens it.
    */
  def evalMatching(s: SparkSession, dir: String): DataFrame = {
    val base = spend(s, dir)
      .withColumn("treat", coinOn("match:", col("c_custkey")))
    val ctrl = base.filter(col("treat") === 0)
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("x"))
      .agg(min(struct(col("c_custkey"), col("y"))).as("rep"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("x"),
        col("x").as("m_x"), col("rep").getField("y").as("m_y"))
    val treated = base.filter(col("treat") === 1)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("x"), col("y"))
    val key = Seq("c_nationkey", "c_mktsegment")
    val back = graft.operators.AsOf.joinBackward(treated, ctrl,
        key = key, ts = "x", payload = Seq("m_x", "m_y"))
      .select(col("c_custkey"), col("x"), col("y"),
        col("asof_m_y").as("b_y"), (col("x") - col("asof_m_x")).as("b_lag"))
    val fwd = graft.operators.AsOf.joinForward(treated, ctrl,
        key = key, ts = "x", payload = Seq("m_x", "m_y"))
      .select(col("c_custkey"),
        col("asof_m_y").as("f_y"), (col("asof_m_x") - col("x")).as("f_lag"))
    back.join(fwd, Seq("c_custkey"))
      .withColumn("take_b", col("f_lag").isNull ||
        (col("b_lag").isNotNull && col("b_lag") <= col("f_lag")))
      .withColumn("m_y2", when(col("take_b"), col("b_y")).otherwise(col("f_y")))
      .withColumn("adx", when(col("take_b"), col("b_lag")).otherwise(col("f_lag")))
      .agg(count(lit(1)).as("n_treated"),
        count(col("m_y2")).as("n_matched"),
        sum(when(col("m_y2").isNotNull, col("y") - col("m_y2"))).as("sum_dy"),
        sum(col("adx")).as("sum_abs_dx"))
      .withColumn("att", when(col("n_matched") > 0,
        col("sum_dy").cast("double") / col("n_matched").cast("double")))
      .withColumn("mean_abs_dx", when(col("n_matched") > 0,
        col("sum_abs_dx").cast("double") / col("n_matched").cast("double")))
  }

  val evalMatchingSql: String =
    s"""WITH $spendSql,
      |base AS (SELECT *, ${coinSql("match:", "c_custkey")} AS treat FROM cust),
      |ctrl AS (SELECT c_nationkey, c_mktsegment, x,
      |    arg_min(y, c_custkey) AS m_y
      |  FROM base WHERE treat = 0 GROUP BY 1, 2, 3),
      |tr AS (SELECT c_custkey, c_nationkey, c_mktsegment, x, y
      |  FROM base WHERE treat = 1),
      |b AS (SELECT t.c_custkey, t.x, t.y, c.m_y AS b_y, t.x - c.x AS b_lag
      |  FROM tr t ASOF LEFT JOIN ctrl c
      |    ON t.c_nationkey = c.c_nationkey AND t.c_mktsegment = c.c_mktsegment
      |    AND t.x >= c.x),
      |f AS (SELECT t.c_custkey, c.m_y AS f_y, c.x - t.x AS f_lag
      |  FROM tr t ASOF LEFT JOIN ctrl c
      |    ON t.c_nationkey = c.c_nationkey AND t.c_mktsegment = c.c_mktsegment
      |    AND t.x <= c.x),
      |j AS (SELECT b.c_custkey, b.y,
      |    CASE WHEN f.f_lag IS NULL
      |      OR (b.b_lag IS NOT NULL AND b.b_lag <= f.f_lag)
      |      THEN b.b_y ELSE f.f_y END AS m_y2,
      |    CASE WHEN f.f_lag IS NULL
      |      OR (b.b_lag IS NOT NULL AND b.b_lag <= f.f_lag)
      |      THEN b.b_lag ELSE f.f_lag END AS adx
      |  FROM b JOIN f USING (c_custkey)),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
      |    CAST(COUNT(m_y2) AS BIGINT) AS n_matched,
      |    CAST(SUM(CASE WHEN m_y2 IS NOT NULL THEN y - m_y2 END) AS BIGINT)
      |      AS sum_dy,
      |    CAST(SUM(adx) AS BIGINT) AS sum_abs_dx
      |  FROM j)
      |SELECT *,
      |  CASE WHEN n_matched > 0
      |    THEN CAST(sum_dy AS DOUBLE) / CAST(n_matched AS DOUBLE) END AS att,
      |  CASE WHEN n_matched > 0
      |    THEN CAST(sum_abs_dx AS DOUBLE) / CAST(n_matched AS DOUBLE) END
      |    AS mean_abs_dx
      |FROM a""".stripMargin

  /** Post-stratified ATE (Holt & Smith 1979; the survey-sampling
    * estimator experimentation teams use to de-bias a randomized
    * comparison): strata = market segment, arms by the salted coin
    * ("ps:" salt) on custkey, outcome = spend cents. ATE is the
    * stratum-share-weighted mean of per-stratum effects; SE² is the
    * matching weighted variance sum. Strata where either arm is empty
    * (or has n ≤ 1, leaving the variance undefined) are EXCLUDED and
    * the shares renormalized over the included strata — the same
    * degenerate-group rule as eval_hte.
    *
    * Determinism: per-stratum moments are integer/decimal exact;
    * shares use the INTEGER included-total; the pooled ATE and SE²
    * are segment-ORDERED folds over per-stratum terms computed before
    * the fold, so both engines add identical doubles in identical
    * order.
    *
    * Scale: the spend join then ONE map-side-combinable aggregation
    * to |segments| rows (checkpointed); all folds run on that
    * alphabet-sized list.
    */
  def evalPoststrat(s: SparkSession, dir: String): DataFrame = {
    val base = spend(s, dir)
      .withColumn("treat", coinOn("ps:", col("c_custkey")))
      .select(col("c_mktsegment").as("segment"), col("treat"), col("y"))
    def cell(t: Int, c: Column): Column = when(col("treat") === t, c)
    val segs = graft.Caches.checkpointReset(base.groupBy(col("segment"))
      .agg(
        count(cell(0, col("y"))).as("n_c"),
        count(cell(1, col("y"))).as("n_t"),
        sum(cell(0, col("y").cast("decimal(38,0)"))).cast("double").as("s_c"),
        sum(cell(1, col("y").cast("decimal(38,0)"))).cast("double").as("s_t"),
        sum(cell(0, (col("y").cast("decimal(38,0)") * col("y"))
          .cast("decimal(38,0)"))).cast("double").as("ss_c"),
        sum(cell(1, (col("y").cast("decimal(38,0)") * col("y"))
          .cast("decimal(38,0)"))).cast("double").as("ss_t"))
      .coalesce(1))
      .withColumn("ns", col("n_c") + col("n_t"))
      .withColumn("m_c", when(col("n_c") > 0, col("s_c") / col("n_c").cast("double")))
      .withColumn("m_t", when(col("n_t") > 0, col("s_t") / col("n_t").cast("double")))
      .withColumn("v_c", when(col("n_c") > 1,
        (col("n_c").cast("double") * col("ss_c") - col("s_c") * col("s_c")) /
          (col("n_c").cast("double") * (col("n_c").cast("double") - lit(1.0)))))
      .withColumn("v_t", when(col("n_t") > 1,
        (col("n_t").cast("double") * col("ss_t") - col("s_t") * col("s_t")) /
          (col("n_t").cast("double") * (col("n_t").cast("double") - lit(1.0)))))
      .withColumn("d", col("m_t") - col("m_c"))
      .withColumn("inc", col("n_c") > 1 && col("n_t") > 1)
    val nTot = segs.agg(sum(when(col("inc"), col("ns"))).as("n_inc"))
    val terms = segs.crossJoin(broadcast(nTot))
      .withColumn("w", when(col("inc"),
        col("ns").cast("double") / col("n_inc").cast("double")))
      .withColumn("t_ate", col("w") * col("d"))
      .withColumn("t_se", col("w") * col("w") *
        (col("v_c") / col("n_c").cast("double") +
          col("v_t") / col("n_t").cast("double")))
    val pooled = terms.agg(
        sort_array(collect_list(when(col("inc"),
          struct(col("segment"), col("t_ate"), col("t_se"))))).as("l"))
      .select(
        aggregate(transform(col("l"), x => x.getField("t_ate")),
          lit(0.0), (a, b) => a + b).as("ate"),
        aggregate(transform(col("l"), x => x.getField("t_se")),
          lit(0.0), (a, b) => a + b).as("se2"))
      .withColumn("se", when(col("se2") >= 0.0, sqrt(col("se2"))))
    terms.crossJoin(broadcast(pooled.select(col("ate"), col("se"))))
      .select(col("segment"), col("n_c"), col("n_t"), col("m_c"), col("m_t"),
        col("d").as("effect"), col("w").as("share"), col("ate"), col("se"))
      .orderBy(col("segment"))
  }

  val evalPoststratSql: String =
    s"""WITH $spendSql,
      |base AS (SELECT c_mktsegment AS segment,
      |    ${coinSql("ps:", "c_custkey")} AS treat, y FROM cust),
      |m AS (SELECT segment,
      |    CAST(COUNT(CASE WHEN treat = 0 THEN y END) AS BIGINT) AS n_c,
      |    CAST(COUNT(CASE WHEN treat = 1 THEN y END) AS BIGINT) AS n_t,
      |    CAST(SUM(CASE WHEN treat = 0 THEN CAST(y AS DECIMAL(38,0)) END)
      |      AS DOUBLE) AS s_c,
      |    CAST(SUM(CASE WHEN treat = 1 THEN CAST(y AS DECIMAL(38,0)) END)
      |      AS DOUBLE) AS s_t,
      |    CAST(SUM(CASE WHEN treat = 0
      |      THEN CAST(CAST(y AS DECIMAL(38,0)) * y AS DECIMAL(38,0)) END)
      |      AS DOUBLE) AS ss_c,
      |    CAST(SUM(CASE WHEN treat = 1
      |      THEN CAST(CAST(y AS DECIMAL(38,0)) * y AS DECIMAL(38,0)) END)
      |      AS DOUBLE) AS ss_t
      |  FROM base GROUP BY 1),
      |v AS (SELECT *, n_c + n_t AS ns,
      |    CASE WHEN n_c > 0 THEN s_c / CAST(n_c AS DOUBLE) END AS m_c,
      |    CASE WHEN n_t > 0 THEN s_t / CAST(n_t AS DOUBLE) END AS m_t,
      |    CASE WHEN n_c > 1 THEN (CAST(n_c AS DOUBLE) * ss_c - s_c * s_c)
      |      / (CAST(n_c AS DOUBLE) * (CAST(n_c AS DOUBLE) - 1.0e0)) END AS v_c,
      |    CASE WHEN n_t > 1 THEN (CAST(n_t AS DOUBLE) * ss_t - s_t * s_t)
      |      / (CAST(n_t AS DOUBLE) * (CAST(n_t AS DOUBLE) - 1.0e0)) END AS v_t
      |  FROM m),
      |sg AS (SELECT *, m_t - m_c AS d,
      |    (n_c > 1 AND n_t > 1) AS inc FROM v),
      |nt AS (SELECT CAST(SUM(CASE WHEN inc THEN ns END) AS BIGINT) AS n_inc
      |  FROM sg),
      |terms AS (SELECT sg.*,
      |    CASE WHEN inc THEN CAST(ns AS DOUBLE) / CAST(n_inc AS DOUBLE) END AS w
      |  FROM sg CROSS JOIN nt),
      |t2 AS (SELECT *, w * d AS t_ate,
      |    w * w * (v_c / CAST(n_c AS DOUBLE) + v_t / CAST(n_t AS DOUBLE)) AS t_se
      |  FROM terms),
      |pool AS (SELECT
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(t_ate ORDER BY segment) FILTER (WHERE inc)),
      |      (a, b) -> a + b) AS ate,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(t_se ORDER BY segment) FILTER (WHERE inc)),
      |      (a, b) -> a + b) AS se2
      |  FROM t2),
      |pb AS (SELECT ate, CASE WHEN se2 >= 0.0e0 THEN sqrt(se2) END AS se
      |  FROM pool)
      |SELECT t.segment, t.n_c, t.n_t, t.m_c, t.m_t, t.d AS effect,
      |  t.w AS share, pb.ate, pb.se
      |FROM t2 t CROSS JOIN pb ORDER BY t.segment""".stripMargin

  /** Two-stage least squares with a CONTINUOUS instrument (Wright
    * 1928; the Wald/CACE sibling for dose-response encouragement):
    * instrument z = salted-md5 intensity in [0, 1000) per user,
    * exposure x = the user's event count, outcome y = the user's
    * total value cents. β_IV = S_zy/S_zx (the ratio-of-covariances
    * form), reported next to the naive OLS β = S_xy/S_xx and the
    * first-stage F statistic — the weak-instrument diagnostic
    * (Staiger & Stock 1997's F < 10 rule, left to the reader as the
    * emitted value).
    *
    * Determinism: all seven moments are exact DECIMAL(38,0) sums
    * cast to double ONCE (the ml_ridge convention); every centered
    * moment and both estimators are fixed IEEE chains; degenerate
    * denominators (S_zx = 0, S_zz = 0, n ≤ 2) emit NULL.
    *
    * Scale: one per-user aggregation (map-side combinable) + ONE
    * 1-row moment aggregation — no join, no window.
    */
  def eval2sls(s: SparkSession, dir: String): DataFrame = {
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val pu = Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        coalesce(sum(when(col("value").isNotNull,
          round(col("value") * 100.0).cast("long")).otherwise(0L)), lit(0L))
          .as("y"))
      .select(
        pmod(conv(substr(md5(concat(lit("iv2:"),
          col("user_id").cast("string"))), lit(1), lit(8)), 16, 10)
          .cast("long"), lit(1000L)).as("z"),
        col("x"), col("y"))
    val m = pu.agg(count(lit(1)).as("n"),
        sum(d38(col("z"))).cast("double").as("sz"),
        sum(d38(col("x"))).cast("double").as("sx"),
        sum(d38(col("y"))).cast("double").as("sy"),
        sum(d38(col("z") * col("x"))).cast("double").as("szx"),
        sum((d38(col("z")) * col("y")).cast("decimal(38,0)")).cast("double").as("szy"),
        sum(d38(col("z") * col("z"))).cast("double").as("szz"),
        sum(d38(col("x") * col("x"))).cast("double").as("sxx"),
        sum((d38(col("x")) * col("y")).cast("decimal(38,0)")).cast("double").as("sxy"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("czx", col("szx") - col("sz") * col("sx") / col("nd"))
      .withColumn("czy", col("szy") - col("sz") * col("sy") / col("nd"))
      .withColumn("czz", col("szz") - col("sz") * col("sz") / col("nd"))
      .withColumn("cxx", col("sxx") - col("sx") * col("sx") / col("nd"))
      .withColumn("cxy", col("sxy") - col("sx") * col("sy") / col("nd"))
      .withColumn("beta_iv", when(col("czx") =!= 0.0, col("czy") / col("czx")))
      .withColumn("beta_ols", when(col("cxx") =!= 0.0, col("cxy") / col("cxx")))
      .withColumn("fs_beta", when(col("czz") > 0.0, col("czx") / col("czz")))
      .withColumn("ssr", when(col("czz") > 0.0,
        col("czx") * col("czx") / col("czz")))
      .withColumn("f_stat", when(col("czz") > 0.0 && col("n") > 2 &&
        col("cxx") - col("ssr") > 0.0,
        col("ssr") / ((col("cxx") - col("ssr")) / (col("nd") - lit(2.0)))))
    m.select(col("n"), col("beta_iv"), col("beta_ols"), col("fs_beta"),
      col("f_stat"))
  }

  val eval2slsSql: String =
    """WITH pu AS (SELECT
      |    CAST(CAST(concat('0x', substr(md5('iv2:' || CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 1000 AS BIGINT) AS z,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    COALESCE(CAST(SUM(CASE WHEN value IS NOT NULL
      |      THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT), 0) AS y
      |  FROM events GROUP BY user_id),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(z AS HUGEINT)) AS DOUBLE) AS sz,
      |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(z * x AS HUGEINT)) AS DOUBLE) AS szx,
      |    CAST(SUM(CAST(z AS HUGEINT) * y) AS DOUBLE) AS szy,
      |    CAST(SUM(CAST(z * z AS HUGEINT)) AS DOUBLE) AS szz,
      |    CAST(SUM(CAST(x * x AS HUGEINT)) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      |  FROM pu),
      |c AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM m),
      |cm AS (SELECT *,
      |    szx - sz * sx / nd AS czx, szy - sz * sy / nd AS czy,
      |    szz - sz * sz / nd AS czz, sxx - sx * sx / nd AS cxx,
      |    sxy - sx * sy / nd AS cxy
      |  FROM c),
      |e AS (SELECT *,
      |    CASE WHEN czx <> 0.0e0 THEN czy / czx END AS beta_iv,
      |    CASE WHEN cxx <> 0.0e0 THEN cxy / cxx END AS beta_ols,
      |    CASE WHEN czz > 0.0e0 THEN czx / czz END AS fs_beta,
      |    CASE WHEN czz > 0.0e0 THEN czx * czx / czz END AS ssr
      |  FROM cm)
      |SELECT n, beta_iv, beta_ols, fs_beta,
      |  CASE WHEN czz > 0.0e0 AND n > 2 AND cxx - ssr > 0.0e0
      |    THEN ssr / ((cxx - ssr) / (nd - 2.0e0)) END AS f_stat
      |FROM e""".stripMargin

  /** Winsorized average treatment effect (Tukey 1962's robustification
    * applied to the experimentation plane): outcomes are capped at the
    * POOLED exact p05/p95 before the Welch contrast, so a handful of
    * whale values can no longer swamp the mean difference — the same
    * caps apply to both arms (capping per-arm would itself distort the
    * contrast). The robust sibling of eval_cuped.
    *
    * Determinism: caps are rank SELECTIONS — k = (pct·(n−1)) div 100
    * + 1 computed in PURE INTEGERS (the eval_qte convention; r9
    * ADVICE: the earlier ⌊0.05·(n−1)⌋ double chain was engine-
    * identical but could floor to a different k than exact rational
    * arithmetic for specific n) — off the exact two-level cumulative
    * on integer cents; capped values stay integer cents (clamp is a
    * pure integer op); arm moments are DECIMAL-exact and the Welch z
    * chain is the eval_sequential chain. Degenerate arms emit NULL.
    *
    * Scale: cumRanks over the value alphabet (no global sort), one
    * broadcast of the 1-row caps, ONE corpus aggregation to 2 cells.
    */
  def evalWinsorized(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").filter(col("value").isNotNull)
      .select(round(col("value") * 100.0).cast("long").as("v"),
        coinOn("wins:", col("user_id")).as("treat"))
    val vals = ev.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val ranked = FeatureQueries.cumRanks(vals)
    def cap(pct: Long, name: String): DataFrame = ranked
      .filter(col("cum") >=
        Exact.intdiv(lit(pct) * (col("n") - 1), lit(100L)) + 1L)
      .agg(min(col("v")).as(name))
    val caps = broadcast(cap(5L, "lo").crossJoin(cap(95L, "hi")))
    val capped = ev.crossJoin(caps)
      .withColumn("w", greatest(least(col("v"), col("hi")), col("lo")))
    def cell(t: Int, c: Column): Column = when(col("treat") === t, c)
    def meanOf(sx: Column, n: Column): Column =
      when(n > 0, sx / n.cast("double"))
    def varOf(sx: Column, sxx: Column, n: Column): Column =
      when(n > 1,
        (n.cast("double") * sxx - sx * sx) /
          (n.cast("double") * (n.cast("double") - lit(1.0))))
    capped.agg(
        count(cell(0, col("w"))).as("n_c"),
        count(cell(1, col("w"))).as("n_t"),
        max(col("lo")).as("lo_cap"), max(col("hi")).as("hi_cap"),
        sum(cell(0, col("w").cast("decimal(38,0)"))).cast("double").as("s_c"),
        sum(cell(1, col("w").cast("decimal(38,0)"))).cast("double").as("s_t"),
        sum(cell(0, (col("w").cast("decimal(38,0)") * col("w"))
          .cast("decimal(38,0)"))).cast("double").as("ss_c"),
        sum(cell(1, (col("w").cast("decimal(38,0)") * col("w"))
          .cast("decimal(38,0)"))).cast("double").as("ss_t"))
      .withColumn("m_c", meanOf(col("s_c"), col("n_c")))
      .withColumn("m_t", meanOf(col("s_t"), col("n_t")))
      .withColumn("v_c", varOf(col("s_c"), col("ss_c"), col("n_c")))
      .withColumn("v_t", varOf(col("s_t"), col("ss_t"), col("n_t")))
      .withColumn("effect", col("m_t") - col("m_c"))
      .withColumn("se", sqrt(col("v_c") / col("n_c").cast("double") +
        col("v_t") / col("n_t").cast("double")))
      .withColumn("z", when(col("se") > 0.0, col("effect") / col("se")))
      .select(col("n_c"), col("n_t"), col("lo_cap"), col("hi_cap"),
        col("m_c"), col("m_t"), col("effect"), col("se"), col("z"))
  }

  val evalWinsorizedSql: String =
    s"""WITH ev AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS v,
      |    ${coinSql("wins:", "user_id")} AS treat
      |  FROM events WHERE value IS NOT NULL),
      |vals AS (SELECT v, COUNT(*) AS c FROM ev GROUP BY 1),
      |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals),
      |cm AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum, nn.n
      |  FROM vals CROSS JOIN nn),
      |lo AS (SELECT MIN(v) AS lo FROM cm
      |  WHERE cum >= (5 * (n - 1)) // 100 + 1),
      |hi AS (SELECT MIN(v) AS hi FROM cm
      |  WHERE cum >= (95 * (n - 1)) // 100 + 1),
      |capped AS (SELECT treat, greatest(least(v, hi.hi), lo.lo) AS w,
      |    lo.lo, hi.hi
      |  FROM ev CROSS JOIN lo CROSS JOIN hi),
      |m AS (SELECT
      |    CAST(COUNT(CASE WHEN treat = 0 THEN w END) AS BIGINT) AS n_c,
      |    CAST(COUNT(CASE WHEN treat = 1 THEN w END) AS BIGINT) AS n_t,
      |    MAX(lo) AS lo_cap, MAX(hi) AS hi_cap,
      |    CAST(SUM(CASE WHEN treat = 0 THEN CAST(w AS HUGEINT) END)
      |      AS DOUBLE) AS s_c,
      |    CAST(SUM(CASE WHEN treat = 1 THEN CAST(w AS HUGEINT) END)
      |      AS DOUBLE) AS s_t,
      |    CAST(SUM(CASE WHEN treat = 0 THEN CAST(w AS HUGEINT) * w END)
      |      AS DOUBLE) AS ss_c,
      |    CAST(SUM(CASE WHEN treat = 1 THEN CAST(w AS HUGEINT) * w END)
      |      AS DOUBLE) AS ss_t
      |  FROM capped),
      |v2 AS (SELECT *,
      |    CASE WHEN n_c > 0 THEN s_c / CAST(n_c AS DOUBLE) END AS m_c,
      |    CASE WHEN n_t > 0 THEN s_t / CAST(n_t AS DOUBLE) END AS m_t,
      |    CASE WHEN n_c > 1 THEN (CAST(n_c AS DOUBLE) * ss_c - s_c * s_c)
      |      / (CAST(n_c AS DOUBLE) * (CAST(n_c AS DOUBLE) - 1.0e0)) END AS v_c,
      |    CASE WHEN n_t > 1 THEN (CAST(n_t AS DOUBLE) * ss_t - s_t * s_t)
      |      / (CAST(n_t AS DOUBLE) * (CAST(n_t AS DOUBLE) - 1.0e0)) END AS v_t
      |  FROM m),
      |e AS (SELECT *, m_t - m_c AS effect,
      |    sqrt(v_c / CAST(n_c AS DOUBLE) + v_t / CAST(n_t AS DOUBLE)) AS se
      |  FROM v2)
      |SELECT n_c, n_t, lo_cap, hi_cap, m_c, m_t, effect, se,
      |  CASE WHEN se > 0.0e0 THEN effect / se END AS z
      |FROM e""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eval_rdd" -> (evalRdd _),
    "eval_qte" -> (evalQte _),
    "eval_matching" -> (evalMatching _),
    "eval_poststrat" -> (evalPoststrat _),
    "eval_2sls" -> (eval2sls _),
    "eval_winsorized" -> (evalWinsorized _))

  val oracles: Map[String, String] = Map(
    "eval_rdd" -> evalRddSql,
    "eval_qte" -> evalQteSql,
    "eval_matching" -> evalMatchingSql,
    "eval_poststrat" -> evalPoststratSql,
    "eval_2sls" -> eval2slsSql,
    "eval_winsorized" -> evalWinsorizedSql)
}
