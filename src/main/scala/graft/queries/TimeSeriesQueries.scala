package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ts.{TimeSeriesOps => T, TrendFit}
import Exact.let

/** Time-series operator queries (SURVEY §2.9) over the events table,
  * treating user_id as the series key (the reference's tiny-series
  * shape: many small series, distributed across series).
  */
object TimeSeriesQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"), col("value"))

  /** T4 imputation: error events' values are treated as missing and
    * forward-filled (leading gap backfills from the next value).
    */
  def tsImpute(s: SparkSession, dir: String): DataFrame = {
    val w = T.seriesWindow(col("user_id"), Seq(col("ts_ms"), col("event_id")))
    events(s, dir)
      .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      .withColumn("imputed", T.impute(col("v"), w))
      .select(col("user_id"), col("event_id"), col("imputed"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val tsImputeSql: String =
    """SELECT user_id, event_id, coalesce(
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS imputed
      |FROM (SELECT user_id, event_id, epoch_ms(date_trunc('millisecond', ts)) AS ts_ms,
      |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM events)
      |ORDER BY user_id, event_id""".stripMargin

  /** T5 anomaly detection: spikes vs both neighbors with sign flip. */
  def tsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val w = T.seriesWindow(col("user_id"), Seq(col("ts_ms"), col("event_id")))
    events(s, dir)
      .withColumn("spike", T.isSpike(col("value"), w))
      .filter(col("spike"))
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val tsAnomalySql: String =
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |    value - lag(value) OVER w AS dprev,
      |    lead(value) OVER w - value AS dnext,
      |    max(value) OVER (PARTITION BY user_id) - min(value) OVER (PARTITION BY user_id) AS rng
      |  FROM (SELECT user_id, event_id, value, epoch_ms(date_trunc('millisecond', ts)) AS ts_ms FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
      |WHERE dprev IS NOT NULL AND dnext IS NOT NULL
      |  AND abs(dprev) > 0.4 * rng AND abs(dnext) > 0.4 * rng AND dprev * dnext < 0
      |ORDER BY user_id, event_id""".stripMargin

  /** T3+T9: per-series OLS slope on a days-since-start x-axis via
    * sorted-list sequential folds (cross-engine-deterministic double
    * aggregation), with the reference's slope description labels.
    */
  def tsSlope(s: SparkSession, dir: String): DataFrame = {
    val pts = sort_array(collect_list(struct(col("ts_ms"), col("event_id"), col("value"))))
    val grouped = events(s, dir)
      .groupBy(col("user_id"))
      .agg(pts.as("pts"))
    val x0 = element_at(col("pts"), 1).getField("ts_ms")
    val xs = transform(col("pts"), p => (p.getField("ts_ms") - x0).cast("double") / lit(86400000.0))
    val ys = transform(col("pts"), p => p.getField("value"))
    grouped
      .withColumn("n", size(col("pts")))
      .withColumn("slope", T.olsSlope(xs, ys))
      // guarded y-range like ts_trend_dots: an all-equal-value series
      // would make Spark emit Inf where the DuckDB oracle emits NULL
      .withColumn("scaled", col("slope") * (array_max(xs) - array_min(xs)) /
        greatest(array_max(ys) - array_min(ys), lit(1e-12)))
      .withColumn("description", T.slopeDescription(col("scaled")))
      .select(col("user_id"), col("n"), col("slope"), col("scaled"), col("description"))
      .orderBy(col("user_id"))
  }

  val tsSlopeSql: String = {
    val fold = (l: String) => s"list_reduce($l, (x, y) -> x + y)"
    val prod = (a: String, b: String) =>
      s"list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])"
    val caseDesc = T.SlopeThresholds.zip(T.SlopeLabels)
      .map { case (t, l) => s"WHEN scaled < $t THEN '$l'" }
      .mkString("CASE ", " ", s" ELSE '${T.SlopeLabels.last}' END")
    s"""WITH e AS (SELECT user_id, event_id, value,
       |    epoch_ms(date_trunc('millisecond', ts)) AS ts_ms FROM events),
       |g AS (SELECT user_id,
       |    list(ts_ms ORDER BY ts_ms, event_id) AS lx,
       |    list(value ORDER BY ts_ms, event_id) AS ly
       |  FROM e GROUP BY user_id),
       |xy AS (SELECT user_id, len(lx) AS n, ly,
       |    list_transform(lx, v -> CAST(v - lx[1] AS DOUBLE) / 86400000.0) AS xs
       |  FROM g),
       |fit AS (SELECT user_id, n,
       |    (n * ${fold(prod("xs", "ly"))} - ${fold("xs")} * ${fold("ly")})
       |      / greatest(n * ${fold(prod("xs", "xs"))} - ${fold("xs")} * ${fold("xs")}, 1e-12) AS slope,
       |    list_max(xs) - list_min(xs) AS xrng, list_max(ly) - list_min(ly) AS yrng
       |  FROM xy)
       |SELECT user_id, n, slope, scaled, $caseDesc AS description
       |FROM (SELECT user_id, n, slope, slope * xrng / greatest(yrng, 1e-12) AS scaled FROM fit)
       |ORDER BY user_id""".stripMargin
  }

  /** A4 numeric-share gate: impute-vs-stringify branch at 0.8. */
  def tsNumericGate(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .withColumn("num", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      .groupBy(col("user_id"))
      .agg(T.numericShare(col("num")).as("share"))
      .withColumn("branch", when(col("share") >= 0.8, "impute").otherwise("stringify"))
      .orderBy(col("user_id"))
  }

  val tsNumericGateSql: String =
    """SELECT user_id,
      |  CAST(COUNT(CASE WHEN event_type = 'error' THEN NULL ELSE value END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS share,
      |  CASE WHEN CAST(COUNT(CASE WHEN event_type = 'error' THEN NULL ELSE value END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) >= 0.8 THEN 'impute' ELSE 'stringify' END AS branch
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** T13+A6: measure/measurement emission with content-hash ids. */
  def tsEmission(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("series_id", T.seriesId(lit("events"), col("user_id").cast("string")))
    val measurements = ev.select(
      lit("measurement").as("kind"),
      sha2(concat_ws(":", col("user_id"), col("ts_ms")), 256).as("doc_id"),
      col("series_id"), col("ts_ms"), col("value"))
    val measures = ev.groupBy(col("series_id"))
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"))
      .select(lit("measure").as("kind"), lower(col("series_id")).as("doc_id"),
        col("series_id"), col("start_ms").as("ts_ms"), lit(null).cast("double").as("value"))
    measurements.unionByName(measures)
      .orderBy(col("kind"), col("doc_id"), col("ts_ms"))
  }

  val tsEmissionSql: String =
    """WITH ev AS (SELECT user_id, epoch_ms(date_trunc('millisecond', ts)) AS ts_ms, value,
      |    upper(sha256('events' || CAST(user_id AS VARCHAR))) AS series_id FROM events)
      |SELECT * FROM (
      |  SELECT 'measurement' AS kind,
      |    sha256(CAST(user_id AS VARCHAR) || ':' || CAST(ts_ms AS VARCHAR)) AS doc_id,
      |    series_id, ts_ms, value FROM ev
      |  UNION ALL
      |  SELECT 'measure' AS kind, lower(series_id) AS doc_id, series_id,
      |    min(ts_ms) AS ts_ms, CAST(NULL AS DOUBLE) AS value
      |  FROM ev GROUP BY series_id)
      |ORDER BY kind, doc_id, ts_ms""".stripMargin

  /** T6–T10 piecewise-linear trend fit per series (Breeze, deterministic
    * grid search) — not SQL-expressible; rows-only check.
    */
  def tsTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // collect_list + sort_array instead of groupByKey.mapGroups: the
    // aggregate gets map-side partial collection and tungsten layout
    // (one shuffle of packed structs), where groupByKey pays sort-based
    // grouping + per-row encoder round-trips. The Breeze fit then runs
    // per (small) series on the aggregated rows — the distributed axis
    // is the number of series, same as before.
    // r12: range-partition by user BEFORE the fit instead of orderBy
    // after it — the final orderBy's range sampler re-evaluated the
    // whole Breeze fit pass a second time, and AQE had coalesced the
    // 2 MB series exchange to 2 tasks, serializing the CPU-heavy fits
    // (profiled: two ~1.0 s fit stages per run). Fits now run once at
    // the session's full width; a user's rows stay in one range
    // partition through the narrow flatMap, so the local sort yields
    // the same global (user_id, seg) order.
    val grouped = events(s, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("event_id"), col("value"))))
        .as("pts"))
      .repartitionByRange(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[(Long, Long, Double)])]
    grouped
      .flatMap { case (uid, pts) =>
        val x0 = pts.head._1
        val x = pts.map(p => (p._1 - x0) / 86400000.0).toArray
        val y = pts.map(_._3).toArray
        TrendFit.fitSeries(x, y).zipWithIndex.map { case (g, i) =>
          (uid, i, g.startX, g.endX, g.slope, g.intercept, g.description)
        }
      }
      .toDF("user_id", "seg", "start_x", "end_x", "slope", "intercept", "description")
      .sortWithinPartitions(col("user_id"), col("seg"))
  }

  /** T6 solver certification (round 4 — closes the ts_trend no_oracle
    * gap at the SOLVER level): the continuous-PWL fixed-break least
    * squares underlying ts_trend, run through the REAL Breeze QR path
    * ([[graft.ts.TrendFit.fitFixedBreaks]]) with deterministic breaks
    * [0, 0.5, 1] on range-normalized x, certified against DuckDB
    * solving the SAME least-squares problem in closed form (3×3 normal
    * equations via Cramer's rule). The emitted quantities — fitted
    * values at the three breaks + SSR — uniquely pin the continuous
    * PWL solution; QR and the normal equations agree to ~1e-12 on the
    * normalized (condition-number ~10) design, so the 4-decimal
    * rounding both sides apply absorbs the algorithmic difference with
    * enormous margin. The break SEARCH stays spec-pinned
    * (TrendFitSpec golden fixtures); ts_trend itself remains the
    * search+fit composition.
    */
  def tsTrendFixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grouped = events(s, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("event_id"), col("value"))))
        .as("pts"))
      .as[(Long, Seq[(Long, Long, Double)])]
    grouped
      .flatMap { case (uid, pts) =>
        val mn = pts.head._1
        val mx = pts.last._1
        if (pts.size < 8 || mx == mn) Nil
        else {
          // one exact-integer subtraction + one division, mirrored
          // verbatim in the oracle so the design matrices are
          // bit-identical inputs to the two solvers
          val span = (mx - mn).toDouble
          val u = pts.map(p => (p._1 - mn).toDouble / span).toArray
          val y = pts.map(_._3).toArray
          val fit = graft.ts.TrendFit.fitFixedBreaks(u, y, Array(0.0, 0.5, 1.0))
          val s0 = fit.segments.head
          val s1 = fit.segments.last
          Seq((uid, s0.intercept + s0.slope * 0.0,
            s1.intercept + s1.slope * 0.5,
            s1.intercept + s1.slope * 1.0, fit.ssr))
        }
      }
      .toDF("user_id", "y0r", "ymr", "yer", "ssrr")
      .select(col("user_id"),
        round(col("y0r"), 4).as("y_start"),
        round(col("ymr"), 4).as("y_mid"),
        round(col("yer"), 4).as("y_end"),
        round(col("ssrr"), 4).as("ssr"))
      .orderBy(col("user_id"))
  }

  val tsTrendFixedSql: String =
    """WITH pts AS (SELECT user_id, epoch_ms(date_trunc('millisecond', ts)) AS ts_ms, value
      |  FROM events),
      |spans AS (SELECT user_id, MIN(ts_ms) AS mn, MAX(ts_ms) AS mx, COUNT(*) AS n
      |  FROM pts GROUP BY user_id HAVING COUNT(*) >= 8 AND MAX(ts_ms) > MIN(ts_ms)),
      |uv AS (SELECT p.user_id,
      |    CAST(p.ts_ms - s.mn AS DOUBLE) / CAST(s.mx - s.mn AS DOUBLE) AS u,
      |    p.value AS y
      |  FROM pts p JOIN spans s USING (user_id)),
      |uvr AS (SELECT user_id, u, y, greatest(u - 0.5, 0) AS r FROM uv),
      |sums AS (SELECT user_id,
      |    CAST(COUNT(*) AS DOUBLE) AS n, SUM(u) AS su, SUM(r) AS sr,
      |    SUM(u*u) AS suu, SUM(u*r) AS sur, SUM(r*r) AS srr,
      |    SUM(y) AS sy, SUM(u*y) AS suy, SUM(r*y) AS sry
      |  FROM uvr GROUP BY user_id),
      |coef AS (SELECT user_id,
      |    (sy*(suu*srr - sur*sur) - su*(suy*srr - sur*sry) + sr*(suy*sur - suu*sry))
      |      / (n*(suu*srr - sur*sur) - su*(su*srr - sur*sr) + sr*(su*sur - suu*sr)) AS c0,
      |    (n*(suy*srr - sur*sry) - sy*(su*srr - sur*sr) + sr*(su*sry - suy*sr))
      |      / (n*(suu*srr - sur*sur) - su*(su*srr - sur*sr) + sr*(su*sur - suu*sr)) AS c1,
      |    (n*(suu*sry - suy*sur) - su*(su*sry - suy*sr) + sy*(su*sur - suu*sr))
      |      / (n*(suu*srr - sur*sur) - su*(su*srr - sur*sr) + sr*(su*sur - suu*sr)) AS c2
      |  FROM sums),
      |ssr AS (SELECT v.user_id,
      |    SUM((v.y - (c.c0 + c.c1*v.u + c.c2*v.r)) * (v.y - (c.c0 + c.c1*v.u + c.c2*v.r))) AS sse
      |  FROM uvr v JOIN coef c USING (user_id) GROUP BY v.user_id)
      |SELECT c.user_id,
      |  ROUND(c.c0, 4) AS y_start,
      |  ROUND(c.c0 + 0.5*c.c1, 4) AS y_mid,
      |  ROUND(c.c0 + c.c1 + 0.5*c.c2, 4) AS y_end,
      |  ROUND(s.sse, 4) AS ssr
      |FROM coef c JOIN ssr s USING (user_id) ORDER BY c.user_id""".stripMargin

  /** T7/T8 search-layer certification (round 6, r5 VERDICT #1 — the
    * registry's last no-oracle residual): a deterministic coarse-grid
    * break SEARCH over the same range-normalized design as
    * [[tsTrendFixed]], replayed candidate-for-candidate in DuckDB via
    * the already-certified 3×3 Cramer normal-equations SQL (the
    * text_bpe_train unrolled-replay convention — here the "unroll" is a
    * data-independent candidate table CROSS JOINed against the points).
    * Candidates: the 1-segment OLS plus one 2-segment continuous-PWL
    * fit per interior break in {1/8 … 7/8} — exact binary literals, so
    * both engines see bit-identical grids. Selection is the T8 cost
    * `ssr / n / yRange² + 0.02·segments` (linear_fit.py:13,149-175),
    * argmin with a (cost, n_seg, brk) tiebreak. The Spark side runs the
    * REAL Breeze QR solver per candidate ([[graft.ts.TrendFit
    * .fitFixedBreaks]] — the exact code path ts_trend's search calls);
    * QR-vs-Cramer SSR agreement is ~1e-12 relative on the normalized
    * (condition ~10) design while distinct candidates' costs differ at
    * data scale, so the argmin is stable across engines and the emitted
    * ssr/cost carry the usual 4/6-dp rounding. With this row green the
    * whole T6–T8 stack is oracle-certified: solver (ts_trend_fixed),
    * search+model-selection (here); ts_trend itself stays rows-only
    * only because its refinement grid is data-dependent (x-quantiles).
    */
  val TrendSearchGrid: Array[Double] =
    Array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875)

  def tsTrendSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grid = TrendSearchGrid
    val grouped = events(s, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("event_id"), col("value"))))
        .as("pts"))
      .as[(Long, Seq[(Long, Long, Double)])]
    grouped
      .flatMap { case (uid, pts) =>
        val mn = pts.head._1
        val mx = pts.last._1
        if (pts.size < 8 || mx == mn) Nil
        else {
          val span = (mx - mn).toDouble
          val u = pts.map(p => (p._1 - mn).toDouble / span).toArray
          val y = pts.map(_._3).toArray
          val n = u.length
          val yr = math.max(1e-12, y.max - y.min)
          // the T8 op order, verbatim (TrendFit.fitSeries.cost)
          def cost(ssr: Double, segs: Int): Double =
            ssr / n / (yr * yr) + 0.02 * segs
          val one = graft.ts.TrendFit.fitFixedBreaks(u, y, Array(0.0, 1.0)).ssr
          val cands: Seq[(Int, Option[Double], Double)] =
            (1, Option.empty[Double], one) +: grid.toSeq.map { c =>
              (2, Some(c),
                graft.ts.TrendFit.fitFixedBreaks(u, y, Array(0.0, c, 1.0)).ssr)
            }
          val (nSeg, brk, ssr) = cands.minBy { case (k, c, sse) =>
            (cost(sse, k), k, c.getOrElse(-1.0))
          }
          Seq((uid, nSeg, brk, ssr, cost(ssr, nSeg)))
        }
      }
      .toDF("user_id", "n_seg", "brk", "ssrr", "costr")
      .select(col("user_id"), col("n_seg"), col("brk"),
        round(col("ssrr"), 4).as("ssr"),
        round(col("costr"), 6).as("cost"))
      .orderBy(col("user_id"))
  }

  val tsTrendSearchSql: String =
    """WITH pts AS (SELECT user_id, epoch_ms(date_trunc('millisecond', ts)) AS ts_ms, value
      |  FROM events),
      |spans AS (SELECT user_id, MIN(ts_ms) AS mn, MAX(ts_ms) AS mx
      |  FROM pts GROUP BY user_id HAVING COUNT(*) >= 8 AND MAX(ts_ms) > MIN(ts_ms)),
      |uv AS (SELECT p.user_id,
      |    CAST(p.ts_ms - s.mn AS DOUBLE) / CAST(s.mx - s.mn AS DOUBLE) AS u,
      |    p.value AS y
      |  FROM pts p JOIN spans s USING (user_id)),
      |meta AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n,
      |    greatest(1e-12, MAX(y) - MIN(y)) AS yrange FROM uv GROUP BY user_id),
      |cand AS (SELECT CAST(c AS DOUBLE) AS c FROM (VALUES
      |  (0.125),(0.25),(0.375),(0.5),(0.625),(0.75),(0.875)) t(c)),
      |uvr AS (SELECT v.user_id, t.c, v.u, v.y, greatest(v.u - t.c, 0) AS r
      |  FROM uv v CROSS JOIN cand t),
      |sums AS (SELECT user_id, c,
      |    CAST(COUNT(*) AS DOUBLE) AS n, SUM(u) AS su, SUM(r) AS sr,
      |    SUM(u*u) AS suu, SUM(u*r) AS sur, SUM(r*r) AS srr,
      |    SUM(y) AS sy, SUM(u*y) AS suy, SUM(r*y) AS sry
      |  FROM uvr GROUP BY user_id, c),
      |coef AS (SELECT user_id, c,
      |    (sy*(suu*srr - sur*sur) - su*(suy*srr - sur*sry) + sr*(suy*sur - suu*sry))
      |      / (n*(suu*srr - sur*sur) - su*(su*srr - sur*sr) + sr*(su*sur - suu*sr)) AS c0,
      |    (n*(suy*srr - sur*sry) - sy*(su*srr - sur*sr) + sr*(su*sry - suy*sr))
      |      / (n*(suu*srr - sur*sur) - su*(su*srr - sur*sr) + sr*(su*sur - suu*sr)) AS c1,
      |    (n*(suu*sry - suy*sur) - su*(su*sry - suy*sr) + sy*(su*sur - suu*sr))
      |      / (n*(suu*srr - sur*sur) - su*(su*srr - sur*sr) + sr*(su*sur - suu*sr)) AS c2
      |  FROM sums),
      |sse2 AS (SELECT v.user_id, v.c,
      |    SUM((v.y - (k.c0 + k.c1*v.u + k.c2*v.r)) * (v.y - (k.c0 + k.c1*v.u + k.c2*v.r))) AS sse
      |  FROM uvr v JOIN coef k ON v.user_id = k.user_id AND v.c = k.c
      |  GROUP BY v.user_id, v.c),
      |s1sums AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n, SUM(u) AS su,
      |    SUM(u*u) AS suu, SUM(y) AS sy, SUM(u*y) AS suy FROM uv GROUP BY user_id),
      |s1coef AS (SELECT user_id,
      |    (sy*suu - su*suy) / (n*suu - su*su) AS b0,
      |    (n*suy - su*sy) / (n*suu - su*su) AS b1 FROM s1sums),
      |s1sse AS (SELECT v.user_id,
      |    SUM((v.y - (k.b0 + k.b1*v.u)) * (v.y - (k.b0 + k.b1*v.u))) AS sse
      |  FROM uv v JOIN s1coef k USING (user_id) GROUP BY v.user_id),
      |allc AS (SELECT user_id, 1 AS n_seg, CAST(NULL AS DOUBLE) AS brk, sse FROM s1sse
      |  UNION ALL SELECT user_id, 2 AS n_seg, c AS brk, sse FROM sse2),
      |scored AS (SELECT a.user_id, a.n_seg, a.brk, a.sse,
      |    a.sse / m.n / (m.yrange * m.yrange) + 0.02 * a.n_seg AS cost
      |  FROM allc a JOIN meta m USING (user_id)),
      |pick AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY cost, n_seg, brk ASC NULLS FIRST) AS rk FROM scored)
      |SELECT user_id, n_seg, brk, ROUND(sse, 4) AS ssr, ROUND(cost, 6) AS cost
      |FROM pick WHERE rk = 1 ORDER BY user_id""".stripMargin

  /** T10+T9+T11 connect-the-dots trend on short series, DuckDB-checkable:
    * the ≤6-point path of [[graft.ts.TrendFit.fitSeries]] is pure
    * arithmetic (consecutive-point segments + scaled-slope description),
    * so truncating each series to its first 5 points gives the trend
    * emission an exact cross-engine oracle. The full PWL fit (ts_trend)
    * is Breeze least squares — covered by the golden-fixture spec in
    * TrendFitSpec instead.
    */
  def tsTrendDots(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val first5 = events(s, dir)
      .withColumn("rn", row_number().over(wOrder))
      .filter(col("rn") <= 5)
    val wAll = Window.partitionBy(col("user_id"))
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val withX = first5
      .withColumn("x",
        (col("ts_ms") - min(col("ts_ms")).over(wAll)).cast("double") / lit(86400000.0))
    val paired = withX
      .withColumn("x1", lead(col("x"), 1).over(wSeq))
      .withColumn("v1", lead(col("value"), 1).over(wSeq))
      .withColumn("xr", greatest(lit(1e-12), max(col("x")).over(wAll) - min(col("x")).over(wAll)))
      .withColumn("yr", greatest(lit(1e-12),
        max(col("value")).over(wAll) - min(col("value")).over(wAll)))
      .filter(col("x1").isNotNull)
      .withColumn("slope", when(col("x1") === col("x"), lit(0.0))
        .otherwise((col("v1") - col("value")) / (col("x1") - col("x"))))
    paired
      .withColumn("scaled", col("slope") * col("xr") / col("yr"))
      .select(
        col("user_id"), (col("rn") - 1).as("seg"),
        col("x").as("x0"), col("x1"),
        col("slope"), (col("value") - col("slope") * col("x")).as("intercept"),
        T.slopeDescription(col("scaled")).as("description"))
      .orderBy(col("user_id"), col("seg"))
  }

  val tsTrendDotsSql: String = {
    val caseDesc = T.SlopeThresholds.zip(T.SlopeLabels)
      .map { case (t, l) => s"WHEN scaled < $t THEN '$l'" }
      .mkString("CASE ", " ", s" ELSE '${T.SlopeLabels.last}' END")
    s"""WITH e AS (SELECT user_id, event_id, value,
       |    epoch_ms(date_trunc('millisecond', ts)) AS ts_ms FROM events),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS rn
       |  FROM e),
       |f AS (SELECT user_id, rn, value, ts_ms FROM r WHERE rn <= 5),
       |x AS (SELECT user_id, rn, value,
       |    CAST(ts_ms - min(ts_ms) OVER (PARTITION BY user_id) AS DOUBLE) / 86400000.0 AS x
       |  FROM f),
       |p AS (SELECT user_id, rn, x, value,
       |    lead(x) OVER w AS x1, lead(value) OVER w AS v1,
       |    greatest(1e-12, max(x) OVER (PARTITION BY user_id)
       |      - min(x) OVER (PARTITION BY user_id)) AS xr,
       |    greatest(1e-12, max(value) OVER (PARTITION BY user_id)
       |      - min(value) OVER (PARTITION BY user_id)) AS yr
       |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
       |sl AS (SELECT *, CASE WHEN x1 = x THEN 0.0 ELSE (v1 - value) / (x1 - x) END AS slope
       |  FROM p WHERE x1 IS NOT NULL)
       |SELECT user_id, rn - 1 AS seg, x AS x0, x1, slope,
       |  value - slope * x AS intercept, $caseDesc AS description
       |FROM (SELECT *, slope * xr / yr AS scaled FROM sl)
       |ORDER BY user_id, seg""".stripMargin
  }

  /** ST7 sessionization certified through the SAME
    * flatMapGroupsWithState state function the streaming query uses,
    * run in bounded mode over the events table (the stream_neardup
    * certification pattern): sessions split at inactivity gaps > 12h.
    * The oracle re-derives sessions with the classic lag/gap-flag/
    * running-sum SQL — boundaries depend only on the timestamp
    * multiset, so the state function's arrival-order processing and
    * the window formulation agree deterministically.
    */
  def streamSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
      .select(col("user_id").as("userId"), col("ts_ms").as("tsMs"))
      .as[graft.streaming.Sessionize.Event]
    graft.streaming.Sessionize.sessionsOf(s, ev, gapMs = 43200000L)
      .toDF()
      .select(col("userId").as("user_id"), col("startMs").as("start_ms"),
        col("endMs").as("end_ms"), col("nEvents").as("n_events"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  val streamSessionsSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(date_trunc('millisecond', ts)) AS ts_ms FROM events),
      |g AS (SELECT user_id, ts_ms,
      |    CASE WHEN ts_ms - LAG(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
      |      > 43200000 THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |s AS (SELECT user_id, ts_ms, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g)
      |SELECT user_id, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin

  /** Backward as-of join over the event stream ([[graft.operators.AsOf]]):
    * every event is enriched with the most recent MARKER event (the
    * deterministic event_id % 10 == 0 subset, deduplicated to the max
    * marker id per (user, ts) — the operator's uniqueness contract) at
    * or before its timestamp for the same user, plus the lag in ms.
    * The oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — an independent
    * as-of implementation, so semantics (inclusive match, per-key,
    * latest-wins) are cross-checked engine-to-engine, not
    * self-mirrored.
    */
  def tsAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables(s, dir, "events")
    val markers = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("m_id"))
      .select(col("user_id"), col("ts"), col("m_id"), col("ts").as("m_ts"))
    graft.operators.AsOf.joinBackward(
      ev.select(col("user_id"), col("ts"), col("event_id")),
      markers, key = Seq("user_id"), ts = "ts", payload = Seq("m_id", "m_ts"))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("asof_m_id").as("marker_id"),
        (unix_millis(col("ts")) - unix_millis(col("asof_m_ts"))).as("lag_ms"))
      .orderBy(col("event_id"))
  }

  val tsAsofSql: String =
    """WITH mk AS (SELECT user_id, ts, MAX(event_id) AS m_id
      |  FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts)
      |SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms, m.m_id AS marker_id,
      |  epoch_ms(e.ts) - epoch_ms(m.ts) AS lag_ms
      |FROM events e ASOF LEFT JOIN mk m
      |  ON e.user_id = m.user_id AND e.ts >= m.ts
      |ORDER BY event_id""".stripMargin

  /** Range (point-in-interval) join ([[graft.operators.IntervalJoin]],
    * round 4 — the second brief-mandated time-series join beside
    * as-of): every event matched to each 6-hour maintenance window
    * opened by a marker event for the same user. The bucketized
    * equi-join plan (no BroadcastNestedLoop, no per-key cartesian) is
    * certified against DuckDB's native range join.
    */
  def tsRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val mk = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("m_id"))
      .select(col("user_id"), col("ts_ms").as("m_start"),
        (col("ts_ms") + 21600000L).as("m_end"), col("m_id"))
    graft.operators.IntervalJoin.joinPointInInterval(
      ev.select(col("user_id"), col("event_id"), col("ts_ms")),
      mk, key = Seq("user_id"), ts = "ts_ms",
      start = "m_start", end = "m_end", bucketMs = 21600000L)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("m_id"),
        (col("ts_ms") - col("m_start")).as("offset_ms"))
      .orderBy(col("event_id"), col("m_id"))
  }

  val tsRangeJoinSql: String =
    """WITH mk AS (SELECT user_id, epoch_ms(date_trunc('millisecond', ts)) AS m_start,
      |    MAX(event_id) AS m_id
      |  FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts)
      |SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms, m.m_id,
      |  epoch_ms(e.ts) - m.m_start AS offset_ms
      |FROM events e JOIN mk m ON e.user_id = m.user_id
      |  AND epoch_ms(e.ts) >= m.m_start AND epoch_ms(e.ts) <= m.m_start + 21600000
      |ORDER BY event_id, m_id""".stripMargin

  /** STREAMING range join run in bounded mode over the same corpus as
    * ts_range_join ([[graft.streaming.StreamingIntervalJoin]] —
    * watermark-bounded point and interval state on the stream plane):
    * identical output contract, certified against DuckDB's native
    * range join, so the stream operator is held to the batch
    * operator's oracle.
    */
  def streamRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    val points = ev.select(col("user_id").as("key"), col("ts_ms").as("startMs"),
      col("ts_ms").as("endMs"), lit(false).as("isInterval"),
      col("event_id").as("rid"), timestamp_millis(col("ts_ms")).as("ts"))
    val intervals = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("m_id"))
      .select(col("user_id").as("key"), col("ts_ms").as("startMs"),
        (col("ts_ms") + 21600000L).as("endMs"), lit(true).as("isInterval"),
        col("m_id").as("rid"), timestamp_millis(col("ts_ms")).as("ts"))
    val tagged = points.unionByName(intervals)
      .as[graft.streaming.StreamingIntervalJoin.In]
    graft.streaming.StreamingIntervalJoin.boundedOf(s, tagged).toDF()
      .select(col("pointId").as("event_id"), col("key").as("user_id"),
        col("tsMs").as("ts_ms"), col("intervalId").as("m_id"),
        col("offsetMs").as("offset_ms"))
      .orderBy(col("event_id"), col("m_id"))
  }

  val streamRangeJoinSql: String = tsRangeJoinSql

  /** STREAMING as-of join run in bounded mode over the same corpus as
    * ts_asof ([[graft.streaming.StreamingAsOf]] — flatMapGroupsWithState
    * with watermark-pruned marker state on the stream plane): identical
    * output contract, certified against DuckDB's NATIVE ASOF JOIN, so
    * the stream operator is held to the batch operator's oracle.
    */
  def streamAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    // every event rides as a left; markers ALSO ride as rights (the
    // batch query enriches every event, markers included)
    val lefts = ev.select(col("user_id").as("key"), col("ts_ms").as("tsMs"),
      lit(false).as("isRight"), col("event_id").as("rid"),
      timestamp_millis(col("ts_ms")).as("ts"))
    val rights = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id").as("key"), col("ts_ms").as("tsMs"),
        lit(true).as("isRight"), col("event_id").as("rid"),
        timestamp_millis(col("ts_ms")).as("ts"))
    val tagged = lefts.unionByName(rights).as[graft.streaming.StreamingAsOf.In]
    graft.streaming.StreamingAsOf.boundedOf(s, tagged).toDF()
      .select(col("leftId").as("event_id"), col("key").as("user_id"),
        col("tsMs").as("ts_ms"), col("rightId").as("marker_id"),
        (col("tsMs") - col("rightTsMs")).as("lag_ms"))
      .orderBy(col("event_id"))
  }

  val streamAsofSql: String = tsAsofSql

  /** Forward as-of: every event enriched with the NEXT marker at or
    * after its timestamp ([[graft.operators.AsOf.joinForward]]) —
    * "time until the next checkpoint", the mirror statistic of
    * ts_asof's lag. DuckDB's native ASOF with a `<=` comparison is
    * again the independent cross-engine oracle.
    */
  def tsAsofFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables(s, dir, "events")
    val markers = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("m_id"))
      .select(col("user_id"), col("ts"), col("m_id"), col("ts").as("m_ts"))
    graft.operators.AsOf.joinForward(
      ev.select(col("user_id"), col("ts"), col("event_id")),
      markers, key = Seq("user_id"), ts = "ts", payload = Seq("m_id", "m_ts"))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("asof_m_id").as("marker_id"),
        (unix_millis(col("asof_m_ts")) - unix_millis(col("ts"))).as("wait_ms"))
      .orderBy(col("event_id"))
  }

  val tsAsofFwdSql: String =
    """WITH mk AS (SELECT user_id, ts, MAX(event_id) AS m_id
      |  FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts)
      |SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms, m.m_id AS marker_id,
      |  epoch_ms(m.ts) - epoch_ms(e.ts) AS wait_ms
      |FROM events e ASOF LEFT JOIN mk m
      |  ON e.user_id = m.user_id AND e.ts <= m.ts
      |ORDER BY event_id""".stripMargin

  /** NEAREST-marker as-of: each event matched to whichever marker is
    * closer in time — backward on ties (the pandas merge_asof
    * direction='nearest' contract, which neither Spark nor DuckDB has
    * natively). Composed from the two directional primitives: one
    * [[graft.operators.AsOf.joinBackward]] + one
    * [[graft.operators.AsOf.joinForward]] (one keyed shuffle each, the
    * operator minimum) combined on the event key with an integer lag
    * comparison — no new join machinery, no extra scan of the marker
    * side. The oracle mirrors with DuckDB's two native ASOF directions
    * and the same CASE, so the composition contract is certified, not
    * just each leg.
    */
  def tsAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables(s, dir, "events")
    val markers = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("m_id"))
      .select(col("user_id"), col("ts"), col("m_id"), col("ts").as("m_ts"))
    val left = ev.select(col("user_id"), col("ts"), col("event_id"))
    val back = graft.operators.AsOf.joinBackward(left, markers,
        key = Seq("user_id"), ts = "ts", payload = Seq("m_id", "m_ts"))
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("asof_m_id").as("b_id"),
        (unix_millis(col("ts")) - unix_millis(col("asof_m_ts"))).as("b_lag"))
    val fwd = graft.operators.AsOf.joinForward(left, markers,
        key = Seq("user_id"), ts = "ts", payload = Seq("m_id", "m_ts"))
      .select(col("event_id"),
        col("asof_m_id").as("f_id"),
        (unix_millis(col("asof_m_ts")) - unix_millis(col("ts"))).as("f_lag"))
    back.join(fwd, Seq("event_id"))
      .withColumn("take_b",
        col("f_id").isNull || (col("b_id").isNotNull && col("b_lag") <= col("f_lag")))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        when(col("take_b"), col("b_id")).otherwise(col("f_id")).as("marker_id"),
        when(col("take_b"), col("b_lag")).otherwise(-col("f_lag")).as("signed_lag_ms"))
      .orderBy(col("event_id"))
  }

  val tsAsofNearestSql: String =
    """WITH mk AS (SELECT user_id, ts, MAX(event_id) AS m_id
      |  FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts),
      |b AS (SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
      |    m.m_id AS b_id, epoch_ms(e.ts) - epoch_ms(m.ts) AS b_lag
      |  FROM events e ASOF LEFT JOIN mk m
      |    ON e.user_id = m.user_id AND e.ts >= m.ts),
      |f AS (SELECT e.event_id, m.m_id AS f_id,
      |    epoch_ms(m.ts) - epoch_ms(e.ts) AS f_lag
      |  FROM events e ASOF LEFT JOIN mk m
      |    ON e.user_id = m.user_id AND e.ts <= m.ts)
      |SELECT b.event_id, b.user_id, b.ts_ms,
      |  CASE WHEN f_id IS NULL OR (b_id IS NOT NULL AND b_lag <= f_lag)
      |    THEN b_id ELSE f_id END AS marker_id,
      |  CASE WHEN f_id IS NULL OR (b_id IS NOT NULL AND b_lag <= f_lag)
      |    THEN b_lag ELSE -f_lag END AS signed_lag_ms
      |FROM b JOIN f ON f.event_id = b.event_id
      |ORDER BY b.event_id""".stripMargin

  /** The ranking-function battery in ONE keyed window pass — rank,
    * dense_rank, percent_rank, cume_dist, ntile(4) over orders ranked
    * by price within priority class. All five share a single sort
    * (one shuffle); percent_rank and cume_dist are each one division
    * of exact ints, so doubles are bit-identical cross-engine; the
    * (o_totalprice DESC, o_orderkey) order is total, making every
    * rank deterministic.
    */
  def windowRanks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    graft.Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .orderBy(col("o_orderkey"))
  }

  val windowRanksSql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  percent_rank() OVER w AS prnk,
      |  cume_dist() OVER w AS cdist,
      |  CAST(ntile(4) OVER w AS INT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Interval×interval overlap join ([[graft.operators.IntervalJoin
    * .joinIntervalOverlap]]): every 6-hour maintenance window matched
    * to each 3-hour activity window it overlaps for the same user,
    * with the overlap length. The canonical-bucket equi-join plan
    * (each pair survives only in the bucket holding the overlap's
    * start — one keyed shuffle per side, no result-side dedup) is
    * certified against the naive theta join in DuckDB.
    */
  def tsIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val mk = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("m_id"))
      .select(col("user_id"), col("ts_ms").as("m_start"),
        (col("ts_ms") + 21600000L).as("m_end"), col("m_id"))
    val act = ev.filter(col("event_id") % 7 === 3)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("a_id"))
      .select(col("user_id"), col("ts_ms").as("a_start"),
        (col("ts_ms") + 10800000L).as("a_end"), col("a_id"))
    graft.operators.IntervalJoin.joinIntervalOverlap(
      mk, act, key = Seq("user_id"),
      lstart = "m_start", lend = "m_end", rstart = "a_start", rend = "a_end",
      bucketMs = 21600000L)
      .select(col("m_id"), col("a_id"), col("user_id"),
        (least(col("m_end"), col("a_end")) -
          greatest(col("m_start"), col("a_start"))).as("overlap_ms"))
      .orderBy(col("m_id"), col("a_id"))
  }

  val tsIntervalOverlapSql: String =
    """WITH mk AS (SELECT user_id, epoch_ms(ts) AS m_start,
      |    epoch_ms(ts) + 21600000 AS m_end, MAX(event_id) AS m_id
      |  FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts),
      |act AS (SELECT user_id, epoch_ms(ts) AS a_start,
      |    epoch_ms(ts) + 10800000 AS a_end, MAX(event_id) AS a_id
      |  FROM events WHERE event_id % 7 = 3 GROUP BY user_id, ts)
      |SELECT m.m_id, a.a_id, m.user_id,
      |  least(m.m_end, a.a_end) - greatest(m.m_start, a.a_start) AS overlap_ms
      |FROM mk m JOIN act a ON m.user_id = a.user_id
      |  AND m.m_start <= a.a_end AND a.a_start <= m.m_end
      |ORDER BY m_id, a_id""".stripMargin

  /** SCD type-2 history ([[graft.operators.Scd.buildType2]]): each
    * user's event_type change log becomes versioned validity intervals
    * — consecutive same-type events collapse into one version, each
    * closed by the next version's start. One keyed shuffle; both
    * window passes share the exchange and sort.
    */
  def scd2Build(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    graft.operators.Scd.buildType2(
      ev.select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type")),
      key = Seq("user_id"), ts = "ts_ms", ord = Seq("event_id"),
      attrs = Seq("event_type"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val scd2BuildSql: String =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events),
      |chg AS (SELECT *,
      |    ROW_NUMBER() OVER w AS rn, lag(event_type) OVER w AS prev
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |runs AS (SELECT user_id, ts_ms, event_id, event_type FROM chg
      |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
      |SELECT user_id, CAST(ROW_NUMBER() OVER w AS INT) AS version, event_type,
      |  ts_ms AS valid_from, lead(ts_ms) OVER w AS valid_to,
      |  lead(ts_ms) OVER w IS NULL AS is_current
      |FROM runs WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** Rolling 1-hour stats per user via a RANGE frame (event-time
    * window, not row-count): events in the same hour-long trailing
    * window count once each regardless of row ties. Only
    * order-independent aggregates (count/min/max) ride the frame, so
    * doubles stay bit-exact cross-engine; one keyed shuffle.
    */
  def tsRolling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, 0L)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        count(lit(1)).over(w).as("n_1h"),
        min(col("value")).over(w).as("min_1h"),
        max(col("value")).over(w).as("max_1h"))
      .orderBy(col("event_id"))
  }

  val tsRollingSql: String =
    """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
      |  COUNT(*) OVER w AS n_1h, MIN(value) OVER w AS min_1h,
      |  MAX(value) OVER w AS max_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** CDC apply (merge-into): collapse a change log with
    * upserts and DELETE tombstones into the live snapshot — the
    * last-writer-wins companion to [[scd2Build]]'s full history (and
    * the batch shape of the reference's ES upsert sink, SURVEY §2.1
    * S9, with deletes added). Out-of-order arrivals are handled by
    * ordering on (ts, id) descending, so applying the log in ANY
    * arrival order yields the same snapshot; error events act as the
    * tombstones here. One keyed shuffle (row_number window).
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    events(s, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("ts_ms").as("last_ts"),
        col("event_id").as("last_event"), col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  val cdcApplySql: String =
    """WITH log AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
      |  FROM events),
      |latest AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts_ms DESC, event_id DESC) AS rn FROM log)
      |SELECT user_id, ts_ms AS last_ts, event_id AS last_event,
      |  value AS last_value
      |FROM latest WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  /** STREAMING CDC apply run in bounded mode
    * ([[graft.streaming.StreamingCdc]] — one record of state per key,
    * last-writer-wins by the monotone (ts, id) max, tombstones
    * retained so late stale upserts cannot resurrect deleted keys):
    * certified against the batch cdc_apply oracle.
    */
  def streamCdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = events(s, dir)
      .select(col("user_id").as("key"), col("ts_ms").as("tsMs"),
        col("event_id").as("id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("value"))
      .as[graft.streaming.StreamingCdc.In]
    graft.streaming.StreamingCdc.snapshot(s, log).toDF()
      // multi-batch streams emit a key once per winner change; the
      // (ts, id)-max emission is the final winner
      .groupBy(col("key"))
      .agg(max(struct(col("tsMs"), col("id"), col("op"), col("value"))).as("cur"))
      .filter(col("cur.op") =!= "D")
      .select(col("key").as("user_id"), col("cur.tsMs").as("last_ts"),
        col("cur.id").as("last_event"), col("cur.value").as("last_value"))
      .orderBy(col("user_id"))
  }

  val streamCdcSql: String = cdcApplySql

  /** Snapshot DIFF — the inverse of [[cdcApply]]: given the entity
    * state at mid-month and at month-end, emit the change feed
    * (I/U/D ops) that transforms one into the other. Full outer join
    * on the key; op classification is pure column logic. The pair
    * closes the CDC loop: apply ∘ diff = identity, and the generated
    * feed is what an incremental downstream consumer would ingest.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val midMs = 1705363200000L // 2024-01-16T00:00:00Z — mid-corpus
    def snapshot(log: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms").desc, col("event_id").desc)
      log.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
    }
    val log = events(s, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("value"))
    val old = snapshot(log.filter(col("ts_ms") < midMs))
      .select(col("user_id"), col("event_id").as("old_event"))
    val cur = snapshot(log)
      .select(col("user_id"), col("ts_ms").as("last_ts"),
        col("event_id").as("last_event"), col("value").as("last_value"))
    old.join(cur, Seq("user_id"), "full_outer")
      .select(
        when(col("old_event").isNull, lit("I"))
          .when(col("last_event").isNull, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("user_id"), col("last_ts"), col("last_event"), col("last_value"))
      .filter(col("op") =!= "U" || col("old_event") =!= col("last_event"))
      .orderBy(col("user_id"))
  }

  val snapshotDiffSql: String =
    """WITH log AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
      |  FROM events),
      |old AS (SELECT user_id, event_id AS old_event FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_ms DESC, event_id DESC) AS rn
      |    FROM log WHERE ts_ms < 1705363200000)
      |  WHERE rn = 1 AND op <> 'D'),
      |cur AS (SELECT user_id, ts_ms AS last_ts, event_id AS last_event,
      |    value AS last_value FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_ms DESC, event_id DESC) AS rn FROM log)
      |  WHERE rn = 1 AND op <> 'D')
      |SELECT CASE WHEN old_event IS NULL THEN 'I'
      |       WHEN last_event IS NULL THEN 'D' ELSE 'U' END AS op,
      |  user_id, last_ts, last_event, last_value
      |FROM old o FULL OUTER JOIN cur c USING (user_id)
      |WHERE old_event IS NULL OR last_event IS NULL OR old_event <> last_event
      |ORDER BY user_id""".stripMargin

  /** Burst throttling (exact greedy dedup-within-window): per
    * (user, type), events within 5 minutes of the PREVIOUS event chain
    * into one burst, and only each burst's first event survives. The
    * gaps-and-islands trick makes the greedy chain exact in one window
    * pass: a row opens a burst iff its gap > Δt, and the running count
    * of openings is the burst id. One keyed shuffle.
    */
  def tsThrottle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    events(s, dir)
      .withColumn("gap_open",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(w) > 300000L
          || lag(col("ts_ms"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("burst", sum(col("gap_open")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("gap_open") === 1L)
      .select(col("user_id"), col("event_type"), col("burst"),
        col("event_id"), col("ts_ms"))
      .orderBy(col("user_id"), col("event_type"), col("burst"))
  }

  val tsThrottleSql: String =
    """WITH ev AS (SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms FROM events),
      |g AS (SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER w > 300000
      |      OR lag(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS gap_open
      |  FROM ev WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id)),
      |b AS (SELECT *, CAST(SUM(gap_open) OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst FROM g)
      |SELECT user_id, event_type, burst, event_id, ts_ms
      |FROM b WHERE gap_open = 1
      |ORDER BY user_id, event_type, burst""".stripMargin

  /** Exact selection percentiles (p50/p90/p99) of `value` per event
    * type — rank SELECTION, not interpolation, so the emitted doubles
    * are untouched input values and hash exactly. At scale: one keyed
    * shuffle; only ranks are computed, no sketch approximation.
    */
  def tsPercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    def sel(p: Double, name: String) =
      max(when(col("rn") === floor(lit(p) * (col("n") - 1)).cast("long") + 1,
        col("value"))).as(name)
    ranked.groupBy(col("event_type"))
      .agg(sel(0.5, "p50"), sel(0.9, "p90"), sel(0.99, "p99"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  val tsPercentilesSql: String =
    """WITH r AS (SELECT event_type, value, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type,
      |  MAX(CASE WHEN rn = CAST(floor(0.5e0 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p50,
      |  MAX(CASE WHEN rn = CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p90,
      |  MAX(CASE WHEN rn = CAST(floor(0.99e0 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p99,
      |  COUNT(*) AS n
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands: day − dense_rank(day) is constant within a
    * consecutive run, so grouping by it isolates each streak. Two
    * keyed aggregations, no self-join.
    */
  def tsStreaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = events(s, dir)
      .select(col("user_id"), (col("ts_ms") / 86400000L).cast("long").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", col("day") - dense_rank().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("len"), col("start_day"))).as("best"))
      .select(col("user_id"), col("best.len").as("streak_days"),
        col("best.start_day").as("streak_start"))
      .orderBy(col("user_id"))
  }

  val tsStreaksSql: String =
    """WITH d AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |g AS (SELECT user_id, day,
      |    day - DENSE_RANK() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d),
      |runs AS (SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start_day
      |  FROM g GROUP BY user_id, grp),
      |best AS (SELECT user_id, len, start_day,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY len DESC, start_day DESC) AS rk
      |  FROM runs)
      |SELECT user_id, len AS streak_days, start_day AS streak_start
      |FROM best WHERE rk = 1 ORDER BY user_id""".stripMargin

  /** Robust statistics per event type: median and MAD (median absolute
    * deviation) by rank SELECTION (lower median), plus the robust
    * outlier count at the 3×MAD fence. Every arithmetic step is a
    * single exact-or-once-rounded IEEE op (subtract, abs, one
    * multiply), identical in both engines, so the doubles hash
    * exactly. Two keyed rank windows — no sketch, no interpolation.
    */
  def tsMad(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, dir).filter(col("value").isNotNull)
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col(v), col("event_id"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(max(when(col("rn") === ((col("n") + 1) / 2).cast("long"), col(v))).as(out))
    }
    val med = lowerMedian(ev, "value", "median")
    val dev = ev.join(med, Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("median")))
    val mad = lowerMedian(dev, "adev", "mad")
    dev.join(mad, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("median")).as("median"), max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  val tsMadSql: String =
    """WITH ev AS (SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL),
      |r1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM ev),
      |med AS (SELECT event_type, MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median
      |  FROM r1 GROUP BY event_type),
      |dev AS (SELECT e.event_type, e.event_id, e.value, m.median,
      |    abs(e.value - m.median) AS adev FROM ev e JOIN med m USING (event_type)),
      |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM dev),
      |mad AS (SELECT event_type, MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS mad
      |  FROM r2 GROUP BY event_type)
      |SELECT d.event_type, MAX(d.median) AS median, MAX(a.mad) AS mad,
      |  CAST(COALESCE(SUM(CASE WHEN d.adev > 3.0e0 * a.mad THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers,
      |  COUNT(*) AS n
      |FROM dev d JOIN mad a USING (event_type)
      |GROUP BY d.event_type ORDER BY event_type""".stripMargin

  /** OHLC candlestick rollup per (event_type, day): open/close are the
    * values at the first/last event of the bucket (tie-broken by
    * event_id — selection, not interpolation, so doubles pass through
    * untouched), high/low are min/max, volume the row count. One keyed
    * aggregation via min_by/max_by over the (ts, id) struct order — no
    * window, no second shuffle; the bucket key bounds state at any
    * scale.
    */
  def tsOhlc(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).filter(col("value").isNotNull)
      .withColumn("day", (col("ts_ms") / 86400000L).cast("long"))
    ev.groupBy(col("event_type"), col("day"))
      .agg(
        min_by(col("value"), struct(col("ts_ms"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_ms"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"))
      .orderBy(col("event_type"), col("day"))
  }

  val tsOhlcSql: String =
    """WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    epoch_ms(ts) AS ts_ms, event_id, value
      |  FROM events WHERE value IS NOT NULL),
      |r AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts_ms, event_id) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts_ms DESC, event_id DESC) AS rn_d
      |  FROM ev)
      |SELECT event_type, day,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  COUNT(*) AS volume
      |FROM r GROUP BY event_type, day ORDER BY event_type, day""".stripMargin

  /** Exponentially weighted moving average per user series, α = 1/2:
    * s₁ = v₁, sₜ = sₜ₋₁/2 + vₜ/2. The recurrence is inherently
    * sequential, so it runs as an ordered fold over the series array —
    * halving is EXACT in IEEE (power-of-two scale) and the single add
    * rounds once, so the left-to-right fold is bit-identical to the
    * DuckDB list_reduce (whose implicit init is the first element,
    * matching the slice-from-2 fold here). Per-user arrays bound state;
    * users distribute. For unbounded streams the same recurrence runs
    * in mapGroupsWithState with one double of state per key.
    */
  def tsEwma(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).filter(col("value").isNotNull)
    ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("event_id"),
        col("value")))).as("arr"))
      .select(col("user_id"), size(col("arr")).as("n"),
        aggregate(
          slice(transform(col("arr"), x => x.getField("value")), lit(2), size(col("arr")) - 1),
          element_at(transform(col("arr"), x => x.getField("value")), 1),
          (acc, v) => acc * lit(0.5) + v * lit(0.5)).as("ewma"))
      .orderBy(col("user_id"))
  }

  val tsEwmaSql: String =
    """SELECT user_id, COUNT(*) AS n,
      |  list_reduce(list(value ORDER BY epoch_ms(ts), event_id),
      |    (a, v) -> a * 0.5e0 + v * 0.5e0) AS ewma
      |FROM events WHERE value IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Lag-1 autocorrelation per user series (the seasonality /
    * stationarity probe): r₁ = Σ(vₜ−m)(vₜ₊₁−m) / Σ(vₜ−m)². Mean and
    * both quadratic sums are position-ordered folds (the perplexity
    * determinism trick), so every rounding step is identical
    * cross-engine; the den=0 degenerate (constant series) is NULL in
    * both. Series arrays are per-user bounded; nothing global.
    */
  def tsAutocorr(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).filter(col("value").isNotNull)
    ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("event_id"),
        col("value")))).as("arr"))
      .withColumn("vs", transform(col("arr"), x => x.getField("value")))
      .withColumn("n", size(col("vs")))
      .filter(col("n") >= 3)
      .withColumn("m",
        aggregate(col("vs"), lit(0.0), (a, v) => a + v) / col("n").cast("double"))
      .withColumn("num", aggregate(
        zip_with(slice(col("vs"), lit(1), col("n") - 1), slice(col("vs"), lit(2), col("n") - 1),
          (a, b) => (a - col("m")) * (b - col("m"))),
        lit(0.0), (a, v) => a + v))
      .withColumn("den", aggregate(
        transform(col("vs"), v => (v - col("m")) * (v - col("m"))),
        lit(0.0), (a, v) => a + v))
      .select(col("user_id"), col("n"),
        when(col("den") === 0.0, lit(null).cast("double"))
          .otherwise(col("num") / col("den")).as("r1"))
      .orderBy(col("user_id"))
  }

  val tsAutocorrSql: String =
    """WITH s AS (SELECT user_id, list(value ORDER BY epoch_ms(ts), event_id) AS vs
      |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
      |st AS (SELECT user_id, vs, len(vs) AS n,
      |    list_reduce(vs, (a, v) -> a + v) / CAST(len(vs) AS DOUBLE) AS m
      |  FROM s WHERE len(vs) >= 3),
      |qs AS (SELECT user_id, n,
      |    list_reduce(list_transform(range(1, n), i -> (vs[i] - m) * (vs[i + 1] - m)),
      |      (a, v) -> a + v) AS num,
      |    list_reduce(list_transform(vs, v -> (v - m) * (v - m)),
      |      (a, v) -> a + v) AS den
      |  FROM st)
      |SELECT user_id, n, CASE WHEN den = 0.0e0 THEN NULL ELSE num / den END AS r1
      |FROM qs ORDER BY user_id""".stripMargin

  /** Lag-feature frame per user series — the feature-engineering step
    * in front of model training: previous two values, first difference
    * and 3-point moving average in ONE keyed window pass. The moving
    * average is the EXPLICIT expression (v + lag1 + lag2)/3, never a
    * frame aggregate: engines disagree on frame-sum association
    * (running vs segment-tree), an explicit left-to-right chain cannot.
    * Nulls at series heads propagate identically.
    */
  def tsFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    events(s, dir).filter(col("value").isNotNull)
      .withColumn("lag1", lag(col("value"), 1).over(w))
      .withColumn("lag2", lag(col("value"), 2).over(w))
      .select(col("user_id"), col("event_id"), col("value"), col("lag1"),
        (col("value") - col("lag1")).as("delta"),
        ((col("value") + col("lag1") + col("lag2")) / 3.0).as("ma3"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val tsFeaturesSql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
      |  FROM events WHERE value IS NOT NULL),
      |lg AS (SELECT user_id, event_id, value,
      |    lag(value, 1) OVER w AS lag1, lag(value, 2) OVER w AS lag2
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
      |SELECT user_id, event_id, value, lag1,
      |  value - lag1 AS delta, (value + lag1 + lag2) / 3.0e0 AS ma3
      |FROM lg ORDER BY user_id, event_id""".stripMargin

  /** One-sided CUSUM changepoint score per user (Page 1954): S₀ = 0,
    * Sᵢ = max(0, Sᵢ₋₁ + (xᵢ − μ)) over the user's values in event-time
    * order, reporting max Sᵢ — the classic upward-shift detector. The
    * recursion is inherently ordered, so BOTH the mean and the CUSUM
    * are computed as folds over the same (ts, event_id)-sorted array
    * (the ts_ewma discipline): identical add/max/divide sequences
    * cross-engine make every emitted double bit-exact with no
    * rounding. State per user is one array of its own events — the
    * many-small-series shape that collect_list handles at any corpus
    * size — and the fold carries a (running, max) struct so the peak
    * needs no second pass.
    */
  def tsCusum(s: SparkSession, dir: String): DataFrame = {
    val arr = events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts_ms"), col("event_id"), col("value")))).as("a"))
      .select(col("user_id"),
        transform(col("a"), x => x.getField("value")).as("xs"))
      .withColumn("n", size(col("xs")))
      .withColumn("mean",
        aggregate(col("xs"), lit(0.0), (a, v) => a + v) / col("n").cast("double"))
    // Field order in the fold state is LOAD-BEARING: DuckDB 1.0
    // evaluates struct_pack fields sequentially against a mutating
    // accumulator, so a field computed AFTER s would see the NEW s
    // (measured: m=6.0 where the fold semantics say 3.0). With m
    // first, m reads the pre-update s and s itself uses nothing that
    // was already overwritten — correct under both functional (Spark)
    // and sequential (DuckDB) evaluation.
    arr.select(col("user_id"), col("n"), col("mean"),
      aggregate(col("xs"),
        struct(lit(0.0).as("m"), lit(0.0).as("s")),
        (acc, v) => struct(
          greatest(acc.getField("m"),
            greatest(acc.getField("s") + (v - col("mean")), lit(0.0))).as("m"),
          greatest(acc.getField("s") + (v - col("mean")), lit(0.0)).as("s")))
        .getField("m").as("cusum_max"))
      .orderBy(col("user_id"))
  }

  val tsCusumSql: String =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
      |  FROM events WHERE value IS NOT NULL),
      |ar AS (SELECT user_id,
      |    list(value ORDER BY ts_ms, event_id) AS xs FROM ev GROUP BY user_id),
      |mn AS (SELECT user_id, xs, len(xs) AS n,
      |    list_reduce(list_prepend(0.0e0, xs), (a, v) -> a + v)
      |      / CAST(len(xs) AS DOUBLE) AS mean FROM ar)
      |SELECT user_id, n, mean,
      |  (list_reduce(list_prepend(struct_pack(m := 0.0e0, s := 0.0e0),
      |      list_transform(xs, v -> struct_pack(m := 0.0e0, s := v))),
      |    (acc, x) -> struct_pack(
      |      m := greatest(acc.m, greatest(acc.s + (x.s - mean), 0.0e0)),
      |      s := greatest(acc.s + (x.s - mean), 0.0e0)))).m
      |    AS cusum_max
      |FROM mn ORDER BY user_id""".stripMargin

  /** Day-of-week seasonality profile per event type: mean daily volume
    * per weekday ÷ overall mean daily volume — the seasonal-index
    * decomposition a volume dashboard is built on. Two stacked count
    * aggregations (per-day, then per-weekday), so everything is
    * integer until three divisions. The weekday is pure integer
    * arithmetic on the epoch day ((day+4) mod 7, 0 = Sunday — epoch
    * day 0 was a Thursday), avoiding engine dayofweek conventions
    * entirely.
    */
  def tsSeasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .withColumn("day", (col("ts_ms") / lit(86400000L)).cast("long"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
      .withColumn("dow", pmod(col("day") + 4, lit(7)))
    val byDow = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total"))
      .withColumn("dow_mean",
        col("total").cast("double") / col("n_days").cast("double"))
    val overall = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("g_days"), sum(col("cnt")).as("g_total"))
      .withColumn("g_mean",
        col("g_total").cast("double") / col("g_days").cast("double"))
      .select(col("event_type"), col("g_mean"))
    byDow.join(overall, "event_type")
      .select(col("event_type"), col("dow"), col("n_days"), col("total"),
        col("dow_mean"), (col("dow_mean") / col("g_mean")).as("seasonal_index"))
      .orderBy(col("event_type"), col("dow"))
  }

  val tsSeasonalSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |d2 AS (SELECT event_type, (day + 4) % 7 AS dow, cnt FROM daily),
      |bd AS (SELECT event_type, dow, COUNT(*) AS n_days,
      |    CAST(SUM(cnt) AS BIGINT) AS total FROM d2 GROUP BY 1, 2),
      |ov AS (SELECT event_type,
      |    CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS g_mean
      |  FROM daily GROUP BY event_type)
      |SELECT bd.event_type, dow, n_days, total,
      |  CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE) AS dow_mean,
      |  (CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)) / g_mean AS seasonal_index
      |FROM bd JOIN ov ON bd.event_type = ov.event_type
      |ORDER BY bd.event_type, dow""".stripMargin

  /** Last-touch marketing attribution: each purchase is attributed to
    * the user's most recent click/view within a 7-day lookback —
    * [[graft.operators.AsOf.joinBackward]] reused with a horizon
    * predicate on top, the composition pattern an attribution pipeline
    * actually runs (as-of join ≫ windowed lag gate). Touches are
    * deduplicated to the max (event_id, event_type) struct per
    * (user, ts) — the operator's right-side uniqueness contract — and
    * the oracle goes through DuckDB's NATIVE ASOF LEFT JOIN, so the
    * semantics are cross-checked against an independent
    * implementation, not self-mirrored.
    */
  def tsAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables(s, dir, "events")
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("event_type"))).as("b"))
      .select(col("user_id"), col("ts"), col("b.event_id").as("t_id"),
        col("b.event_type").as("t_type"), col("ts").as("t_ts"))
    val horizon = 604800000L // 7 days
    graft.operators.AsOf.joinBackward(
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id")),
      touches, key = Seq("user_id"), ts = "ts",
      payload = Seq("t_id", "t_type", "t_ts"))
      .withColumn("lag_raw",
        unix_millis(col("ts")) - unix_millis(col("asof_t_ts")))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        when(col("lag_raw") <= horizon, col("asof_t_id")).as("attributed_id"),
        when(col("lag_raw") <= horizon, col("asof_t_type")).as("channel"),
        when(col("lag_raw") <= horizon, col("lag_raw")).as("lag_ms"))
      .orderBy(col("event_id"))
  }

  val tsAttributionSql: String =
    """WITH tch AS (SELECT user_id, ts,
      |    MAX(struct_pack(event_id := event_id, event_type := event_type)) AS b
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id, ts),
      |t2 AS (SELECT user_id, ts, b.event_id AS t_id, b.event_type AS t_type FROM tch),
      |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
      |  CASE WHEN epoch_ms(p.ts) - epoch_ms(t.ts) <= 604800000 THEN t.t_id END AS attributed_id,
      |  CASE WHEN epoch_ms(p.ts) - epoch_ms(t.ts) <= 604800000 THEN t.t_type END AS channel,
      |  CASE WHEN epoch_ms(p.ts) - epoch_ms(t.ts) <= 604800000
      |    THEN epoch_ms(p.ts) - epoch_ms(t.ts) END AS lag_ms
      |FROM p ASOF LEFT JOIN t2 t ON p.user_id = t.user_id AND p.ts >= t.ts
      |ORDER BY p.event_id""".stripMargin

  /** Tumbling-window event counts per type
    * ([[graft.streaming.StreamPipeline.windowedCounts]] in bounded
    * mode): THE canonical structured-streaming aggregate — watermarked
    * event-time windows with bounded late-data state. The transform is
    * plan-identical in batch and streaming (window()+groupBy; the
    * watermark only adds state cleanup), so the DuckDB oracle
    * certifies the window arithmetic and StreamTumblingSpec proves the
    * multi-batch streaming run emits the same rows.
    */
  def streamTumbling(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.windowedCounts(
      graft.Tables(s, dir, "events"), tsCol = "ts", keyCol = "event_type",
      windowDur = "1 hour", watermarkDelay = "1 hour")
      .select(unix_millis(col("win_start")).as("win_start_ms"),
        col("event_type"), col("cnt"))
      .orderBy(col("win_start_ms"), col("event_type"))

  val streamTumblingSql: String =
    """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS win_start_ms,
      |  event_type, COUNT(*) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY win_start_ms, event_type""".stripMargin

  /** Daily-volume spike detection: per event type, each day's count is
    * z-scored against the type's own daily distribution with EXACT
    * integer moments — z = (c·n − S₁)/√(n·S₂ − S₁²), every term a
    * BIGINT until one sqrt and one division — and days with z ≥ 2 are
    * flagged. The algebra avoids ever forming the mean or variance as
    * intermediate doubles (the stats_corr discipline), so scores are
    * bit-exact and the flag threshold cannot waver cross-engine.
    * Degenerate types (constant daily counts → zero variance) emit
    * NULL z under the ANSI guard.
    */
  def tsSpike(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .withColumn("day", (col("ts_ms") / lit(86400000L)).cast("long"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))
    val mom = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .withColumn("var_num", col("n") * col("s2") - col("s1") * col("s1"))
    daily.join(mom, "event_type")
      .withColumn("z", when(col("var_num") > 0,
        (col("c") * col("n") - col("s1")).cast("double") /
          sqrt(col("var_num").cast("double"))))
      .filter(col("z") >= 2.0)
      .select(col("event_type"), col("day"), col("c").as("cnt"), col("z"))
      .orderBy(col("event_type"), col("day"))
  }

  val tsSpikeSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |mom AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s1,
      |    CAST(SUM(c * c) AS BIGINT) AS s2 FROM daily GROUP BY event_type),
      |m2 AS (SELECT event_type, n, s1, n * s2 - s1 * s1 AS var_num FROM mom),
      |z AS (SELECT d.event_type, day, c,
      |    CASE WHEN var_num > 0 THEN CAST(c * n - s1 AS DOUBLE)
      |      / sqrt(CAST(var_num AS DOUBLE)) END AS z
      |  FROM daily d JOIN m2 ON d.event_type = m2.event_type)
      |SELECT event_type, day, c AS cnt, z FROM z WHERE z >= 2.0e0
      |ORDER BY event_type, day""".stripMargin

  /** Week-over-week growth report: weekly volumes per event type with
    * percentage change vs the previous ROW'S week — one keyed lag
    * window; growth is a single division of exact integer counts,
    * NULL for each type's first week (no fabricated 0% baseline).
    */
  def tsWow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = events(s, dir)
      .withColumn("week", (col("ts_ms") / lit(604800000L)).cast("long"))
      .groupBy(col("event_type"), col("week")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly.withColumn("prev", lag(col("cnt"), 1).over(w))
      .withColumn("wow_pct",
        (col("cnt") - col("prev")).cast("double") / col("prev").cast("double"))
      .select(col("event_type"), col("week"), col("cnt"), col("prev"), col("wow_pct"))
      .orderBy(col("event_type"), col("week"))
  }

  val tsWowSql: String =
    """WITH weekly AS (SELECT event_type,
      |    CAST(epoch_ms(ts) // 604800000 AS BIGINT) AS week, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, week, cnt,
      |    lag(cnt) OVER (PARTITION BY event_type ORDER BY week) AS prev
      |  FROM weekly)
      |SELECT event_type, week, cnt, prev,
      |  CAST(cnt - prev AS DOUBLE) / CAST(prev AS DOUBLE) AS wow_pct
      |FROM l ORDER BY event_type, week""".stripMargin

  /** Telemetry gap detection: every silence longer than 48 h inside a
    * user's event stream, with endpoints and duration — the uptime /
    * lost-data report. One keyed lag window; endpoints are exact
    * epoch-ms integers.
    */
  def tsGaps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    events(s, dir)
      .withColumn("prev", lag(col("ts_ms"), 1).over(w))
      .withColumn("gap_ms", col("ts_ms") - col("prev"))
      .filter(col("gap_ms") > 172800000L)
      .select(col("user_id"), col("prev").as("gap_start_ms"),
        col("ts_ms").as("gap_end_ms"), col("gap_ms"))
      .orderBy(col("user_id"), col("gap_start_ms"))
  }

  val tsGapsSql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      |l AS (SELECT user_id, ts_ms,
      |    lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev
      |  FROM ev)
      |SELECT user_id, prev AS gap_start_ms, ts_ms AS gap_end_ms,
      |  ts_ms - prev AS gap_ms
      |FROM l WHERE ts_ms - prev > 172800000
      |ORDER BY user_id, gap_start_ms""".stripMargin

  /** Theil–Sen robust trend slope per user: the MEDIAN of all pairwise
    * slopes (y_j−y_i)/(x_j−x_i) — the outlier-immune alternative to
    * OLS (ts_slope). Pairs expand INSIDE each per-user array via
    * nested index transforms (the many-small-series shape: quadratic
    * only in one user's own points, never across the corpus);
    * same-timestamp pairs are skipped in both engines; the median is
    * rank SELECTION over the sorted slope array — each slope is one
    * IEEE division, the sort order is total (no NaN/Inf possible),
    * and the even-count midpoint mean is one add + one divide, so the
    * emitted slope is bit-exact unrounded. x is in DAYS (ms/86.4e6 —
    * one division before the slope) to keep magnitudes readable.
    */
  def tsTheilsen(s: SparkSession, dir: String): DataFrame = {
    val arr = events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts_ms"), col("event_id"), col("value")))).as("a"))
      .filter(size(col("a")) >= 2)
    // The WHOLE per-series computation is one let-chain — xs/ys bound
    // once, the O(n²) slope list bound once, its sort bound once — and
    // the final (ns, slope) struct splits through inline() (a Generate
    // evaluates the expression once; projecting two fields out of a
    // projection column would re-run the chain per field).
    val packed = let(struct(
        transform(col("a"), p => p.getField("ts_ms").cast("double") / lit(86400000.0)).as("x"),
        transform(col("a"), p => p.getField("value")).as("y"),
        size(col("a")).as("m"))) { s =>
      let(filter(
          flatten(transform(sequence(lit(1), s.getField("m") - 1), i =>
            transform(sequence(i + 1, s.getField("m")), j =>
              when(element_at(s.getField("x"), j) =!= element_at(s.getField("x"), i),
                (element_at(s.getField("y"), j) - element_at(s.getField("y"), i)) /
                  (element_at(s.getField("x"), j) - element_at(s.getField("x"), i)))))),
          v => v.isNotNull)) { sl =>
        let(sort_array(sl)) { sorted =>
          val k = size(sl)
          struct(k.as("ns"),
            when(pmod(k, lit(2)) === 1,
              element_at(sorted, ((k + 1) / 2).cast("int")))
              .otherwise((element_at(sorted, (k / 2).cast("int")) +
                element_at(sorted, (k / 2 + 1).cast("int"))) / 2.0)
              .as("theil_slope"))
        }
      }
    }
    // r12: the O(n²) slope chain used to sit BELOW the final orderBy, so
    // the range partitioner's sampling pass evaluated it a second time
    // (profiled: two ~1.4 s stages reading the same 2 MB exchange), and
    // AQE coalesced the tiny exchange to 2 tasks, serializing the CPU-
    // heavy work. Order of operations now: drop degenerate series first
    // (all x equal ⟺ first == last on the sorted array ⟺ ns = 0 — the
    // only rows the old post-compute filter removed), range-partition +
    // sort by user_id at the session's full width (explicit partition
    // count: user-specified numbers are exempt from AQE coalescing),
    // THEN evaluate the slope chain once above the sort. Same rows,
    // same order, same values.
    val xOf = (p: Column) => p.getField("ts_ms").cast("double") / lit(86400000.0)
    arr
      .filter(xOf(element_at(col("a"), 1)) =!=
        xOf(element_at(col("a"), size(col("a")))))
      .repartitionByRange(s.sparkContext.defaultParallelism, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .select(col("user_id"), size(col("a")).as("n"), inline(array(packed)))
      .filter(col("ns") >= 1)
      .select(col("user_id"), col("n"), col("ns"), col("theil_slope"))
  }

  val tsTheilsenSql: String =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
      |  FROM events WHERE value IS NOT NULL),
      |ar AS (SELECT user_id,
      |    list(CAST(ts_ms AS DOUBLE) / 86400000.0e0 ORDER BY ts_ms, event_id) AS xs,
      |    list(value ORDER BY ts_ms, event_id) AS ys,
      |    COUNT(*) AS n
      |  FROM ev GROUP BY user_id HAVING COUNT(*) >= 2),
      |sl AS (SELECT user_id, n,
      |    list_filter(flatten(list_transform(range(1, n), i ->
      |      list_transform(range(i + 1, n + 1), j ->
      |        CASE WHEN xs[j] <> xs[i]
      |          THEN (ys[j] - ys[i]) / (xs[j] - xs[i]) END))),
      |      v -> v IS NOT NULL) AS s
      |  FROM ar),
      |st AS (SELECT user_id, n, len(s) AS ns, list_sort(s) AS sorted
      |  FROM sl WHERE len(s) >= 1)
      |SELECT user_id, n, ns,
      |  CASE WHEN ns % 2 = 1 THEN sorted[CAST((ns + 1) // 2 AS BIGINT)]
      |       ELSE (sorted[CAST(ns // 2 AS BIGINT)]
      |         + sorted[CAST(ns // 2 + 1 AS BIGINT)]) / 2.0e0 END AS theil_slope
      |FROM st ORDER BY user_id""".stripMargin

  /** Classical additive seasonal decomposition of daily volume per
    * event type (the STL-lite a metrics dashboard runs): trend = the
    * 7-day CENTERED moving average (defined only where the window
    * spans exactly day−3…day+3 — row lags are calendar-checked, so
    * gaps never fake a window), seasonal = the per-weekday mean of the
    * detrended series, residual = the rest. Everything is INTEGER
    * until the final divisions: counts are ints, the MA numerator S is
    * a 7-int sum, the detrended value is carried as 7·cnt − S (exact
    * int — never the rounded double), and the seasonal mean is
    * Σ(7·cnt − S) / (7·n_days) — one division of two exact ints. So
    * trend/seasonal/resid are each a single correctly-rounded IEEE op
    * chain, bit-exact cross-engine with no ordered folds. Weekday is
    * (day+4) mod 7 (the ts_seasonal convention — no engine dow).
    * Scale: one keyed count, one keyed 7-row window, one 35-row
    * seasonal agg broadcast back.
    */
  def tsDecompose(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(s, dir)
      .withColumn("day", (col("ts_ms") / lit(86400000L)).cast("long"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val ma = daily
      .withColumn("s7",
        lag(col("cnt"), 3).over(w) + lag(col("cnt"), 2).over(w) +
          lag(col("cnt"), 1).over(w) + col("cnt") +
          lead(col("cnt"), 1).over(w) + lead(col("cnt"), 2).over(w) +
          lead(col("cnt"), 3).over(w))
      .withColumn("ok",
        lag(col("day"), 3).over(w) === col("day") - 3 &&
          lead(col("day"), 3).over(w) === col("day") + 3)
      .filter(col("ok") && col("s7").isNotNull)
      .withColumn("d7", lit(7L) * col("cnt") - col("s7"))
      .withColumn("dow", pmod(col("day") + 4, lit(7)))
    val seasonal = ma.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("d7")).as("s_num"), count(lit(1)).as("n_days"))
      .withColumn("seasonal",
        col("s_num").cast("double") / (lit(7L) * col("n_days")).cast("double"))
      .select(col("event_type"), col("dow"), col("seasonal"))
    ma.join(seasonal, Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("cnt"),
        (col("s7").cast("double") / lit(7.0)).as("trend"),
        col("seasonal"),
        (col("d7").cast("double") / lit(7.0) - col("seasonal")).as("resid"))
      .orderBy(col("event_type"), col("day"))
  }

  val tsDecomposeSql: String =
    """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |ma AS (SELECT event_type, day, cnt,
      |    lag(cnt, 3) OVER w + lag(cnt, 2) OVER w + lag(cnt, 1) OVER w + cnt
      |      + lead(cnt, 1) OVER w + lead(cnt, 2) OVER w + lead(cnt, 3) OVER w AS s7,
      |    lag(day, 3) OVER w = day - 3 AND lead(day, 3) OVER w = day + 3 AS ok
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |d AS (SELECT event_type, day, cnt, s7, 7 * cnt - s7 AS d7,
      |    (day + 4) % 7 AS dow
      |  FROM ma WHERE ok AND s7 IS NOT NULL),
      |se AS (SELECT event_type, dow,
      |    CAST(SUM(d7) AS DOUBLE) / CAST(7 * COUNT(*) AS DOUBLE) AS seasonal
      |  FROM d GROUP BY 1, 2)
      |SELECT d.event_type, day, cnt,
      |  CAST(s7 AS DOUBLE) / 7.0e0 AS trend, seasonal,
      |  CAST(d7 AS DOUBLE) / 7.0e0 - seasonal AS resid
      |FROM d JOIN se ON se.event_type = d.event_type AND se.dow = d.dow
      |ORDER BY d.event_type, day""".stripMargin

  /** Double exponential smoothing per user series (Brown 1963) — the
    * level+trend forecaster one notch up from [[tsEwma]]: two cascaded
    * EWMAs s1ₜ = (vₜ + s1ₜ₋₁)/2 and s2ₜ = (s1ₜ + s2ₜ₋₁)/2 (both
    * initialized to v₁), from which level = 2·s1 − s2 and trend =
    * s1 − s2 (α = 1/2 makes α/(1−α) = 1), forecast = level + trend.
    * Halving is EXACT in IEEE and each add rounds once, so the fold is
    * bit-identical cross-engine.
    *
    * The fold state is a 2-field struct, and the field ORDER is
    * load-bearing under DuckDB's sequential struct_pack evaluation (the
    * ts_cusum hazard). Brown's cascade is the rare coupled recurrence
    * that is safe under BOTH functional and sequential semantics: with
    * state (s2, s1), s2's update reads only OLD fields (itself plus the
    * LATER field s1, recomputing new-s1 = (v + s1)/2 inline from old
    * s1), and s1's update reads nothing but itself — the dependency
    * graph is acyclic, so no field ever reads an already-overwritten
    * slot. A textbook (l, b) Holt state has a 2-cycle (each field needs
    * both old slots) and CANNOT be ordered safely — the reason this
    * query ships Brown's formulation.
    *
    * Per-user arrays bound state (many-small-series shape); on an
    * unbounded stream the same two doubles of state per key run in
    * mapGroupsWithState.
    */
  def tsHolt(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).filter(col("value").isNotNull)
    val folded = ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("event_id"),
        col("value")))).as("arr"))
      .withColumn("vs", transform(col("arr"), x => x.getField("value")))
      .filter(size(col("vs")) >= 2)
      .withColumn("st", aggregate(
        slice(col("vs"), lit(2), size(col("vs")) - 1),
        struct(element_at(col("vs"), 1).as("s2"),
          element_at(col("vs"), 1).as("s1")),
        (acc, v) => struct(
          // new s2 = (new s1 + old s2)/2, with new s1 recomputed from
          // OLD s1 — identical expression tree both engines
          (((v + acc.getField("s1")) * lit(0.5)) + acc.getField("s2"))
            .*(lit(0.5)).as("s2"),
          ((v + acc.getField("s1")) * lit(0.5)).as("s1"))))
    folded.select(col("user_id"), size(col("vs")).as("n"),
      (col("st.s1") * 2.0 - col("st.s2")).as("level"),
      (col("st.s1") - col("st.s2")).as("trend"),
      ((col("st.s1") * 2.0 - col("st.s2"))
        + (col("st.s1") - col("st.s2"))).as("forecast"))
      .orderBy(col("user_id"))
  }

  val tsHoltSql: String =
    """WITH ar AS (SELECT user_id, list(value ORDER BY epoch_ms(ts), event_id) AS vs
      |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
      |f AS (SELECT user_id, len(vs) AS n,
      |    list_reduce(
      |      list_prepend(struct_pack(s2 := vs[1], s1 := vs[1]),
      |        list_transform(vs[2:], v -> struct_pack(s2 := v, s1 := v))),
      |      (acc, x) -> struct_pack(
      |        s2 := ((x.s2 + acc.s1) * 0.5e0 + acc.s2) * 0.5e0,
      |        s1 := (x.s1 + acc.s1) * 0.5e0)) AS st
      |  FROM ar WHERE len(vs) >= 2)
      |SELECT user_id, n,
      |  st.s1 * 2.0e0 - st.s2 AS level,
      |  st.s1 - st.s2 AS trend,
      |  (st.s1 * 2.0e0 - st.s2) + (st.s1 - st.s2) AS forecast
      |FROM f ORDER BY user_id""".stripMargin

  /** Additive Holt–Winters (triple exponential smoothing, weekly
    * season, α=0.3 β=0.1 γ=0.2) over each type's zero-filled DAILY
    * count series — the seasonal upgrade of [[tsHolt]] and the model
    * `ts_forecast`'s seasonal-naive baseline exists to be beaten by.
    *
    * Cross-engine determinism: the recurrence state is a 9-slot
    * DOUBLE LIST `[level, trend, s₀..s₆]` (seasonal indexed by
    * day-of-week), folded with Spark `aggregate` ≡ DuckDB
    * `list_reduce`. A list accumulator — NOT a struct — is the point:
    * DuckDB 1.0 evaluates struct_pack fields sequentially against a
    * MUTATING accumulator (the ts_cusum hazard), which no field order
    * can survive here (level′/trend′/s′ all read all three old
    * slots); a fresh list literal, measured here, folds functionally
    * ([acc[1]+v, acc[2]+acc[1]] over [1,2,3] → s=4, the old-value
    * trace). Every new slot references only `acc[...]` and the
    * element, with the level′ expression inlined token-identically
    * wherever trend′/s′ need it. Init: level = first-week mean
    * (left-assoc 7-term chain), trend 0, s_d = v_d − level. Smoothing
    * pairs (0.3,0.7), (0.1,0.9), (0.2,0.8) are paired source literals
    * (the sim_mmr lesson: never compute 1−α at plan build).
    *
    * Scale: one keyed daily aggregation, then per-type arrays — the
    * fold distributes over series (event types; any real deployment's
    * metric×entity key), day spine is calendar-bounded.
    */
  def tsHoltwinters(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
    val daily = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val rng = ev.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = rng.select(col("event_type"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val z = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).cast("double").as("v"))
    val base = z.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("v")))).as("arr"))
      .withColumn("n", size(col("arr")))
      .filter(col("n") >= 14)
      .withColumn("vs", transform(col("arr"), x => x.getField("v")))
      .withColumn("d0", element_at(col("arr"), 1).getField("day"))
      .withColumn("d1", element_at(col("arr"), col("n")).getField("day"))
      .withColumn("lv0",
        (element_at(col("vs"), 1) + element_at(col("vs"), 2) +
          element_at(col("vs"), 3) + element_at(col("vs"), 4) +
          element_at(col("vs"), 5) + element_at(col("vs"), 6) +
          element_at(col("vs"), 7)) / lit(7.0))
    val acc0 = array(
      (Seq(col("lv0"), lit(0.0)) ++ (0 to 6).map { d =>
        element_at(col("vs"),
          (pmod(lit(d.toLong) - col("d0"), lit(7L)) + 1L).cast("int")) - col("lv0")
      }): _*)
    val rest = slice(
      transform(col("arr"), x => struct(
        x.getField("v").as("v"),
        pmod(x.getField("day"), lit(7L)).cast("int").as("dw"))),
      lit(8), col("n") - 7)
    val step = (acc: Column, e: Column) => {
      val v = e.getField("v")
      val dw = e.getField("dw")
      val sOld = element_at(acc, dw + 3)
      def lvN = lit(0.3) * (v - sOld) +
        lit(0.7) * (element_at(acc, 1) + element_at(acc, 2))
      val trN = lit(0.1) * (lvN - element_at(acc, 1)) +
        lit(0.9) * element_at(acc, 2)
      array((Seq(lvN, trN) ++ (0 to 6).map { d =>
        when(dw === d, lit(0.2) * (v - lvN) + lit(0.8) * sOld)
          .otherwise(element_at(acc, d + 3))
      }): _*)
    }
    base.withColumn("st", aggregate(rest, acc0, step))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        element_at(col("st"), 1).as("level"),
        element_at(col("st"), 2).as("trend"),
        (element_at(col("st"), 1) + element_at(col("st"), 2) +
          element_at(col("st"),
            (pmod(col("d1") + 1L, lit(7L)) + 3L).cast("int"))).as("forecast"))
      .orderBy(col("event_type"))
  }

  val tsHoltwintersSql: String = {
    // lvN inlined wherever trend'/seasonal' need the new level — the
    // Spark side duplicates the identical expression tree
    val dwI = "CAST(x[2] AS INT)"
    val lvN = s"0.3e0 * (x[1] - acc[$dwI + 3]) + 0.7e0 * (acc[1] + acc[2])"
    val sSlots = (0 to 6).map { d =>
      s"vs[CAST((($d - d0) % 7 + 7) % 7 + 1 AS INT)] - lv0"
    }.mkString(",\n       |      ")
    val newSlots = (0 to 6).map { d =>
      s"""CASE WHEN $dwI = $d
         |        THEN 0.2e0 * (x[1] - ($lvN)) + 0.8e0 * acc[$dwI + 3]
         |        ELSE acc[${d + 3}] END""".stripMargin
    }.mkString(",\n       |      ")
    s"""WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
       |daily AS (SELECT event_type, day, COUNT(*) AS y FROM ev GROUP BY 1, 2),
       |rng AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM ev GROUP BY 1),
       |spine AS (SELECT event_type, d0 + i AS day
       |  FROM rng, UNNEST(range(d1 - d0 + 1)) AS u(i)),
       |z AS (SELECT s.event_type, s.day, CAST(COALESCE(y, 0) AS DOUBLE) AS v
       |  FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day),
       |ar AS (SELECT event_type,
       |    list(struct_pack(day := day, v := v) ORDER BY day) AS arr
       |  FROM z GROUP BY event_type),
       |base AS (SELECT event_type, arr, len(arr) AS n,
       |    list_transform(arr, x -> x.v) AS vs,
       |    arr[1].day AS d0, arr[len(arr)].day AS d1
       |  FROM ar WHERE len(arr) >= 14),
       |ini AS (SELECT *,
       |    (vs[1] + vs[2] + vs[3] + vs[4] + vs[5] + vs[6] + vs[7]) / 7.0e0 AS lv0
       |  FROM base),
       |st AS (SELECT event_type, n, d1,
       |    list_reduce(list_prepend(
       |      [lv0, 0.0e0,
       |      $sSlots]::DOUBLE[],
       |      list_transform(arr[8:],
       |        e -> [e.v, CAST(CAST(e.day % 7 AS INT) AS DOUBLE)]::DOUBLE[])),
       |      (acc, x) -> [$lvN,
       |      0.1e0 * (($lvN) - acc[1]) + 0.9e0 * acc[2],
       |      $newSlots]::DOUBLE[]) AS hw
       |  FROM ini)
       |SELECT event_type, CAST(n AS BIGINT) AS n_days,
       |  hw[1] AS level, hw[2] AS trend,
       |  hw[1] + hw[2] + hw[CAST((d1 + 1) % 7 AS INT) + 3] AS forecast
       |FROM st ORDER BY event_type""".stripMargin
  }

  /** Self-join matrix profile (Yeh et al. 2016, ICDM — the UCR matrix
    * profile) over each type's zero-filled daily count series:
    * for every length-7 subsequence, the z-normalized Euclidean
    * distance to its nearest non-trivial neighbor (exclusion zone
    * |i−j| ≤ 3 = m/2) plus that neighbor's index — the primitive
    * behind motif discovery and discord (anomaly) detection. Brute
    * O(n²m) per series with a deterministic argmin (strict <, so the
    * smallest j wins ties), exact cross-engine: z-windows are
    * precomputed ONCE per series as a list-of-lists (μ/σ folds
    * left-assoc, σ=0 windows normalize to 0 — documented), distances
    * are ordered squared-diff folds under one sqrt, and the min-fold
    * carries `[best_d, best_j]` as a 2-slot DOUBLE list (functional on
    * both engines). Scale: quadratic in SERIES LENGTH only,
    * distributed over series — the classic many-short-series shape
    * (ts_theilsen note applies); the corpus-scale work is one daily
    * keyed aggregation.
    */
  def tsMatrixProfile(s: SparkSession, dir: String): DataFrame = {
    val m = 7
    val ev = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
    val daily = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val rng = ev.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = rng.select(col("event_type"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val z = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).cast("double").as("v"))
    val base = z.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("v")))).as("arr"))
      .withColumn("vs", transform(col("arr"), x => x.getField("v")))
      .withColumn("n", size(col("vs")))
      .filter(col("n") >= 2 * m)
      .withColumn("ns", (col("n") - (m - 1)).cast("int"))
    def winMean(win: Column): Column =
      aggregate(win, lit(0.0), (a, v) => a + v) / lit(7.0)
    // cache barrier: without it CollapseProject re-inlines the whole
    // zs construction into EVERY element access of the O(ns²) distance
    // folds below (measured 166 s at sf0.1 for 5 rows; 0.5 s with the
    // barrier — the shingles/simhash lesson)
    val withZ = base.withColumn("zs",
      transform(sequence(lit(1), col("ns")), i => {
        val win = slice(col("vs"), i, lit(m))
        val mu = winMean(win)
        val sd = sqrt(aggregate(transform(win, x => (x - mu) * (x - mu)),
          lit(0.0), (a, v) => a + v) / lit(7.0))
        transform(win, x =>
          when(sd === 0.0, lit(0.0)).otherwise((x - mu) / sd))
      }))
      .select(col("event_type"), col("ns"), col("zs"))
      .cache()
    val mp = withZ.withColumn("mp",
      transform(sequence(lit(1), col("ns")), i =>
        aggregate(sequence(lit(1), col("ns")),
          array(lit(1e18), lit(-1.0)),
          (acc, j) => {
            val d = sqrt(aggregate(
              zip_with(element_at(col("zs"), i), element_at(col("zs"), j),
                (a, b) => (a - b) * (a - b)),
              lit(0.0), (x, v) => x + v))
            when(abs(i - j) > m / 2 && d < element_at(acc, 1),
              array(d, j.cast("double"))).otherwise(acc)
          })))
      .select(col("event_type"), posexplode(col("mp")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("sub_idx"),
        when(element_at(col("col"), 2) < 0.0, lit(null).cast("long"))
          .otherwise(element_at(col("col"), 2).cast("long")).as("nn_idx"),
        when(element_at(col("col"), 2) < 0.0, lit(null).cast("double"))
          .otherwise(element_at(col("col"), 1)).as("nn_dist"))
    mp.orderBy(col("event_type"), col("sub_idx"))
  }

  val tsMatrixProfileSql: String =
    """WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
      |daily AS (SELECT event_type, day, COUNT(*) AS y FROM ev GROUP BY 1, 2),
      |rng AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM ev GROUP BY 1),
      |spine AS (SELECT event_type, d0 + i AS day
      |  FROM rng, UNNEST(range(d1 - d0 + 1)) AS u(i)),
      |z AS (SELECT s.event_type, s.day, CAST(COALESCE(y, 0) AS DOUBLE) AS v
      |  FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day),
      |ar AS (SELECT event_type, list(v ORDER BY day) AS vs FROM z GROUP BY event_type),
      |base AS (SELECT event_type, vs, len(vs) AS n,
      |    CAST(len(vs) - 6 AS INT) AS ns
      |  FROM ar WHERE len(vs) >= 14),
      |zw AS (SELECT event_type, ns, list_transform(range(1, ns + 1), i ->
      |    list_transform(vs[i:i+6], x ->
      |      CASE WHEN sqrt(list_reduce(list_prepend(0.0e0,
      |            list_transform(vs[i:i+6], y -> (y - list_reduce(list_prepend(0.0e0, vs[i:i+6]), (a, v) -> a + v) / 7.0e0)
      |              * (y - list_reduce(list_prepend(0.0e0, vs[i:i+6]), (a, v) -> a + v) / 7.0e0))),
      |          (a, v) -> a + v) / 7.0e0) = 0.0e0 THEN 0.0e0
      |        ELSE (x - list_reduce(list_prepend(0.0e0, vs[i:i+6]), (a, v) -> a + v) / 7.0e0)
      |          / sqrt(list_reduce(list_prepend(0.0e0,
      |            list_transform(vs[i:i+6], y -> (y - list_reduce(list_prepend(0.0e0, vs[i:i+6]), (a, v) -> a + v) / 7.0e0)
      |              * (y - list_reduce(list_prepend(0.0e0, vs[i:i+6]), (a, v) -> a + v) / 7.0e0))),
      |          (a, v) -> a + v) / 7.0e0) END)) AS zs
      |  FROM base),
      |mp AS (SELECT event_type, ns, zs, list_transform(range(1, ns + 1), i ->
      |    list_reduce(list_prepend([1.0e18, -1.0e0]::DOUBLE[],
      |        list_transform(range(1, ns + 1), j -> [CAST(j AS DOUBLE), 0.0e0]::DOUBLE[])),
      |      (acc, x) -> CASE WHEN abs(i - CAST(x[1] AS BIGINT)) > 3
      |          AND sqrt(list_reduce(list_prepend(0.0e0,
      |              list_transform(range(1, 7 + 1), k ->
      |                (zs[i][k] - zs[CAST(x[1] AS INT)][k]) * (zs[i][k] - zs[CAST(x[1] AS INT)][k]))),
      |            (a, v) -> a + v)) < acc[1]
      |        THEN [sqrt(list_reduce(list_prepend(0.0e0,
      |              list_transform(range(1, 7 + 1), k ->
      |                (zs[i][k] - zs[CAST(x[1] AS INT)][k]) * (zs[i][k] - zs[CAST(x[1] AS INT)][k]))),
      |            (a, v) -> a + v)), x[1]]::DOUBLE[]
      |        ELSE acc END)) AS mps
      |  FROM zw),
      |ex AS (SELECT event_type, CAST(u.i AS BIGINT) AS sub_idx,
      |    mps[CAST(u.i AS INT)] AS best
      |  FROM mp, UNNEST(range(1, ns + 1)) AS u(i))
      |SELECT event_type, sub_idx,
      |  CASE WHEN best[2] < 0.0e0 THEN NULL ELSE CAST(best[2] AS BIGINT) END AS nn_idx,
      |  CASE WHEN best[2] < 0.0e0 THEN NULL ELSE best[1] END AS nn_dist
      |FROM ex ORDER BY event_type, sub_idx""".stripMargin

  /** SAX symbolization (Lin et al. 2003): each type's daily count
    * series z-normalized, PAA-compressed into length-5 segments, and
    * quantized to a 4-letter alphabet at the standard-normal
    * quartile breakpoints ±0.6745 (source literals, parse-identical
    * both engines; boundary convention: strict `<`, so 0 → 'c') — the
    * indexable symbolic form behind SAX motif/discord mining, the
    * discrete sibling of [[tsMatrixProfile]]. σ=0 series normalize to
    * 0 (all-'c' word). Scale: one keyed daily aggregation, then a
    * per-series linear scan.
    */
  def tsSax(s: SparkSession, dir: String): DataFrame = {
    val L = 5
    val ev = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
    val daily = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val rng = ev.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = rng.select(col("event_type"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val z = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).cast("double").as("v"))
    z.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("v")))).as("arr"))
      .withColumn("vs", transform(col("arr"), x => x.getField("v")))
      .withColumn("n", size(col("vs")))
      .filter(col("n") >= L)
      .withColumn("mu",
        aggregate(col("vs"), lit(0.0), (a, v) => a + v) / col("n").cast("double"))
      .withColumn("sd", sqrt(
        aggregate(transform(col("vs"), x => (x - col("mu")) * (x - col("mu"))),
          lit(0.0), (a, v) => a + v) / col("n").cast("double")))
      .withColumn("word", array_join(
        transform(sequence(lit(1L), (col("n") / L).cast("long")), k => {
          val seg = slice(col("vs"), ((k - 1L) * L + 1L).cast("int"), lit(L))
          val paa = aggregate(seg,
            lit(0.0), (a, x) => a +
              when(col("sd") === 0.0, lit(0.0))
                .otherwise((x - col("mu")) / col("sd"))) / lit(5.0)
          when(paa < -0.6745, "a").when(paa < 0.0, "b")
            .when(paa < 0.6745, "c").otherwise("d")
        }), ""))
      .select(col("event_type"), col("n").cast("long").as("n_days"), col("word"))
      .orderBy(col("event_type"))
  }

  val tsSaxSql: String = {
    val zv = "CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (x - mu) / sd END"
    s"""WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
       |daily AS (SELECT event_type, day, COUNT(*) AS y FROM ev GROUP BY 1, 2),
       |rng AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM ev GROUP BY 1),
       |spine AS (SELECT event_type, d0 + i AS day
       |  FROM rng, UNNEST(range(d1 - d0 + 1)) AS u(i)),
       |z AS (SELECT s.event_type, s.day, CAST(COALESCE(y, 0) AS DOUBLE) AS v
       |  FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day),
       |ar AS (SELECT event_type, list(v ORDER BY day) AS vs FROM z GROUP BY event_type),
       |b1 AS (SELECT event_type, vs, len(vs) AS n FROM ar WHERE len(vs) >= 5),
       |b2 AS (SELECT *, list_reduce(list_prepend(0.0e0, vs), (a, v) -> a + v)
       |      / CAST(n AS DOUBLE) AS mu FROM b1),
       |b3 AS (SELECT *, sqrt(list_reduce(list_prepend(0.0e0,
       |      list_transform(vs, x -> (x - mu) * (x - mu))), (a, v) -> a + v)
       |      / CAST(n AS DOUBLE)) AS sd FROM b2),
       |w AS (SELECT event_type, n, array_to_string(
       |    list_transform(range(1, (n // 5) + 1), k ->
       |      CASE WHEN (list_reduce(list_prepend(0.0e0,
       |            list_transform(list_slice(vs, (k - 1) * 5 + 1, (k - 1) * 5 + 5),
       |              x -> $zv)), (a, v) -> a + v) / 5.0e0) < -0.6745
       |        THEN 'a'
       |        WHEN (list_reduce(list_prepend(0.0e0,
       |            list_transform(list_slice(vs, (k - 1) * 5 + 1, (k - 1) * 5 + 5),
       |              x -> $zv)), (a, v) -> a + v) / 5.0e0) < 0.0e0
       |        THEN 'b'
       |        WHEN (list_reduce(list_prepend(0.0e0,
       |            list_transform(list_slice(vs, (k - 1) * 5 + 1, (k - 1) * 5 + 5),
       |              x -> $zv)), (a, v) -> a + v) / 5.0e0) < 0.6745
       |        THEN 'c' ELSE 'd' END), '') AS word
       |  FROM b3)
       |SELECT event_type, CAST(n AS BIGINT) AS n_days, word
       |FROM w ORDER BY event_type""".stripMargin
  }

  /** Optimal-partitioning changepoint DP (Jackson et al. 2005; the
    * exact objective PELT prunes): per type's daily count series,
    * F(t) = min over split s of F(s) + SSE(s,t) + β with
    * β = SSE(0,n)/8 (data-derived penalty — no transcendental BIC
    * term crosses engines). Emits the FULL DP table (F and the argmin
    * backpointer per t, first-smallest on ties) — the certified
    * object from which the changepoint set is a trivial backward
    * walk, done in the spec against a brute-force DP. Exactness:
    * prefix sums of counts and squared counts are integer-valued
    * doubles, SSE one fixed chain, the two folds (prefix build,
    * nested min-DP) left-assoc on both engines. Scale: quadratic in
    * SERIES LENGTH only (calendar-bounded), distributed over series.
    */
  def tsChangepoints(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
    val daily = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val rng = ev.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = rng.select(col("event_type"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val z = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).cast("double").as("v"))
    def prefix(src: Column): Column =
      aggregate(src, array(lit(0.0), lit(0.0)), (acc, x) =>
        concat(array(element_at(acc, 1) + x),
          slice(acc, lit(2), size(acc) - 1),
          array(element_at(acc, 1) + x)))
    val base = z.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("v")))).as("arr"))
      .withColumn("vs", transform(col("arr"), x => x.getField("v")))
      .withColumn("n", size(col("vs")))
      .filter(col("n") >= 8)
      .withColumn("pxa", prefix(col("vs")))
      .withColumn("px", slice(col("pxa"), lit(2), size(col("pxa")) - 1))
      .withColumn("px2a", prefix(transform(col("vs"), x => x * x)))
      .withColumn("px2", slice(col("px2a"), lit(2), size(col("px2a")) - 1))
    // SSE(s,t) over px/px2 (p_k at list position k+1, p_0 = 0)
    def sse(sI: Column, tI: Column): Column =
      (element_at(col("px2"), (tI + 1L).cast("int")) -
        element_at(col("px2"), (sI + 1L).cast("int"))) -
        (element_at(col("px"), (tI + 1L).cast("int")) -
          element_at(col("px"), (sI + 1L).cast("int"))) *
        (element_at(col("px"), (tI + 1L).cast("int")) -
          element_at(col("px"), (sI + 1L).cast("int"))) /
        (tI - sI).cast("double")
    val withBeta = base.withColumn("beta",
      sse(lit(0L), col("n").cast("long")) / lit(8.0))
    val dp = withBeta.withColumn("dp",
      aggregate(sequence(lit(1L), col("n").cast("long")),
        array(lit(0.0), lit(0.0)),
        (acc, t) => concat(acc,
          aggregate(sequence(lit(0L), t - 1L), array(lit(1e18), lit(-1.0)),
            (best, sI) => {
              val v = element_at(acc, (lit(2L) * sI + 1L).cast("int")) +
                sse(sI, t) + col("beta")
              when(v < element_at(best, 1), array(v, sI.cast("double")))
                .otherwise(best)
            }))))
    dp.select(col("event_type"), col("n").cast("long").as("nd"), col("dp"))
      .select(col("event_type"),
        explode(transform(sequence(lit(1L), col("nd")), t => struct(
          t.as("t"),
          element_at(col("dp"), (lit(2L) * t + 1L).cast("int")).as("f"),
          element_at(col("dp"), (lit(2L) * t + 2L).cast("int")).as("bp")))).as("u"))
      .select(col("event_type"), col("u.t").as("t"), col("u.f").as("f"),
        col("u.bp").cast("long").as("bp"))
      .orderBy(col("event_type"), col("t"))
  }

  /** Oracle note (DuckDB 1.0 hazard, measured): a list_reduce NESTED
    * inside a growing-accumulator list_reduce silently corrupts once
    * the outer accumulator passes ~26 elements (denormal garbage in
    * the appended slots) — minimal repros pass, the real column-
    * capturing DP broke. The argmin therefore uses
    * list_transform → list_aggregate('min') → list_position (first
    * occurrence = the smallest s, identical to Spark's strict-< fold).
    */
  val tsChangepointsSql: String = {
    def sseS(sI: String, tI: String): String =
      s"(px2[CAST($tI + 1 AS INT)] - px2[CAST($sI + 1 AS INT)]) - " +
        s"(px[CAST($tI + 1 AS INT)] - px[CAST($sI + 1 AS INT)]) * " +
        s"(px[CAST($tI + 1 AS INT)] - px[CAST($sI + 1 AS INT)]) / " +
        s"CAST($tI - $sI AS DOUBLE)"
    val candVals = "list_transform(range(0, CAST(te[1] AS BIGINT)), " +
      "si -> acc[CAST(2 * CAST(si AS DOUBLE) + 1 AS INT)] + " +
      s"(${sseS("CAST(si AS DOUBLE)", "te[1]")}) + beta)"
    s"""WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
       |daily AS (SELECT event_type, day, COUNT(*) AS y FROM ev GROUP BY 1, 2),
       |rng AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM ev GROUP BY 1),
       |spine AS (SELECT event_type, d0 + i AS day
       |  FROM rng, UNNEST(range(d1 - d0 + 1)) AS u(i)),
       |z AS (SELECT s.event_type, s.day, CAST(COALESCE(y, 0) AS DOUBLE) AS v
       |  FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day),
       |ar AS (SELECT event_type, list(v ORDER BY day) AS vs FROM z GROUP BY event_type),
       |b1 AS (SELECT event_type, vs, len(vs) AS n FROM ar WHERE len(vs) >= 8),
       |b2 AS (SELECT *,
       |    list_reduce(list_prepend([0.0e0, 0.0e0]::DOUBLE[],
       |        list_transform(vs, x -> [x]::DOUBLE[])),
       |      (acc, e) -> [acc[1] + e[1]] || acc[2:] || [acc[1] + e[1]]) AS pxa,
       |    list_reduce(list_prepend([0.0e0, 0.0e0]::DOUBLE[],
       |        list_transform(list_transform(vs, x -> x * x), x -> [x]::DOUBLE[])),
       |      (acc, e) -> [acc[1] + e[1]] || acc[2:] || [acc[1] + e[1]]) AS px2a
       |  FROM b1),
       |b3 AS (SELECT event_type, vs, n, pxa[2:] AS px, px2a[2:] AS px2 FROM b2),
       |b4 AS (SELECT *, (${sseS("0", "n")}) / 8.0e0 AS beta FROM b3),
       |dp AS (SELECT event_type, n,
       |    list_reduce(list_prepend([0.0e0, 0.0e0]::DOUBLE[],
       |        list_transform(range(1, n + 1), t -> [CAST(t AS DOUBLE)]::DOUBLE[])),
       |      (acc, te) -> acc || [list_aggregate($candVals, 'min'),
       |        CAST(list_position($candVals,
       |          list_aggregate($candVals, 'min')) - 1 AS DOUBLE)]::DOUBLE[]) AS dp
       |  FROM b4)
       |SELECT event_type, CAST(u.t AS BIGINT) AS t,
       |  dp[CAST(2 * u.t + 1 AS INT)] AS f,
       |  CAST(dp[CAST(2 * u.t + 2 AS INT)] AS BIGINT) AS bp
       |FROM dp, UNNEST(range(1, n + 1)) AS u(t)
       |ORDER BY event_type, t""".stripMargin
  }

  /** Seasonal-naive forecast with an in-query backtest: forecast(d) =
    * y(d−7) on the per-type DAILY count series; the evaluation join is
    * the series against itself shifted one season — one keyed
    * equi-join at any scale. Error metrics stay exact: MAE and WAPE
    * are single divisions of integer sums (never a float-per-row sum),
    * and forecast_next is a SELECTED count (y at last_day−6, i.e. the
    * seasonal-naive prediction for the day after the series ends).
    * The baseline every forecasting pipeline must beat — worth having
    * as the exact yardstick next to ts_holt/ts_decompose.
    */
  def tsForecast(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val shifted = daily.select(col("event_type"), (col("day") + 7).as("day"),
      col("y").as("f"))
    val err = daily.join(shifted, Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("y") - col("f"))).as("sae"),
        sum(col("y")).as("sy"))
    val last = daily.groupBy(col("event_type")).agg(max(col("day")).as("last_day"))
    val nextDay = daily.select(col("event_type").as("et"), col("day").as("d"),
      col("y").as("forecast_next"))
    last.join(err, Seq("event_type"), "left")
      .join(nextDay, last("event_type") === nextDay("et") &&
        nextDay("d") === last("last_day") - 6, "left")
      .select(col("event_type"),
        coalesce(col("n_eval"), lit(0L)).as("n_eval"),
        when(col("n_eval") > 0,
          col("sae").cast("double") / col("n_eval").cast("double")).as("mae"),
        when(col("sy") > 0,
          col("sae").cast("double") / col("sy").cast("double")).as("wape"),
        col("forecast_next"))
      .orderBy(col("event_type"))
  }

  val tsForecastSql: String =
    """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    COUNT(*) AS y FROM events GROUP BY 1, 2),
      |j AS (SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
      |    CAST(SUM(abs(a.y - b.y)) AS BIGINT) AS sae,
      |    CAST(SUM(a.y) AS BIGINT) AS sy
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.day = a.day - 7
      |  GROUP BY 1),
      |lastd AS (SELECT event_type, CAST(MAX(day) AS BIGINT) AS last_day
      |  FROM daily GROUP BY 1)
      |SELECT l.event_type, COALESCE(j.n_eval, 0) AS n_eval,
      |  CASE WHEN j.n_eval > 0
      |    THEN CAST(j.sae AS DOUBLE) / CAST(j.n_eval AS DOUBLE) END AS mae,
      |  CASE WHEN j.sy > 0
      |    THEN CAST(j.sae AS DOUBLE) / CAST(j.sy AS DOUBLE) END AS wape,
      |  n.y AS forecast_next
      |FROM lastd l LEFT JOIN j USING (event_type)
      |LEFT JOIN daily n ON n.event_type = l.event_type AND n.day = l.last_day - 6
      |ORDER BY l.event_type""".stripMargin

  /** EXACT rolling 7-day distinct users per type (DAU/WAU): sliding
    * COUNT(DISTINCT) is the classic can't-window aggregate (distinct
    * doesn't decompose over frames), so each active (type, user, day)
    * is expanded to the ≤7 window-end days it can serve and de-duped —
    * a BOUNDED ×7 fan-out of the (already distinct) activity table,
    * then one keyed count. Three keyed shuffles, no window over users,
    * exact at any scale — where the approximate alternative is the
    * HLL-merge family ([[graft.queries.Relational.sketchHllMerge]]).
    * Reported only for observed (type, day) pairs.
    */
  def tsWau(s: SparkSession, dir: String): DataFrame = {
    val du = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"),
        col("user_id"))
      .distinct()
    val dau = du.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = du
      .withColumn("wday", explode(sequence(col("day"), col("day") + 6)))
      .select(col("event_type"), col("user_id"), col("wday").as("day"))
      .distinct()
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("event_type", "day")) // observed days only
      .select(col("event_type"), col("day"), col("dau"), col("wau"))
      .orderBy(col("event_type"), col("day"))
  }

  val tsWauSql: String =
    """WITH du AS (SELECT DISTINCT event_type, epoch_ms(ts) // 86400000 AS day,
      |    user_id FROM events),
      |dau AS (SELECT event_type, day, COUNT(*) AS dau FROM du GROUP BY 1, 2),
      |ex AS (SELECT DISTINCT event_type, user_id, day + g AS day
      |  FROM du, (SELECT unnest(range(7)) AS g)),
      |wau AS (SELECT event_type, day, COUNT(*) AS wau FROM ex GROUP BY 1, 2)
      |SELECT event_type, day, dau, wau
      |FROM dau JOIN wau USING (event_type, day)
      |ORDER BY event_type, day""".stripMargin

  /** Forecast model selection by backtest: PERSISTENCE (f = y(d−1))
    * vs SEASONAL-NAIVE (f = y(d−7)) on the shared evaluation window
    * (days where BOTH forecasts exist), per type — the honest
    * comparison needs one window, not each model's own. WAPE per
    * model is one division of integer sums; the winner is a string
    * CASE on exact integers (cross-multiplied — never compare two
    * rounded ratios). Two shifted self-joins, all keyed.
    */
  def tsBacktest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val s1 = daily.select(col("event_type"), (col("day") + 1).as("day"),
      col("y").as("f1"))
    val s7 = daily.select(col("event_type"), (col("day") + 7).as("day"),
      col("y").as("f7"))
    daily.join(s1, Seq("event_type", "day"))
      .join(s7, Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("y") - col("f1"))).as("sae1"),
        sum(abs(col("y") - col("f7"))).as("sae7"),
        sum(col("y")).as("sy"))
      .select(col("event_type"), col("n_eval"),
        when(col("sy") > 0,
          col("sae1").cast("double") / col("sy").cast("double")).as("wape_persist"),
        when(col("sy") > 0,
          col("sae7").cast("double") / col("sy").cast("double")).as("wape_seasonal"),
        // winner on exact integers: sae1/sy vs sae7/sy ⇔ sae1 vs sae7
        when(col("sae7") < col("sae1"), "seasonal")
          .when(col("sae1") < col("sae7"), "persistence")
          .otherwise("tie").as("winner"))
      .orderBy(col("event_type"))
  }

  val tsBacktestSql: String =
    """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    COUNT(*) AS y FROM events GROUP BY 1, 2),
      |j AS (SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
      |    CAST(SUM(abs(d.y - p.y)) AS BIGINT) AS sae1,
      |    CAST(SUM(abs(d.y - w.y)) AS BIGINT) AS sae7,
      |    CAST(SUM(d.y) AS BIGINT) AS sy
      |  FROM daily d
      |  JOIN daily p ON p.event_type = d.event_type AND p.day = d.day - 1
      |  JOIN daily w ON w.event_type = d.event_type AND w.day = d.day - 7
      |  GROUP BY 1)
      |SELECT event_type, n_eval,
      |  CASE WHEN sy > 0 THEN CAST(sae1 AS DOUBLE) / CAST(sy AS DOUBLE) END AS wape_persist,
      |  CASE WHEN sy > 0 THEN CAST(sae7 AS DOUBLE) / CAST(sy AS DOUBLE) END AS wape_seasonal,
      |  CASE WHEN sae7 < sae1 THEN 'seasonal'
      |       WHEN sae1 < sae7 THEN 'persistence' ELSE 'tie' END AS winner
      |FROM j ORDER BY event_type""".stripMargin

  /** Position-based (U-shaped 40/20/40) multi-touch attribution — the
    * model beside [[tsAttribution]]'s last-touch: each purchase's path
    * is the stopword-free run of preceding non-purchase touches since
    * the prior purchase (gaps-and-islands on a running purchase count);
    * first and last touch get 0.4, the middle splits 0.2 evenly
    * (single-touch 1.0, two-touch 0.5/0.5). Channel credit is
    * decomposed into exact INTEGER counts per (class, path-length) so
    * the only doubles are three literal products plus a path-length-
    * ordered fold of cnt·(0.2/(n−2)) — deterministic at any scale.
    * One keyed window pass + two keyed aggregations.
    */
  def attributionPosition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val marked = ev
      .withColumn("is_p", (col("event_type") === "purchase").cast("long"))
      .withColumn("cum_p", sum(col("is_p")).over(w))
    val tot = marked.groupBy(col("user_id")).agg(sum(col("is_p")).as("tot_p"))
    val touches = marked.filter(col("is_p") === 0L)
      .join(tot, "user_id")
      .filter(col("cum_p") < col("tot_p"))
    val pw = Window.partitionBy(col("user_id"), col("cum_p"))
      .orderBy(col("ts_ms"), col("event_id"))
    val pos = touches
      .withColumn("pos", row_number().over(pw).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("user_id"), col("cum_p"))))
    val classed = pos.select(col("event_type").as("channel"), col("n"),
      when(col("n") === 1L, lit("single"))
        .when(col("pos") === 1L, lit("first"))
        .when(col("pos") === col("n"), lit("last"))
        .otherwise(lit("middle")).as("cls"))
    val cnts = classed.groupBy(col("channel"), col("cls"), col("n"))
      .agg(count(lit(1)).as("c"))
    val base = cnts.groupBy(col("channel")).agg(
      sum(col("c")).as("n_touches"),
      sum(when(col("cls") === "single", col("c")).otherwise(0L)).as("n_single"),
      sum(when(col("cls").isin("first", "last") && col("n") === 2L, col("c"))
        .otherwise(0L)).as("n_half"),
      sum(when(col("cls").isin("first", "last") && col("n") >= 3L, col("c"))
        .otherwise(0L)).as("n_edge"))
    val mids = cnts.filter(col("cls") === "middle")
      .groupBy(col("channel"))
      .agg(sort_array(collect_list(struct(col("n"), col("c")))).as("ms"))
      .select(col("channel"), aggregate(
        transform(col("ms"), x =>
          x.getField("c").cast("double") *
            (lit(0.2) / (x.getField("n").cast("double") - lit(2.0)))),
        lit(0.0), (a, b) => a + b).as("mid_credit"))
    base.join(mids, Seq("channel"), "left")
      .select(col("channel"), col("n_touches"), col("n_single"),
        col("n_half"), col("n_edge"),
        (col("n_single").cast("double") * lit(1.0) +
          col("n_half").cast("double") * lit(0.5) +
          col("n_edge").cast("double") * lit(0.4) +
          coalesce(col("mid_credit"), lit(0.0))).as("credit"))
      .orderBy(col("channel"))
  }

  val attributionPositionSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p FROM events),
      |mk AS (SELECT *, CAST(SUM(is_p) OVER (PARTITION BY user_id
      |    ORDER BY ts_ms, event_id) AS BIGINT) AS cum_p FROM ev),
      |tot AS (SELECT user_id, CAST(SUM(is_p) AS BIGINT) AS tot_p FROM ev GROUP BY user_id),
      |tch AS (SELECT mk.* FROM mk JOIN tot USING (user_id)
      |  WHERE mk.is_p = 0 AND mk.cum_p < tot.tot_p),
      |pos AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id, cum_p
      |      ORDER BY ts_ms, event_id) AS BIGINT) AS pos,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id, cum_p) AS BIGINT) AS n FROM tch),
      |cl AS (SELECT event_type AS channel, n,
      |    CASE WHEN n = 1 THEN 'single' WHEN pos = 1 THEN 'first'
      |      WHEN pos = n THEN 'last' ELSE 'middle' END AS cls FROM pos),
      |cnts AS (SELECT channel, cls, n, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM cl GROUP BY channel, cls, n),
      |base AS (SELECT channel, CAST(SUM(c) AS BIGINT) AS n_touches,
      |    CAST(SUM(CASE WHEN cls = 'single' THEN c ELSE 0 END) AS BIGINT) AS n_single,
      |    CAST(SUM(CASE WHEN cls IN ('first', 'last') AND n = 2 THEN c ELSE 0 END) AS BIGINT) AS n_half,
      |    CAST(SUM(CASE WHEN cls IN ('first', 'last') AND n >= 3 THEN c ELSE 0 END) AS BIGINT) AS n_edge
      |  FROM cnts GROUP BY channel),
      |mids AS (SELECT channel,
      |    CAST(list_reduce(list_prepend(0.0e0,
      |      list_transform(list(struct_pack(n := n, c := c) ORDER BY n),
      |        x -> CAST(x.c AS DOUBLE) * (0.2e0 / (CAST(x.n AS DOUBLE) - 2.0e0)))),
      |      (a, b) -> a + b) AS DOUBLE) AS mid_credit
      |  FROM cnts WHERE cls = 'middle' GROUP BY channel)
      |SELECT b.channel AS channel, n_touches, n_single, n_half, n_edge,
      |  CAST(n_single AS DOUBLE) * 1.0e0 + CAST(n_half AS DOUBLE) * 0.5e0
      |    + CAST(n_edge AS DOUBLE) * 0.4e0 + COALESCE(mid_credit, 0.0e0) AS credit
      |FROM base b LEFT JOIN mids m ON m.channel = b.channel
      |ORDER BY channel""".stripMargin

  /** Lead–lag cross-correlation: Pearson r between the daily click
    * series and the purchase series shifted 0..7 days — does activity
    * lead conversion, and by how much? Both series live on a complete
    * day spine (missing days are real zeros, not absent rows — the
    * difference matters for correlation), counts are exact integers,
    * and each lag's r is the [[Relational.statsCorr]] DECIMAL-moment /
    * fixed-IEEE chain. The 8 lags fan out via a broadcast literal; one
    * keyed join + one keyed aggregation per plan, never a self-join
    * per lag.
    */
  def tsXcorr(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("day", (col("ts_ms") / lit(86400000L)).cast("long"))
    val x0 = ev.filter(col("event_type") === "click")
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val y0 = ev.filter(col("event_type") === "purchase")
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val spine = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val s2 = spine.join(x0, Seq("day"), "left").join(y0, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val lags = s.range(1)
      .select(explode(array((0 to 7).map(i => lit(i.toLong)): _*)).as("lag"))
    def dsum(c: org.apache.spark.sql.Column, out: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(out)
    s2.select(col("day"), col("x")).crossJoin(broadcast(lags))
      .withColumn("yday", col("day") + col("lag"))
      .join(s2.select(col("day").as("yday"), col("y")), "yday")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"), count(lit(1)).cast("double").as("n"),
        dsum(col("x"), "sx"), dsum(col("y"), "sy"),
        dsum(col("x") * col("y"), "sxy"),
        dsum(col("x") * col("x"), "sxx"), dsum(col("y") * col("y"), "syy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("lag"), col("n_days"),
        when(col("vx") =!= 0.0 && col("vy") =!= 0.0,
          col("num") / (sqrt(col("vx")) * sqrt(col("vy")))).as("r"))
      .orderBy(col("lag"))
  }

  val tsXcorrSql: String =
    """WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
      |rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
      |spine AS (SELECT d0 + i AS day FROM rng, UNNEST(range(d1 - d0 + 1)) AS u(i)),
      |x0 AS (SELECT day, COUNT(*) AS x FROM ev WHERE event_type = 'click' GROUP BY day),
      |y0 AS (SELECT day, COUNT(*) AS y FROM ev WHERE event_type = 'purchase' GROUP BY day),
      |s2 AS (SELECT day, CAST(COALESCE(x, 0) AS BIGINT) AS x,
      |    CAST(COALESCE(y, 0) AS BIGINT) AS y
      |  FROM spine LEFT JOIN x0 USING (day) LEFT JOIN y0 USING (day)),
      |lags AS (SELECT CAST(unnest(range(8)) AS BIGINT) AS lag),
      |pr AS (SELECT lag, a.x, b.y FROM s2 a CROSS JOIN lags
      |  JOIN s2 b ON b.day = a.day + lag),
      |m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM pr GROUP BY lag),
      |d AS (SELECT *, (n * sxy - sx * sy) AS num,
      |    (n * sxx - sx * sx) AS vx, (n * syy - sy * sy) AS vy FROM m)
      |SELECT lag, n_days,
      |  CASE WHEN vx <> 0 AND vy <> 0 THEN num / (sqrt(vx) * sqrt(vy)) END AS r
      |FROM d ORDER BY lag""".stripMargin

  /** Dynamic-time-warping distance (Sakoe & Chiba 1978) between every
    * unordered pair of event-type daily-count series, zero-filled on
    * the shared day spine. The classic elastic-alignment measure for
    * "do these two activity curves have the same shape, allowing
    * local time shifts" — ts_xcorr's fixed-lag complement.
    *
    * Determinism: counts are integers, the |a−b| cell cost, min, and
    * running sums all stay in BIGINT — the whole DP is exact integer
    * arithmetic, no IEEE chain at all. The unreachable-cell sentinel
    * (10^15) can accrete at most (n+m)·maxcost ≪ 2^63 before a finite
    * path dominates, so no overflow.
    *
    * Scale: the distributed axis is series PAIRS (alphabet²/2, never
    * corpus-sized); each pair's O(L²) fold runs inside one row with
    * L bounded by the observation span in days. Series build = one
    * keyed count + a broadcast type×spine grid; no global sort.
    */
  def tsDtw(s: SparkSession, dir: String): DataFrame = {
    val Inf = 1000000000000000L
    val ev = events(s, dir)
      .withColumn("day", (col("ts_ms") / lit(86400000L)).cast("long"))
    val cnts = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x"))
    val spine = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val types = ev.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(spine))
      .join(cnts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("x"), lit(0L)).as("x"))
    val ser = grid.groupBy(col("event_type"))
      .agg(transform(sort_array(collect_list(struct(col("day"), col("x")))),
        e => e.getField("x")).as("v"))
    val pairs = ser.select(col("event_type").as("type_a"), col("v").as("va"))
      .join(ser.select(col("event_type").as("type_b"), col("v").as("vb")),
        col("type_a") < col("type_b"))
    pairs
      .withColumn("row0",
        concat(array(lit(0L)), transform(col("vb"), _ => lit(Inf))))
      .withColumn("last_row", aggregate(col("va"), col("row0"),
        // the DP row accumulators are BARE arrays (j = current length):
        // DuckDB 1.0's mutating fold drops list growth nested inside a
        // struct field, and the bare form needs no index slot anyway
        (prev, a) => aggregate(col("vb"), array(lit(Inf)),
          (cur, b) => {
            val j = size(cur)
            concat(cur, array(abs(a - b) + least(element_at(prev, j + 1),
              element_at(prev, j), element_at(cur, j))))
          })))
      .select(col("type_a"), col("type_b"), size(col("va")).as("n_days"),
        element_at(col("last_row"), size(col("vb")) + 1).as("dtw"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val tsDtwSql: String =
    """WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
      |rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
      |spine AS (SELECT d0 + i AS day FROM rng, UNNEST(range(d1 - d0 + 1)) AS u(i)),
      |cnts AS (SELECT event_type, day, COUNT(*) AS x FROM ev GROUP BY 1, 2),
      |grid AS (SELECT t.event_type, s.day, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      |  FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN spine s
      |  LEFT JOIN cnts c ON c.event_type = t.event_type AND c.day = s.day),
      |ser AS (SELECT event_type,
      |    list_transform(list(struct_pack(day := day, x := x) ORDER BY day),
      |      e -> e.x) AS v
      |  FROM grid GROUP BY 1),
      |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.v AS va, b.v AS vb FROM ser a JOIN ser b ON a.event_type < b.event_type),
      |dp AS (SELECT type_a, type_b, va, vb,
      |  list_reduce(list_prepend(
      |      list_concat([CAST(0 AS BIGINT)],
      |        list_transform(vb, y -> CAST(1000000000000000 AS BIGINT))),
      |      list_transform(va, e -> [e])),
      |    (prev, ax) -> list_reduce(list_prepend(
      |        [CAST(1000000000000000 AS BIGINT)],
      |        list_transform(vb, bx -> [bx])),
      |      (cur, x) -> list_concat(cur,
      |        [abs(ax[1] - x[1]) + least(prev[len(cur) + 1], prev[len(cur)],
      |          cur[len(cur)])]))) AS last_row
      |  FROM pr)
      |SELECT type_a, type_b, CAST(len(va) AS INTEGER) AS n_days,
      |  last_row[len(vb) + 1] AS dtw
      |FROM dp ORDER BY type_a, type_b""".stripMargin

  /** One-dimensional Kalman filter (local-level model: random-walk
    * state + observation noise, Kalman 1960) over each user's value
    * series — the optimal online smoother whose steady-state gain the
    * EWMA above only approximates. Process noise q = 0.25 and
    * observation noise r = 1.0 are exactly-representable literals.
    *
    * Per step: p_pred = p + q; gain k = p_pred/(p_pred + r);
    * x ← x + k·(v − x); p ← (1 − k)·p_pred. Every step is a fixed
    * 7-op IEEE chain (each op rounds once), so the left-to-right fold
    * is bit-identical cross-engine. The oracle's struct accumulator
    * orders fields (x, p) with p reading only acc.p — safe under both
    * DuckDB's sequential struct mutation and functional semantics
    * (the ts_cusum field-order rule).
    *
    * Scale: per-user bounded arrays, users distribute; the same
    * recurrence runs unbounded in mapGroupsWithState with two doubles
    * of state per key.
    */
  def tsKalman(s: SparkSession, dir: String): DataFrame = {
    val q = 0.25
    val r = 1.0
    val ev = events(s, dir).filter(col("value").isNotNull)
    ev.groupBy(col("user_id"))
      .agg(transform(sort_array(collect_list(struct(col("ts_ms"), col("event_id"),
        col("value")))), e => e.getField("value")).as("vs"))
      .withColumn("n", size(col("vs")))
      .withColumn("st", aggregate(
        slice(col("vs"), lit(2), col("n") - 1),
        struct(element_at(col("vs"), 1).as("x"), lit(1.0).as("p")),
        (acc, v) => {
          val pPred = acc.getField("p") + lit(q)
          val k = pPred / (pPred + lit(r))
          struct(
            (acc.getField("x") + k * (v - acc.getField("x"))).as("x"),
            ((lit(1.0) - k) * pPred).as("p"))
        }))
      .select(col("user_id"), col("n"),
        col("st.x").as("x_hat"), col("st.p").as("p_hat"))
      .orderBy(col("user_id"))
  }

  val tsKalmanSql: String =
    """WITH s AS (SELECT user_id,
      |    list(value ORDER BY epoch_ms(ts), event_id) AS vs
      |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
      |f AS (SELECT user_id, len(vs) AS n,
      |    list_reduce(list_prepend(
      |        struct_pack(x := vs[1], p := 1.0e0),
      |        list_transform(vs[2:], v -> struct_pack(x := v, p := 0.0e0))),
      |      (acc, e) -> struct_pack(
      |        x := acc.x + ((acc.p + 0.25e0) / (acc.p + 0.25e0 + 1.0e0))
      |               * (e.x - acc.x),
      |        p := (1.0e0 - (acc.p + 0.25e0) / (acc.p + 0.25e0 + 1.0e0))
      |               * (acc.p + 0.25e0))) AS st
      |  FROM s)
      |SELECT user_id, CAST(n AS INTEGER) AS n, st.x AS x_hat, st.p AS p_hat
      |FROM f ORDER BY user_id""".stripMargin

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) of
    * each event type's zero-filled daily-count series to ≤12 visually
    * representative points — the standard dashboard decimation that
    * preserves spikes a stride-sample would miss.
    *
    * First/last points are always kept; the middle n−2 points split
    * into 10 buckets by INTEGER floor division (j·10 div (n−2) —
    * deterministic, no float bucket edges). Each bucket keeps the
    * point maximizing the triangle area against the previously
    * selected point and the NEXT bucket's centroid (last bucket: the
    * final point). Areas are |cross product|/2-free comparisons
    * (halving dropped — monotone); centroid = exact int sums with one
    * division each; tie on equal area → earliest day. The selection
    * fold carries a BARE growing list (the DuckDB struct-accumulator
    * list-growth hazard), and the in-bucket argmax is
    * transform→array_min/max→first-position, never a nested growing
    * fold (the NOTES nested-fold corruption workaround).
    *
    * Scale: the distributed axis is series (event types); per-series
    * work is O(n) in span days, inside one row. The grid build is the
    * ts_dtw broadcast spine.
    */
  def tsLttb(s: SparkSession, dir: String): DataFrame = {
    val B = 12
    val ev = events(s, dir)
      .withColumn("day", (col("ts_ms") / lit(86400000L)).cast("long"))
    val cnts = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x"))
    val spine = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val types = ev.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(spine))
      .join(cnts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("x"), lit(0L)).as("x"))
    val ser = grid.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("pts"))
      .withColumn("n", size(col("pts")))
    // middle points bucketed by integer division; per-bucket centroid of
    // the FOLLOWING bucket precomputed so the selection fold is linear.
    // r12: the bucket table (bk), bucket list and centroid list are
    // bound ONCE through a let-chain — as separate withColumn
    // projections CollapseProject re-inlined bk's transform into every
    // one of the 20 filter lambdas and both lists into the selection
    // fold (profiled: ~1.3 s per evaluation for ~8 series, twice per
    // run because the final orderBy's range sampler re-evaluates its
    // child). Same expressions, same values — only the binding changed.
    val out = let(transform(
        slice(col("pts"), lit(2), greatest(col("n") - 2, lit(0))),
        (e, j) => {
          // exact floor division (the levene floor rule): numerator minus
          // its mod is exactly divisible, so the double division is exact
          val num = j.cast("long") * lit((B - 2).toLong)
          val den = (col("n") - 2).cast("long")
          struct(((num - pmod(num, den)) / den).cast("long").as("b"),
            e.getField("day").as("day"), e.getField("x").as("x"))
        })) { bk =>
      let(struct(
          transform(sequence(lit(0), lit(B - 3)), bi =>
            filter(bk, p => p.getField("b") === bi.cast("long"))).as("buckets"),
          transform(sequence(lit(0), lit(B - 3)), bi => {
            val nxt = when(bi === lit(B - 3),
              array(struct(element_at(col("pts"), col("n")).getField("day").as("day"),
                element_at(col("pts"), col("n")).getField("x").as("x"))))
              .otherwise(transform(
                filter(bk, p => p.getField("b") === bi.cast("long") + 1L),
                p => struct(p.getField("day").as("day"), p.getField("x").as("x"))))
            struct(
              (aggregate(nxt, lit(0L), (a, p) => a + p.getField("day")).cast("double") /
                greatest(size(nxt), lit(1)).cast("double")).as("cx"),
              (aggregate(nxt, lit(0L), (a, p) => a + p.getField("x")).cast("double") /
                greatest(size(nxt), lit(1)).cast("double")).as("cy"))
          }).as("cents"))) { bc =>
        val chosen = aggregate(
          sequence(lit(0), lit(B - 3)),
          array(struct(element_at(col("pts"), 1).getField("day").as("day"),
            element_at(col("pts"), 1).getField("x").as("x"))),
          (acc, bi) => {
            val prev = element_at(acc, size(acc))
            val cand = element_at(bc.getField("buckets"), bi + 1)
            val cent = element_at(bc.getField("cents"), bi + 1)
            val areas = transform(cand, p =>
              abs((prev.getField("day") - cent.getField("cx").cast("double")) *
                (p.getField("x") - prev.getField("x")).cast("double") -
                (prev.getField("day") - p.getField("day")).cast("double") *
                (cent.getField("cy") - prev.getField("x").cast("double"))))
            val amax = array_max(areas)
            val best = array_min(transform(
              filter(zip_with(cand, areas, (p, a) => struct(p.getField("day").as("day"),
                p.getField("x").as("x"), a.as("a"))),
                e => e.getField("a") === amax),
              e => struct(e.getField("day").as("day"), e.getField("x").as("x"))))
            when(size(cand) > 0, concat(acc, array(best))).otherwise(acc)
          })
        concat(chosen,
          array(struct(element_at(col("pts"), col("n")).getField("day").as("day"),
            element_at(col("pts"), col("n")).getField("x").as("x"))))
      }
    }
    ser.select(col("event_type"), explode(out).as("p"))
      .select(col("event_type"), col("p.day").as("day"), col("p.x").as("x"))
      .orderBy(col("event_type"), col("day"))
  }

  val tsLttbSql: String =
    """WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
      |rng AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
      |spine AS (SELECT d0 + i AS day FROM rng, UNNEST(range(d1 - d0 + 1)) AS u(i)),
      |cnts AS (SELECT event_type, day, COUNT(*) AS x FROM ev GROUP BY 1, 2),
      |grid AS (SELECT t.event_type, s.day, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      |  FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN spine s
      |  LEFT JOIN cnts c ON c.event_type = t.event_type AND c.day = s.day),
      |ser AS (SELECT event_type,
      |    list(struct_pack(day := day, x := x) ORDER BY day) AS pts,
      |    CAST(COUNT(*) AS INTEGER) AS n
      |  FROM grid GROUP BY 1),
      |mids AS (SELECT event_type, pts, n,
      |    list_transform(pts[2:n-1], (e, j) ->
      |      struct_pack(b := ((j - 1) * 10) // (n - 2),
      |        day := e.day, x := e.x)) AS bk
      |  FROM ser),
      |pre AS (SELECT event_type, pts, n, bk,
      |    list_transform(range(0, 10), bi ->
      |      list_filter(bk, p -> p.b = bi)) AS buckets,
      |    list_transform(range(0, 10), bi -> CASE WHEN bi = 9
      |      THEN struct_pack(
      |        cx := CAST(pts[n].day AS DOUBLE) / 1.0e0,
      |        cy := CAST(pts[n].x AS DOUBLE) / 1.0e0)
      |      ELSE struct_pack(
      |        cx := CAST(coalesce(list_sum(list_transform(list_filter(bk, p -> p.b = bi + 1), p -> p.day)), 0) AS DOUBLE)
      |          / CAST(greatest(len(list_filter(bk, p -> p.b = bi + 1)), 1) AS DOUBLE),
      |        cy := CAST(coalesce(list_sum(list_transform(list_filter(bk, p -> p.b = bi + 1), p -> p.x)), 0) AS DOUBLE)
      |          / CAST(greatest(len(list_filter(bk, p -> p.b = bi + 1)), 1) AS DOUBLE)) END) AS cents
      |  FROM mids),
      |chos AS (SELECT event_type, pts, n, buckets, cents,
      |    list_reduce(list_prepend(
      |        [struct_pack(na := 0.0e0, day := pts[1].day, x := pts[1].x)],
      |        list_transform(range(0, 10), bi ->
      |          [struct_pack(na := 0.0e0, day := bi, x := bi)])),
      |      (acc, be) -> CASE WHEN len(buckets[be[1].day + 1]) = 0 THEN acc ELSE
      |        list_concat(acc, [
      |          list_sort(list_transform(buckets[be[1].day + 1], p ->
      |            struct_pack(
      |              na := -abs((acc[len(acc)].day - cents[be[1].day + 1].cx)
      |                           * CAST(p.x - acc[len(acc)].x AS DOUBLE)
      |                         - CAST(acc[len(acc)].day - p.day AS DOUBLE)
      |                           * (cents[be[1].day + 1].cy - CAST(acc[len(acc)].x AS DOUBLE))),
      |              day := p.day, x := p.x)))[1]]) END) AS chosen
      |  FROM pre)
      |SELECT event_type, p.day AS day, p.x AS x
      |FROM (SELECT event_type,
      |    unnest(list_concat(chosen,
      |      [struct_pack(na := 0.0e0, day := pts[n].day, x := pts[n].x)])) AS p
      |  FROM chos)
      |ORDER BY event_type, day""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_xcorr" -> (tsXcorr _),
    "ts_dtw" -> (tsDtw _),
    "ts_kalman" -> (tsKalman _),
    "ts_lttb" -> (tsLttb _),
    "attribution_position" -> (attributionPosition _),
    "ts_backtest" -> (tsBacktest _),
    "ts_wau" -> (tsWau _),
    "ts_forecast" -> (tsForecast _),
    "ts_holt" -> (tsHolt _),
    "ts_holtwinters" -> (tsHoltwinters _),
    "ts_matrix_profile" -> (tsMatrixProfile _),
    "ts_sax" -> (tsSax _),
    "ts_changepoints" -> (tsChangepoints _),
    "ts_decompose" -> (tsDecompose _),
    "ts_theilsen" -> (tsTheilsen _),
    "ts_gaps" -> (tsGaps _),
    "ts_spike" -> (tsSpike _),
    "ts_wow" -> (tsWow _),
    "ts_attribution" -> (tsAttribution _),
    "stream_tumbling" -> (streamTumbling _),
    "ts_seasonal" -> (tsSeasonal _),
    "ts_features" -> (tsFeatures _),
    "ts_ohlc" -> (tsOhlc _),
    "ts_ewma" -> (tsEwma _),
    "ts_autocorr" -> (tsAutocorr _),
    "ts_rolling" -> (tsRolling _),
    "ts_mad" -> (tsMad _),
    "ts_throttle" -> (tsThrottle _),
    "ts_percentiles" -> (tsPercentiles _),
    "ts_cusum" -> (tsCusum _),
    "ts_streaks" -> (tsStreaks _),
    "cdc_apply" -> (cdcApply _),
    "stream_cdc" -> (streamCdc _),
    "snapshot_diff" -> (snapshotDiff _),
    "ts_asof" -> (tsAsof _),
    "ts_asof_fwd" -> (tsAsofFwd _),
    "ts_asof_nearest" -> (tsAsofNearest _),
    "window_ranks" -> (windowRanks _),
    "stream_asof" -> (streamAsof _),
    "ts_range_join" -> (tsRangeJoin _),
    "ts_interval_overlap" -> (tsIntervalOverlap _),
    "scd2_build" -> (scd2Build _),
    "stream_range_join" -> (streamRangeJoin _),
    "stream_sessions" -> (streamSessions _),
    "ts_impute" -> (tsImpute _),
    "ts_anomaly" -> (tsAnomaly _),
    "ts_slope" -> (tsSlope _),
    "ts_numeric_gate" -> (tsNumericGate _),
    "ts_emission" -> (tsEmission _),
    "ts_trend" -> (tsTrend _),
    "ts_trend_fixed" -> (tsTrendFixed _),
    "ts_trend_search" -> (tsTrendSearch _),
    "ts_trend_dots" -> (tsTrendDots _))

  val oracles: Map[String, String] = Map(
    "ts_xcorr" -> tsXcorrSql,
    "ts_dtw" -> tsDtwSql,
    "ts_kalman" -> tsKalmanSql,
    "ts_lttb" -> tsLttbSql,
    "attribution_position" -> attributionPositionSql,
    "ts_wau" -> tsWauSql,
    "ts_backtest" -> tsBacktestSql,
    "ts_forecast" -> tsForecastSql,
    "ts_holt" -> tsHoltSql,
    "ts_holtwinters" -> tsHoltwintersSql,
    "ts_matrix_profile" -> tsMatrixProfileSql,
    "ts_sax" -> tsSaxSql,
    "ts_changepoints" -> tsChangepointsSql,
    "ts_decompose" -> tsDecomposeSql,
    "ts_theilsen" -> tsTheilsenSql,
    "ts_gaps" -> tsGapsSql,
    "ts_spike" -> tsSpikeSql,
    "ts_wow" -> tsWowSql,
    "ts_attribution" -> tsAttributionSql,
    "stream_tumbling" -> streamTumblingSql,
    "ts_seasonal" -> tsSeasonalSql,
    "ts_features" -> tsFeaturesSql,
    "ts_ohlc" -> tsOhlcSql,
    "ts_ewma" -> tsEwmaSql,
    "ts_autocorr" -> tsAutocorrSql,
    "ts_rolling" -> tsRollingSql,
    "ts_mad" -> tsMadSql,
    "ts_throttle" -> tsThrottleSql,
    "ts_percentiles" -> tsPercentilesSql,
    "ts_cusum" -> tsCusumSql,
    "ts_streaks" -> tsStreaksSql,
    "cdc_apply" -> cdcApplySql,
    "stream_cdc" -> streamCdcSql,
    "snapshot_diff" -> snapshotDiffSql,
    "ts_asof" -> tsAsofSql,
    "ts_asof_fwd" -> tsAsofFwdSql,
    "ts_asof_nearest" -> tsAsofNearestSql,
    "window_ranks" -> windowRanksSql,
    "stream_asof" -> streamAsofSql,
    "ts_range_join" -> tsRangeJoinSql,
    "ts_interval_overlap" -> tsIntervalOverlapSql,
    "scd2_build" -> scd2BuildSql,
    "stream_range_join" -> streamRangeJoinSql,
    "stream_sessions" -> streamSessionsSql,
    "ts_impute" -> tsImputeSql,
    "ts_anomaly" -> tsAnomalySql,
    "ts_slope" -> tsSlopeSql,
    "ts_numeric_gate" -> tsNumericGateSql,
    "ts_emission" -> tsEmissionSql,
    "ts_trend_fixed" -> tsTrendFixedSql,
    "ts_trend_search" -> tsTrendSearchSql,
    "ts_trend_dots" -> tsTrendDotsSql)
    // ts_trend: rows-only check — but each LAYER of its composition is
    // now oracle-certified separately: the solver via ts_trend_fixed,
    // the grid search + T8 cost selection via ts_trend_search, the
    // small-series path via ts_trend_dots, plus the golden-fixture e2e
    // spec (TrendFitSpec) on a hand-derived piecewise series.
}
