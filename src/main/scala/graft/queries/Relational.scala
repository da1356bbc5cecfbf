package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup
import Exact._

/** Core relational operators from SURVEY §2 expressed Spark-first.
  *
  * Each entry is a named query over the driver's parquet tables plus a
  * DuckDB oracle (SURVEY §5 harness). Scale notes inline: the point of
  * each formulation is that it survives a 1000-executor / 100 TB run.
  */
object Relational {

  /** A2/A1 facet aggregation (reference: ES terms aggs,
    * type_field_group_by_mappings.json:1-71; TLD stats docs/index.md:108-114).
    * Hash aggregate with map-side partial agg — one shuffle of the grouped
    * partials only; decimals keep the oracle comparison exact.
    */
  def aggPricing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_price"),
        // Product has ≤4 true decimal digits; re-cast to scale 4 keeps the
        // scaled integer < 2^53 so both engines' decimal→double is exact.
        sum(($"l_extendedprice".cast(Dec) * (lit(1).cast(Dec) - $"l_discount".cast(Dec)))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        davg($"l_quantity").as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val aggPricingSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSum("l_quantity")} AS sum_qty,
       |  ${sqlSum("l_extendedprice")} AS sum_price,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       |  ${sqlAvg("l_quantity")} AS avg_qty,
       |  COUNT(*) AS cnt
       |FROM lineitem GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A2/O4 facet top-k: term counts ordered desc with deterministic
    * tie-break, then limit — at scale this is a partial-agg + single
    * reduce of k rows per facet field, never a full sort of the data.
    */
  def facetTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"o_orderpriority")
      .limit(3)
  }

  val facetTopKSql: String =
    """SELECT o_orderpriority, COUNT(*) AS cnt FROM orders
      |GROUP BY o_orderpriority ORDER BY cnt DESC, o_orderpriority LIMIT 3""".stripMargin

  /** J1 denormalizing join (join_indexing, generate_mydig_config.py:467-516):
    * orders ⨝ customer ⨝ nation rolled up per nation. `nation` (25 rows) is
    * broadcast — no shuffle of the big side for that join; the
    * customer⨝orders equi-join shuffles on the key, AQE picks the strategy
    * at real scale.
    */
  def joinDenorm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = Tables(s, dir, "customer")
    val nation = Tables(s, dir, "nation")
    val orders = Tables(s, dir, "orders")
    orders
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("order_cnt"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"n_name")
  }

  val joinDenormSql: String =
    s"""SELECT n_name, COUNT(*) AS order_cnt, ${sqlSum("o_totalprice")} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** J5 broadcast lookup join (landmark rules by TLD, em_base.py:62-64):
    * the small dimension is broadcast so the fact table never shuffles.
    */
  def broadcastDim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lineitem = Tables(s, dir, "lineitem")
    val part = Tables(s, dir, "part").filter($"p_size" > 25)
    lineitem
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy($"p_brand")
  }

  val broadcastDimSql: String =
    s"""SELECT p_brand, ${sqlSum("l_quantity")} AS sum_qty, COUNT(*) AS cnt
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_size > 25 GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Salted skew join as a REGISTERED, oracle-held operator: events
    * (5 hot power-law keys) equi-joined to a per-type dimension through
    * [[graft.operators.Skew.saltedJoin]] — the big side salts 8 ways by
    * a hash of its row identity (no RNG), the small side replicates, so
    * each hot key spreads over 8 reducers instead of one straggler.
    * The oracle is the PLAIN join: salting must be invisible in the
    * result, and this row proves it stays so. The salts knob trades
    * small-side duplication for reducer fan-out; 8 is sized to the
    * local lane, a cluster would size it to executor count.
    */
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("event_type"))
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("weight", length(col("event_type")).cast("long"))
    graft.operators.Skew.saltedJoin(ev, dim, "event_type", salts = 8,
        bigIdCols = Seq(col("event_id")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), max(col("weight")).as("weight"))
      .withColumn("weighted", col("cnt") * col("weight"))
      .orderBy(col("event_type"))
  }

  val joinSaltedSql: String =
    """WITH dim AS (SELECT DISTINCT event_type,
      |    CAST(length(event_type) AS BIGINT) AS weight FROM events)
      |SELECT e.event_type, COUNT(*) AS cnt, MAX(weight) AS weight,
      |  COUNT(*) * MAX(weight) AS weighted
      |FROM events e JOIN dim USING (event_type)
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  /** O2 per-group quota (per-TLD `desired` enqueue quota,
    * docs/index.md:108-114): row_number window partitioned by the group
    * key. One shuffle on the partition key; no global sort.
    */
  def windowQuota(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_custkey", $"rn")
  }

  val windowQuotaSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin

  /** J4 semi-join semantics (glossary membership keeps matching docs,
    * em_elicit.py:15-26): LEFT SEMI — no duplication of the left side, and
    * Spark can broadcast the distinct keys of the right side.
    */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = Tables(s, dir, "customer")
    val bigOrders = Tables(s, dir, "orders").filter($"o_totalprice" > 200000.0)
    customer
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
      |ORDER BY c_custkey""".stripMargin

  /** §2.8 union-by-name (multiple datasets into one stream,
    * docs/advanced.md:314-331): narrow op, no shuffle.
    */
  def unionDatasets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables(s, dir, "customer")
      .select($"c_name".as("name"), $"c_acctbal".as("acctbal"), lit("customer").as("kind"))
    val sup = Tables(s, dir, "supplier")
      .select($"s_name".as("name"), $"s_acctbal".as("acctbal"), lit("supplier").as("kind"))
    c.unionByName(sup).filter($"acctbal" > 0).orderBy($"kind", $"name")
  }

  val unionDatasetsSql: String =
    """SELECT * FROM (
      |  SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
      |  UNION ALL
      |  SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier)
      |WHERE acctbal > 0 ORDER BY kind, name""".stripMargin

  /** A5 idempotent dedup (ES upsert by doc_id, manager.py:216-217) as
    * exact content dedup: group by the 256-bit content digest, keep the
    * lowest id. The shuffle key is the fixed-width hash, never the
    * payload — the only shape that survives 100 TB (same design as
    * Dedup.exactByHash; the r2 verdict flagged the payload-keyed
    * variant as the one registry query diverging from its own docs).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .groupBy(sha2($"text", 256).as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("copies"))
      .orderBy($"keep_id")
  }

  val dedupExactSql: String =
    """SELECT sha256(text) AS fp, min(doc_id) AS keep_id, COUNT(*) AS copies
      |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin

  /** A3 temporal_region (ts_converter.py:174-180): per-series min/max
    * timestamps. Emitted as epoch millis so the oracle comparison is
    * precision-independent (the source is ns, Spark reads µs).
    */
  def temporalRegion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"user_id")
      .agg(
        unix_millis(min($"ts")).as("start_ms"),
        unix_millis(max($"ts")).as("end_ms"),
        count(lit(1)).as("n"))
      .orderBy($"user_id")
  }

  val temporalRegionSql: String =
    """SELECT user_id, epoch_ms(date_trunc('millisecond', min(ts))) AS start_ms,
      |  epoch_ms(date_trunc('millisecond', max(ts))) AS end_ms, COUNT(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A2 at scale: ALL facet dimensions in one pass via CUBE instead of
    * one groupBy job per facet field — one shuffle total for the whole
    * facet panel. Null subtotal keys are coalesced to a sentinel so
    * cross-engine null-ordering differences can't bite.
    */
  def facetCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .withColumn("user_bucket", ($"user_id" % lit(10)).cast("string"))
      .cube($"event_type", $"user_bucket")
      .agg(count(lit(1)).as("cnt"), dsum($"value").as("sum_value"))
      .select(
        coalesce($"event_type", lit("<all>")).as("et"),
        coalesce($"user_bucket", lit("<all>")).as("ub"),
        $"cnt", $"sum_value")
      .orderBy($"et", $"ub")
  }

  val facetCubeSql: String =
    s"""SELECT coalesce(event_type, '<all>') AS et,
       |  coalesce(user_bucket, '<all>') AS ub,
       |  COUNT(*) AS cnt, ${sqlSum("value")} AS sum_value
       |FROM (SELECT event_type, CAST(user_id % 10 AS VARCHAR) AS user_bucket, value FROM events)
       |GROUP BY CUBE(event_type, user_bucket) ORDER BY et, ub""".stripMargin

  /** Deterministic-HLL approximate distinct users per event_type
    * ([[graft.functions.Sketches]] — md5-derived registers, so the
    * DuckDB oracle reproduces the ESTIMATE bit-for-bit), beside the
    * exact count and the relative error. The scale story is the
    * sketch's: (group, 256-register) partial agg instead of a
    * COUNT(DISTINCT) shuffle of every distinct value.
    */
  def approxDistinctHll(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val (bucket, rho) = graft.functions.Sketches.hllParts(col("user_id"))
    val est = ev.select(col("event_type"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("r")))).as("regs"))
      .select(col("event_type"),
        graft.functions.Sketches.hllEstimate(col("regs")).as("est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("est"), col("n_exact"),
        round(lit(100.0) * (col("est") - col("n_exact")) / col("n_exact"), 4)
          .as("err_pct"))
      .orderBy(col("event_type"))
  }

  val approxDistinctHllSql: String = {
    val lz = "CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1 WHEN v >= 2 THEN 2 ELSE 3 END"
    val a = graft.functions.Sketches.HllAlphaM2
    s"""WITH hs AS (SELECT event_type,
       |    substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS bh,
       |    substr(md5(CAST(user_id AS VARCHAR)), 3, 14) AS sub FROM events),
       |pz AS (SELECT event_type, CAST(concat('0x', bh) AS INT) AS bucket, sub,
       |    length(regexp_extract(sub, '^0*')) AS p FROM hs),
       |rr AS (SELECT event_type, bucket,
       |    CASE WHEN p = 14 THEN 57 ELSE p * 4 + $lz + 1 END AS rho
       |  FROM (SELECT *, strpos('0123456789abcdef', substr(sub, p + 1, 1)) - 1 AS v FROM pz)),
       |regs AS (SELECT event_type, bucket, MAX(rho) AS r FROM rr GROUP BY 1, 2),
       |grp AS (SELECT event_type,
       |    list_reduce(list_prepend(0.0, list_transform(list(r ORDER BY bucket),
       |      x -> pow(2.0, -x))), (a, b) -> a + b) + (256 - COUNT(*)) AS z,
       |    256 - COUNT(*) AS zeros FROM regs GROUP BY event_type),
       |est AS (SELECT event_type, round(CASE WHEN $a / z <= 640.0 AND zeros > 0
       |    THEN 256.0 * ln(256.0 / zeros) ELSE $a / z END, 4) AS est FROM grp),
       |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
       |SELECT event_type, est, n_exact,
       |  round(100.0 * (est - n_exact) / n_exact, 4) AS err_pct
       |FROM est JOIN ex USING (event_type) ORDER BY event_type""".stripMargin
  }

  /** KMV / Theta-style distinct sketch (Bar-Yossef et al. 2002, the
    * DataSketches Theta family): keep the k = 64 smallest md5-derived
    * hash values per group; θ = the k-th smallest normalized hash and
    * the estimate is (k−1)/θ. Like the HLL twin above, the hash is
    * md5 so the DuckDB oracle reproduces the ESTIMATE bit-for-bit —
    * an approximate operator with an exact oracle. The normalizer is
    * 2⁻⁵² (13 hex chars = 52 bits fit a double exactly; the division
    * is a power-of-two scale, exact in IEEE). Groups with fewer than
    * k distinct members report exactly (θ undefined → the sketch IS
    * the set). Scale: distinct (group, member) pairs shuffle once,
    * then ONE keyed row_number keeps ≤ k rows per group — the sketch
    * is mergeable by construction (union of KMV sets re-truncated to
    * the k smallest), the property that makes it the Druid/DataSketches
    * workhorse for cross-segment distinct counting.
    */
  /** md5-derived uniform [0,1) hash shared by [[sketchKmv]] and
    * [[streamKmv]]: 13 hex chars = 52 bits fit a double exactly; the
    * normalizing division is a power-of-two scale (exact in IEEE).
    */
  private[graft] def kmvHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") / lit(4503599627370496.0)

  def sketchKmv(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val ev = Tables(s, dir, "events")
    val pairs = ev.select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", kmvHash(col("user_id")))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("h"), col("user_id"))
    val kept = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val th = kept.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rn") === k, col("h"))).as("theta"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    th.join(exact, Seq("event_type"))
      .select(col("event_type"),
        round(when(col("theta").isNull, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("theta")), 4).as("est"),
        col("n_exact"))
      .select(col("event_type"), col("est"), col("n_exact"),
        round(lit(100.0) * (col("est") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 4).as("err_pct"))
      .orderBy(col("event_type"))
  }

  val sketchKmvSql: String =
    """WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
      |hs AS (SELECT event_type, user_id,
      |    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
      |      AS BIGINT) AS DOUBLE) / 4503599627370496.0e0 AS h FROM pairs),
      |rk AS (SELECT event_type, h,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
      |  FROM hs),
      |th AS (SELECT event_type, COUNT(*) AS n_kept,
      |    MAX(CASE WHEN rn = 64 THEN h END) AS theta
      |  FROM rk WHERE rn <= 64 GROUP BY event_type),
      |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      |  FROM events GROUP BY event_type)
      |SELECT event_type,
      |  round(CASE WHEN theta IS NULL THEN CAST(n_kept AS DOUBLE)
      |    ELSE 63.0e0 / theta END, 4) AS est,
      |  n_exact,
      |  round(100.0e0 * (round(CASE WHEN theta IS NULL THEN CAST(n_kept AS DOUBLE)
      |      ELSE 63.0e0 / theta END, 4) - CAST(n_exact AS DOUBLE))
      |    / CAST(n_exact AS DOUBLE), 4) AS err_pct
      |FROM th JOIN ex USING (event_type) ORDER BY event_type""".stripMargin

  /** Bloom-filter semi-join ([[graft.functions.Sketches.bloomBits]] —
    * k=3 salted-md5 positions over m=8192 bits): customers probed
    * against a filter built from order custkeys, beside the exact
    * left-semi count — reporting the measured false-positive count and
    * filter fill. The runtime-row-filter shape for 100 TB joins: the
    * built filter is broadcast-sized BY CONSTRUCTION (≤ m positions no
    * matter how large the build side), the probe a narrow map — no
    * shuffle of the probe side just to discard rows. Deterministic
    * positions make the approximate filter oracle-exact.
    */
  def bloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val S = graft.functions.Sketches
    val cust = Tables(s, dir, "customer")
    val orders = Tables(s, dir, "orders")
    val pos = orders.select(explode(S.bloomBits(col("o_custkey"))).as("p"))
      .distinct()
    val bitset = S.bloomBitset(pos)
    val nBloom = cust.crossJoin(broadcast(bitset))
      .filter(forall(S.bloomBits(col("c_custkey")), x => S.bloomContains(col("bs"), x)))
      .agg(count(lit(1)).as("n_bloom"))
    val nExact = cust.join(orders.select(col("o_custkey")).distinct(),
      cust("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_exact"))
    val nBits = pos.agg(count(lit(1)).as("n_bits"))
    nExact.crossJoin(nBloom).crossJoin(nBits)
      .select(col("n_exact"), col("n_bloom"),
        (col("n_bloom") - col("n_exact")).as("false_pos"), col("n_bits"))
  }

  val bloomSemiJoinSql: String = {
    val S = graft.functions.Sketches
    def bits(v: String) =
      s"CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || 'b:' || CAST($v AS VARCHAR)), 1, 8)) AS BIGINT) % ${S.BloomM}"
    s"""WITH pos AS (SELECT DISTINCT ${bits("o_custkey")} AS p
       |  FROM orders CROSS JOIN range(${S.BloomK}) t(k)),
       |pb AS (SELECT c_custkey, ${bits("c_custkey")} AS p
       |  FROM customer CROSS JOIN range(${S.BloomK}) t(k)),
       |hits AS (SELECT c_custkey, COUNT(*) AS h FROM pb JOIN pos USING (p) GROUP BY c_custkey),
       |blm AS (SELECT c_custkey FROM hits WHERE h = ${S.BloomK}),
       |ex AS (SELECT DISTINCT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey)
       |SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
       |  (SELECT COUNT(*) FROM blm) AS n_bloom,
       |  (SELECT COUNT(*) FROM blm) - (SELECT COUNT(*) FROM ex) AS false_pos,
       |  (SELECT COUNT(*) FROM pos) AS n_bits""".stripMargin
  }

  /** STREAMING distinct-count sketch run in bounded mode
    * ([[graft.streaming.StreamingHll]] — one int of state per
    * (group, register)): the per-register running-max emissions fold
    * into the SAME estimate expression as the batch sketch, certified
    * against the batch HLL oracle — approximate NDV on the stream
    * plane with provably-batch-equal results.
    */
  def streamHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val S = graft.functions.Sketches
    val (bucket, rho) = S.hllParts(col("user_id"))
    val regsIn = Tables(s, dir, "events")
      .select(col("event_type").as("grp"), bucket.as("bucket"), rho.as("rho"))
      .as[graft.streaming.StreamingHll.RegIn]
    graft.streaming.StreamingHll.registers(s, regsIn).toDF()
      // multi-batch streams emit a register several times as it grows;
      // the LAST value is the max, so a max-fold recovers the batch
      // registers exactly
      .groupBy(col("grp").as("event_type"), col("bucket"))
      .agg(max(col("r")).as("r"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("r")))).as("regs"))
      .select(col("event_type"), S.hllEstimate(col("regs")).as("est"))
      .orderBy(col("event_type"))
  }

  /** STREAMING KMV distinct sketch run in bounded mode over the same
    * corpus as sketch_kmv ([[graft.streaming.StreamingKmv]] — k (hash,
    * id) pairs of state per group): the change-only emissions fold
    * back to the final state via the monotone (max n_kept, min θ)
    * recovery, and the estimate expression is shared with the batch
    * sketch — so the stream operator is held to the batch oracle.
    */
  def streamKmv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = graft.streaming.StreamingKmv.K
    val ev = Tables(s, dir, "events")
    val in = ev.select(col("event_type").as("grp"),
        kmvHash(col("user_id")).as("h"), col("user_id").as("id"))
      .as[graft.streaming.StreamingKmv.KmvIn]
    val folded = graft.streaming.StreamingKmv.sketch(s, in).toDF()
      .groupBy(col("grp").as("event_type"))
      .agg(max(col("nKept")).as("n_kept"), min(col("theta")).as("theta"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    folded.join(exact, Seq("event_type"))
      .select(col("event_type"),
        round(when(col("theta").isNull, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("theta")), 4).as("est"),
        col("n_exact"))
      .select(col("event_type"), col("est"), col("n_exact"),
        round(lit(100.0) * (col("est") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 4).as("err_pct"))
      .orderBy(col("event_type"))
  }

  val streamKmvSql: String = sketchKmvSql

  /** STREAMING exact first-seen dedup ([[graft.streaming.StreamingDedup]]
    * — one marker bit of state per distinct key): every (type, user)
    * key is emitted exactly once across all batches, so the per-type
    * count of emissions equals the batch COUNT(DISTINCT) — the stream
    * operator is oracle-equal by construction, any batch split.
    * The multi-batch MemoryStream proof lives in StreamingDedupSpec.
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = Tables(s, dir, "events")
      .select(col("event_type").as("grp"), col("user_id").as("id"))
      .as[graft.streaming.StreamingDedup.KeyIn]
    graft.streaming.StreamingDedup.firstSeen(s, in).toDF()
      .groupBy(col("grp").as("event_type"))
      .agg(count(lit(1)).as("n_distinct"))
      .orderBy(col("event_type"))
  }

  val streamDedupSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val streamHllSql: String = {
    val lz = "CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1 WHEN v >= 2 THEN 2 ELSE 3 END"
    val a = graft.functions.Sketches.HllAlphaM2
    s"""WITH hs AS (SELECT event_type,
       |    substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS bh,
       |    substr(md5(CAST(user_id AS VARCHAR)), 3, 14) AS sub FROM events),
       |pz AS (SELECT event_type, CAST(concat('0x', bh) AS INT) AS bucket, sub,
       |    length(regexp_extract(sub, '^0*')) AS p FROM hs),
       |rr AS (SELECT event_type, bucket,
       |    CASE WHEN p = 14 THEN 57 ELSE p * 4 + $lz + 1 END AS rho
       |  FROM (SELECT *, strpos('0123456789abcdef', substr(sub, p + 1, 1)) - 1 AS v FROM pz)),
       |regs AS (SELECT event_type, bucket, MAX(rho) AS r FROM rr GROUP BY 1, 2),
       |grp AS (SELECT event_type,
       |    list_reduce(list_prepend(0.0, list_transform(list(r ORDER BY bucket),
       |      x -> pow(2.0, -x))), (a, b) -> a + b) + (256 - COUNT(*)) AS z,
       |    256 - COUNT(*) AS zeros FROM regs GROUP BY event_type)
       |SELECT event_type, round(CASE WHEN $a / z <= 640.0 AND zeros > 0
       |    THEN 256.0 * ln(256.0 / zeros) ELSE $a / z END, 4) AS est
       |FROM grp ORDER BY event_type""".stripMargin
  }

  /** HLL MERGEABILITY — the property that makes the sketch a
    * cluster-scale operator: per-group (think per-partition, or
    * per-day in an incremental pipeline) register tables combine by
    * register MAX into the global sketch, no rescan. est_merged is
    * computed through the per-type registers, est_direct in one global
    * scan; max-of-max = max makes them IDENTICAL, and the oracle pins
    * both to the single-scan estimate.
    */
  def sketchHllMerge(s: SparkSession, dir: String): DataFrame = {
    val S = graft.functions.Sketches
    val ev = Tables(s, dir, "events")
    val (bucket, rho) = S.hllParts(col("user_id"))
    def estimateOf(regTable: DataFrame, name: String): DataFrame =
      regTable.groupBy(col("bucket")).agg(max(col("r")).as("r"))
        .agg(sort_array(collect_list(struct(col("bucket"), col("r")))).as("regs"))
        .select(S.hllEstimate(col("regs")).as(name))
    val perType = ev.select(col("event_type"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("event_type"), col("bucket")).agg(max(col("rho")).as("r"))
    val direct = ev.select(bucket.as("bucket"), rho.as("r"))
    val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    estimateOf(perType, "est_merged")
      .crossJoin(estimateOf(direct, "est_direct"))
      .crossJoin(exact)
  }

  val sketchHllMergeSql: String = {
    val lz = "CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1 WHEN v >= 2 THEN 2 ELSE 3 END"
    val a = graft.functions.Sketches.HllAlphaM2
    s"""WITH hs AS (SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS bh,
       |    substr(md5(CAST(user_id AS VARCHAR)), 3, 14) AS sub FROM events),
       |pz AS (SELECT CAST(concat('0x', bh) AS INT) AS bucket, sub,
       |    length(regexp_extract(sub, '^0*')) AS p FROM hs),
       |rr AS (SELECT bucket,
       |    CASE WHEN p = 14 THEN 57 ELSE p * 4 + $lz + 1 END AS rho
       |  FROM (SELECT *, strpos('0123456789abcdef', substr(sub, p + 1, 1)) - 1 AS v FROM pz)),
       |regs AS (SELECT bucket, MAX(rho) AS r FROM rr GROUP BY 1),
       |grp AS (SELECT
       |    list_reduce(list_prepend(0.0, list_transform(list(r ORDER BY bucket),
       |      x -> pow(2.0, -x))), (a, b) -> a + b) + (256 - COUNT(*)) AS z,
       |    256 - COUNT(*) AS zeros FROM regs),
       |est AS (SELECT round(CASE WHEN $a / z <= 640.0 AND zeros > 0
       |    THEN 256.0 * ln(256.0 / zeros) ELSE $a / z END, 4) AS e FROM grp)
       |SELECT e AS est_merged, e AS est_direct,
       |  (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact FROM est""".stripMargin
  }

  /** Ordered funnel (view → click → purchase) per user: the first
    * view, the first click strictly AFTER it, the first purchase
    * strictly after that — the sequential-conversion query product
    * analytics engines special-case, expressed as three keyed
    * min-aggregations chained by left joins. Each stage aggregates a
    * type-FILTERED slice of events (the filter pushes to the scan), so
    * the three keyed shuffles each move only one funnel step's rows,
    * and the aggregated per-user stage outputs broadcast into the next
    * stage's join; integer millis end-to-end keep it hash-exact.
    */
  def funnelConversion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ts_ms"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts_ms") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts_ms") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"))
      .orderBy(col("user_id"))
  }

  val funnelConversionSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |v AS (SELECT user_id, MIN(ts_ms) AS t_view FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ts_ms) AS t_click FROM ev e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts_ms > v.t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ts_ms) AS t_purchase FROM ev e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts_ms > c.t_click GROUP BY e.user_id)
      |SELECT v.user_id, t_view, t_click, t_purchase
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Cohort retention: users bucketed by first-seen day, counted as
    * active per (cohort, day-offset) — the standard retention matrix.
    * Two keyed aggregations; the distinct-activity step shuffles
    * (user, day) pairs, never raw events twice.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), (unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val cohortRetentionSql: String =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id),
      |a AS (SELECT DISTINCT e.user_id, f.cohort_day, e.day - f.cohort_day AS day_offset
      |  FROM ev e JOIN f USING (user_id))
      |SELECT cohort_day, day_offset, COUNT(*) AS n_active
      |FROM a GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""".stripMargin

  /** Scaled-integer weighted PageRank over any weighted edge table
    * (src, dst, w): ranks ×10⁶ from 10⁶ everywhere, `iters` rounds of
    * [[pagerankRound]], dangling mass dropped. The reference for
    * general graphs; the alphabet-bounded event-type graph folds the
    * same arithmetic on one row ([[EventGraph.pagerank]]). The edge
    * table is checkpointed ONCE before the loop — without the barrier
    * every unrolled iteration re-embeds the full edge derivation
    * lineage (measured: 61 Exchange nodes in the 5-iter plan vs 13 with
    * the barrier), which at real graph sizes means recomputing the edge
    * build 5×.
    */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.localCheckpoint(true)
    val wout = e.groupBy(col("src")).agg(sum(col("w")).as("wt"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val ranks = (1 to iters).foldLeft(nodes.withColumn("r", lit(1000000L))) { (r, _) =>
      pagerankRound(e, wout, nodes)(r)
    }
    // Materialize the final ranks so the edge checkpoint's blocks can be
    // freed NOW instead of pinning executor storage for the session
    // (a long-lived session accretes one dead edge set per pagerank call
    // otherwise). The final plan executes once either way.
    val out = ranks.localCheckpoint(true)
    graft.Caches.free(e)
    out
  }

  /** One Jacobi round over the edges `e`, the out-weights `wout` (src,
    * wt) and the node list: r'(n) = 150000 + (85·Σ (r(src)·w) div wt)
    * div 100 over n's in-edges, one keyed join + aggregate on the edge
    * set. A node with no in-edge keeps the restart mass alone.
    */
  private[queries] def pagerankRound(e: DataFrame, wout: DataFrame, nodes: DataFrame)(
      ranks: DataFrame): DataFrame = {
    val contrib = e.join(wout, "src")
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .select(col("dst"), intdiv(col("r") * col("w"), col("wt")).as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("s"))
    nodes.join(contrib, nodes("node") === contrib("dst"), "left")
      .select(col("node"),
        (lit(150000L) + intdiv(lit(85L) * coalesce(col("s"), lit(0L)), lit(100L))).as("r"))
  }

  /** Data-quality validation report (the Deequ-style constraint suite
    * a warehouse engine is expected to ship): row counts, primary-key
    * duplicates, null keys, referential orphans, range and enum
    * violations — one (check, table, violation-count) row each.
    * Per-table profile metrics compute in ONE pass (conditional sums
    * inside a single aggregate, then unpivoted); the two referential
    * checks are left-anti joins. Everything is an integer count, so
    * the report is hash-exact by construction.
    */
  def dqReport(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val lineitem = Tables(s, dir, "lineitem")
    val customer = Tables(s, dir, "customer")
    def row(check: String, table: String,
            v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      struct(lit(check).as("dq_check"), lit(table).as("table_name"),
        v.cast("long").as("value"))
    val ordersProfile = orders.agg(
      count(lit(1)).as("cnt"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nullk"),
      countDistinct(col("o_orderkey")).as("dk"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("badenum"))
      .select(explode(array(
        row("row_count", "orders", col("cnt")),
        row("null_keys", "orders", col("nullk")),
        row("dup_pk", "orders", col("cnt") - col("dk")),
        row("enum_status", "orders", col("badenum")))).as("r"))
    val liProfile = lineitem.agg(
      count(lit(1)).as("cnt"),
      countDistinct(col("l_orderkey"), col("l_linenumber")).as("dk"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)).as("baddisc"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("badqty"))
      .select(explode(array(
        row("row_count", "lineitem", col("cnt")),
        row("dup_pk", "lineitem", col("cnt") - col("dk")),
        row("range_discount", "lineitem", col("baddisc")),
        row("range_quantity", "lineitem", col("badqty")))).as("r"))
    val custProfile = customer.agg(count(lit(1)).as("cnt"))
      .select(explode(array(row("row_count", "customer", col("cnt")))).as("r"))
    val liOrphans = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(explode(array(row("orphan_fk", "lineitem", col("v")))).as("r"))
    val ordOrphans = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(explode(array(row("orphan_fk", "orders", col("v")))).as("r"))
    ordersProfile.unionByName(liProfile).unionByName(custProfile)
      .unionByName(liOrphans).unionByName(ordOrphans)
      .select(col("r.dq_check").as("dq_check"), col("r.table_name").as("table_name"),
        col("r.value").as("value"))
      .orderBy(col("table_name"), col("dq_check"))
  }

  val dqReportSql: String =
    """SELECT dq_check, table_name, value FROM (
      |  SELECT 'row_count' AS dq_check, 'orders' AS table_name, COUNT(*) AS value FROM orders
      |  UNION ALL SELECT 'null_keys', 'orders',
      |    CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
      |  UNION ALL SELECT 'dup_pk', 'orders',
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
      |  UNION ALL SELECT 'enum_status', 'orders',
      |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
      |  UNION ALL SELECT 'row_count', 'lineitem', COUNT(*) FROM lineitem
      |  UNION ALL SELECT 'dup_pk', 'lineitem',
      |    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
      |  UNION ALL SELECT 'range_discount', 'lineitem',
      |    CAST(COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
      |  UNION ALL SELECT 'range_quantity', 'lineitem',
      |    CAST(COALESCE(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
      |  UNION ALL SELECT 'row_count', 'customer', COUNT(*) FROM customer
      |  UNION ALL SELECT 'orphan_fk', 'lineitem',
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |  UNION ALL SELECT 'orphan_fk', 'orders',
      |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
      |ORDER BY table_name, dq_check""".stripMargin

  /** HLL set algebra: pairwise user overlap between event types by
    * inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    * the union estimate comes from MERGED registers (max per bucket),
    * never a rescan. Beside each estimate: the exact intersection.
    * The estimate error compounds (the documented HLL-intersection
    * weakness — small intersections of large sets are noisy), but
    * every arithmetic step is deterministic, so the oracle still pins
    * the result bit-for-bit.
    */
  def sketchHllIntersect(s: SparkSession, dir: String): DataFrame = {
    val S = graft.functions.Sketches
    val ev = Tables(s, dir, "events")
    val (bucket, rho) = S.hllParts(col("user_id"))
    val regs = ev.select(col("event_type"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("event_type"), col("bucket")).agg(max(col("rho")).as("r"))
    def fold(grouped: DataFrame, keys: Seq[String], name: String): DataFrame =
      grouped.groupBy(keys.map(col): _*)
        .agg(sort_array(collect_list(struct(col("bucket"), col("r")))).as("regs"))
        .select(keys.map(col) :+ S.hllEstimate(col("regs")).as(name): _*)
    val perType = fold(regs, Seq("event_type"), "est")
    val types = regs.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .filter(col("ta") < col("tb"))
    val unionRegs = pairs.join(regs,
        col("event_type") === col("ta") || col("event_type") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("bucket")).agg(max(col("r")).as("r"))
    val unionEst = fold(unionRegs, Seq("ta", "tb"), "est_union")
    val exact = ev.select(col("event_type"), col("user_id")).distinct()
    val exactInter = exact.as("x")
      .join(exact.as("y"), col("x.user_id") === col("y.user_id") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("n_exact_inter"))
    unionEst
      .join(perType.select(col("event_type").as("ta"), col("est").as("est_a")), Seq("ta"))
      .join(perType.select(col("event_type").as("tb"), col("est").as("est_b")), Seq("tb"))
      .join(exactInter, Seq("ta", "tb"), "left")
      .select(col("ta"), col("tb"), col("est_a"), col("est_b"), col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 4).as("est_inter"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"))
      .orderBy(col("ta"), col("tb"))
  }

  val sketchHllIntersectSql: String = {
    val lz = "CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1 WHEN v >= 2 THEN 2 ELSE 3 END"
    val a = graft.functions.Sketches.HllAlphaM2
    def estOf(src: String, keys: String) =
      s"""SELECT $keys,
         |    round(CASE WHEN $a / z <= 640.0 AND zeros > 0
         |      THEN 256.0 * ln(256.0 / zeros) ELSE $a / z END, 4) AS est
         |  FROM (SELECT $keys,
         |      list_reduce(list_prepend(0.0, list_transform(list(r ORDER BY bucket),
         |        x -> pow(2.0, -x))), (a, b) -> a + b) + (256 - COUNT(*)) AS z,
         |      256 - COUNT(*) AS zeros FROM $src GROUP BY $keys)""".stripMargin
    s"""WITH hs AS (SELECT event_type,
       |    substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS bh,
       |    substr(md5(CAST(user_id AS VARCHAR)), 3, 14) AS sub FROM events),
       |pz AS (SELECT event_type, CAST(concat('0x', bh) AS INT) AS bucket, sub,
       |    length(regexp_extract(sub, '^0*')) AS p FROM hs),
       |rr AS (SELECT event_type, bucket,
       |    CASE WHEN p = 14 THEN 57 ELSE p * 4 + $lz + 1 END AS rho
       |  FROM (SELECT *, strpos('0123456789abcdef', substr(sub, p + 1, 1)) - 1 AS v FROM pz)),
       |regs AS (SELECT event_type, bucket, MAX(rho) AS r FROM rr GROUP BY 1, 2),
       |tps AS (SELECT DISTINCT event_type FROM events),
       |prs AS (SELECT a.event_type AS ta, b.event_type AS tb
       |  FROM tps a, tps b WHERE a.event_type < b.event_type),
       |uregs AS (SELECT p.ta, p.tb, t.bucket, MAX(t.r) AS r
       |  FROM prs p JOIN regs t ON t.event_type IN (p.ta, p.tb) GROUP BY 1, 2, 3),
       |pest AS (${estOf("regs", "event_type")}),
       |uest AS (${estOf("uregs", "ta, tb")}),
       |du AS (SELECT DISTINCT event_type, user_id FROM events),
       |exct AS (SELECT x.event_type AS ta, y.event_type AS tb, COUNT(*) AS n_exact_inter
       |  FROM du x JOIN du y ON x.user_id = y.user_id AND x.event_type < y.event_type
       |  GROUP BY 1, 2)
       |SELECT u.ta, u.tb, ea.est AS est_a, eb.est AS est_b, u.est AS est_union,
       |  round(ea.est + eb.est - u.est, 4) AS est_inter,
       |  COALESCE(e.n_exact_inter, 0) AS n_exact_inter
       |FROM uest u
       |JOIN pest ea ON ea.event_type = u.ta
       |JOIN pest eb ON eb.event_type = u.tb
       |LEFT JOIN exct e ON e.ta = u.ta AND e.tb = u.tb
       |ORDER BY u.ta, u.tb""".stripMargin
  }

  /** Entity resolution, blocked shape: candidate pairs only WITHIN a
    * blocking key, scored by edit distance, matched under a threshold
    * — the classic block→compare→match pipeline that avoids the
    * all-pairs cartesian. THE scale knob is block size — measured at
    * sf0.1: nation blocks (600 rows) → ~4.5M pairs, 26 s; 16-char
    * prefix (100 rows) → 742k pairs, 6.6 s; 17-char prefix (10 rows)
    * → 67k pairs, sub-second. Block tighter and recover the boundary
    * pairs with the companion sorted-neighborhood pass — the standard
    * two-pass ER design. The comparator is the THRESHOLDED
    * levenshtein (banded DP, early exit — Spark returns −1 above the
    * threshold) rather than the full-matrix form.
    */
  def erMatch(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 1, 17).as("blk"))
    c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"),
        col("a.blk").as("block"),
        levenshtein(col("a.c_name"), col("b.c_name"), 2).as("dist"))
      .filter(col("dist") =!= -1)
      .orderBy(col("dist"), col("id_a"), col("id_b"))
      .limit(100)
  }

  val erMatchSql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  substr(a.c_name, 1, 17) AS block, levenshtein(a.c_name, b.c_name) AS dist
      |FROM customer a JOIN customer b
      |  ON substr(a.c_name, 1, 17) = substr(b.c_name, 1, 17)
      |  AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2
      |ORDER BY dist, id_a, id_b LIMIT 100""".stripMargin

  /** ER with the Jaro–Winkler comparator — the string-similarity
    * classic for name matching (Winkler 1990), as a native codegen
    * Expression ([[graft.plans.NativeExpressions.JaroWinkler]])
    * bit-compatible with DuckDB's `jaro_winkler_similarity`, so the
    * emitted doubles hash cross-engine UNROUNDED. Same 16-char-prefix
    * blocking as the er_match family (block ≤100 names — bounded
    * quadratic), top-100 pairs by similarity with id tiebreaks.
    */
  def erJarowinkler(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 1, 16).as("blk"))
    c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"),
        graft.plans.NativeExpressions.jaroWinkler(
          col("a.c_name"), col("b.c_name")).as("jw"))
      .orderBy(col("jw").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  val erJarowinklerSql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  jaro_winkler_similarity(a.c_name, b.c_name) AS jw
      |FROM customer a JOIN customer b
      |  ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
      |  AND a.c_custkey < b.c_custkey
      |ORDER BY jw DESC, id_a, id_b LIMIT 100""".stripMargin

  /** Deterministic sample-quantile sketch with IN-QUERY error
    * certification: the sample is the K=1024 rows with the smallest
    * md5(row-key) — a content-independent, partitioning-independent
    * top-k (TakeOrderedAndProject: per-partition heaps, no global
    * sort), the mergeable "bottom-k sample" that underlies KMV — and
    * the report emits the sample quantiles NEXT TO the exact ones
    * (two-level cumulative ranks) with their absolute errors, so every
    * run certifies its own sketch accuracy. The oracle replays both
    * sides. At 100 TB only the exact side grows; the sketch path stays
    * one top-k + a 1024-row fold.
    */
  def sketchQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 1024
    val li = Tables(s, dir, "lineitem")
      .select(col("l_extendedprice").as("v"),
        concat_ws("-", col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")).as("rk"))
    // r13: spread the SAMPLE branch to session width before the md5 —
    // the hash kernel ran in the scan's 3 tasks (profiled: 494 ms
    // 3-task TakeOrdered stage, the query's dominant cost); the exact
    // branch below is untouched (its groupBy prunes rk/h away).
    // Per-partition top-K then driver merge — same K rows selected.
    val sample = graft.Tables.spreadToWidth(li)
      .withColumn("h", md5(col("rk")))
      .orderBy(col("h"), col("rk"), col("v")).limit(K).select(col("v"))
    // ≤1024 rows by construction — the single-partition window is the
    // design, not an accident (the whole sample fits one task)
    val sr = sample.withColumn("rn", row_number().over(Window.orderBy(col("v"))))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
    def est(p: Double, out: String) = max(when(
      col("rn") === floor(lit(p) * (col("m") - 1)).cast("long") + 1, col("v"))).as(out)
    val estQ = sr.agg(est(0.5, "est_p50"), est(0.9, "est_p90"), est(0.99, "est_p99"))
    val cm = FeatureQueries.cumRanks(
      li.groupBy(col("v")).agg(count(lit(1)).as("c")))
    def ex(p: Double, out: String) = min(when(
      col("cum") >= floor(lit(p) * (col("n") - 1)).cast("long") + 1, col("v"))).as(out)
    val exQ = cm.agg(max(col("n")).as("n"),
      ex(0.5, "exact_p50"), ex(0.9, "exact_p90"), ex(0.99, "exact_p99"))
    estQ.crossJoin(broadcast(exQ))
      .select(lit(K.toLong).as("k"), col("n"),
        col("est_p50"), col("exact_p50"),
        abs(col("est_p50") - col("exact_p50")).as("err_p50"),
        col("est_p90"), col("exact_p90"),
        abs(col("est_p90") - col("exact_p90")).as("err_p90"),
        col("est_p99"), col("exact_p99"),
        abs(col("est_p99") - col("exact_p99")).as("err_p99"))
  }

  val sketchQuantileSql: String =
    """WITH li AS (SELECT l_extendedprice AS v,
      |    CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
      |      || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR) AS rk
      |  FROM lineitem),
      |s AS (SELECT v FROM (SELECT v, rk, md5(rk) AS h FROM li)
      |  ORDER BY h, rk, v LIMIT 1024),
      |sr AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
      |    COUNT(*) OVER () AS m FROM s),
      |est AS (SELECT
      |    MAX(CASE WHEN rn = CAST(floor(0.5e0 * (m - 1)) AS BIGINT) + 1 THEN v END) AS est_p50,
      |    MAX(CASE WHEN rn = CAST(floor(0.9e0 * (m - 1)) AS BIGINT) + 1 THEN v END) AS est_p90,
      |    MAX(CASE WHEN rn = CAST(floor(0.99e0 * (m - 1)) AS BIGINT) + 1 THEN v END) AS est_p99
      |  FROM sr),
      |vals AS (SELECT v, COUNT(*) AS c FROM li GROUP BY 1),
      |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals),
      |cm AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum, nn.n
      |  FROM vals CROSS JOIN nn),
      |ex AS (SELECT CAST(MAX(n) AS BIGINT) AS n,
      |    MIN(CASE WHEN cum >= CAST(floor(0.5e0 * (n - 1)) AS BIGINT) + 1 THEN v END) AS exact_p50,
      |    MIN(CASE WHEN cum >= CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1 THEN v END) AS exact_p90,
      |    MIN(CASE WHEN cum >= CAST(floor(0.99e0 * (n - 1)) AS BIGINT) + 1 THEN v END) AS exact_p99
      |  FROM cm)
      |SELECT CAST(1024 AS BIGINT) AS k, n,
      |  est_p50, exact_p50, abs(est_p50 - exact_p50) AS err_p50,
      |  est_p90, exact_p90, abs(est_p90 - exact_p90) AS err_p90,
      |  est_p99, exact_p99, abs(est_p99 - exact_p99) AS err_p99
      |FROM est CROSS JOIN ex""".stripMargin

  /** Blocking-quality evaluation (the ER-survey metrics): REDUCTION
    * RATIO (how many pairs blocking prunes) and PAIR COMPLETENESS
    * (what fraction of true matches survive the prune) for the
    * 16-char-prefix blocker against a ground truth of levenshtein≤2
    * pairs. Ground truth requires the quadratic — so the universe is
    * BOUNDED BY CONSTRUCTION (custkey < 1000, ~500k pairs at ANY
    * scale factor), the documented cartesian exception: this query
    * measures a blocker, the blockers themselves never pay it.
    * Integer tallies, two final divisions.
    */
  /** The bounded ground-truth pair universe — exposed for the PlanSpec
    * pin (the final query hides it behind the result checkpoint). */
  private[graft] def erBlockingUniverse(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").filter(col("c_custkey") < 1000)
      .select(col("c_custkey").as("id"), col("c_name").as("nm"))

  private[graft] def erBlockingPairs(u: DataFrame): DataFrame =
    u.as("a").join(u.as("b"), col("a.id") < col("b.id"))

  def erBlockingEval(s: SparkSession, dir: String): DataFrame = {
    val u = erBlockingUniverse(s, dir).localCheckpoint(true)
    val out = erBlockingPairs(u)
      .select(
        (levenshtein(col("a.nm"), col("b.nm"), 2) =!= -1).cast("long").as("is_match"),
        (substring(col("a.nm"), 1, 16) === substring(col("b.nm"), 1, 16))
          .cast("long").as("in_block"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("is_match")).as("n_matches"),
        sum(col("in_block")).as("n_candidates"),
        sum(col("is_match") * col("in_block")).as("n_captured"))
      .select(col("n_pairs"), col("n_matches"), col("n_candidates"), col("n_captured"),
        (lit(1.0) - col("n_candidates").cast("double") / col("n_pairs").cast("double"))
          .as("reduction_ratio"),
        when(col("n_matches") > 0,
          col("n_captured").cast("double") / col("n_matches").cast("double"))
          .as("pair_completeness"))
      .localCheckpoint(true)
    graft.Caches.free(u)
    out
  }

  val erBlockingEvalSql: String =
    """WITH u AS (SELECT c_custkey AS id, c_name AS nm FROM customer
      |  WHERE c_custkey < 1000),
      |p AS (SELECT
      |    CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 1 ELSE 0 END AS is_match,
      |    CASE WHEN substr(a.nm, 1, 16) = substr(b.nm, 1, 16) THEN 1 ELSE 0 END AS in_block
      |  FROM u a JOIN u b ON a.id < b.id),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(is_match) AS BIGINT) AS n_matches,
      |    CAST(SUM(in_block) AS BIGINT) AS n_candidates,
      |    CAST(SUM(is_match * in_block) AS BIGINT) AS n_captured
      |  FROM p)
      |SELECT n_pairs, n_matches, n_candidates, n_captured,
      |  1.0e0 - CAST(n_candidates AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS reduction_ratio,
      |  CASE WHEN n_matches > 0
      |    THEN CAST(n_captured AS DOUBLE) / CAST(n_matches AS DOUBLE) END AS pair_completeness
      |FROM t""".stripMargin

  /** Entity resolution, sorted-neighborhood shape (Hernández &
    * Stolfo): sort by the match key once, compare each record only to
    * its w following neighbors via lead() — LINEAR candidate count
    * (n·w pairs) instead of blocked quadratic, one sort-shuffle total.
    * The scale path when no small blocking key exists.
    */
  def erSortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables(s, dir, "customer")
    // single global sort window is intentional here: the sorted
    // neighborhood IS the algorithm; at scale use repartitionByRange
    // + per-partition windows with boundary overlap
    val w = Window.orderBy(col("c_name"), col("c_custkey"))
    val withNext = c.select(col("c_custkey"), col("c_name"))
      .withColumn("n1_key", lead(col("c_custkey"), 1).over(w))
      .withColumn("n1_name", lead(col("c_name"), 1).over(w))
      .withColumn("n2_key", lead(col("c_custkey"), 2).over(w))
      .withColumn("n2_name", lead(col("c_name"), 2).over(w))
    val p1 = withNext.filter(col("n1_key").isNotNull)
      .select(col("c_custkey").as("id_a"), col("n1_key").as("id_b"),
        levenshtein(col("c_name"), col("n1_name")).as("dist"))
    val p2 = withNext.filter(col("n2_key").isNotNull)
      .select(col("c_custkey").as("id_a"), col("n2_key").as("id_b"),
        levenshtein(col("c_name"), col("n2_name")).as("dist"))
    p1.unionByName(p2)
      .filter(col("dist") <= 1)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
      .orderBy(col("id_a"), col("id_b"))
      .limit(200)
  }

  val erSortedNeighborhoodSql: String =
    """WITH s AS (SELECT c_custkey, c_name,
      |    lead(c_custkey, 1) OVER w AS n1_key, lead(c_name, 1) OVER w AS n1_name,
      |    lead(c_custkey, 2) OVER w AS n2_key, lead(c_name, 2) OVER w AS n2_name
      |  FROM customer WINDOW w AS (ORDER BY c_name, c_custkey)),
      |prs AS (
      |  SELECT c_custkey AS id_a, n1_key AS id_b, levenshtein(c_name, n1_name) AS dist
      |  FROM s WHERE n1_key IS NOT NULL
      |  UNION ALL
      |  SELECT c_custkey AS id_a, n2_key AS id_b, levenshtein(c_name, n2_name) AS dist
      |  FROM s WHERE n2_key IS NOT NULL)
      |SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b, dist
      |FROM prs WHERE dist <= 1
      |ORDER BY id_a, id_b LIMIT 200""".stripMargin

  /** Association-rule mining, pairwise (the market-basket shape):
    * baskets are (user, day) sessions, items the event types seen in
    * them; emits support, confidence and lift per ordered type pair.
    * The pair expansion happens INSIDE each basket (items per basket
    * ≤ 5 types), so candidates are linear in baskets, never |types|²
    * across the corpus. Counts are exact ints; the three ratios are
    * single IEEE divisions, identical cross-engine.
    */
  def basketPairs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val baskets = ev.select(col("user_id"),
        (unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        col("event_type")).distinct()
    val nBaskets = baskets.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val item = baskets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_item"))
    val pair = baskets.as("a").join(baskets.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n_pair"))
    pair.join(item.select(col("event_type").as("ta"), col("n_item").as("n_a")), Seq("ta"))
      .join(item.select(col("event_type").as("tb"), col("n_item").as("n_b")), Seq("tb"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ta"), col("tb"), col("n_pair"), col("n_a"), col("n_b"),
        (col("n_pair").cast("double") / col("n_baskets")).as("support"),
        (col("n_pair").cast("double") / col("n_a")).as("confidence"),
        (col("n_pair").cast("double") * col("n_baskets") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("ta"), col("tb"))
  }

  val basketPairsSql: String =
    """WITH b AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day, event_type FROM events),
      |nb AS (SELECT COUNT(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM b)),
      |it AS (SELECT event_type, COUNT(*) AS n_item FROM b GROUP BY event_type),
      |pr AS (SELECT a.event_type AS ta, b2.event_type AS tb, COUNT(*) AS n_pair
      |  FROM b a JOIN b b2 ON a.user_id = b2.user_id AND a.day = b2.day
      |    AND a.event_type < b2.event_type
      |  GROUP BY 1, 2)
      |SELECT ta, tb, n_pair, ia.n_item AS n_a, ib.n_item AS n_b,
      |  CAST(n_pair AS DOUBLE) / n_baskets AS support,
      |  CAST(n_pair AS DOUBLE) / ia.n_item AS confidence,
      |  CAST(n_pair AS DOUBLE) * n_baskets / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
      |FROM pr JOIN it ia ON ia.event_type = ta
      |JOIN it ib ON ib.event_type = tb CROSS JOIN nb
      |ORDER BY ta, tb""".stripMargin

  /** Equi-width histogram of `value` per event type (20 buckets over
    * the per-type [min, max]): the profiling primitive behind data
    * skipping and UI distributions. Bucket index arithmetic is the
    * same double expression both engines evaluate; counts are exact.
    */
  def tsHistogram(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, dir, "events").filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val w = Window.partitionBy(col("event_type"))
    val bucketed = ev
      .withColumn("lo", min(col("value")).over(w))
      .withColumn("hi", max(col("value")).over(w))
      .withColumn("bucket",
        least(floor((col("value") - col("lo")) * 20.0 /
          greatest(col("hi") - col("lo"), lit(1e-300))).cast("long"), lit(19L)))
    bucketed.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val tsHistogramSql: String =
    """WITH ev AS (SELECT event_type, value,
      |    MIN(value) OVER (PARTITION BY event_type) AS lo,
      |    MAX(value) OVER (PARTITION BY event_type) AS hi
      |  FROM events WHERE value IS NOT NULL),
      |bk AS (SELECT event_type,
      |    least(CAST(floor((value - lo) * 20.0e0 / greatest(hi - lo, 1e-300)) AS BIGINT), 19) AS bucket
      |  FROM ev)
      |SELECT event_type, bucket, COUNT(*) AS n
      |FROM bk GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin

  /** Pearson correlation + least-squares line of extendedprice on
    * quantity per return flag, with EXACT integer moments: quantity is
    * integral and price has exactly 2 decimals, so round(p*100) is the
    * same BIGINT in both engines (IEEE multiply then half-up round of
    * a positive double); the five moment sums accumulate in
    * DECIMAL(38,0) (map-side partials, one keyed shuffle), are cast to
    * double ONCE each, and the corr/slope/intercept arithmetic is the
    * identical IEEE sequence cross-engine. The built-in `corr` is a
    * streaming-kahan variant whose result is partition-order-dependent
    * — this formulation is deterministic at any partition count.
    */
  def statsCorr(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("q"),
        round(col("l_extendedprice") * 100.0).cast("long").as("p"))
    def dsum(c: org.apache.spark.sql.Column, out: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(out)
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(col("q"), "sq"), dsum(col("p"), "sp"),
        dsum(col("q") * col("p"), "sqp"),
        dsum(col("q") * col("q"), "sqq"),
        dsum(col("p") * col("p"), "spp"))
      // A degenerate group (constant q or p) has zero variance; under
      // Spark-4 ANSI a double division by zero THROWS, so the guards
      // emit NULL there instead — same op sequence otherwise.
      .withColumn("num", col("n") * col("sqp") - col("sq") * col("sp"))
      .withColumn("var_q", col("n") * col("sqq") - col("sq") * col("sq"))
      .withColumn("var_p", col("n") * col("spp") - col("sp") * col("sp"))
      .select(col("l_returnflag"), col("n").cast("long").as("n"),
        when(col("var_q") =!= 0.0 && col("var_p") =!= 0.0,
          col("num") / (sqrt(col("var_q")) * sqrt(col("var_p")))).as("corr_qp"),
        when(col("var_q") =!= 0.0, col("num") / col("var_q")).as("slope"),
        when(col("var_q") =!= 0.0,
          (col("sp") - (col("num") / col("var_q")) * col("sq")) / col("n"))
          .as("intercept"))
      .orderBy(col("l_returnflag"))
  }

  val statsCorrSql: String =
    """WITH m AS (SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sq,
      |    CAST(SUM(CAST(CAST(round(l_extendedprice * 100.0e0) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sp,
      |    CAST(SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100.0e0) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sqp,
      |    CAST(SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sqq,
      |    CAST(SUM(CAST(CAST(round(l_extendedprice * 100.0e0) AS BIGINT) * CAST(round(l_extendedprice * 100.0e0) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS spp
      |  FROM lineitem GROUP BY l_returnflag),
      |d AS (SELECT *, (n * sqp - sq * sp) AS num,
      |    (n * sqq - sq * sq) AS var_q, (n * spp - sp * sp) AS var_p FROM m)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  CASE WHEN var_q <> 0 AND var_p <> 0
      |    THEN num / (sqrt(var_q) * sqrt(var_p)) END AS corr_qp,
      |  CASE WHEN var_q <> 0 THEN num / var_q END AS slope,
      |  CASE WHEN var_q <> 0 THEN (sp - (num / var_q) * sq) / n END AS intercept
      |FROM d ORDER BY l_returnflag""".stripMargin

  /** χ² test of independence for event_type × weekday: observed counts
    * are exact ints, expected = rowTotal·colTotal/total is one double
    * division (the BIGINT product is exact), and the statistic folds
    * (o−e)²/e over cells in (type, dow) order — the contingency table
    * is small by construction (|types|·7), so the ordered fold is a
    * scalar tail on top of one keyed count aggregation.
    */
  def statsChisq(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables(s, dir, "events")
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("o"))
    val withTots = cells
      .withColumn("row_t", sum(col("o")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .withColumn("col_t", sum(col("o")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("dow"))))
      .withColumn("tot", sum(col("o")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("e",
        (col("row_t") * col("col_t")).cast("double") / col("tot").cast("double"))
      // (o−e)² as an explicit multiply: java Math.pow is not correctly
      // rounded, an IEEE multiply is — the square must round identically
      // in both engines
      .withColumn("term",
        (col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e")) / col("e"))
    withTots
      .groupBy()
      .agg(sort_array(collect_list(struct(col("event_type"), col("dow"), col("term")))).as("arr"),
        countDistinct(col("event_type")).as("r"),
        countDistinct(col("dow")).as("c"))
      .select(
        aggregate(transform(col("arr"), x => x.getField("term")), lit(0.0),
          (a, v) => a + v).as("chi2"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"))
  }

  val statsChisqSql: String =
    """WITH cells AS (SELECT event_type, CAST(dayofweek(ts) AS BIGINT) + 1 AS dow, COUNT(*) AS o
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, dow, o,
      |    SUM(o) OVER (PARTITION BY event_type) AS row_t,
      |    SUM(o) OVER (PARTITION BY dow) AS col_t,
      |    SUM(o) OVER () AS tot FROM cells),
      |e AS (SELECT event_type, dow, o,
      |    CAST(row_t * col_t AS DOUBLE) / CAST(tot AS DOUBLE) AS e FROM t),
      |terms AS (SELECT event_type, dow,
      |    (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS term FROM e)
      |SELECT list_reduce(list(term ORDER BY event_type, dow), (a, v) -> a + v) AS chi2,
      |  (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS dof
      |FROM terms""".stripMargin

  /** Per-node triangle counts over the supplier co-supply graph: an
    * edge joins two suppliers whose shared-part count reaches the p99
    * of all co-supply pairs (exact rank SELECTION, so the graph is
    * self-tuning — a fixed absolute cut is meaningless when mean
    * co-supply swings with catalog density). Counting uses the
    * degree-ordered orientation: each undirected edge points from its
    * lower-(degree, id) endpoint to the higher, so every triangle is
    * enumerated exactly once and the wedge join fans out by ORIENTED
    * degree — O(m^1.5) candidates on any graph, immune to high-degree
    * hubs (the reason GraphX/Trino count triangles this way). Pair
    * expansion happens INSIDE each part group (co-supply fan-out is
    * catalog-bounded); output is exact integers.
    */
  /** The supplier co-supply graph shared by [[graphTriangles]] and
    * [[graphBfs]]: undirected edges (u < v) between suppliers whose
    * shared-part count reaches the p99 of all co-supply pairs. The p99
    * is exact WITHOUT a global sort: histogram of the bounded-integer
    * domain + cumulative count (the pipeline_stats percentile trick) —
    * the window runs over distinct shared values only, never over the
    * pair set. Checkpointed: every consumer iterates or self-joins it.
    */
  /** The co-supply edge list is INDEX-BUILD work shared by six graph
    * queries (triangles, BFS, labelprop, modularity, linkpred,
    * er-adjacent): memoized per (session, dir) so one materialized
    * localCheckpoint serves them all — the kg_build precedent. Bench
    * itemizes the build as `graph_build` so per-query timings measure
    * the query plane, not a rebuild of the same index.
    */
  /** LRU-bounded (r5 VERDICT #5): the bench/driver lifecycle only ever
    * sees one (session, dir) pair, but a long-lived multi-tenant
    * session scanning many directories would otherwise accrete one
    * checkpointed edge index per dir without bound. Beyond
    * [[EdgeCacheMax]] entries the least-recently-USED index is evicted
    * and its storage blocks freed (eviction runs under the same lock as
    * lookup). Evicting a checkpointed index is safe for cached-index
    * consumers: the next graphBuild for that key simply rebuilds. A
    * stopped session's entries are dropped ([[graft.SessionMemo]]).
    */
  private val EdgeCacheMax = 4
  private val edgeCache =
    new graft.SessionMemo[String, DataFrame](EdgeCacheMax, graft.Caches.free)

  /** Current number of memoized edge indexes (spec hook). */
  private[queries] def edgeCacheSize: Int = edgeCache.size

  /** Force-build (or reuse) the memoized edge index; returns it.
    * Self-healing: a hit whose blocks were swept rebuilds in place.
    */
  def graphBuild(s: SparkSession, dir: String): DataFrame =
    edgeCache.synchronized {
      edgeCache.get(s, dir).filter(graft.Caches.alive).getOrElse {
        val built = buildCoSupplyEdges(s, dir)
        edgeCache.put(s, dir, built)
        built
      }
    }

  private def coSupplyEdges(s: SparkSession, dir: String): DataFrame =
    graphBuild(s, dir)

  /** The co-supply edge index: supplier pairs that share at least the
    * p99 count of parts, with the shared-part count.
    *
    * r12: one explicit pk-hash exchange at the session's full width
    * serves BOTH the (pk, sk) dedup (hash partitioning on pk clusters
    * every (pk, sk) group) and the self-join on pk — and, because
    * user-specified partition counts are exempt from AQE coalescing,
    * the join+pair-count stage (the build's dominant cost) runs at
    * full width instead of the ~5 tasks AQE coalesced the 6 MB
    * exchange to (profiled: 2.2 s of the 4.0 s build in that stage).
    *
    * r13 note (verdict #2 tried and REVERTED): replacing the distinct
    * + self-join with collect_set + in-row i<j pair expansion measured
    * NEUTRAL on the build itself (pair-count subplan 1.67 s before vs
    * 1.68 s after, warm — the r12 full-width fix had already removed
    * the join bottleneck; the residual is inherent pair volume + one-
    * time codegen) and ~5-10% WORSE across the six graph consumers:
    * the explode-based origin plan carries smaller size estimates into
    * the edge checkpoint, flipping consumer joins SMJ→BHJ and adding
    * broadcast-exchange construction jobs to every BFS-style loop
    * (PLAN_BUDGETS jobs graph_bfs 10→16, kcore 5→10; A/B subset bench
    * 28.8 → 30.9 s over 12 consumers). The join shape stays.
    */
  private def buildCoSupplyEdges(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .repartition(s.sparkContext.defaultParallelism, col("pk"))
      .distinct()
    // Materialized ONCE: the threshold scan and the final filter both
    // read the pair set — without the barrier the p99 pass and the edge
    // pass each re-run the self-join (the build's dominant cost).
    val pairs = ps.as("a").join(ps.as("b"),
        col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
      .agg(count(lit(1)).as("shared"))
      .localCheckpoint(true)
    val hist = pairs.groupBy(col("shared")).agg(count(lit(1)).as("cnt"))
    // p99 threshold from the histogram WITHOUT a window: the histogram's
    // bounded-int domain collapses to one row (sorted struct array +
    // total, n = Σcnt — no second pass over the pair set), and a single
    // left-to-right fold finds the first `shared` whose cumulative count
    // reaches the p99 target. No Window.orderBy -> no single-partition
    // sort, no WindowExec "no partition defined" ambiguity at scale.
    val thr = hist
      .agg(sort_array(collect_list(struct(col("shared"), col("cnt")))).as("h"),
        sum(col("cnt")).as("n"))
      .withColumn("target", floor(lit(0.99) * (col("n") - 1).cast("double")).cast("long") + 1)
      .select(aggregate(col("h"),
        struct(lit(0L).as("cum"), lit(null).cast("long").as("thr")),
        (acc, x) => {
          val cum = acc.getField("cum") + x.getField("cnt")
          struct(cum.as("cum"),
            coalesce(acc.getField("thr"),
              when(cum >= col("target"), x.getField("shared"))).as("thr"))
        }).getField("thr").as("thr"))
    // `shared` rides along for weight-aware consumers (graph_sssp);
    // unweighted consumers select (u, v) explicitly
    val out = pairs.crossJoin(broadcast(thr))
      .filter(col("shared") >= col("thr"))
      .select(col("u"), col("v"), col("shared")).localCheckpoint(true)
    graft.Caches.free(pairs) // the full pair set is dead once edges land
    out
  }

  /** Oracle CTE block mirroring [[coSupplyEdges]] (MATERIALIZED — see
    * the triangle-oracle note below).
    */
  private[queries] val CoSupplyCtes: String =
    """ps AS MATERIALIZED (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |pairs AS MATERIALIZED (SELECT a.sk AS u, b.sk AS v, COUNT(*) AS shared
      |  FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk GROUP BY 1, 2),
      |hist AS (SELECT shared, COUNT(*) AS cnt FROM pairs GROUP BY shared),
      |tot AS (SELECT COUNT(*) AS n FROM pairs),
      |cum AS (SELECT shared, SUM(cnt) OVER (ORDER BY shared) AS cum, n
      |  FROM hist CROSS JOIN tot),
      |thr AS (SELECT MIN(shared) AS thr FROM cum
      |  WHERE cum >= CAST(floor(0.99e0 * (n - 1)) AS BIGINT) + 1),
      |edges AS MATERIALIZED (SELECT u, v, shared FROM pairs CROSS JOIN thr WHERE shared >= thr)""".stripMargin

  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir)
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient: src = endpoint with lower (deg, id)
    val oriented = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("node")).limit(20)
  }

  // MATERIALIZED: DuckDB inlines CTEs by default, and `o` is referenced
  // three times in the triangle join — without the barrier the whole
  // pair-build re-runs per reference and the optimizer loses the
  // self-join cardinality (measured: >5 min vs seconds at sf0.1)
  val graphTrianglesSql: String =
    s"""WITH $CoSupplyCtes,
      |deg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
      |  SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
      |o AS MATERIALIZED (SELECT
      |    CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
      |    CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst
      |  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
      |  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst)
      |SELECT node, COUNT(*) AS n_tri FROM (
      |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      |GROUP BY node ORDER BY n_tri DESC, node LIMIT 20""".stripMargin

  /** Single-source BFS over the co-supply graph (source = the minimum
    * node id), hop distances ≤ 6: the frontier-expansion loop — each
    * round is one keyed join (edges ⋈ frontier) + one anti-join
    * against the visited set, the Pregel step shape. Iterations are
    * FIXED (6), never data-dependent; every round is checkpointed so
    * the plan stays flat (the pagerank/clusters lesson). The oracle
    * replays the same search as a recursive CTE with the hop bound in
    * the recursion guard, then takes MIN(hop) — certifying the
    * iterative frontier discipline against a declarative closure.
    */
  private val BcSeeds = 32
  private val BcHops = 3

  /** Betweenness centrality on the co-supply graph, made scale-shaped
    * by BOTH standard compromises: SOURCE-PAIR SAMPLING (Brandes &
    * Pich 2007 — restrict (s,t) to a deterministic salted-hash seed
    * set, |S|=32, the sampleK convention) and a 3-HOP bound. The
    * undirected symmetry σ(v→t) = σ(t→v) means the t-leg reuses the
    * seed-sourced table REVERSED, so the only BFS run is |S| sources ×
    * 3 level-synchronous rounds (frontier join + path-count aggregate,
    * anti-joined against the visited accumulation) — never all-pairs.
    * bc(v) = Σ_{s,t∈S} σ_st(v)/σ_st: σ are exact integers; each term
    * is one double mul/div, and per-node terms fold in (s,t) ORDER so
    * the emitted double is deterministic. The oracle replays all three
    * levels and the same ordered fold.
    */
  def graphBetweenness(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir)
    // the eager `out` checkpoint below is the one materializing action
    // of the lazy chain, after which the frees are safe
    val sym = edges.select(col("u").as("s"), col("v").as("t"))
      .unionAll(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(false)
    val nodes = sym.select(col("s").as("node")).distinct()
    val seeds = nodes
      .orderBy(md5(concat(lit("bc:"), col("node").cast("string"))), col("node"))
      .limit(BcSeeds)
      .select(col("node").as("s"))
    val edge = sym.select(col("s").as("mid"), col("t").as("w"))
    val levels = graft.Iterate.rounds(sym.join(broadcast(seeds), "s")
        .groupBy(col("s"), col("t")).agg(count(lit(1)).as("sigma"))
        .withColumn("d", lit(1L)), BcHops - 1) { (built, r) =>
      val cur = built.head
      val visited = built.reduce(_ unionByName _).select(col("s"), col("t"))
      cur.join(edge, cur("t") === edge("mid"))
        .filter(col("s") =!= col("w"))
        .groupBy(col("s"), col("w")).agg(sum(col("sigma")).as("sigma"))
        .withColumnRenamed("w", "t")
        .join(visited, Seq("s", "t"), "left_anti")
        .withColumn("d", lit(r + 1L))
    }
    val ap = levels.reduce(_ unionByName _)
    val sv = ap.select(col("s"), col("t").as("node"), col("d").as("d1"),
      col("sigma").as("s1"))
    val vt = ap.select(col("t").as("node"), col("s").as("t2"),
      col("d").as("d2"), col("sigma").as("s2")) // undirected: σ(v→t)=σ(t→v)
    val st = ap.select(col("s"), col("t").as("t2"), col("d").as("dt"),
      col("sigma").as("sg"))
    val terms = sv.join(vt, "node")
      .filter(col("s") =!= col("t2"))
      .join(st, Seq("s", "t2"))
      .filter(col("d1") + col("d2") === col("dt"))
      .select(col("node"), col("s"), col("t2"),
        (col("s1").cast("double") * col("s2").cast("double") /
          col("sg").cast("double")).as("term"))
    val bc = terms.groupBy(col("node"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("s"), col("t2"), col("term")))),
          x => x.getField("term")),
        lit(0.0), (a, b) => a + b).as("bc"))
    val out = nodes.join(bc, Seq("node"), "left")
      .select(col("node"), coalesce(col("bc"), lit(0.0)).as("bc"))
      .orderBy(col("node"))
      .localCheckpoint(true)
    graft.Caches.free(sym)
    levels.foreach(graft.Caches.free)
    out
  }

  val graphBetweennessSql: String = {
    val lvl = (2 to BcHops).map { h =>
      val notSeen = (1 until h)
        .map(p => s"AND NOT EXISTS (SELECT 1 FROM l$p p WHERE p.s = c.s AND p.t = e.t)")
        .mkString(" ")
      s"""l$h AS MATERIALIZED (SELECT c.s, e.t, CAST(SUM(c.sg) AS BIGINT) AS sg,
         |    CAST($h AS BIGINT) AS d
         |  FROM l${h - 1} c JOIN sym e ON c.t = e.s
         |  WHERE c.s <> e.t $notSeen
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BcHops).map(h => s"SELECT * FROM l$h").mkString(" UNION ALL ")
    s"""WITH $CoSupplyCtes,
       |sym AS MATERIALIZED (SELECT u AS s, v AS t FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |nodes AS (SELECT DISTINCT s AS node FROM sym),
       |seeds AS MATERIALIZED (SELECT node FROM nodes
       |  ORDER BY md5('bc:' || CAST(node AS VARCHAR)), node LIMIT $BcSeeds),
       |l1 AS MATERIALIZED (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS sg,
       |    CAST(1 AS BIGINT) AS d
       |  FROM sym JOIN seeds ON seeds.node = sym.s GROUP BY 1, 2),
       |$lvl,
       |ap AS MATERIALIZED ($union),
       |tri AS (SELECT sv.t AS node, sv.s, vt.s AS t2,
       |    CAST(sv.sg AS DOUBLE) * CAST(vt.sg AS DOUBLE) / CAST(st.sg AS DOUBLE) AS term
       |  FROM ap sv JOIN ap vt ON vt.t = sv.t AND sv.s <> vt.s
       |  JOIN ap st ON st.s = sv.s AND st.t = vt.s AND st.d = sv.d + vt.d),
       |bc AS (SELECT node, CAST(list_reduce(list_prepend(0.0e0,
       |    list_transform(list(struct_pack(s := s, t2 := t2, term := term) ORDER BY s, t2),
       |      x -> x.term)), (a, b) -> a + b) AS DOUBLE) AS bc
       |  FROM tri GROUP BY node)
       |SELECT n.node, COALESCE(bc.bc, 0.0e0) AS bc
       |FROM nodes n LEFT JOIN bc ON bc.node = n.node ORDER BY n.node""".stripMargin
  }

  /** One-row profile of the co-supply graph index — the summary every
    * graph workload starts from: node/edge counts, density
    * 2E/(n(n−1)), average and maximum degree. Exact integers plus two
    * fixed division chains.
    */
  def graphSummary(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir)
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.agg(count(lit(1)).as("n_nodes"), max(col("deg")).as("max_degree"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        when(col("n_nodes") > 1,
          lit(2.0) * col("n_edges").cast("double") /
            (col("n_nodes").cast("double") * (col("n_nodes").cast("double") - lit(1.0))))
          .as("density"),
        when(col("n_nodes") > 0,
          lit(2.0) * col("n_edges").cast("double") / col("n_nodes").cast("double"))
          .as("avg_degree"))
  }

  val graphSummarySql: String =
    s"""WITH $CoSupplyCtes,
       |deg AS (SELECT node, COUNT(*) AS deg FROM (
       |  SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
       |d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(MAX(deg) AS BIGINT) AS max_degree FROM deg),
       |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
       |SELECT n_nodes, n_edges, max_degree,
       |  CASE WHEN n_nodes > 1 THEN 2.0e0 * CAST(n_edges AS DOUBLE)
       |    / (CAST(n_nodes AS DOUBLE) * (CAST(n_nodes AS DOUBLE) - 1.0e0)) END AS density,
       |  CASE WHEN n_nodes > 0
       |    THEN 2.0e0 * CAST(n_edges AS DOUBLE) / CAST(n_nodes AS DOUBLE) END AS avg_degree
       |FROM d CROSS JOIN e""".stripMargin

  /** Sampled-source closeness centrality: c(v) = reached(v) /
    * Σ_{s∈S} d(s,v) over the same 32 salted-hash seeds and 3-hop
    * level-synchronous BFS as [[graphBetweenness]] (undirected
    * symmetry: distances from the seeds ARE distances to them). Sums
    * are exact integers; the closeness ratio is one division. A node
    * no seed reaches within the bound reports NULL (not 0 — "unknown",
    * the honest value under sampling).
    */
  /** The 32-seed, 3-hop distinct-(s,t) level-synchronous BFS shared by
    * [[graphCloseness]] and [[graphBcCoverage]]. Returns (sym, nodes,
    * seeds, levels); the CALLER frees sym and every level once its own
    * result is checkpointed.
    */
  private def seededReachLevels(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, List[DataFrame]) = {
    val edges = coSupplyEdges(s, dir)
    // lazy checkpoints throughout: the persists happen inside the
    // caller's single materializing action
    val sym = edges.select(col("u").as("s"), col("v").as("t"))
      .unionAll(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(false)
    val nodes = sym.select(col("s").as("node")).distinct()
    val seeds = nodes
      .orderBy(md5(concat(lit("bc:"), col("node").cast("string"))), col("node"))
      .limit(BcSeeds)
      .select(col("node").as("s"))
    val edge = sym.select(col("s").as("mid"), col("t").as("w"))
    val levels = graft.Iterate.rounds(sym.join(broadcast(seeds), "s")
        .select(col("s"), col("t")).distinct()
        .withColumn("d", lit(1L)), BcHops - 1) { (built, r) =>
      val cur = built.head
      val visited = built.reduce(_ unionByName _).select(col("s"), col("t"))
      cur.join(edge, cur("t") === edge("mid"))
        .filter(col("s") =!= col("w"))
        .select(col("s"), col("w").as("t")).distinct()
        .join(visited, Seq("s", "t"), "left_anti")
        .withColumn("d", lit(r + 1L))
    }
    (sym, nodes, seeds, levels)
  }

  def graphCloseness(s: SparkSession, dir: String): DataFrame = {
    val (sym, nodes, _, levels) = seededReachLevels(s, dir)
    val ap = levels.reduce(_ unionByName _)
    val agg = ap.groupBy(col("t").as("node"))
      .agg(count(lit(1)).as("reached"), sum(col("d")).as("dist_sum"))
    val out = nodes.join(agg, Seq("node"), "left")
      .select(col("node"), coalesce(col("reached"), lit(0L)).as("reached"),
        coalesce(col("dist_sum"), lit(0L)).as("dist_sum"),
        when(col("dist_sum") > 0,
          col("reached").cast("double") / col("dist_sum").cast("double"))
          .as("closeness"))
      .orderBy(col("node"))
      .localCheckpoint(true)
    graft.Caches.free(sym)
    levels.foreach(graft.Caches.free)
    out
  }

  val graphClosenessSql: String = {
    val lvl = (2 to BcHops).map { h =>
      val notSeen = (1 until h)
        .map(p => s"AND NOT EXISTS (SELECT 1 FROM l$p p WHERE p.s = c.s AND p.t = e.t)")
        .mkString(" ")
      s"""l$h AS MATERIALIZED (SELECT DISTINCT c.s, e.t, CAST($h AS BIGINT) AS d
         |  FROM l${h - 1} c JOIN sym e ON c.t = e.s
         |  WHERE c.s <> e.t $notSeen)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BcHops).map(h => s"SELECT * FROM l$h").mkString(" UNION ALL ")
    s"""WITH $CoSupplyCtes,
       |sym AS MATERIALIZED (SELECT u AS s, v AS t FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |nodes AS (SELECT DISTINCT s AS node FROM sym),
       |seeds AS MATERIALIZED (SELECT node FROM nodes
       |  ORDER BY md5('bc:' || CAST(node AS VARCHAR)), node LIMIT $BcSeeds),
       |l1 AS MATERIALIZED (SELECT DISTINCT sym.s, sym.t, CAST(1 AS BIGINT) AS d
       |  FROM sym JOIN seeds ON seeds.node = sym.s),
       |$lvl,
       |ap AS ($union),
       |agg AS (SELECT t AS node, CAST(COUNT(*) AS BIGINT) AS reached,
       |    CAST(SUM(d) AS BIGINT) AS dist_sum FROM ap GROUP BY t)
       |SELECT n.node, COALESCE(agg.reached, 0) AS reached,
       |  COALESCE(agg.dist_sum, 0) AS dist_sum,
       |  CASE WHEN agg.dist_sum > 0
       |    THEN CAST(agg.reached AS DOUBLE) / CAST(agg.dist_sum AS DOUBLE) END AS closeness
       |FROM nodes n LEFT JOIN agg ON agg.node = n.node ORDER BY n.node""".stripMargin
  }

  /** Seed-coverage diagnostic for the SAMPLED centralities (r5 VERDICT
    * #2): the fraction of graph nodes the 32-seed, 3-hop BFS behind
    * [[graphBetweenness]]/[[graphCloseness]] actually reaches. The
    * fixed (seeds, hops) sample is oracle-certified as implemented, but
    * at 100× the graph's diameter and mixing change and its coverage
    * silently decays — this row makes the truncation MEASURABLE (a
    * pipeline alerts when coverage drops) instead of silent. A seed
    * counts as reached (it is covered by the sample by construction);
    * everything is exact integer counting plus one IEEE division.
    */
  def graphBcCoverage(s: SparkSession, dir: String): DataFrame = {
    val (sym, nodes, seeds, levels) = seededReachLevels(s, dir)
    val ap = levels.reduce(_ unionByName _)
    val reached = ap.select(col("t").as("node"))
      .union(seeds.select(col("s").as("node"))).distinct()
    val out = nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(seeds.agg(count(lit(1)).as("n_seeds"))))
      .crossJoin(broadcast(reached.agg(count(lit(1)).as("n_reached"))))
      // ANSI guard (the edge-corpus discipline): an empty graph NULLs
      // out instead of throwing on /0
      .select(col("n_nodes"), col("n_seeds"), col("n_reached"),
        when(col("n_nodes") > 0L,
          col("n_reached").cast("double") / col("n_nodes").cast("double"))
          .as("coverage"))
      .localCheckpoint(true)
    graft.Caches.free(sym)
    levels.foreach(graft.Caches.free)
    out
  }

  val graphBcCoverageSql: String = {
    val lvl = (2 to BcHops).map { h =>
      val notSeen = (1 until h)
        .map(p => s"AND NOT EXISTS (SELECT 1 FROM l$p p WHERE p.s = c.s AND p.t = e.t)")
        .mkString(" ")
      s"""l$h AS MATERIALIZED (SELECT DISTINCT c.s, e.t
         |  FROM l${h - 1} c JOIN sym e ON c.t = e.s
         |  WHERE c.s <> e.t $notSeen)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BcHops).map(h => s"SELECT s, t FROM l$h").mkString(" UNION ALL ")
    s"""WITH $CoSupplyCtes,
       |sym AS MATERIALIZED (SELECT u AS s, v AS t FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |nodes AS (SELECT DISTINCT s AS node FROM sym),
       |seeds AS MATERIALIZED (SELECT node FROM nodes
       |  ORDER BY md5('bc:' || CAST(node AS VARCHAR)), node LIMIT $BcSeeds),
       |l1 AS MATERIALIZED (SELECT DISTINCT sym.s, sym.t
       |  FROM sym JOIN seeds ON seeds.node = sym.s),
       |$lvl,
       |reach AS (SELECT t AS node FROM ($union) UNION SELECT node FROM seeds),
       |cnts AS (SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       |  (SELECT COUNT(*) FROM seeds) AS n_seeds,
       |  (SELECT COUNT(*) FROM reach) AS n_reached)
       |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(n_seeds AS BIGINT) AS n_seeds,
       |  CAST(n_reached AS BIGINT) AS n_reached,
       |  CASE WHEN n_nodes > 0
       |    THEN CAST(n_reached AS DOUBLE) / CAST(n_nodes AS DOUBLE) END AS coverage
       |FROM cnts""".stripMargin
  }

  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir)
    val e2 = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(false)
    val src = edges.agg(min(col("u")).as("node")).withColumn("hop", lit(0L))
    // Frontier ACCUMULATION, not a re-checkpointed distance table: BFS
    // frontiers are disjoint, so the visited set is the lazy union of
    // the flat per-round checkpoints — one checkpoint per round (not
    // two), each block stored once (the union re-reads, never copies),
    // and the blocks ARE the result (freed by the caller's sweep, not
    // in-loop).
    val frontiers = graft.Iterate.rounds(src, 6) { (built, h) =>
      val visited = built.reduce(_ unionByName _)
      e2.join(built.head.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
    }
    // e2's blocks are swept by the caller (freeing a LAZY checkpoint
    // before its first materialization would break it)
    frontiers.reduce(_ unionByName _).orderBy(col("node"))
  }

  val graphBfsSql: String =
    s"""WITH RECURSIVE $CoSupplyCtes,
      |e2 AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |s0 AS (SELECT MIN(u) AS s FROM edges),
      |walk(node, hop) AS (
      |  SELECT s, CAST(0 AS BIGINT) FROM s0
      |  UNION
      |  SELECT e.dst, w.hop + 1 FROM walk w JOIN e2 e ON e.src = w.node
      |  WHERE w.hop < 6)
      |SELECT node, MIN(hop) AS hop FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** Entity-resolution clustering: the er_match pair set (full, not
    * top-100) closed into connected components via min-label
    * propagation ([[graft.operators.Dedup.clusters]]) — match →
    * cluster → canonical id is the complete ER pipeline. The oracle
    * computes TRUE components through a recursive-CTE transitive
    * closure, so the fixpoint iteration is certified exact (the
    * dedup_cluster convention, on a different graph).
    */
  def erCluster(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 1, 17).as("blk"))
    val pairs = c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"),
        levenshtein(col("a.c_name"), col("b.c_name"), 2).as("dist"))
      .filter(col("dist") =!= -1)
    val lbl = Dedup.clusters(pairs.select(col("id_a"), col("id_b")), maxIter = 20)
    val sizes = lbl.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    lbl.join(sizes, "cluster")
      .select(col("id").as("c_custkey"), col("cluster"), col("cluster_size"))
      .orderBy(col("c_custkey"))
  }

  val erClusterSql: String =
    """WITH RECURSIVE cand AS (
      |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      |  FROM customer a JOIN customer b
      |    ON substr(a.c_name, 1, 17) = substr(b.c_name, 1, 17)
      |    AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
      |edges AS (SELECT id_a, id_b FROM cand
      |  UNION SELECT id_b, id_a FROM cand),
      |reach(a, b) AS (
      |  SELECT id_a, id_b FROM edges
      |  UNION
      |  SELECT r.a, e.id_b FROM reach r JOIN edges e ON r.b = e.id_a),
      |lbl AS (SELECT a AS id, least(a, MIN(b)) AS cluster FROM reach GROUP BY a),
      |sz AS (SELECT cluster, COUNT(*) AS cluster_size FROM lbl GROUP BY cluster)
      |SELECT id AS c_custkey, cluster, cluster_size
      |FROM lbl JOIN sz USING (cluster) ORDER BY c_custkey""".stripMargin

  /** Shannon entropy of each user's event-type mix, −Σ p·ln p: the
    * behavioral-diversity profile. Terms are computed per (user, type)
    * row — one division, one ln, one multiply, one negation, all
    * identical cross-engine (the perplexity precedent certifies ln) —
    * then folded in type order with an explicit 0.0 init on BOTH sides
    * (list_prepend), so the single-type −0.0 term cannot surface as a
    * sign mismatch. ln is only ~correctly-rounded in both runtimes and
    * CAN split by one ulp on some inputs (observed at sf0.01), so the
    * emitted entropy is rounded to 4 decimals — the kg_bm25 / ts_trend
    * score convention. State is bounded by the type alphabet per user.
    */
  def statsEntropy(s: SparkSession, dir: String): DataFrame = {
    val byType = Tables(s, dir, "events")
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
    val withTot = byType.withColumn("total", sum(col("c")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .withColumn("p", col("c").cast("double") / col("total").cast("double"))
      .withColumn("term", -(col("p") * log(col("p"))))
    withTot.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("event_type"), col("term")))).as("arr"),
        count(lit(1)).as("n_types"),
        max(col("total")).as("n_events"))
      .select(col("user_id"), col("n_types"), col("n_events"),
        round(aggregate(transform(col("arr"), x => x.getField("term")), lit(0.0),
          (a, v) => a + v), 4).as("entropy"))
      .orderBy(col("user_id"))
  }

  val statsEntropySql: String =
    """WITH bt AS (SELECT user_id, event_type, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |wt AS (SELECT user_id, event_type, c,
      |    CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS total FROM bt),
      |tm AS (SELECT user_id, event_type, total,
      |    -((CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) *
      |      ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))) AS term FROM wt)
      |SELECT user_id, COUNT(*) AS n_types, MAX(total) AS n_events,
      |  round(list_reduce(list_prepend(0.0e0, list(term ORDER BY event_type)),
      |    (a, v) -> a + v), 4) AS entropy
      |FROM tm GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic (click vs view value
    * distributions): D = max |F₁(v) − F₂(v)| over sample points,
    * EXACT. The cumulative counts that a textbook implementation gets
    * from one global sort are computed two-level instead: per-value
    * counts → 1024 range buckets → bucket totals prefix-summed in a
    * TINY window (1024 rows) → within-bucket running sums keyed by
    * bucket — the global sort becomes one keyed shuffle plus a
    * broadcast of bucket offsets, the same shape at any corpus size.
    * All cumulatives are integers; each CDF value is one division and
    * D-terms one subtract + abs, identical cross-engine; the argmax
    * row is selected by max(struct) with the value as tiebreak.
    */
  def statsKs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val vals = ev.groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
    val rng = vals.agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val bucketed = vals.crossJoin(broadcast(rng))
      .withColumn("bucket",
        least(floor((col("value") - col("lo")) * 1024.0 /
          greatest(col("hi") - col("lo"), lit(1e-300))).cast("long"), lit(1023L)))
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col("c1")).as("s1"), sum(col("c2")).as("s2"))
      .withColumn("o1", coalesce(sum(col("s1")).over(
        Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("o2", coalesce(sum(col("s2")).over(
        Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("o1"), col("o2"))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("value"))
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("cum1", col("o1") + sum(col("c1")).over(wb))
      .withColumn("cum2", col("o2") + sum(col("c2")).over(wb))
      .withColumn("d", abs(col("cum1").cast("double") / col("n1").cast("double") -
        col("cum2").cast("double") / col("n2").cast("double")))
      .groupBy()
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(struct(col("d"), col("value"))).as("best"))
      .select(col("n1"), col("n2"),
        col("best.d").as("ks_d"), col("best.value").as("at_value"))
  }

  val statsKsSql: String =
    """WITH ev AS (SELECT event_type, value FROM events
      |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      |vals AS (SELECT value,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
      |  FROM ev GROUP BY value),
      |rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi,
      |    CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM vals),
      |bk AS (SELECT value, c1, c2, n1, n2,
      |    least(CAST(floor((value - lo) * 1024.0e0 /
      |      greatest(hi - lo, 1e-300)) AS BIGINT), 1023) AS bucket
      |  FROM vals CROSS JOIN rng),
      |offs AS (SELECT bucket,
      |    CAST(COALESCE(SUM(s1) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o1,
      |    CAST(COALESCE(SUM(s2) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o2
      |  FROM (SELECT bucket, SUM(c1) AS s1, SUM(c2) AS s2 FROM bk GROUP BY bucket)),
      |cm AS (SELECT value, n1, n2,
      |    o1 + CAST(SUM(c1) OVER (PARTITION BY bk.bucket ORDER BY value) AS BIGINT) AS cum1,
      |    o2 + CAST(SUM(c2) OVER (PARTITION BY bk.bucket ORDER BY value) AS BIGINT) AS cum2
      |  FROM bk JOIN offs ON bk.bucket = offs.bucket),
      |dd AS (SELECT value, n1, n2,
      |    abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
      |        CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS d FROM cm)
      |SELECT MAX(n1) AS n1, MAX(n2) AS n2,
      |  MAX(struct_pack(d := d, value := value)).d AS ks_d,
      |  MAX(struct_pack(d := d, value := value)).value AS at_value
      |FROM dd""".stripMargin

  /** Community detection by SYNCHRONOUS label propagation over the
    * co-supply graph (Raghavan 2007): every node starts as its own
    * label; each round replaces it with the mode of its neighbors'
    * labels, ties to the SMALLEST label so the update is a pure
    * function of the round's label table — deterministic at any
    * partition count, unlike the asynchronous variant. Three FIXED
    * rounds, each one join + one count aggregate + one max(struct)
    * argmax on the EDGE set, checkpointed flat (the pagerank lesson);
    * the oracle replays all three rounds in unrolled CTEs. Isolated
    * nodes can't occur (every co-supply node has an edge).
    */
  /** Shared labelprop state: (undirected edge list, final label table). */
  private def labelpropState(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val edges = coSupplyEdges(s, dir)
    // the lazy chain materializes inside the consumer's single action;
    // the node-sized blocks are swept by the caller's per-query sweep
    val e2 = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(false)
    val lbl = graft.Iterate.rounds(e2.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")), 3) { (lbls, _) =>
      GraphConvergence.labelpropRound(e2, lbls.head)
    }.head
    (edges, lbl)
  }

  def graphLabelprop(s: SparkSession, dir: String): DataFrame = {
    val (_, lbl) = labelpropState(s, dir)
    val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    lbl.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("community"), col("community_size"))
      .orderBy(col("node"))
  }

  /** Newman modularity of the labelprop partition: Q = Σ_c (e_c/m −
    * (d_c/2m)²) — the standard partition-quality score, reported
    * per-community with the global Q alongside. Everything is integer
    * counting (within-community edges, degree sums, edge total) until
    * three IEEE divisions per community; the global Q folds the
    * per-community contributions in community order (the
    * stats_entropy discipline), so every double is bit-exact
    * cross-engine — no transcendentals, no rounding. Communities with
    * zero internal edges still contribute their −(d_c/2m)² penalty
    * (left join, coalesce 0) — dropping them would inflate Q.
    */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val (edges, lbl) = labelpropState(s, dir)
    val m = edges.agg(count(lit(1)).as("m"))
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dc = deg.join(lbl, "node")
      .groupBy(col("lbl").as("community")).agg(sum(col("deg")).as("d_tot"))
    val ec = edges
      .join(lbl.select(col("node").as("u"), col("lbl").as("la")), "u")
      .join(lbl.select(col("node").as("v"), col("lbl").as("lb")), "v")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("e_in"))
    val cells = dc.join(ec, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("dd", col("d_tot").cast("double") / (lit(2) * col("m")).cast("double"))
      .withColumn("contrib",
        col("e_in").cast("double") / col("m").cast("double") - col("dd") * col("dd"))
    val q = cells
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("community"), col("contrib")))),
          x => x.getField("contrib")),
        lit(0.0), (a, v) => a + v).as("q"))
    cells.crossJoin(broadcast(q))
      .select(col("community"), col("e_in"), col("d_tot"), col("contrib"), col("q"))
      .orderBy(col("community"))
  }

  /** Shared oracle CTE chain ending in `l3(node, lbl)` — the three
    * unrolled labelprop rounds over the co-supply graph.
    */
  private val LabelpropCtes: String = {
    val round = (i: Int) =>
      s"""c$i AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS c
        |  FROM e2 e JOIN l${i - 1} l ON l.node = e.src GROUP BY 1, 2),
        |l$i AS (SELECT node,
        |    -((MAX(struct_pack(c := c, nl := -lbl))).nl) AS lbl
        |  FROM c$i GROUP BY node)""".stripMargin
    s"""$CoSupplyCtes,
      |e2 AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e2),
      |${round(1)},
      |${round(2)},
      |${round(3)}""".stripMargin
  }

  val graphLabelpropSql: String =
    s"""WITH $LabelpropCtes,
      |sz AS (SELECT lbl, COUNT(*) AS community_size FROM l3 GROUP BY lbl)
      |SELECT node, l3.lbl AS community, community_size
      |FROM l3 JOIN sz ON l3.lbl = sz.lbl ORDER BY node""".stripMargin

  val graphModularitySql: String =
    s"""WITH $LabelpropCtes,
      |mm AS (SELECT COUNT(*) AS m FROM edges),
      |deg AS (SELECT node, COUNT(*) AS deg FROM (
      |  SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
      |dc AS (SELECT l.lbl AS community, CAST(SUM(deg) AS BIGINT) AS d_tot
      |  FROM deg JOIN l3 l ON l.node = deg.node GROUP BY 1),
      |ec AS (SELECT la.lbl AS community, COUNT(*) AS e_in
      |  FROM edges e JOIN l3 la ON la.node = e.u JOIN l3 lb ON lb.node = e.v
      |  WHERE la.lbl = lb.lbl GROUP BY 1),
      |cells AS (SELECT dc.community, COALESCE(e_in, 0) AS e_in, d_tot,
      |    CAST(COALESCE(e_in, 0) AS DOUBLE) / CAST(m AS DOUBLE)
      |      - (CAST(d_tot AS DOUBLE) / CAST(2 * m AS DOUBLE))
      |        * (CAST(d_tot AS DOUBLE) / CAST(2 * m AS DOUBLE)) AS contrib
      |  FROM dc LEFT JOIN ec ON ec.community = dc.community CROSS JOIN mm),
      |qq AS (SELECT list_reduce(list_prepend(0.0e0,
      |    list(contrib ORDER BY community)), (a, v) -> a + v) AS q FROM cells)
      |SELECT community, e_in, d_tot, contrib, q
      |FROM cells CROSS JOIN qq ORDER BY community""".stripMargin

  /** k-core peeling over the co-supply graph (k = 2, 4 unrolled
    * rounds): repeatedly drop nodes whose degree in the SURVIVING
    * subgraph is < k — the standard dense-substructure / influence
    * filter (Seidman 1983). Each round is one degree count over the
    * edge set restricted to live endpoints (two semi-join-shaped hash
    * joins + one agg, all keyed on node ids) — per-round cost linear in
    * edges, the labelprop/pagerank loop shape, and the live set only
    * shrinks so later rounds cost less. Four rounds are UNROLLED in
    * the oracle (the graph_labelprop convention), so the certified
    * semantics are "4-round peel" — on this graph the peel reaches its
    * fixpoint earlier (spec-asserted round-4 == round-5 on the test
    * corpus); at true scale the same loop runs to convergence with the
    * checkpoint-and-free discipline. Output: surviving nodes with
    * their final in-core degree.
    */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val k = 2
    val edges = coSupplyEdges(s, dir)
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    // blocks swept by the caller's per-query sweep
    graft.Iterate.rounds(sym.select(col("src").as("node")).distinct(), 4) { (alive, _) =>
      sym
        .join(alive.head.select(col("node").as("src")), "src")
        .join(alive.head.select(col("node").as("dst")), "dst")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("node"), col("deg"))
    }.head.orderBy(col("node"))
  }

  val graphKcoreSql: String = {
    val round = (i: Int) =>
      s"""d$i AS (SELECT e.src AS node, COUNT(*) AS deg FROM e2 e
        |  JOIN a${i - 1} x ON e.src = x.node
        |  JOIN a${i - 1} y ON e.dst = y.node GROUP BY 1),
        |a$i AS (SELECT node FROM d$i WHERE deg >= 2)""".stripMargin
    s"""WITH $CoSupplyCtes,
      |e2 AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |a0 AS (SELECT DISTINCT src AS node FROM e2),
      |${round(1)},
      |${round(2)},
      |${round(3)},
      |${round(4)}
      |SELECT node, deg FROM d4 WHERE deg >= 2 ORDER BY node""".stripMargin
  }

  /** Per-source freshness / staleness report — the data-quality
    * monitor a feed pipeline alerts on: last event time per type, lag
    * behind the freshest source, and trailing-7-day volume vs total.
    * One conditional-sum pass (the dq_report discipline) + a broadcast
    * of the single global-max row; all integer ms arithmetic.
    */
  def dqFreshness(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), unix_millis(col("ts")).as("ts_ms"))
    val g = ev.agg(max(col("ts_ms")).as("g_max"))
    ev.crossJoin(broadcast(g))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        max(col("ts_ms")).as("last_ts_ms"),
        max(col("g_max")).as("g_max"),
        sum(when(col("ts_ms") >= col("g_max") - 604800000L, 1L).otherwise(0L))
          .as("n_last7d"))
      .select(col("event_type"), col("n_total"), col("last_ts_ms"),
        (col("g_max") - col("last_ts_ms")).as("lag_ms"), col("n_last7d"))
      .orderBy(col("event_type"))
  }

  val dqFreshnessSql: String =
    """WITH ev AS (SELECT event_type, epoch_ms(ts) AS ts_ms FROM events),
      |g AS (SELECT MAX(ts_ms) AS g_max FROM ev)
      |SELECT event_type, COUNT(*) AS n_total, MAX(ts_ms) AS last_ts_ms,
      |  MAX(g_max) - MAX(ts_ms) AS lag_ms,
      |  CAST(SUM(CASE WHEN ts_ms >= g_max - 604800000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_last7d
      |FROM ev CROSS JOIN g GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Connected components of the co-supply graph — the canonical
    * graph-partition query (supply-chain islands), via the same
    * fixpoint min-label propagation the dedup plane uses
    * ([[graft.operators.Dedup.clusters]] — per-round cost one
    * join+agg on the edge set, label-sum convergence witness). The
    * oracle computes TRUE components through a recursive-CTE
    * transitive closure, so the iteration is certified exact, not
    * just converged (the dedup_cluster / er_cluster convention, on
    * the graph index).
    */
  def graphCc(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir).select(col("u").as("id_a"), col("v").as("id_b"))
    val lbl = Dedup.clusters(edges, maxIter = 20)
    val sizes = lbl.groupBy(col("cluster")).agg(count(lit(1)).as("component_size"))
    lbl.join(sizes, "cluster")
      .select(col("id").as("node"), col("cluster").as("component"),
        col("component_size"))
      .orderBy(col("node"))
  }

  val graphCcSql: String =
    s"""WITH RECURSIVE $CoSupplyCtes,
      |e2 AS (SELECT u AS id_a, v AS id_b FROM edges
      |  UNION SELECT v, u FROM edges),
      |reach(a, b) AS (
      |  SELECT id_a, id_b FROM e2
      |  UNION
      |  SELECT r.a, e.id_b FROM reach r JOIN e2 e ON r.b = e.id_a),
      |lbl AS (SELECT a AS id, least(a, MIN(b)) AS component FROM reach GROUP BY a),
      |sz AS (SELECT component, COUNT(*) AS component_size FROM lbl GROUP BY component)
      |SELECT id AS node, component, component_size
      |FROM lbl JOIN sz USING (component) ORDER BY node""".stripMargin

  /** Minimum spanning forest of the co-supply graph by distributed
    * Borůvka (1926; the parallel-MST workhorse — see also Chung &
    * Condon 1996): every component picks its best incident edge
    * (maximum `shared`, then lowest (u,v) — a STRICT total order on
    * edges, which makes the MSF unique), picked edges join the
    * forest, and components contract via the hash-min
    * [[graft.operators.Dedup.clusters]] fixpoint. Rounds halve the
    * component count, so the driver loop runs ≤ log₂(V)+1 times
    * (capped at 24), each round a pair of keyed joins + one
    * aggregation — the genuinely distributed dataflow at any scale.
    *
    * Certification: BECAUSE the edge order is total, Borůvka and
    * Kruskal produce the identical forest — the oracle replays
    * Kruskal as one union–find fold over edges in (shared DESC, u, v)
    * order, a completely different algorithm arriving at the same
    * rows. Edge weights are integers; no IEEE anywhere.
    */
  /** Connected-component labels of a (id_a, id_b) pair set by
    * hash-min WITH pointer jumping: each iteration takes the min of
    * (own label, neighbors' labels, label-of-label), so long chains
    * collapse in O(log diameter) rounds where plain min-propagation
    * (Dedup.clusters) needs O(diameter). Identical fixpoint — the
    * component-minimum label (monotone decrease to the unique
    * fixpoint; SessionBatchSpec's Kruskal cross-check pins the
    * resulting forest); used where the caller loops per round
    * and the relabel latency (not throughput) dominates (graph_mst:
    * clusters() was 12 of 15 measured seconds across the four
    * Borůvka rounds at sf0.1).
    */
  private def relabelJump(pairs: DataFrame): DataFrame = {
    // r12: eb is a NARROW symmetric union over the caller-checkpointed
    // pair set — rebuilding it per consumer is two cheap block reads,
    // so its own checkpoint bought nothing (one job per call removed).
    val eb = pairs.select(col("id_a").as("x"), col("id_b").as("y"))
      .unionAll(pairs.select(col("id_b").as("x"), col("id_a").as("y")))
    // one neighbor-min + pointer-jump step as a PLAN over the current
    // labels (r12 note: composing TWO steps per materialization was
    // tried and measured WORSE — the inner step's three in-plan
    // references tripled the join work while the short hook chains of
    // this graph converge in 2–3 single steps anyway).
    // r13: the three candidate sources (own label, neighbor labels,
    // label-of-label) feed ONE union + min aggregation instead of two
    // left joins — same fixpoint algebra (every p-value is a domain
    // node, so the old inner jmp lookup always matched and the
    // coalesce fallbacks never fired; the self rows reproduce them),
    // one broadcast exchange fewer per step.
    def step(cur: DataFrame): DataFrame = {
      val nbrRows = eb
        .join(broadcast(cur.select(col("x").as("y"), col("p").as("np"))), "y")
        .select(col("x"), col("np").as("cand"))
      val jmpRows = cur.as("c")
        .join(broadcast(cur.select(col("x").as("jx"), col("p").as("jp"))),
          col("c.p") === col("jx"))
        .select(col("c.x").as("x"), col("jp").as("cand"))
      val selfRows = cur.select(col("x"), col("p").as("cand"))
      nbrRows.unionAll(jmpRows).unionAll(selfRows)
        .groupBy(col("x")).agg(min(col("cand")).as("p"))
    }
    // every frame is stats-reset (the cadence graph_mst's plans were
    // certified with). 20 + 1 rounds: pointer jumping converges in
    // O(log diameter) rounds, so 20 covers diameter ~2^20, plus the
    // confirming round. Capped labels are WRONG (components would merge
    // under stale labels downstream), so the cap throws.
    graft.Iterate.fixpoint(
        eb.groupBy(col("x")).agg(min(col("y")).as("my"))
          .select(col("x"), least(col("x"), col("my")).as("p")),
        21, resetEvery = 1)(step)(graft.Iterate.unchanged(graft.Iterate.labelSum("p")))
      .orThrow("relabelJump")
      .select(col("x").as("id"), col("p").as("cluster"))
  }

  def graphMst(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir).select(col("u"), col("v"), col("shared"))
    // r13 (verdict #4): no node-label table at all. The output is the
    // FOREST EDGES, so node labels were only ever consumed to rebuild
    // the cross-component edge set — the loop now maintains exactly
    // that working set (u, v, shared, cu, cv), relabels it in place
    // via the round's relabel map, and strictly shrinks it. Per round
    // this removes the labels-update checkpoint, the full-edge-set
    // rebuild (two broadcasts of the complete label table), and the
    // separate e2 materialization (picked is derived from the working
    // set directly); the initial nodes-distinct job disappears too.
    // Identity: cu/cv of a surviving edge equal comp(u)/comp(v) under
    // the old label composition (same relabel chain applied), and the
    // pick's (neg, u, v) prefix is unique per edge, so cu/cv never
    // decide the per-component min — identical picked sets, identical
    // forest.
    // r12: accepted edges ACCUMULATE as the list of per-round picked
    // checkpoints and union once at the end — the old per-round
    // `forest = checkpointReset(forest union picked)` re-materialized the
    // whole growing forest every round (one job + one block rewrite per
    // round for rows already durably checkpointed in `picked`). The
    // picked frames stay alive until the caller's sweep.
    var we = graft.Caches.checkpointReset(edges.select(col("u"), col("v"),
      col("shared"), col("u").as("cu"), col("v").as("cv")))
    val forests = scala.collection.mutable.Buffer.empty[DataFrame]
    var done = false
    var round = 0
    while (!done && round < 24) {
      if (we.isEmpty) { done = true }
      else {
        val cand = struct((-col("shared")).as("neg"), col("u"), col("v"),
          col("cu"), col("cv"))
        val picked = graft.Caches.checkpointReset(we
          .select(explode(array(col("cu"), col("cv"))).as("comp"), cand.as("e"))
          .groupBy(col("comp")).agg(min(col("e")).as("b"))
          .select(col("b.u").as("u"), col("b.v").as("v"),
            (-col("b.neg")).as("shared"), col("b.cu").as("cu"),
            col("b.cv").as("cv"))
          .distinct())
        forests += picked.select(col("u"), col("v"), col("shared"))
        val relabel = relabelJump(
          picked.select(col("cu").as("id_a"), col("cv").as("id_b")))
        val updated = graft.Caches.checkpointReset(we
          .join(broadcast(relabel.select(col("id").as("cu"),
            col("cluster").as("ncu"))), Seq("cu"), "left")
          .join(broadcast(relabel.select(col("id").as("cv"),
            col("cluster").as("ncv"))), Seq("cv"), "left")
          .select(col("u"), col("v"), col("shared"),
            coalesce(col("ncu"), col("cu")).as("cu"),
            coalesce(col("ncv"), col("cv")).as("cv"))
          .filter(col("cu") =!= col("cv")))
        graft.Caches.free(we)
        we = updated
      }
      round += 1
    }
    graft.Caches.free(we)
    forests.reduceOption(_ unionAll _)
      .getOrElse(edges.filter(lit(false)).select(col("u"), col("v"), col("shared")))
      .orderBy(col("u"), col("v"))
  }

  /** Kruskal replay: union–find as a single left-to-right fold over
    * the totally ordered edge list. The accumulator is ONE flat
    * kind-tagged list (kind 0 = (node, label) rows, kind 1 = accepted
    * edges) because DuckDB 1.0's mutating list_reduce accumulator
    * drops list growth nested inside a struct field — a flat list
    * grows and transforms correctly (the ts_cusum hazard's sibling;
    * measured repro in NOTES.md "DuckDB fold semantics"). V is supplier-sized, so the
    * label segment stays tiny at oracle scale.
    */
  val graphMstSql: String =
    s"""WITH $CoSupplyCtes,
      |nodes AS (SELECT DISTINCT x AS n FROM
      |  (SELECT u AS x FROM edges UNION SELECT v FROM edges)),
      |folded AS (SELECT list_reduce(list_prepend(
      |    (SELECT list({'kind': CAST(0 AS BIGINT), 'a': n, 'b': n,
      |        'w': CAST(0 AS BIGINT)} ORDER BY n) FROM nodes),
      |    (SELECT list_transform(
      |        list(struct_pack(u := u, v := v, shared := shared)
      |          ORDER BY shared DESC, u, v),
      |        e -> [{'kind': CAST(1 AS BIGINT), 'a': e.u, 'b': e.v,
      |               'w': e.shared}])
      |      FROM edges)),
      |  (acc, x) -> CASE WHEN
      |      list_filter(acc, r -> r.kind = 0 AND r.a = x[1].a)[1].b
      |        = list_filter(acc, r -> r.kind = 0 AND r.a = x[1].b)[1].b
      |    THEN acc
      |    ELSE list_concat(list_transform(acc, r ->
      |        CASE WHEN r.kind = 0 AND r.b = greatest(
      |              list_filter(acc, r2 -> r2.kind = 0 AND r2.a = x[1].a)[1].b,
      |              list_filter(acc, r2 -> r2.kind = 0 AND r2.a = x[1].b)[1].b)
      |          THEN {'kind': r.kind, 'a': r.a, 'b': least(
      |              list_filter(acc, r2 -> r2.kind = 0 AND r2.a = x[1].a)[1].b,
      |              list_filter(acc, r2 -> r2.kind = 0 AND r2.a = x[1].b)[1].b),
      |            'w': r.w}
      |          ELSE r END),
      |      [x[1]]) END) AS f
      |  FROM (SELECT 1))
      |SELECT r.a AS u, r.b AS v, r.w AS shared
      |FROM (SELECT UNNEST(list_filter(f, r -> r.kind = 1)) AS r FROM folded)
      |ORDER BY u, v""".stripMargin

  /** 2-D skyline (Pareto frontier) of the part table — cheapest price
    * vs largest size, the min/max dominance query. Exact without a
    * self-join: collapse to the best (max) size per distinct price,
    * then a price survives iff its best size strictly exceeds the
    * running max over all STRICTLY lower prices — computed two-level
    * (1024 range buckets; tiny prefix window over bucket maxima;
    * bucket-keyed running max inside) so there is no global sort, the
    * stats_ks shape with max as the monoid. Ties survive together:
    * dominance requires strict improvement in one dimension, so every
    * part matching a surviving (price, best-size) point is emitted via
    * one semi-join back to the table.
    */
  def skylineParts(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables(s, dir, "part")
    val best = parts.groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("bs"))
    val rng = best.agg(min(col("price")).as("lo"), max(col("price")).as("hi"))
    val bucketed = best.crossJoin(broadcast(rng))
      .withColumn("bucket",
        least(floor((col("price") - col("lo")) * 1024.0 /
          greatest(col("hi") - col("lo"), lit(1e-300))).cast("long"), lit(1023L)))
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(max(col("bs")).as("bmax"))
      .withColumn("off", max(col("bmax")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bucket"), col("off"))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bucketed.join(broadcast(offsets), "bucket")
      .withColumn("runmax", greatest(
        coalesce(max(col("bs")).over(wb), lit(Int.MinValue)),
        coalesce(col("off"), lit(Int.MinValue))))
      .filter(col("bs") > col("runmax"))
      .select(col("price"), col("bs"))
    parts.join(frontier,
        parts("p_retailprice") === frontier("price") &&
          parts("p_size") === frontier("bs"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  val skylinePartsSql: String =
    """WITH best AS (SELECT p_retailprice AS price, MAX(p_size) AS bs
      |  FROM part GROUP BY 1),
      |rm AS (SELECT price, bs, MAX(bs) OVER (ORDER BY price
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
      |  FROM best),
      |f AS (SELECT price, bs FROM rm WHERE runmax IS NULL OR bs > runmax)
      |SELECT p_partkey, p_retailprice, p_size
      |FROM part JOIN f ON p_retailprice = f.price AND p_size = f.bs
      |ORDER BY p_partkey""".stripMargin

  /** Item-item collaborative filtering by co-occurrence cosine:
    * cos(i,j) = c_ij / √(c_i·c_j) over order baskets — the classic
    * "bought together" recommender primitive. Pair expansion happens
    * INSIDE baskets (TPC-H orders hold a handful of parts, so
    * candidates stay linear in orders — the basket_pairs shape) and
    * marginals join back on part keys. The cosine is one IEEE sqrt +
    * one division of exact integer products — both correctly-rounded
    * ops, so scores AND the top-50 ordering are bit-exact
    * cross-engine with no rounding step at all.
    */
  def recCosine(s: SparkSession, dir: String): DataFrame = {
    val b = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val ci = b.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val pairs = b.as("a").join(b.as("b2"),
        col("a.ok") === col("b2.ok") && col("a.pk") < col("b2.pk"))
      .groupBy(col("a.pk").as("pa"), col("b2.pk").as("pb"))
      .agg(count(lit(1)).as("cij"))
      .filter(col("cij") >= 3)
    pairs
      .join(ci.select(col("pk").as("pa"), col("c").as("ca")), "pa")
      .join(ci.select(col("pk").as("pb"), col("c").as("cb")), "pb")
      .withColumn("cosine",
        col("cij").cast("double") / sqrt((col("ca") * col("cb")).cast("double")))
      .select(col("pa"), col("pb"), col("cij"), col("ca"), col("cb"), col("cosine"))
      .orderBy(col("cosine").desc, col("pa"), col("pb")).limit(50)
  }

  val recCosineSql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ci AS (SELECT pk, COUNT(*) AS c FROM b GROUP BY pk),
      |pairs AS (SELECT a.pk AS pa, b2.pk AS pb, COUNT(*) AS cij
      |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT pa, pb, cij, ca.c AS ca, cb.c AS cb,
      |  CAST(cij AS DOUBLE) / sqrt(CAST(ca.c * cb.c AS DOUBLE)) AS cosine
      |FROM pairs JOIN ci ca ON ca.pk = pa JOIN ci cb ON cb.pk = pb
      |ORDER BY cosine DESC, pa, pb LIMIT 50""".stripMargin

  /** Item-item JACCARD similarity over the same co-purchase baskets as
    * [[recCosine]] — the set-overlap companion (|A∩B| / |A∪B|): one
    * exact integer division per surviving pair, so scores hash without
    * rounding. Same bounded in-basket pair expansion and ≥3-support
    * prune; at 100 TB the candidate count stays linear in baskets.
    */
  def recJaccard(s: SparkSession, dir: String): DataFrame = {
    val b = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val ci = b.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val pairs = b.as("a").join(b.as("b2"),
        col("a.ok") === col("b2.ok") && col("a.pk") < col("b2.pk"))
      .groupBy(col("a.pk").as("pa"), col("b2.pk").as("pb"))
      .agg(count(lit(1)).as("cij"))
      .filter(col("cij") >= 3)
    pairs
      .join(ci.select(col("pk").as("pa"), col("c").as("ca")), "pa")
      .join(ci.select(col("pk").as("pb"), col("c").as("cb")), "pb")
      .withColumn("jaccard",
        col("cij").cast("double") /
          (col("ca") + col("cb") - col("cij")).cast("double"))
      .select(col("pa"), col("pb"), col("cij"), col("ca"), col("cb"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("pa"), col("pb")).limit(50)
  }

  val recJaccardSql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ci AS (SELECT pk, COUNT(*) AS c FROM b GROUP BY pk),
      |pairs AS (SELECT a.pk AS pa, b2.pk AS pb, COUNT(*) AS cij
      |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT pa, pb, cij, ca.c AS ca, cb.c AS cb,
      |  CAST(cij AS DOUBLE) / CAST(ca.c + cb.c - cij AS DOUBLE) AS jaccard
      |FROM pairs JOIN ci ca ON ca.pk = pa JOIN ci cb ON cb.pk = pb
      |ORDER BY jaccard DESC, pa, pb LIMIT 50""".stripMargin

  /** Benford's-law conformance of order totals: observed leading-digit
    * counts vs expected n·log₁₀(1+1/d), with the χ² statistic folded
    * over the 9 digits in digit order (the stats_entropy fold). All
    * nine cells participate even when a digit never occurs (digits
    * come from a literal 1..9 table, observed coalesced to 0) — the
    * classic mistake of dropping empty cells would silently shrink
    * χ². log₁₀ shares ln's 1-ulp cross-engine wobble, so expected and
    * χ² are rounded to 4 decimals; counts are exact ints.
    */
  def statsBenford(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables(s, dir, "orders")
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val digits = s.range(1, 10).select(col("id").as("digit"))
    val tot = obs.agg(sum(col("obs")).as("n"))
    val cells = digits.join(obs, Seq("digit"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        col("n").cast("double") * log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .withColumn("term",
        (col("obs").cast("double") - col("expected")) *
          (col("obs").cast("double") - col("expected")) / col("expected"))
    val chi = cells
      .agg(round(aggregate(
        transform(sort_array(collect_list(struct(col("digit"), col("term")))),
          x => x.getField("term")),
        lit(0.0), (a, v) => a + v), 4).as("chi2"))
    cells.crossJoin(broadcast(chi))
      .select(col("digit"), col("obs"), round(col("expected"), 4).as("expected"),
        col("chi2"))
      .orderBy(col("digit"))
  }

  val statsBenfordSql: String =
    """WITH ld AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders),
      |ob AS (SELECT digit, COUNT(*) AS obs FROM ld GROUP BY digit),
      |tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM ob),
      |cells AS (SELECT d.digit, COALESCE(ob.obs, 0) AS obs,
      |    CAST(n AS DOUBLE) * log10(1.0e0 + 1.0e0 / CAST(d.digit AS DOUBLE)) AS expected
      |  FROM (SELECT unnest(range(1, 10)) AS digit) d
      |  LEFT JOIN ob ON ob.digit = d.digit CROSS JOIN tot),
      |tm AS (SELECT digit, obs, expected,
      |    (CAST(obs AS DOUBLE) - expected) * (CAST(obs AS DOUBLE) - expected) / expected AS term
      |  FROM cells),
      |chi AS (SELECT round(list_reduce(list_prepend(0.0e0,
      |    list(term ORDER BY digit)), (a, v) -> a + v), 4) AS chi2 FROM tm)
      |SELECT digit, obs, round(expected, 4) AS expected, chi2
      |FROM tm CROSS JOIN chi ORDER BY digit""".stripMargin

  /** ABC (Pareto) classification of parts by revenue: cumulative
    * revenue share in descending-revenue order, class A until 80%,
    * B until 95%, C beyond (the crossing item starts the next class —
    * the convention is pinned by the oracle). Revenue accumulates in
    * exact integer CENTS (round(price·100) is the same BIGINT in both
    * engines — the stats_corr proof), and the descending cumulative is
    * the two-level bucket shape on NEGATED cents with a part-key
    * tiebreak, so there is no global sort and every share is one
    * division of exact integers.
    */
  def abcParts(s: SparkSession, dir: String): DataFrame = {
    val per = Tables(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100.0).cast("long")).as("cents"))
    val rng = per.agg(min(-col("cents")).as("lo"), max(-col("cents")).as("hi"),
      sum(col("cents")).as("tot"))
    val bucketed = per.withColumn("v", -col("cents"))
      .crossJoin(broadcast(rng))
      .withColumn("bucket",
        least(floor((col("v") - col("lo")).cast("double") * 1024.0 /
          greatest((col("hi") - col("lo")).cast("double"), lit(1.0))).cast("long"),
          lit(1023L)))
    val offsets = bucketed.groupBy(col("bucket")).agg(sum(col("cents")).as("sc"))
      .withColumn("off", coalesce(sum(col("sc")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    val wb = Window.partitionBy(col("bucket"))
      .orderBy(col("v"), col("l_partkey"))
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("off") + sum(col("cents")).over(wb))
      .withColumn("share", col("cum").cast("double") / col("tot").cast("double"))
      .withColumn("abc_class",
        when(col("share") <= 0.8, "A").when(col("share") <= 0.95, "B")
          .otherwise("C"))
      .select(col("l_partkey"), col("cents"), col("cum"), col("share"),
        col("abc_class"))
      .orderBy(col("l_partkey"))
  }

  val abcPartsSql: String =
    """WITH per AS (SELECT l_partkey,
      |    CAST(SUM(CAST(round(l_extendedprice * 100.0e0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM per),
      |cm AS (SELECT l_partkey, cents,
      |    CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS BIGINT) AS cum, tot
      |  FROM per CROSS JOIN tot)
      |SELECT l_partkey, cents, cum,
      |  CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
      |  CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8e0 THEN 'A'
      |       WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95e0 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM cm ORDER BY l_partkey""".stripMargin

  /** Wilson score interval (95%) for the per-type "high-value event"
    * rate — the A/B-dashboard statistic done right (the normal
    * approximation misbehaves at small n / extreme p; Wilson doesn't).
    * Success = value ≥ 50. Counts are exact ints; the interval is a
    * fixed chain of IEEE divide/multiply/sqrt — every op correctly
    * rounded and sequenced identically in both engines, so bounds are
    * bit-exact unrounded. One count aggregate total.
    */
  def statsWilson(s: SparkSession, dir: String): DataFrame = {
    val per = Tables(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") >= 50.0, 1L).otherwise(0L)).as("x"))
    val z2 = lit(1.96) * lit(1.96)
    per
      .withColumn("p", col("x").cast("double") / col("n").cast("double"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("denom", lit(1.0) + z2 / col("nd"))
      .withColumn("center", (col("p") + z2 / (lit(2.0) * col("nd"))) / col("denom"))
      .withColumn("half",
        (lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("nd") +
          z2 / (lit(4.0) * col("nd") * col("nd")))) / col("denom"))
      .select(col("event_type"), col("n"), col("x"), col("p"),
        (col("center") - col("half")).as("wilson_lo"),
        (col("center") + col("half")).as("wilson_hi"))
      .orderBy(col("event_type"))
  }

  val statsWilsonSql: String =
    """WITH per AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN value >= 50.0e0 THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
      |c AS (SELECT event_type, n, x,
      |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    CAST(n AS DOUBLE) AS nd,
      |    1.0e0 + (1.96e0 * 1.96e0) / CAST(n AS DOUBLE) AS denom FROM per),
      |d AS (SELECT event_type, n, x, p,
      |    (p + (1.96e0 * 1.96e0) / (2.0e0 * nd)) / denom AS center,
      |    (1.96e0 * sqrt(p * (1.0e0 - p) / nd +
      |      (1.96e0 * 1.96e0) / (4.0e0 * nd * nd))) / denom AS half
      |  FROM c)
      |SELECT event_type, n, x, p,
      |  center - half AS wilson_lo, center + half AS wilson_hi
      |FROM d ORDER BY event_type""".stripMargin

  /** Gini coefficient of customer revenue concentration:
    * G = 2·Σᵢ rᵢ·xᵢ / (n·Σx) − (n+1)/n over per-customer revenue in
    * exact integer cents, rows ranked by (cents, custkey) through the
    * two-level cumulative-count machinery (rank = bucket offset +
    * within-bucket row number — no global sort). Both Σ terms stay in
    * BIGINT, so G is two divisions and a subtraction — bit-exact.
    */
  def statsGini(s: SparkSession, dir: String): DataFrame = {
    val per = Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100.0).cast("long")).as("cents"))
    val rng = per.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
      count(lit(1)).as("n"), sum(col("cents")).as("tot"))
    val bucketed = per.crossJoin(broadcast(rng))
      .withColumn("bucket",
        least(floor((col("cents") - col("lo")).cast("double") * 1024.0 /
          greatest((col("hi") - col("lo")).cast("double"), lit(1.0))).cast("long"),
          lit(1023L)))
    val offsets = bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    val wb = Window.partitionBy(col("bucket"))
      .orderBy(col("cents"), col("o_custkey"))
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("r", col("off") + row_number().over(wb))
      .agg(max(col("n")).as("n"), max(col("tot")).as("total_cents"),
        sum(col("r") * col("cents")).as("s1"))
      .select(col("n"), col("total_cents"),
        ((lit(2L) * col("s1")).cast("double") /
          (col("n") * col("total_cents")).cast("double") -
          (col("n") + 1L).cast("double") / col("n").cast("double")).as("gini"))
  }

  val statsGiniSql: String =
    """WITH per AS (SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100.0e0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |rk AS (SELECT cents,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS r
      |  FROM per),
      |ag AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents,
      |    CAST(SUM(r * cents) AS BIGINT) AS s1 FROM rk)
      |SELECT n, total_cents,
      |  CAST(2 * s1 AS DOUBLE) / CAST(n * total_cents AS DOUBLE)
      |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
      |FROM ag""".stripMargin

  /** Link prediction by common-neighbor Jaccard over the co-supply
    * graph: for node pairs NOT already connected, |N(u)∩N(v)| /
    * |N(u)∪N(v)| — the classic topological similarity. Candidates are
    * generated through shared neighbors (two-hop join on the edge
    * set — only pairs with ≥1 common neighbor ever materialize),
    * existing edges anti-joined away, and the score is one division
    * of exact ints, so the top-30 ordering is bit-exact.
    */
  def graphLinkpred(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir)
    val e2 = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
    val deg = e2.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val cn = e2.as("a").join(e2.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("u"), col("b.src").as("v"))
      .agg(count(lit(1)).as("cn"))
    cn.join(edges, Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .withColumn("jaccard", col("cn").cast("double") /
        (col("du") + col("dv") - col("cn")).cast("double"))
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v")).limit(30)
  }

  val graphLinkpredSql: String =
    s"""WITH $CoSupplyCtes,
      |e2 AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |deg AS (SELECT src AS node, COUNT(*) AS deg FROM e2 GROUP BY src),
      |cn AS (SELECT a.src AS u, b.src AS v, COUNT(*) AS cn
      |  FROM e2 a JOIN e2 b ON a.dst = b.dst AND a.src < b.src GROUP BY 1, 2),
      |nc AS (SELECT cn.u, cn.v, cn FROM cn
      |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = cn.u AND e.v = cn.v))
      |SELECT nc.u, nc.v, cn, du.deg AS du, dv.deg AS dv,
      |  CAST(cn AS DOUBLE) / CAST(du.deg + dv.deg - cn AS DOUBLE) AS jaccard
      |FROM nc JOIN deg du ON du.node = nc.u JOIN deg dv ON dv.node = nc.v
      |ORDER BY jaccard DESC, nc.u, nc.v LIMIT 30""".stripMargin

  /** Welch's two-sample t-test (click vs view values): the unequal-
    * variance comparison a metrics platform runs by default. The five
    * moments per group accumulate as exact decimals (values are
    * 2-decimal; squares re-cast to scale 4 keep the scaled integer
    * under 2^53 — the agg_pricing discipline), so means and variances
    * come from order-independent sums, and t plus the Welch–
    * Satterthwaite df are fixed IEEE chains — bit-exact unrounded.
    * Groups with n < 2 NULL out under the ANSI guard.
    */
  def statsTtest(s: SparkSession, dir: String): DataFrame = {
    import Exact.Dec
    val per = Tables(s, dir, "events")
      .filter(col("value").isNotNull &&
        col("event_type").isin("click", "view"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Dec)).cast("double").as("sx"),
        sum((col("value").cast(Dec) * col("value").cast(Dec))
          .cast("decimal(18,4)")).cast("double").as("sxx"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("m", col("sx") / col("nd"))
      .withColumn("v", when(col("n") >= 2,
        (col("sxx") - col("sx") * col("m")) / (col("nd") - lit(1.0))))
    val row = per.groupBy()
      .agg(
        max(when(col("event_type") === "click", col("n"))).as("n1"),
        max(when(col("event_type") === "click", col("m"))).as("m1"),
        max(when(col("event_type") === "click", col("v"))).as("v1"),
        max(when(col("event_type") === "view", col("n"))).as("n2"),
        max(when(col("event_type") === "view", col("m"))).as("m2"),
        max(when(col("event_type") === "view", col("v"))).as("v2"))
      .withColumn("se1", col("v1") / col("n1").cast("double"))
      .withColumn("se2", col("v2") / col("n2").cast("double"))
      .withColumn("se", col("se1") + col("se2"))
    row.select(col("n1"), col("n2"), col("m1"), col("m2"),
      ((col("m1") - col("m2")) / sqrt(col("se"))).as("t_stat"),
      ((col("se") * col("se")) /
        (col("se1") * col("se1") / (col("n1") - 1).cast("double") +
          col("se2") * col("se2") / (col("n2") - 1).cast("double"))).as("df"))
  }

  val statsTtestSql: String =
    """WITH per AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
      |      AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      |  FROM events WHERE value IS NOT NULL AND event_type IN ('click', 'view')
      |  GROUP BY event_type),
      |mv AS (SELECT event_type, n, sx / CAST(n AS DOUBLE) AS m,
      |    CASE WHEN n >= 2 THEN (sxx - sx * (sx / CAST(n AS DOUBLE)))
      |      / (CAST(n AS DOUBLE) - 1.0e0) END AS v
      |  FROM per),
      |r AS (SELECT
      |    MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
      |    MAX(CASE WHEN event_type = 'click' THEN m END) AS m1,
      |    MAX(CASE WHEN event_type = 'click' THEN v END) AS v1,
      |    MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
      |    MAX(CASE WHEN event_type = 'view' THEN m END) AS m2,
      |    MAX(CASE WHEN event_type = 'view' THEN v END) AS v2
      |  FROM mv),
      |se AS (SELECT n1, n2, m1, m2,
      |    v1 / CAST(n1 AS DOUBLE) AS se1, v2 / CAST(n2 AS DOUBLE) AS se2,
      |    v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS sev
      |  FROM r)
      |SELECT n1, n2, m1, m2,
      |  (m1 - m2) / sqrt(sev) AS t_stat,
      |  (sev * sev) / (se1 * se1 / CAST(n1 - 1 AS DOUBLE)
      |    + se2 * se2 / CAST(n2 - 1 AS DOUBLE)) AS df
      |FROM se""".stripMargin

  /** One-way ANOVA (F test) of value across ALL event types — the
    * k-group generalization of [[statsTtest]]: SSB = Σ n_g(m_g − m)²,
    * SSW = Σ (Σx²_g − (Σx_g)²/n_g), F = (SSB/(g−1))/(SSW/(N−g)).
    * Per-group and grand moments accumulate as exact decimals (the
    * agg_pricing discipline), so they are order-independent; the two
    * sums over GROUPS fold in event_type order (the stats_chisq
    * discipline) — every double bit-exact cross-engine. One keyed agg
    * + one grand agg; the per-group table is |types|-sized.
    */
  def statsAnova(s: SparkSession, dir: String): DataFrame = {
    import Exact.Dec
    val ev = Tables(s, dir, "events").filter(col("value").isNotNull)
    val per = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Dec)).cast("double").as("sx"),
        sum((col("value").cast(Dec) * col("value").cast(Dec))
          .cast("decimal(18,4)")).cast("double").as("sxx"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("m", col("sx") / col("nd"))
    val grand = ev.agg(count(lit(1)).as("nn"),
      sum(col("value").cast(Dec)).cast("double").as("gx"))
      .withColumn("gm", col("gx") / col("nn").cast("double"))
      .select(col("nn"), col("gm"))
    val folded = per.crossJoin(broadcast(grand))
      .withColumn("ssb_t",
        col("nd") * ((col("m") - col("gm")) * (col("m") - col("gm"))))
      .withColumn("ssw_t", col("sxx") - col("sx") * col("m"))
      .groupBy()
      .agg(count(lit(1)).as("g"), max(col("nn")).as("n_total"),
        sort_array(collect_list(struct(col("event_type"),
          col("ssb_t"), col("ssw_t")))).as("arr"))
      .withColumn("ssb", aggregate(
        transform(col("arr"), x => x.getField("ssb_t")),
        lit(0.0), (a, v) => a + v))
      .withColumn("ssw", aggregate(
        transform(col("arr"), x => x.getField("ssw_t")),
        lit(0.0), (a, v) => a + v))
    // ANSI guard: F is undefined with <2 groups, no residual dof, or a
    // zero SSW (all values equal) — NULL, never a DIVIDE_BY_ZERO throw
    // (edge-corpus hardening; real corpora never trip it)
    folded.select(col("g"), col("n_total"), col("ssb"), col("ssw"),
      when(col("g") >= 2 && col("n_total") > col("g") && col("ssw") =!= 0.0,
        (col("ssb") / (col("g") - 1).cast("double")) /
          (col("ssw") / (col("n_total") - col("g")).cast("double"))).as("f_stat"))
  }

  val statsAnovaSql: String =
    """WITH per AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
      |      AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
      |pm AS (SELECT event_type, n, sx, sxx, CAST(n AS DOUBLE) AS nd,
      |    sx / CAST(n AS DOUBLE) AS m FROM per),
      |gr AS (SELECT COUNT(*) AS nn,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS gm
      |  FROM events WHERE value IS NOT NULL),
      |terms AS (SELECT event_type, nn,
      |    nd * ((m - gm) * (m - gm)) AS ssb_t,
      |    sxx - sx * m AS ssw_t
      |  FROM pm CROSS JOIN gr),
      |f AS (SELECT COUNT(*) AS g, MAX(nn) AS n_total,
      |    list_reduce(list_prepend(0.0e0, list(ssb_t ORDER BY event_type)),
      |      (a, v) -> a + v) AS ssb,
      |    list_reduce(list_prepend(0.0e0, list(ssw_t ORDER BY event_type)),
      |      (a, v) -> a + v) AS ssw
      |  FROM terms)
      |SELECT g, n_total, ssb, ssw,
      |  CASE WHEN g >= 2 AND n_total > g AND ssw <> 0.0e0 THEN
      |    (ssb / CAST(g - 1 AS DOUBLE)) / (ssw / CAST(n_total - g AS DOUBLE))
      |  END AS f_stat
      |FROM f""".stripMargin

  /** Poisson bootstrap of the mean order total (Chamandy et al. 2012,
    * "Estimating Uncertainty for Massive Data Streams" — the bootstrap
    * that works in one pass at 100 TB: each row's multiplicity in
    * replicate b is an independent Poisson(1) draw, so no resample
    * ever needs a global shuffle; B counters ride map-side). The draws
    * are DETERMINISTIC: u = md5(orderkey:b) → [0,1) (the sketch_kmv
    * normalizer), inverted through the Poisson(1) CDF as literal
    * thresholds (capped at 4, P > 99.6%), so the DuckDB oracle replays
    * every weight bit-for-bit. Replicate means use decimal-exact
    * weighted sums; the bootstrap SE folds the 32 replicate means in
    * b-order (the stats_chisq discipline) — every double bit-exact.
    */
  /** Poisson(1) CDF thresholds P(≤0..3) as 8-char lowercase-hex
    * cutoffs: u = v/2³² < t ⟺ v ≤ ⌊t·2³²⌋ ⟺ hex(v) < hex(⌊t·2³²⌋+1)
    * (equal-width lowercase hex compares lexicographically as
    * numerically), so the weight CASE is four STRING compares on an
    * md5 slice — no base conversion, no double division per row.
    * One md5 yields FOUR independent 32-bit draws (md5(key:b div 4),
    * slice b mod 4), quartering the hash count; 32-bit resolution
    * quantizes the CDF at 2⁻³² — negligible against Poisson sampling
    * noise. t·2³² is exact (power-of-two scale), so the cutoffs are
    * bit-faithful to the double thresholds.
    */
  private val PoissonHexCuts: Seq[String] =
    Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462)
      .map(t => f"${math.floor(t * 4294967296.0).toLong + 1L}%08x")

  /** The bootstrap's B×N→B aggregation, pre-barrier — all-LONG
    * accumulation (the abc_parts cents trick): 2-decimal prices become
    * exact integer cents, so the B×N aggregate is pure codegen'd long
    * arithmetic — the decimal(38,·) formulation boxed a BigDecimal per
    * row and dominated the query's cost. Exposed for the PlanSpec pin
    * (map-side partial_sum): inside [[statsBootstrap]] it sits behind
    * an eager localCheckpoint, which erases it from the final plan.
    */
  private[graft] def statsBootstrapMeans(rows: DataFrame): DataFrame =
    rows.groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * round(col("v") * 100.0).cast("long")).as("sc"))
      // ANSI guard: a replicate can draw all-zero weights only on a
      // degenerate (near-empty) corpus — NULL mean, never a throw
      .withColumn("mean_b",
        when(col("n_eff") > 0,
          (col("sc").cast("double") / lit(100.0)) / col("n_eff").cast("double")))

  /** Poisson-weight inputs for [[statsBootstrapMeans]]; shared with the
    * PlanSpec pin. All B weights for a row come from ONE native-
    * expression call ([[graft.plans.NativeExpressions.BootstrapWeights]]
    * — b/4 digests, direct byte→unsigned-int compares against
    * ⌊t·2³²⌋+1), bit-identical to the composed
    * substring(md5(key:b div 4)) < hex-cut formulation the oracle
    * still replays verbatim.
    */
  private[graft] def statsBootstrapRows(s: SparkSession, dir: String): DataFrame = {
    val B = 32
    // r12: the B-weights kernel (8 md5 digests per order row) ran in a
    // single task off the one-split orders scan (profiled 1.8 s, 31
    // cores idle) — spread the two needed columns first (no-op at scale)
    graft.Tables.spreadToWidth(Tables(s, dir, "orders")
      .select(col("o_totalprice").as("v"), col("o_orderkey")))
      .select(col("v"),
        posexplode(graft.plans.NativeExpressions.bootstrapWeights(
          col("o_orderkey"), B)))
      .withColumnRenamed("pos", "b")
      .withColumnRenamed("col", "w")
  }

  def statsBootstrap(s: SparkSession, dir: String): DataFrame = {
    val B = 32
    // A/B note (measured, fresh plans ×3 at sf0.1, identical outputs):
    // r4: one-md5-per-draw flat explode 2.8-3.1s; one md5 per 4 draws
    // via bindOnce + posexplode 3.8-5.7s (Generate + nested-lambda
    // overhead exceeds the md5 savings). r6 (VERDICT #3 follow-up):
    // concat-8-md5-before-explode 4.46s (the 256-char payload through
    // the explode costs more than the saved hashes); NATIVE expression
    // computing all 32 weights per order row in one loop (8 digests,
    // no string allocs) 1.11s vs the flat form's 3.42s on the same
    // day's hardware — 3.1x, ships below.
    val rows = statsBootstrapRows(s, dir)
    // 32-row barrier: means feeds the SE fold AND the final output —
    // without it both consumers re-run the B×N md5/weight pipeline
    // (the dq_psi lesson; measured 8.4s → 2.9s at sf0.1). The plan pin
    // for the pre-barrier aggregate lives on [[statsBootstrapMeans]]
    // (the barrier hides it behind a Scan ExistingRDD here).
    val means = statsBootstrapMeans(rows).localCheckpoint(true)
    val se = means.agg(
        sort_array(collect_list(struct(col("b"), col("mean_b")))).as("ms"))
      .withColumn("mm",
        aggregate(transform(col("ms"), x => x.getField("mean_b")),
          lit(0.0), (a, v) => a + v) / lit(B.toDouble))
      .select(sqrt(aggregate(
        transform(col("ms"), x =>
          (x.getField("mean_b") - col("mm")) * (x.getField("mean_b") - col("mm"))),
        lit(0.0), (a, v) => a + v) / lit((B - 1).toDouble)).as("boot_se"))
    means.crossJoin(broadcast(se))
      .select(col("b"), col("n_eff"), col("mean_b"), col("boot_se"))
      .orderBy(col("b"))
  }

  val statsBootstrapSql: String =
    s"""WITH reps AS (SELECT CAST(unnest(range(32)) AS INT) AS b),
      |rows_w AS (SELECT b, o_totalprice AS v,
      |    CASE WHEN u < '${PoissonHexCuts(0)}' THEN 0
      |         WHEN u < '${PoissonHexCuts(1)}' THEN 1
      |         WHEN u < '${PoissonHexCuts(2)}' THEN 2
      |         WHEN u < '${PoissonHexCuts(3)}' THEN 3 ELSE 4 END AS w
      |  FROM (SELECT b, o_totalprice,
      |      substr(md5(CAST(o_orderkey AS VARCHAR)
      |        || ':' || CAST(b // 4 AS VARCHAR)), (b % 4) * 8 + 1, 8) AS u
      |    FROM orders CROSS JOIN reps)),
      |means AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
      |    CASE WHEN SUM(w) > 0 THEN
      |      (CAST(CAST(SUM(w * CAST(round(v * 100.0e0) AS BIGINT)) AS BIGINT)
      |        AS DOUBLE) / 100.0e0) / CAST(SUM(w) AS DOUBLE) END AS mean_b
      |  FROM rows_w GROUP BY b),
      |mm AS (SELECT list_reduce(list_prepend(0.0e0, list(mean_b ORDER BY b)),
      |    (a, v) -> a + v) / 32.0e0 AS m FROM means),
      |se AS (SELECT sqrt(list_reduce(list_prepend(0.0e0,
      |    list((mean_b - m) * (mean_b - m) ORDER BY b)),
      |    (a, v) -> a + v) / 31.0e0) AS boot_se FROM means CROSS JOIN mm)
      |SELECT b, n_eff, mean_b, boot_se FROM means CROSS JOIN se
      |ORDER BY b""".stripMargin

  /** Weighted single-source shortest paths (Bellman–Ford, 4 fixed
    * relaxation rounds) over the co-supply graph with edge cost
    * 1000 div shared — stronger co-supply ties are cheaper, so the
    * result reads as "supply-chain proximity". Each round is ONE
    * join + min-aggregate on the edge set (the Pregel relaxation
    * step), checkpointed flat; distances are exact integers. The
    * oracle unrolls the same 4 rounds — and because round-k distances
    * are least-cost-within-k-hops, the iterative discipline is
    * certified, not just converged.
    */
  def graphSssp(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir)
    val e2 = edges.select(col("u").as("src"), col("v").as("dst"),
        expr("1000 div shared").as("w"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst"),
        expr("1000 div shared").as("w")))
      .localCheckpoint(false)
    val src = edges.agg(min(col("u")).as("node"))
      .withColumn("dist", lit(0L))
    // blocks swept by the caller's sweep
    graft.Iterate.rounds(src, 4) { (dists, _) =>
      val dist = dists.head
      e2.join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .unionByName(dist)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }.head.orderBy(col("node"))
  }

  val graphSsspSql: String = {
    val round = (i: Int) =>
      s"""d$i AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT e.dst AS node, d.dist + e.w AS dist
        |  FROM e2 e JOIN d${i - 1} d ON d.node = e.src
        |  UNION ALL SELECT node, dist FROM d${i - 1}) GROUP BY node)""".stripMargin
    s"""WITH $CoSupplyCtes,
      |e2 AS MATERIALIZED (SELECT u AS src, v AS dst, 1000 // shared AS w FROM edges
      |  UNION ALL SELECT v, u, 1000 // shared FROM edges),
      |d0 AS (SELECT MIN(u) AS node, CAST(0 AS BIGINT) AS dist FROM edges),
      |${round(1)},
      |${round(2)},
      |${round(3)},
      |${round(4)}
      |SELECT node, dist FROM d4 ORDER BY node""".stripMargin
  }

  /** Mutual information between event type and weekday — the
    * dependence strength behind stats_chisq's significance: MI =
    * Σ p_ij·ln(c_ij·N / (r_i·s_j)). The log's argument is ONE
    * division of exact BIGINT products; contributions fold in
    * (type, dow) cell order and only the ln-bearing values are
    * rounded (4 decimals, the entropy convention). Weekday is the
    * engine-neutral (day+4) mod 7.
    */
  def statsMi(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables(s, dir, "events")
      .select(col("event_type"),
        pmod((unix_millis(col("ts")) / lit(86400000L)).cast("long") + 4, lit(7))
          .as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("c"))
    val withTots = cells
      .withColumn("r", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .withColumn("s2", sum(col("c")).over(Window.partitionBy(col("dow"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .withColumn("term",
        (col("c").cast("double") / col("n").cast("double")) *
          log((col("c") * col("n")).cast("double") /
            (col("r") * col("s2")).cast("double")))
    withTots
      .agg(count(lit(1)).as("n_cells"),
        round(aggregate(
          transform(sort_array(collect_list(
            struct(col("event_type"), col("dow"), col("term")))),
            x => x.getField("term")),
          lit(0.0), (a, v) => a + v), 4).as("mutual_info"))
  }

  val statsMiSql: String =
    """WITH cells AS (SELECT event_type,
      |    (CAST(epoch_ms(ts) // 86400000 AS BIGINT) + 4) % 7 AS dow, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, dow, c,
      |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS r,
      |    CAST(SUM(c) OVER (PARTITION BY dow) AS BIGINT) AS s2,
      |    CAST(SUM(c) OVER () AS BIGINT) AS n FROM cells),
      |tm AS (SELECT event_type, dow,
      |    (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      ln(CAST(c * n AS DOUBLE) / CAST(r * s2 AS DOUBLE)) AS term
      |  FROM t)
      |SELECT COUNT(*) AS n_cells,
      |  round(list_reduce(list_prepend(0.0e0,
      |    list(term ORDER BY event_type, dow)), (a, v) -> a + v), 4) AS mutual_info
      |FROM tm""".stripMargin

  /** Hierarchical subtotals via ROLLUP (returnflag → linestatus →
    * grand total) — the reporting companion to facet_cube's full
    * CUBE: one pass, decimal-exact quantity sums, grouping_id
    * distinguishes subtotal rows from data nulls.
    */
  def facetRollup(s: SparkSession, dir: String): DataFrame = {
    import Exact.dsum
    Tables(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  val facetRollupSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** Explicit GROUPING SETS — the third of the multi-dimensional
    * aggregation trio beside facet_cube (full lattice) and
    * facet_rollup (hierarchy): exactly the marginals a dashboard
    * needs ((returnflag), (linestatus), ()) in ONE pass, skipping the
    * cross cells a CUBE would also compute — at 100 TB the difference
    * between 3 and 2^n aggregate streams. grouping_id tells subtotal
    * rows from data nulls.
    */
  def facetGsets(s: SparkSession, dir: String): DataFrame = {
    import Exact.dsum
    Tables(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  val facetGsetsSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** Incremental view maintenance, certified: the per-flag pricing
    * aggregate maintained as BASE (orderkey < midpoint) plus a DELTA
    * batch, merged by adding partial counts/sums — and emitted NEXT TO
    * nothing else, because the ORACLE computes the direct aggregate,
    * so the merge is proven equal to recomputation (sum/count are the
    * associative pieces; avg re-derives from them at merge time, the
    * one IVM rule people get wrong). Decimal partials keep the sums
    * exact, so merged == direct bit-for-bit, not approximately.
    */
  def aggIncremental(s: SparkSession, dir: String): DataFrame = {
    import Exact.dsum
    val li = Tables(s, dir, "lineitem")
    val mid = 3000000L // fixed split key: base/delta shape, any value works
    def part(df: DataFrame) = df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
    val base = part(li.filter(col("l_orderkey") < mid))
      .select(col("l_returnflag"), col("cnt").as("bc"), col("sum_qty").as("bs"))
    val delta = part(li.filter(col("l_orderkey") >= mid))
      .select(col("l_returnflag"), col("cnt").as("dc"), col("sum_qty").as("ds"))
    base.join(delta, Seq("l_returnflag"), "full_outer")
      .select(col("l_returnflag"),
        (coalesce(col("bc"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("cnt"),
        (coalesce(col("bs"), lit(0.0)) + coalesce(col("ds"), lit(0.0))).as("sum_qty"))
      .withColumn("avg_qty", col("sum_qty") / col("cnt").cast("double"))
      .orderBy(col("l_returnflag"))
  }

  val aggIncrementalSql: String =
    """SELECT l_returnflag, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Right-to-be-forgotten audit (GDPR erasure propagation): for a
    * deterministic salted-hash user cohort, the rows each table holds
    * BEFORE erasure and the rows an anti-join erasure would remove —
    * the report a deletion pipeline emits for sign-off. All integer
    * counts; the cohort derives from the same md5 discipline as every
    * sampler, so the oracle replays it.
    */
  def dqErasure(s: SparkSession, dir: String): DataFrame = {
    val cohort = Tables(s, dir, "events").select(col("user_id")).distinct()
      .filter(substring(md5(concat(lit("gdpr:"), col("user_id").cast("string"))), 1, 2) === "00")
    val ev = Tables(s, dir, "events")
    val affectedEv = ev.join(broadcast(cohort), Seq("user_id"), "left_semi")
    val cust = Tables(s, dir, "customer")
    val affectedCust = cust.join(broadcast(cohort.select(col("user_id").as("c_custkey"))),
      Seq("c_custkey"), "left_semi")
    val a = affectedEv.agg(count(lit(1)).as("v")).select(lit("events").as("table_name"),
      lit("rows_to_erase").as("measure"), col("v"))
    val b = ev.agg(count(lit(1)).as("v")).select(lit("events").as("table_name"),
      lit("rows_total").as("measure"), col("v"))
    val c = affectedCust.agg(count(lit(1)).as("v")).select(lit("customer").as("table_name"),
      lit("rows_to_erase").as("measure"), col("v"))
    val d = cust.agg(count(lit(1)).as("v")).select(lit("customer").as("table_name"),
      lit("rows_total").as("measure"), col("v"))
    val e = cohort.agg(count(lit(1)).as("v")).select(lit("cohort").as("table_name"),
      lit("users").as("measure"), col("v"))
    a.unionAll(b).unionAll(c).unionAll(d).unionAll(e)
      .orderBy(col("table_name"), col("measure"))
  }

  val dqErasureSql: String =
    """WITH cohort AS (SELECT DISTINCT user_id FROM events
      |  WHERE substr(md5('gdpr:' || CAST(user_id AS VARCHAR)), 1, 2) = '00')
      |SELECT * FROM (
      |  SELECT 'events' AS table_name, 'rows_to_erase' AS measure,
      |    CAST(COUNT(*) AS BIGINT) AS v FROM events
      |    WHERE user_id IN (SELECT user_id FROM cohort)
      |  UNION ALL SELECT 'events', 'rows_total', CAST(COUNT(*) AS BIGINT) FROM events
      |  UNION ALL SELECT 'customer', 'rows_to_erase', CAST(COUNT(*) AS BIGINT)
      |    FROM customer WHERE c_custkey IN (SELECT user_id FROM cohort)
      |  UNION ALL SELECT 'customer', 'rows_total', CAST(COUNT(*) AS BIGINT) FROM customer
      |  UNION ALL SELECT 'cohort', 'users', CAST(COUNT(*) AS BIGINT) FROM cohort)
      |ORDER BY table_name, measure""".stripMargin

  /** STREAMING daily distinct users ([[graft.streaming.StreamingDedup]]
    * keyed by (type:day, user)): each (type, day, user) emits exactly
    * once on first arrival, so per-(type, day) emission counts equal
    * the batch DAU for ANY batch split — the streaming twin of
    * [[graft.queries.TimeSeriesQueries.tsWau]]'s DAU leg. State is one
    * marker bit per active (key, day) pair; with a watermark the day
    * dimension ages out (documented: the bounded-state production
    * variant is dropDuplicatesWithinWatermark).
    */
  def streamDau(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = Tables(s, dir, "events")
      .select(concat(col("event_type"), lit(":"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").cast("string")).as("grp"),
        col("user_id").as("id"))
      .as[graft.streaming.StreamingDedup.KeyIn]
    graft.streaming.StreamingDedup.firstSeen(s, in).toDF()
      .withColumn("event_type", substring_index(col("grp"), ":", 1))
      .withColumn("day", substring_index(col("grp"), ":", -1).cast("long"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("dau"))
      .orderBy(col("event_type"), col("day"))
  }

  val streamDauSql: String =
    """SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |  COUNT(DISTINCT user_id) AS dau
      |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  /** Streaming daily top-3 heavy hitters via the bounded SpaceSaving
    * state ([[graft.streaming.StreamingTopK]], ≤8 counters per day):
    * the event-type alphabet (5) fits the capacity, so the summary is
    * the exact multiset and the batch oracle certifies it — the
    * stream_dau convention. The top-3 rank runs per day (keyed window
    * over ≤8 summary rows), ties broken by item.
    */
  def streamTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val in = Tables(s, dir, "events")
      .select((unix_millis(col("ts")) / lit(86400000L)).cast("long").as("win"),
        col("event_type").as("item"))
      .as[graft.streaming.StreamingTopK.In]
    val sm = graft.streaming.StreamingTopK.summaries(s, in).toDF()
    val w = Window.partitionBy(col("win")).orderBy(col("cnt").desc, col("item"))
    sm.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3L)
      .select(col("win").as("day"), col("rk"), col("item").as("event_type"),
        col("cnt"), col("err"))
      .orderBy(col("day"), col("rk"))
  }

  val streamTopkSql: String =
    """WITH c AS (SELECT epoch_ms(ts) // 86400000 AS day, event_type,
      |    COUNT(*) AS cnt FROM events GROUP BY 1, 2),
      |r AS (SELECT day, event_type, cnt, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY day ORDER BY cnt DESC, event_type) AS BIGINT) AS rk FROM c)
      |SELECT day, rk, event_type, cnt, CAST(0 AS BIGINT) AS err
      |FROM r WHERE rk <= 3 ORDER BY day, rk""".stripMargin

  /** k-anonymity audit (k=5) over the quasi-identifier triple
    * (event_type, weekday, value-bucket): class sizes are exact
    * integer counts, so the report — smallest equivalence class,
    * classes and rows below k — hashes exactly. The privacy gate a
    * training pipeline runs before releasing derived tables; one
    * keyed aggregation then a 1-row fold, the same plan at any scale.
    * Weekday uses the engine-neutral (epoch_day+4) mod 7; the value
    * bucket is floor(value/100), one IEEE divide+floor cross-engine.
    */
  def dqKanon(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    Tables(s, dir, "events")
      .select(col("event_type"),
        pmod((unix_millis(col("ts")) / lit(86400000L)).cast("long") + 4, lit(7)).as("dow"),
        when(col("value").isNull, lit(-1L))
          .otherwise(floor(col("value") / 100.0)).as("vb"))
      .groupBy(col("event_type"), col("dow"), col("vb"))
      .agg(count(lit(1)).as("cnt"))
      .agg(lit(k.toLong).as("k"),
        count(lit(1)).as("n_classes"),
        min(col("cnt")).as("k_anonymity"),
        sum(when(col("cnt") < k, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L)).as("rows_below_k"))
  }

  val dqKanonSql: String =
    """WITH c AS (SELECT event_type,
      |    (CAST(epoch_ms(ts) // 86400000 AS BIGINT) + 4) % 7 AS dow,
      |    CASE WHEN value IS NULL THEN -1
      |      ELSE CAST(floor(value / 100.0e0) AS BIGINT) END AS vb,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT CAST(5 AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(MIN(cnt) AS BIGINT) AS k_anonymity,
      |  CAST(SUM(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
      |  CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT) AS rows_below_k
      |FROM c""".stripMargin

  /** Wald–Wolfowitz runs test on the DIRECTION of daily count changes
    * per type (randomness check on a series' ups and downs): signs
    * from day-over-day deltas (zeros dropped), R = sign flips + 1,
    * and the normal approximation z = (R − μ)/σ — everything up to z
    * is an exact integer, z is one fixed IEEE chain mirrored by the
    * oracle. One keyed lag window + one aggregation.
    */
  def statsRuns(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val signs = daily
      .withColumn("prev", lag(col("y"), 1).over(w))
      .filter(col("prev").isNotNull && col("y") =!= col("prev"))
      .withColumn("sgn", when(col("y") > col("prev"), 1L).otherwise(-1L))
      .withColumn("psgn", lag(col("sgn"), 1).over(w))
    val agg = signs.groupBy(col("event_type")).agg(
      sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n_neg"),
      (sum(when(col("psgn").isNotNull && col("sgn") =!= col("psgn"), 1L)
        .otherwise(0L)) + lit(1L)).as("runs"))
    agg
      .withColumn("np", col("n_pos").cast("double"))
      .withColumn("nn", col("n_neg").cast("double"))
      .withColumn("nt", (col("n_pos") + col("n_neg")).cast("double"))
      .withColumn("mu", lit(2.0) * col("np") * col("nn") / col("nt") + lit(1.0))
      .withColumn("var",
        (lit(2.0) * col("np") * col("nn") *
          (lit(2.0) * col("np") * col("nn") - col("np") - col("nn"))) /
          (col("nt") * col("nt") * (col("nt") - lit(1.0))))
      .select(col("event_type"), col("n_pos"), col("n_neg"), col("runs"),
        when(col("n_pos") > 0 && col("n_neg") > 0 && col("var") > 0.0,
          (col("runs").cast("double") - col("mu")) / sqrt(col("var"))).as("z"))
      .orderBy(col("event_type"))
  }

  val statsRunsSql: String =
    """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    COUNT(*) AS y FROM events GROUP BY 1, 2),
      |d AS (SELECT event_type, day, y,
      |    lag(y) OVER (PARTITION BY event_type ORDER BY day) AS prev FROM daily),
      |sg AS (SELECT event_type, day,
      |    CASE WHEN y > prev THEN 1 ELSE -1 END AS sgn
      |  FROM d WHERE prev IS NOT NULL AND y <> prev),
      |sl AS (SELECT event_type, sgn,
      |    lag(sgn) OVER (PARTITION BY event_type ORDER BY day) AS psgn FROM sg),
      |a AS (SELECT event_type,
      |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
      |    CAST(SUM(CASE WHEN psgn IS NOT NULL AND sgn <> psgn THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs
      |  FROM sl GROUP BY 1),
      |m AS (SELECT *, CAST(n_pos AS DOUBLE) AS np, CAST(n_neg AS DOUBLE) AS nn,
      |    CAST(n_pos + n_neg AS DOUBLE) AS nt FROM a),
      |v AS (SELECT *, 2.0e0 * np * nn / nt + 1.0e0 AS mu,
      |    (2.0e0 * np * nn * (2.0e0 * np * nn - np - nn)) / (nt * nt * (nt - 1.0e0)) AS var
      |  FROM m)
      |SELECT event_type, n_pos, n_neg, runs,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 AND var > 0
      |    THEN (CAST(runs AS DOUBLE) - mu) / sqrt(var) END AS z
      |FROM v ORDER BY event_type""".stripMargin

  /** Spearman rank correlation of quantity vs price per return flag —
    * the robust companion to [[statsCorr]] (Pearson): identical moment
    * machinery, but over EXACT average ranks. Ranks come from the
    * grouped two-level cumulative ([[FeatureQueries.cumRanksBy]] — no
    * per-group global sort at any scale); ties get the average rank,
    * carried DOUBLED (2·cum − c + 1, an integer — min rank cum−c+1
    * plus (c−1)/2, times two) so tied ranks stay integral and the
    * constant factor cancels in the correlation. Moments accumulate in
    * DECIMAL(38,0) and the rho arithmetic is the statsCorr IEEE chain,
    * so the emitted double is bit-exact cross-engine.
    */
  def statsSpearman(s: SparkSession, dir: String): DataFrame = {
    // r9 cell-moment redesign: the pre-r9 shape joined the 600k-row
    // stream back to BOTH rank tables (row-level shuffle join on the
    // unbounded price side). Every Spearman moment is in fact a
    // CELL-table sum — Σ_rows rq = Σ_qcells cq·rq, Σ_rows rq·rp =
    // Σ_pcells (Σrq in cell)·rp — so the only corpus shuffle left is
    // ONE (g, price) aggregation with the broadcast q-rank attached;
    // everything after runs on rank-cell tables. Values bit-identical
    // (integer/decimal-exact throughout, same final chain).
    val rows = Tables(s, dir, "lineitem").select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast("long").as("q"),
      round(col("l_extendedprice") * 100.0).cast("long").as("p"))
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // q-rank table: alphabet-bounded (|flags|×|quantities| ≤ 150 rows
    // at ANY corpus size) — broadcastable always.
    // r12: the (g, q) count table is MATERIALIZED once (eager
    // localCheckpoint) — cumRanksBy consumes its input three times
    // (range agg, offsets, final join) and rq itself has two consumers
    // (cells, mx), so the un-barriered shape re-ran the 600k-row corpus
    // aggregation up to five times (profiled: seven lineitem scans per
    // execution, ~0.5–1.5 s each). The checkpoint is ≤150 rows.
    // r13 note (verdict #3 tried and REVERTED): merging both corpus
    // aggregations into one (g, q, p) cell table was measured WORSE
    // (3.0 → 4.7 s same-machine A/B) — distinct (g, q, p) is 594k of
    // 600k rows at sf0.1, so the "cell" table is corpus-sized and the
    // merge replaces a cheap map-side-tiny scan with a full extra
    // shuffle + checkpoint of the corpus. Two scans stay.
    val vq = rows.groupBy(col("g"), col("q").as("v"))
      .agg(count(lit(1)).as("c")).localCheckpoint(true)
    val rq = FeatureQueries.cumRanksBy(vq)
      .select(col("g"), col("v").as("q"),
        (lit(2L) * col("cum") - col("c") + lit(1L)).as("rq"),
        col("c").as("cq"))
    // srq rides THROUGH the rank computation as an extra column (the
    // widened cumRanksBy), so the price-cell table is never joined back
    // against its own ranks — its three remaining evaluations (range,
    // offsets, final window) are independent branches of the one
    // measured job and overlap on the scheduler, where the r12 first
    // cut (cache barrier + join-back) serialized them.
    val cells = rows
      .join(broadcast(rq.select(col("g"), col("q"), col("rq"))), Seq("g", "q"))
      .groupBy(col("g"), col("p").as("v"))
      .agg(count(lit(1)).as("c"), sum(d38(col("rq"))).as("srq"))
      .localCheckpoint(true)
    val rp = FeatureQueries.cumRanksBy(cells)
      .withColumn("rp", lit(2L) * col("cum") - col("c") + lit(1L))
    val mx = rq.groupBy(col("g")).agg(
      sum((d38(col("cq")) * col("rq")).cast("decimal(38,0)"))
        .cast("double").as("sx"),
      sum((d38(col("cq")) * col("rq") * col("rq")).cast("decimal(38,0)"))
        .cast("double").as("sxx"))
    val my = rp.groupBy(col("g")).agg(
      sum(col("c")).cast("double").as("n"),
      sum((d38(col("c")) * col("rp")).cast("decimal(38,0)"))
        .cast("double").as("sy"),
      sum((d38(col("c")) * col("rp") * col("rp")).cast("decimal(38,0)"))
        .cast("double").as("syy"),
      sum((col("srq") * col("rp")).cast("decimal(38,0)"))
        .cast("double").as("sxy")) // srq carried through cumRanksBy
    my.join(broadcast(mx), Seq("g"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("g").as("l_returnflag"), col("n").cast("long").as("n"),
        when(col("vx") =!= 0.0 && col("vy") =!= 0.0,
          col("num") / (sqrt(col("vx")) * sqrt(col("vy")))).as("rho"))
      .orderBy(col("l_returnflag"))
  }

  val statsSpearmanSql: String =
    """WITH r0 AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q,
      |    CAST(round(l_extendedprice * 100.0e0) AS BIGINT) AS p FROM lineitem),
      |rq AS (SELECT g, q AS v, COUNT(*) AS c FROM r0 GROUP BY 1, 2),
      |rqr AS (SELECT g, v, 2 * CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) - c + 1 AS r FROM rq),
      |rp AS (SELECT g, p AS v, COUNT(*) AS c FROM r0 GROUP BY 1, 2),
      |rpr AS (SELECT g, v, 2 * CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) - c + 1 AS r FROM rp),
      |j AS (SELECT r0.g, rqr.r AS rx, rpr.r AS ry FROM r0
      |  JOIN rqr ON rqr.g = r0.g AND rqr.v = r0.q
      |  JOIN rpr ON rpr.g = r0.g AND rpr.v = r0.p),
      |m AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM j GROUP BY g),
      |d AS (SELECT *, (n * sxy - sx * sy) AS num,
      |    (n * sxx - sx * sx) AS vx, (n * syy - sy * sy) AS vy FROM m)
      |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
      |  CASE WHEN vx <> 0 AND vy <> 0 THEN num / (sqrt(vx) * sqrt(vy)) END AS rho
      |FROM d ORDER BY l_returnflag""".stripMargin

  /** MULTIPLE linear regression (two features) by exact normal
    * equations: price ~ quantity + discount per return flag, solved
    * with Cramer's rule on the 3×3 moment matrix — the step up from
    * the per-series simple slopes (ts_slope/ts_trend_fixed's 2×2).
    * All ten moments are exact integers accumulated in DECIMAL(38,0)
    * (quantity integral, price/discount exact cents), cast to double
    * once; the determinant/solve/R² arithmetic is ONE fixed IEEE
    * chain mirrored token-for-token by the oracle, so coefficients
    * hash unrounded. One keyed aggregation — the same plan at any
    * scale; R² from the SSE identity Σy² − βᵀXᵀy (no second pass).
    */
  def statsOls(s: SparkSession, dir: String): DataFrame = {
    // r12: ten decimal moment sums per row ran at the scan's natural
    // 3-split parallelism (profiled 1.6 s stage) — spread the narrow
    // projection first (decimal addition is exactly associative, so
    // the re-partitioned partial sums are value-identical)
    val li = graft.Tables.spreadToWidth(
      Tables(s, dir, "lineitem")).select(col("l_returnflag").as("g"),
      col("l_quantity").cast("long").as("q"),
      round(col("l_discount") * 100.0).cast("long").as("d"),
      round(col("l_extendedprice") * 100.0).cast("long").as("p"))
    def dsum(c: org.apache.spark.sql.Column, out: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(out)
    li.groupBy(col("g"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(col("q"), "sq"), dsum(col("d"), "sd"), dsum(col("p"), "sp"),
        dsum(col("q") * col("q"), "sqq"), dsum(col("q") * col("d"), "sqd"),
        dsum(col("d") * col("d"), "sdd"), dsum(col("q") * col("p"), "sqp"),
        dsum(col("d") * col("p"), "sdp"), dsum(col("p") * col("p"), "spp"))
      .withColumn("det",
        col("n") * (col("sqq") * col("sdd") - col("sqd") * col("sqd")) -
          col("sq") * (col("sq") * col("sdd") - col("sqd") * col("sd")) +
          col("sd") * (col("sq") * col("sqd") - col("sqq") * col("sd")))
      // ANSI guard (the edge-corpus lesson): a degenerate group with a
      // singular moment matrix NULLs out instead of throwing on /0
      .withColumn("b0", when(col("det") =!= 0.0,
        (col("sp") * (col("sqq") * col("sdd") - col("sqd") * col("sqd")) -
          col("sq") * (col("sqp") * col("sdd") - col("sqd") * col("sdp")) +
          col("sd") * (col("sqp") * col("sqd") - col("sqq") * col("sdp"))) / col("det")))
      .withColumn("b1", when(col("det") =!= 0.0,
        (col("n") * (col("sqp") * col("sdd") - col("sqd") * col("sdp")) -
          col("sp") * (col("sq") * col("sdd") - col("sqd") * col("sd")) +
          col("sd") * (col("sq") * col("sdp") - col("sqp") * col("sd"))) / col("det")))
      .withColumn("b2", when(col("det") =!= 0.0,
        (col("n") * (col("sqq") * col("sdp") - col("sqp") * col("sqd")) -
          col("sq") * (col("sq") * col("sdp") - col("sqp") * col("sd")) +
          col("sp") * (col("sq") * col("sqd") - col("sqq") * col("sd"))) / col("det")))
      .withColumn("sse",
        col("spp") - col("b0") * col("sp") - col("b1") * col("sqp") - col("b2") * col("sdp"))
      .withColumn("sst", col("spp") - col("sp") * col("sp") / col("n"))
      .select(col("g").as("l_returnflag"), col("n").cast("long").as("n"),
        col("b0"), col("b1"), col("b2"),
        when(col("sst") =!= 0.0, lit(1.0) - col("sse") / col("sst")).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  val statsOlsSql: String =
    """WITH m AS (SELECT l_returnflag AS g, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS sq,
      |    CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DOUBLE) AS sd,
      |    CAST(SUM(CAST(p AS DECIMAL(38,0))) AS DOUBLE) AS sp,
      |    CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS sqq,
      |    CAST(SUM(CAST(q * d AS DECIMAL(38,0))) AS DOUBLE) AS sqd,
      |    CAST(SUM(CAST(d * d AS DECIMAL(38,0))) AS DOUBLE) AS sdd,
      |    CAST(SUM(CAST(q * p AS DECIMAL(38,0))) AS DOUBLE) AS sqp,
      |    CAST(SUM(CAST(d * p AS DECIMAL(38,0))) AS DOUBLE) AS sdp,
      |    CAST(SUM(CAST(p * p AS DECIMAL(38,0))) AS DOUBLE) AS spp
      |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
      |      CAST(round(l_discount * 100.0e0) AS BIGINT) AS d,
      |      CAST(round(l_extendedprice * 100.0e0) AS BIGINT) AS p FROM lineitem)
      |  GROUP BY 1),
      |c AS (SELECT *,
      |    CASE WHEN n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)
      |      + sd * (sq * sqd - sqq * sd) <> 0
      |    THEN n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)
      |      + sd * (sq * sqd - sqq * sd) END AS det FROM m),
      |b AS (SELECT *,
      |    (sp * (sqq * sdd - sqd * sqd) - sq * (sqp * sdd - sqd * sdp)
      |      + sd * (sqp * sqd - sqq * sdp)) / det AS b0,
      |    (n * (sqp * sdd - sqd * sdp) - sp * (sq * sdd - sqd * sd)
      |      + sd * (sq * sdp - sqp * sd)) / det AS b1,
      |    (n * (sqq * sdp - sqp * sqd) - sq * (sq * sdp - sqp * sd)
      |      + sp * (sq * sqd - sqq * sd)) / det AS b2
      |  FROM c),
      |e AS (SELECT *, spp - b0 * sp - b1 * sqp - b2 * sdp AS sse,
      |    spp - sp * sp / n AS sst FROM b)
      |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n, b0, b1, b2,
      |  CASE WHEN sst <> 0 THEN 1.0e0 - sse / sst END AS r2
      |FROM e ORDER BY l_returnflag""".stripMargin

  /** Kruskal–Wallis rank ANOVA (the non-parametric [[statsAnova]]):
    * H over POOLED average ranks of quantity across return flags, with
    * the tie correction — heavy ties are the point here (quantity has
    * a small integer domain). Ranks come from the ungrouped two-level
    * cumulative ([[FeatureQueries.cumRanks]]), carried DOUBLED so they
    * stay integral; per-group rank sums accumulate in DECIMAL(38,0);
    * the cross-group Σ n_g·R̄_g² folds in GROUP ORDER (the
    * stats_entropy discipline — a 3-term double sum must still be
    * ordered); tie term Σ(t³−t) is an exact integer. One pooled rank
    * build + one keyed agg — no global sort at any scale.
    */
  def statsKruskal(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("v"))
    val vc = rows.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val rk = FeatureQueries.cumRanks(vc)
      .select(col("v"), col("c"), (lit(2L) * col("cum") - col("c") + lit(1L)).as("r2"))
    val per = rows.join(rk.select(col("v"), col("r2")), "v")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("r2").cast("decimal(38,0)")).cast("double").as("s2"))
    val tie = rk
      .agg(sum((col("c") * col("c") * col("c") - col("c")).cast("decimal(38,0)"))
        .cast("double").as("t"))
    per
      .agg(sort_array(collect_list(struct(col("g"), col("n_g"), col("s2")))).as("gs"),
        sum(col("n_g")).as("n"))
      .crossJoin(broadcast(tie))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("sum_terms", aggregate(
        transform(col("gs"), x =>
          (x.getField("s2") / lit(2.0)) * (x.getField("s2") / lit(2.0)) /
            x.getField("n_g").cast("double")),
        lit(0.0), (a, b) => a + b))
      .withColumn("h",
        lit(12.0) / (col("nd") * (col("nd") + lit(1.0))) * col("sum_terms") -
          lit(3.0) * (col("nd") + lit(1.0)))
      .withColumn("c_tie",
        lit(1.0) - col("t") / (col("nd") * col("nd") * col("nd") - col("nd")))
      .select(col("n"), col("h"), col("c_tie"),
        when(col("c_tie") > 0.0, col("h") / col("c_tie")).as("h_adj"))
  }

  val statsKruskalSql: String =
    """WITH rows0 AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v FROM lineitem),
      |vc AS (SELECT v, COUNT(*) AS c FROM rows0 GROUP BY 1),
      |cm AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM vc),
      |rk AS (SELECT v, c, 2 * cum - c + 1 AS r2 FROM cm),
      |per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(CAST(r2 AS DECIMAL(38,0))) AS DOUBLE) AS s2
      |  FROM rows0 JOIN rk USING (v) GROUP BY g),
      |tie AS (SELECT CAST(SUM(CAST(c * c * c - c AS DECIMAL(38,0))) AS DOUBLE) AS t FROM rk),
      |agg AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
      |    CAST(list_reduce(list_prepend(0.0e0,
      |      list_transform(list(struct_pack(n_g := n_g, s2 := s2) ORDER BY g),
      |        x -> (x.s2 / 2.0e0) * (x.s2 / 2.0e0) / CAST(x.n_g AS DOUBLE))),
      |      (a, b) -> a + b) AS DOUBLE) AS sum_terms
      |  FROM per),
      |m AS (SELECT n, CAST(n AS DOUBLE) AS nd, sum_terms, t FROM agg CROSS JOIN tie),
      |h0 AS (SELECT n, nd, t,
      |    12.0e0 / (nd * (nd + 1.0e0)) * sum_terms - 3.0e0 * (nd + 1.0e0) AS h
      |  FROM m),
      |c0 AS (SELECT n, h, 1.0e0 - t / (nd * nd * nd - nd) AS c_tie FROM h0)
      |SELECT n, h, c_tie, CASE WHEN c_tie > 0 THEN h / c_tie END AS h_adj FROM c0""".stripMargin

  /** Degree assortativity (Newman 2002) of the co-supply graph: the
    * Pearson correlation of degrees across edge endpoints — do hubs
    * attach to hubs? Edge ends symmetrized (each undirected edge
    * contributes both orientations), degrees are exact integers, and
    * the correlation is the [[statsCorr]] DECIMAL(38,0)-moment / IEEE
    * chain over the 2|E| endpoint pairs. Two keyed degree joins + one
    * global aggregate on the edge set only.
    */
  def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = coSupplyEdges(s, dir)
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    def dsum(c: org.apache.spark.sql.Column, out: String) =
      sum(c.cast("decimal(38,0)")).cast("double").as(out)
    sym
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .agg(count(lit(1)).as("n_ends"),
        count(lit(1)).cast("double").as("n"),
        dsum(col("du"), "sx"), dsum(col("dv"), "sy"),
        dsum(col("du") * col("dv"), "sxy"),
        dsum(col("du") * col("du"), "sxx"),
        dsum(col("dv") * col("dv"), "syy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("n_ends"),
        when(col("vx") =!= 0.0 && col("vy") =!= 0.0,
          col("num") / (sqrt(col("vx")) * sqrt(col("vy")))).as("r"))
  }

  val graphAssortativitySql: String =
    s"""WITH $CoSupplyCtes,
       |deg AS (SELECT node, COUNT(*) AS deg FROM (
       |  SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
       |sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
       |pr AS (SELECT a.deg AS du, b.deg AS dv FROM sym
       |  JOIN deg a ON a.node = sym.u JOIN deg b ON b.node = sym.v),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ends, CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(du AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(dv AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(du * dv AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(du * du AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(dv * dv AS DECIMAL(38,0))) AS DOUBLE) AS syy
       |  FROM pr),
       |d AS (SELECT *, (n * sxy - sx * sy) AS num,
       |    (n * sxx - sx * sx) AS vx, (n * syy - sy * sy) AS vy FROM m)
       |SELECT n_ends,
       |  CASE WHEN vx <> 0 AND vy <> 0 THEN num / (sqrt(vx) * sqrt(vy)) END AS r
       |FROM d""".stripMargin

  /** Mann–Kendall monotonic-trend test per event type: S = Σ_{i<j}
    * sign(y_j − y_i) over the DAILY count series, tau-b with the tie
    * correction (days are unique so only the y side has ties). The
    * pair expansion is a self-join on the daily aggregate — O(days²)
    * per type, bounded by the CALENDAR (≤366²/2 pairs per type-year),
    * not by corpus size, so the shape survives any scale-up. Every
    * intermediate is an exact integer; tau is the single final IEEE
    * chain S / (√D · √(D−T_y)), mirrored op-for-op by the oracle.
    */
  def statsKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .select(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val a = daily.select(col("event_type"), col("day").as("d1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("day").as("d2"), col("y").as("y2"))
    val sStat = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("y2") > col("y1"), 1L)
        .when(col("y2") < col("y1"), -1L).otherwise(0L)).as("s_raw"))
    val ties = daily.groupBy(col("event_type"), col("y")).agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t")).as("n"), sum(expr("(t * (t - 1)) div 2")).as("ty"))
    ties.join(sStat, Seq("event_type"), "left")
      .withColumn("s_stat", coalesce(col("s_raw"), lit(0L)))
      .withColumn("dd", expr("(n * (n - 1)) div 2"))
      .select(col("event_type"), col("n").as("n_days"), col("s_stat"),
        when(col("dd") > 0 && (col("dd") - col("ty")) > 0,
          col("s_stat").cast("double") /
            (sqrt(col("dd").cast("double")) *
              sqrt((col("dd") - col("ty")).cast("double")))).as("tau"))
      .orderBy(col("event_type"))
  }

  val statsKendallSql: String =
    """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    COUNT(*) AS y FROM events GROUP BY 1, 2),
      |p AS (SELECT a.event_type,
      |    CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_raw
      |  FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY 1),
      |t AS (SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
      |    CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS ty
      |  FROM (SELECT event_type, y, COUNT(*) AS t FROM daily GROUP BY 1, 2)
      |  GROUP BY 1),
      |d AS (SELECT t.event_type, t.n, COALESCE(p.s_raw, 0) AS s_stat,
      |    (t.n * (t.n - 1)) // 2 AS dd, t.ty
      |  FROM t LEFT JOIN p USING (event_type))
      |SELECT event_type, n AS n_days, s_stat,
      |  CASE WHEN dd > 0 AND dd - ty > 0
      |    THEN CAST(s_stat AS DOUBLE) / (sqrt(CAST(dd AS DOUBLE)) * sqrt(CAST(dd - ty AS DOUBLE))) END AS tau
      |FROM d ORDER BY event_type""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_spearman" -> (statsSpearman _),
    "stats_kendall" -> (statsKendall _),
    "stream_dedup" -> (streamDedup _),
    "dq_kanon" -> (dqKanon _),
    "er_jarowinkler" -> (erJarowinkler _),
    "sketch_quantile" -> (sketchQuantile _),
    "rec_jaccard" -> (recJaccard _),
    "stats_ols" -> (statsOls _),
    "stats_runs" -> (statsRuns _),
    "stats_kruskal" -> (statsKruskal _),
    "graph_assortativity" -> (graphAssortativity _),
    "graph_betweenness" -> (graphBetweenness _),
    "graph_closeness" -> (graphCloseness _),
    "graph_bc_coverage" -> (graphBcCoverage _),
    "graph_summary" -> (graphSummary _),
    "er_blocking_eval" -> (erBlockingEval _),
    "stream_dau" -> (streamDau _),
    "stream_topk" -> (streamTopk _),
    "join_salted" -> (joinSalted _),
    "agg_incremental" -> (aggIncremental _),
    "dq_erasure" -> (dqErasure _),
    "facet_gsets" -> (facetGsets _),
    "graph_sssp" -> (graphSssp _),
    "stats_mi" -> (statsMi _),
    "facet_rollup" -> (facetRollup _),
    "stats_ttest" -> (statsTtest _),
    "stats_wilson" -> (statsWilson _),
    "stats_gini" -> (statsGini _),
    "graph_linkpred" -> (graphLinkpred _),
    "abc_parts" -> (abcParts _),
    "rec_cosine" -> (recCosine _),
    "stats_benford" -> (statsBenford _),
    "graph_labelprop" -> (graphLabelprop _),
    "graph_kcore" -> (graphKcore _),
    "graph_cc" -> (graphCc _),
    "graph_mst" -> (graphMst _),
    "dq_freshness" -> (dqFreshness _),
    "graph_modularity" -> (graphModularity _),
    "skyline_parts" -> (skylineParts _),
    "stats_corr" -> (statsCorr _),
    "stats_chisq" -> (statsChisq _),
    "stats_entropy" -> (statsEntropy _),
    "stats_ks" -> (statsKs _),
    "graph_triangles" -> (graphTriangles _),
    "graph_bfs" -> (graphBfs _),
    "er_cluster" -> (erCluster _),
    "approx_distinct_hll" -> (approxDistinctHll _),
    "sketch_kmv" -> (sketchKmv _),
    "stats_anova" -> (statsAnova _),
    "stats_bootstrap" -> (statsBootstrap _),
    "basket_pairs" -> (basketPairs _),
    "ts_histogram" -> (tsHistogram _),
    "er_match" -> (erMatch _),
    "er_sorted_neighborhood" -> (erSortedNeighborhood _),
    "sketch_hll_intersect" -> (sketchHllIntersect _),
    "dq_report" -> (dqReport _),
    "funnel_conversion" -> (funnelConversion _),
    "cohort_retention" -> (cohortRetention _),
    "sketch_hll_merge" -> (sketchHllMerge _),
    "stream_hll" -> (streamHll _),
    "stream_kmv" -> (streamKmv _),
    "bloom_semi_join" -> (bloomSemiJoin _),
    "facet_cube" -> (facetCube _),
    "agg_pricing" -> (aggPricing _),
    "facet_topk" -> (facetTopK _),
    "join_denorm" -> (joinDenorm _),
    "broadcast_dim" -> (broadcastDim _),
    "window_quota" -> (windowQuota _),
    "semi_join" -> (semiJoin _),
    "union_datasets" -> (unionDatasets _),
    "dedup_exact" -> (dedupExact _),
    "temporal_region" -> (temporalRegion _))

  val oracles: Map[String, String] = Map(
    "stats_spearman" -> statsSpearmanSql,
    "stats_kendall" -> statsKendallSql,
    "stream_dedup" -> streamDedupSql,
    "dq_kanon" -> dqKanonSql,
    "er_jarowinkler" -> erJarowinklerSql,
    "sketch_quantile" -> sketchQuantileSql,
    "rec_jaccard" -> recJaccardSql,
    "stats_ols" -> statsOlsSql,
    "stats_runs" -> statsRunsSql,
    "stats_kruskal" -> statsKruskalSql,
    "graph_assortativity" -> graphAssortativitySql,
    "graph_betweenness" -> graphBetweennessSql,
    "graph_closeness" -> graphClosenessSql,
    "graph_bc_coverage" -> graphBcCoverageSql,
    "graph_summary" -> graphSummarySql,
    "er_blocking_eval" -> erBlockingEvalSql,
    "stream_dau" -> streamDauSql,
    "stream_topk" -> streamTopkSql,
    "join_salted" -> joinSaltedSql,
    "agg_incremental" -> aggIncrementalSql,
    "dq_erasure" -> dqErasureSql,
    "graph_sssp" -> graphSsspSql,
    "stats_mi" -> statsMiSql,
    "facet_rollup" -> facetRollupSql,
    "facet_gsets" -> facetGsetsSql,
    "stats_ttest" -> statsTtestSql,
    "stats_wilson" -> statsWilsonSql,
    "stats_gini" -> statsGiniSql,
    "graph_linkpred" -> graphLinkpredSql,
    "abc_parts" -> abcPartsSql,
    "rec_cosine" -> recCosineSql,
    "stats_benford" -> statsBenfordSql,
    "graph_labelprop" -> graphLabelpropSql,
    "graph_kcore" -> graphKcoreSql,
    "graph_cc" -> graphCcSql,
    "graph_mst" -> graphMstSql,
    "dq_freshness" -> dqFreshnessSql,
    "graph_modularity" -> graphModularitySql,
    "skyline_parts" -> skylinePartsSql,
    "stats_corr" -> statsCorrSql,
    "stats_chisq" -> statsChisqSql,
    "stats_entropy" -> statsEntropySql,
    "stats_ks" -> statsKsSql,
    "graph_triangles" -> graphTrianglesSql,
    "graph_bfs" -> graphBfsSql,
    "er_cluster" -> erClusterSql,
    "approx_distinct_hll" -> approxDistinctHllSql,
    "sketch_kmv" -> sketchKmvSql,
    "stats_anova" -> statsAnovaSql,
    "stats_bootstrap" -> statsBootstrapSql,
    "basket_pairs" -> basketPairsSql,
    "ts_histogram" -> tsHistogramSql,
    "er_match" -> erMatchSql,
    "er_sorted_neighborhood" -> erSortedNeighborhoodSql,
    "sketch_hll_intersect" -> sketchHllIntersectSql,
    "dq_report" -> dqReportSql,
    "funnel_conversion" -> funnelConversionSql,
    "cohort_retention" -> cohortRetentionSql,
    "sketch_hll_merge" -> sketchHllMergeSql,
    "stream_hll" -> streamHllSql,
    "stream_kmv" -> streamKmvSql,
    "bloom_semi_join" -> bloomSemiJoinSql,
    "facet_cube" -> facetCubeSql,
    "agg_pricing" -> aggPricingSql,
    "facet_topk" -> facetTopKSql,
    "join_denorm" -> joinDenormSql,
    "broadcast_dim" -> broadcastDimSql,
    "window_quota" -> windowQuotaSql,
    "semi_join" -> semiJoinSql,
    "union_datasets" -> unionDatasetsSql,
    "dedup_exact" -> dedupExactSql,
    "temporal_region" -> temporalRegionSql)
}
