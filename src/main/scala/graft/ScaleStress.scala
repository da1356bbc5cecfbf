package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness (r5 VERDICT #3): the sf0.1 bench cannot see
  * O(n²) creep — a quadratic term small at 600k rows is the whole run
  * at 60M. This harness builds a salted N×-replication of a testdata
  * dir IN-SESSION (testdata itself is read-only), times the
  * quadratic-risk queries at 1× and N×, and reports the empirical
  * per-query scaling exponent log_N(t_N / t_1) — the closest
  * in-sandbox proxy for the 100 TB claim. Exponent ≈ 1 is linear
  * (scan-bound), ≈ 1.3 is the alert line (superlinear creep), ≥ 2
  * is a quadratic operator that must not ship.
  *
  * Replication is FK-consistent and salted:
  *  - fact keys are offset per copy by a power of ten above the max
  *    source key, so uniqueness and join fan-in are preserved (each
  *    copy joins only within itself — exactly how 10× more real
  *    customers/orders would behave);
  *  - dimension alphabets (region, nation) do NOT grow — at 100 TB
  *    the dims stay broadcast-sized, and growing them would stress a
  *    shape that cannot occur;
  *  - document text is salted per copy with a consonant substitution
  *    (`translate`) so copies are not near-duplicates of each other —
  *    naive replication would make every MinHash/LSH bucket 10×
  *    deeper and measure a pair blow-up a real 10× corpus does not
  *    have, while IN-copy near-dup structure is preserved untouched;
  *  - embeddings get a per-copy first-component nudge for the same
  *    reason (cross-copy exact-dup vectors would stack every LSH
  *    bucket 10 deep).
  */
object ScaleStress {

  /** Quadratic-risk panel: similarity joins, graph iteration, rank
    * statistics, windowed analytics — every family where an
    * accidental all-pairs or per-group sort would hide at sf0.1.
    */
  val DefaultPanel: Seq[String] = Seq(
    "stats_spearman", "stats_bootstrap", "stats_kruskal", "stats_ols",
    "ts_theilsen", "dedup_jaccard", "dedup_jaccard_join",
    "dedup_containment", "dedup_minhash", "dedup_semantic",
    "dedup_embedding", "dedup_cluster", "graph_triangles", "graph_bfs",
    "graph_sssp", "graph_modularity", "graph_pagerank", "er_match",
    "er_sorted_neighborhood", "text_bpe_train", "join_denorm",
    "window_quota", "sim_topk", "stream_cms",
    // round-7 quadratic-risk additions: char-n-gram counting, grid
    // spatial join (cell-occupancy product), Markov journeys (window
    // + alphabet iteration), boosting histograms, clipped n-gram
    // pairs, PR cumulatives
    "eval_chrf", "eval_rouge", "geo_grid_join", "attribution_markov",
    "ml_boost", "eval_pr_auc", "graph_mst",
    // round-8 additions (r8 VERDICT #6): closed-form ML plane
    // (per-round histogram/moment shapes), permutation fan-out,
    // clipped n-gram BLEU pairs, Kneser–Ney bigram tables, the CvM
    // bucketed ECDF, and the Mahalanobis moment matrix
    "ml_kmeans", "stats_permtest", "eval_bleu", "text_kneser_ney",
    "stats_cvm", "dq_mahalanobis",
    // round-9 additions: single-scan cell-table boosting/tree, the
    // decisioning plane's keyed-day aggregations, and the causal
    // quartet (two-level quantile ranks, stratified AsOf matching,
    // bandwidth-pruned OLS, stratified folds)
    "ml_boost_deep", "ml_tree", "eval_sequential", "eval_bandit",
    "eval_hte", "eval_rdd", "eval_qte", "eval_matching",
    "eval_poststrat",
    // round-9 third-session additions: shared pairEcdf consumers,
    // stratified log-rank windows, two-pass LDA, continuous IV,
    // lagged MASE windows, and the fairness-audit median + cells
    "stats_cliffs", "stats_ad", "survival_logrank", "ml_lda",
    "eval_2sls", "ts_mase", "fairness_report",
    // final round-9 additions: blocked-rank windows, densified EMD
    // grids, rolling-band windows, per-(term, doc) explode counting
    "stats_friedman", "stats_cochranq", "dq_tcloseness",
    "ts_bollinger", "text_burstiness",
    "eval_winsorized", "dq_outlier_iqr",
    // round-10 additions: per-(term, doc) positional-field explode
    // (BM25F), the IVF sweep's brute-force ground-truth leg, RM3's
    // three corpus passes, and the PQ distortion quantile windows
    "kg_bm25f", "sim_recall_sweep", "kg_rm3", "sim_pq_error",
    // systematic PPS: two-level weighted cumulative + narrow explode
    "pipeline_pps",
    // session-2 additions: QLD's corpus-frequency passes, the
    // Moore–Lewis token-onto-vocab shuffle joins + per-doc folds,
    // DSIR's hashed-bigram explode + bucket joins, and the
    // three-ranker eval composition
    "kg_qld", "pipeline_moore_lewis", "pipeline_dsir", "kg_ranker_eval",
    // BPE replace-fold corpus map + the two-phase cumulative windows
    "text_fertility", "pipeline_anneal",
    // round-11 additions (r10 VERDICT #3): the rec heavies — ALS keyed
    // solve-folds + factor equi-joins, Slope One's in-basket pair
    // expansion, and the item-item cosine's pair shuffle
    "rec_als", "rec_slopeone", "rec_cosine",
    // round-11 new queries: token-level selection (the moore_lewis
    // token-onto-vocab join shape), the three-ranker tau composition,
    // the end-to-end structured query (KG partition-pruned legs), and
    // the Bradley-Terry corpus aggregation + alphabet MM rounds
    "pipeline_rho", "kg_tau", "kg_coarse", "eval_bt")

  private def pow10Above(mx: Long): Long = {
    var p = 10L
    while (p <= mx + 1) p *= 10
    p
  }

  private def maxKey(df: DataFrame, key: String): Long =
    df.agg(max(col(key).cast("long"))).head.getLong(0)

  /** Union `copies` key-offset, content-salted copies of every table
    * under `srcDir` into `outDir` (parquet, raw column types passed
    * through so [[Tables]] normalizes the result exactly as it does
    * the source).
    */
  def replicate(spark: SparkSession, srcDir: String, outDir: String, copies: Int): Unit = {
    require(copies >= 1)
    // the marker goes first and is written last: an interrupted run
    // leaves no marker, so its partial replica is never reused
    Files.deleteIfExists(replicaMarker(outDir))
    def raw(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")

    val custK = pow10Above(maxKey(raw("customer"), "c_custkey"))
    val suppK = pow10Above(maxKey(raw("supplier"), "s_suppkey"))
    val partK = pow10Above(maxKey(raw("part"), "p_partkey"))
    val ordK = pow10Above(maxKey(raw("orders"), "o_orderkey"))
    val evK = pow10Above(maxKey(raw("events"), "event_id"))
    val userK = pow10Above(maxKey(raw("events"), "user_id"))
    val docK = pow10Above(maxKey(raw("documents"), "doc_id"))
    val vecK = pow10Above(maxKey(raw("embeddings"), "vec_id"))

    def shift(c: String, k: Int, unit: Long) = (col(c) + lit(k * unit)).as(c)

    // per-copy consonant substitution: copy 0 is the original text,
    // copies 1..N−1 each rewrite the 7 most frequent letters with a
    // distinct consonant window — most shingles change, so cross-copy
    // Jaccard collapses while each copy's internal dup structure is
    // copy-invariant
    def saltText(k: Int) =
      if (k == 0) col("text")
      else translate(col("text"), "etaoins",
        "bcdfghjklmpqrsvwxyz".drop((k - 1) % 13).take(7))

    val plans: Map[String, Int => DataFrame] = Map(
      "region" -> (_ => raw("region")),
      "nation" -> (_ => raw("nation")),
      // names are regenerated from the SHIFTED key (the generator's own
      // Customer#%09d scheme): copying names verbatim would make every
      // name-prefix ER block `copies`× deeper — a replication artifact
      // (100² pair blow-up at 100×) that a real N× corpus, whose new
      // customers have new names, does not have
      "customer" -> (k => raw("customer").select(
        shift("c_custkey", k, custK),
        format_string("Customer#%09d", col("c_custkey") + lit(k * custK))
          .as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))),
      "supplier" -> (k => raw("supplier").select(
        shift("s_suppkey", k, suppK),
        format_string("Supplier#%09d", col("s_suppkey") + lit(k * suppK))
          .as("s_name"),
        col("s_nationkey"), col("s_acctbal"))),
      "part" -> (k => raw("part").select(
        shift("p_partkey", k, partK), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))),
      "orders" -> (k => raw("orders").select(
        shift("o_orderkey", k, ordK), shift("o_custkey", k, custK),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))),
      "lineitem" -> (k => raw("lineitem").select(
        shift("l_orderkey", k, ordK), shift("l_partkey", k, partK),
        shift("l_suppkey", k, suppK), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))),
      "events" -> (k => raw("events").select(
        shift("event_id", k, evK), col("ts"), shift("user_id", k, userK),
        col("event_type"), col("value"), col("props"))),
      "documents" -> (k => raw("documents").select(
        shift("doc_id", k, docK), saltText(k).as("text"), col("lang"),
        col("source"), col("n_chars"))),
      // per-copy SIGN-FLIP mask (flip component i iff bit (i mod 7) of
      // k is set): a reflection is orthogonal, so within-copy geometry
      // — every distance, cosine, and near-dup pair — is preserved
      // EXACTLY, while any two copies differ in ≥1 flip class (~1/7 of
      // the vector mass, cosine ≤ ~0.71), so cross-copy twins of the
      // same base vector stop being near-duplicates. The earlier
      // first-component nudge (+0.01k) broke exact equality but left
      // copies of a vector mutually near-dup, stacking every ANN/dedup
      // bucket `copies` deep — a pair blow-up a real N× corpus does
      // not have, quadratic in the replication factor at 100×. Masks
      // are distinct for k ≤ 127 (7 bits).
      "embeddings" -> (k => raw("embeddings").select(
        shift("vec_id", k, vecK),
        transform(col("embedding"),
          (x, i) => when(
            // bit (i mod 7) of k, as arithmetic (shiftright needs a
            // literal shift): floor(k / 2^(i%7)) mod 2
            pmod(floor(lit(k.toDouble) /
              pow(lit(2.0), pmod(i, lit(7)).cast("double"))).cast("int"),
              lit(2)) === 1, (-x).cast("float"))
            .otherwise(x)).as("embedding"),
        col("label"))))

    Tables.names.foreach { name =>
      val fn = plans(name)
      val out =
        if (name == "region" || name == "nation") fn(0)
        else (0 until copies).map(fn).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    Files.writeString(replicaMarker(outDir), replicaStamp(srcDir, copies))
  }

  /** Completion marker of [[replicate]]: records the replica's source
    * dir and copy count.
    */
  private def replicaMarker(outDir: String) = Paths.get(outDir, "_REPLICA")

  private def replicaStamp(srcDir: String, copies: Int): String =
    s"srcDir=${Paths.get(srcDir).toAbsolutePath.normalize}\ncopies=$copies\n"

  /** True when `outDir` holds a finished [[replicate]] of `srcDir` at
    * `copies`: its marker exists and records the same pair.
    */
  def replicaComplete(outDir: String, srcDir: String, copies: Int): Boolean = {
    val m = replicaMarker(outDir)
    Files.exists(m) && Files.readString(m) == replicaStamp(srcDir, copies)
  }

  /** One measured row: min-of-k noop-write wall seconds per dir, with
    * the Bench cache-sweep protocol, plus the fitted exponent.
    */
  final case class Row(name: String, t1: Double, tN: Double, exponent: Double)

  def measure(spark: SparkSession, dir: String, names: Seq[String], k: Int,
              keepRdds: => Set[Int]): Seq[(String, Double)] = {
    // Pre-existing session state (memoized indexes built by EARLIER
    // callers) is always protected, whatever keep-set the caller
    // passes — sweeping a shared index's blocks out from under its
    // still-live cache entry poisons every later consumer (the
    // full-suite CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND lesson). The sweep
    // still frees everything the measured queries themselves create.
    val protect = Caches.persistentIds(spark) ++ keepRdds
    names.map { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      try name -> (1 to k).map(_ => once()).min
      finally Caches.sweep(spark, protect)
    }
  }

  def exponents(base: Seq[(String, Double)], big: Seq[(String, Double)],
                copies: Int): Seq[Row] = {
    val b = big.toMap
    base.map { case (n, t1) =>
      val tN = b(n)
      Row(n, t1, tN, math.log(tN / t1) / math.log(copies.toDouble))
    }
  }

  def render(rows: Seq[Row], copies: Int, sfDir: String, alertAt: Double): String = {
    val sb = new StringBuilder
    sb.append(s"| query | t_1x (s) | t_${copies}x (s) | exponent | verdict |\n")
    sb.append("|---|---|---|---|---|\n")
    rows.sortBy(-_.exponent).foreach { r =>
      // sub-second 1× entries are noise-dominated: a fixed ~0.1s plan/
      // submit overhead shared by both scales biases the exponent DOWN,
      // and scheduler jitter can push a 0.2s query either way — flag
      // only rows with enough signal, report the rest informationally
      val verdict =
        if (r.exponent > alertAt && r.tN > 1.0) "**ALERT**"
        else if (r.exponent > alertAt) "noisy-small"
        else "ok"
      sb.append(f"| ${r.name} | ${r.t1}%.2f | ${r.tN}%.2f | ${r.exponent}%.2f | $verdict |\n")
    }
    sb.toString
  }

  /** args: [srcDir] [copies] [k]. Writes the table into SCALING.md
    * between the scale-stress markers (appends the section on first
    * run) and prints one JSON summary line.
    */
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val k = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = s"/tmp/graft_scale_${copies}x"
    val spark = Tables.sessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_STRESS_REUSE=1 reuses an existing replica dir (the
    // replication is deterministic, and a 100× replica takes longer to
    // write than the measurements it feeds) — local iteration aid. Only
    // a finished replica of this srcDir at this copy count is reused.
    if (sys.env.get("SPARK_GRAFT_STRESS_REUSE").isEmpty ||
        !replicaComplete(outDir, srcDir, copies))
      replicate(spark, srcDir, outDir, copies)

    // warm-up (Bench protocol): JVM/codegen + fs metadata + kernels
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables(spark, srcDir, n).count())
    Tables.names.foreach(n => Tables(spark, outDir, n).count())
    locally {
      import spark.implicits._
      (1 to 512).map(i => s"warm up the shingle kernel number $i of many")
        .toDF("text")
        .select(array_distinct(graft.functions.TextFunctions.shingles($"text")))
        .write.format("noop").mode("overwrite").save()
    }

    // SPARK_GRAFT_STRESS_PANEL runs a restricted panel into its OWN
    // marker section (scale-stress-<copies>x) — the deep-replication
    // probes (e.g. the 100× legs of the highest-exponent rows) must
    // not clobber the full default table the way SPARK_GRAFT_ONLY
    // would (that var is the local-iteration aid and rewrites the
    // main section with whatever subset it ran).
    val panelEnv = sys.env.get("SPARK_GRAFT_STRESS_PANEL")
      .map(_.split(",").map(_.trim).toSeq)
    val panel = panelEnv.orElse(sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSeq)).getOrElse(DefaultPanel)
    val markerId =
      if (panelEnv.isDefined) s"scale-stress-${copies}x" else "scale-stress"

    // graph index builds are their own measured entries (the Bench
    // itemization), then stay in the keep-set so graph_* rows measure
    // query-plane work at both scales
    def buildGraph(dir: String): Double = {
      val t0 = System.nanoTime()
      graft.queries.Relational.graphBuild(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val g1 = "graph_build" -> buildGraph(srcDir)
    val gN = "graph_build" -> buildGraph(outDir)
    lazy val keep = Caches.persistentIds(spark)

    val base = measure(spark, srcDir, panel, k, keep) :+ g1
    val big = measure(spark, outDir, panel, k, keep) :+ gN
    val rows = exponents(base, big, copies)
    val table = render(rows, copies, srcDir, alertAt = 1.3)

    // splice into SCALING.md between markers
    val begin = s"<!-- $markerId:begin -->"
    val end = s"<!-- $markerId:end -->"
    val path = Paths.get("SCALING.md")
    val section = s"$begin\n\n## Empirical scaling exponents " +
      s"(${copies}× salted replication of $srcDir, min-of-$k, local[$cpus])\n\n" +
      "Generated by `graft.ScaleStress`. exponent = " +
      s"log_$copies(t_${copies}x / t_1x); alert line 1.3; " +
      "sub-second 1× rows are noise-dominated (fixed plan/submit " +
      "overhead biases them down, jitter both ways) and are only " +
      s"flagged when the ${copies}× time exceeds 1 s.\n\n$table\n$end"
    val cur = if (Files.exists(path)) new String(Files.readAllBytes(path), "UTF-8") else ""
    val next =
      if (cur.contains(begin) && cur.contains(end))
        cur.substring(0, cur.indexOf(begin)) + section +
          cur.substring(cur.indexOf(end) + end.length)
      else cur + "\n" + section + "\n"
    Files.writeString(path, next)

    val alerts = rows.filter(r => r.exponent > 1.3 && r.tN > 1.0)
    def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    println(s"""{"metric":"scale_stress","copies":$copies,"n":${rows.size},""" +
      s""""alerts":[${alerts.map(a => "\"" + a.name + "\"").mkString(",")}],""" +
      s""""max_exponent":${fmt(rows.map(_.exponent).max)}}""")
    spark.stop()
  }
}
