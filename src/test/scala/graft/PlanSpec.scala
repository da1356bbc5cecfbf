package graft

import graft.queries.{KgPipeline, Relational, TimeSeriesQueries, TrainingPrep}

/** Physical-plan assertions (builder brief: "explain the plan and
  * iterate until it's the plan you'd want"). Checks that the properties
  * the 100 TB design relies on actually reach the executed plan:
  * filter pushdown to the parquet scan, column pruning, broadcast of
  * small dimensions, map-side partial aggregation, whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Run `f` with the broadcast threshold at -1. That turns off the query
    * compiler's small-input rule, so its ops plan their multi-partition
    * shuffles, and it also turns off every broadcast: joins whose small
    * side a large KG would still broadcast are planned as shuffled joins.
    */
  private def atScale[A](f: => A): A =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(f)

  test("broadcast_dim: dimension filter pushed to scan, fact side broadcast-joined") {
    val p = plan(Relational.broadcastDim(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "small dim must broadcast, not shuffle")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(p_size,25)"),
      "p_size > 25 must reach the parquet scan")
  }

  test("join_denorm: nation broadcast; no cartesian anywhere") {
    val p = plan(Relational.joinDenorm(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("agg_pricing: partial (map-side) aggregation before the shuffle") {
    val p = plan(Relational.aggPricing(spark, dir))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expect partial + final hash aggregate")
    assert(p.contains("partial_sum"), "map-side combine must run before the shuffle")
    // note: WholeStageCodegen markers only appear once AQE finalizes the
    // plan; partial_sum + paired HashAggregates are the stable signal.
  }

  test("column pruning: pricing scan reads only the needed lineitem columns") {
    val p = plan(Relational.aggPricing(spark, dir))
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_orderkey"),
      s"unused columns must be pruned from the scan: $readSchema")
  }

  test("semi_join: planned as a real semi join (no row duplication)") {
    val p = plan(Relational.semiJoin(spark, dir))
    assert(p.contains("LeftSemi"), s"expected LeftSemi in:\n$p")
  }

  test("kg_search: glossary extraction plane is shuffle-free up to scoring") {
    val p = atScale(plan(KgPipeline.kgSearch(spark, dir)))
    val exchanges = "Exchange".r.findAllIn(p).length
    // one shuffle for the score groupBy, one for the freetext join side,
    // one for the final orderBy — the extraction map itself adds none
    assert(exchanges <= 6, s"extraction plane leaking shuffles: $exchanges exchanges")
    assert(p.contains("Exchange hashpartitioning(doc_id"),
      s"the scoring groupBy must shuffle by doc_id at scale:\n$p")
  }

  test("kg_search: a small KG runs as a single-partition plan without shuffles") {
    val p = plan(KgPipeline.kgSearch(spark, dir))
    assert("Exchange (hash|range|Single)".r.findFirstIn(p).isEmpty,
      s"small inputs must add no shuffle:\n$p")
    assert(p.contains("Coalesce 1"), p)
  }

  test("facet_topk: limit applied after partial aggregation, no global sort of input") {
    val p = plan(Relational.facetTopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrderedAndProject, not Sort+Limit of the full data")
  }

  test("rule_rowslice: global rank slice plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(graft.queries.Extended.ruleRowslice(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      "rank 101..150 must be per-partition top-k + merge, not a single-partition sort")
    // the global window's input must be the bounded 150-row limit via
    // an explicit repartition(1) (Exchange SinglePartition AFTER the
    // TakeOrdered), never the full table funneled to one partition
    val ex = p.indexOf("Exchange SinglePartition")
    assert(ex >= 0 && ex < p.indexOf("TakeOrderedAndProject"),
      "the single-partition exchange must sit above the bounded TakeOrdered (parents print first), not under it on the base scan")
  }

  test("extract_tables: scan reads only the columns the synthesized page needs") {
    val p = plan(graft.queries.Extended.extractTables(spark, dir))
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("lang") &&
      readSchema.contains("source"))
    assert(!readSchema.contains("text"), s"documents.text must be pruned: $readSchema")
  }

  test("ts_trend_dots: every window exchange hash-partitions on the series key") {
    val p = plan(graft.queries.TimeSeriesQueries.tsTrendDots(spark, dir))
    assert(p.contains("hashpartitioning(user_id"),
      "per-series windows must shuffle on user_id, not funnel to one partition")
    assert(!p.contains("SinglePartition") ||
      p.contains("TakeOrderedAndProject"), // final orderBy merge is fine
      s"no full-table single-partition stage expected")
  }

  test("contamination: benchmark shingle set broadcasts, corpus side never shuffles whole") {
    val p = plan(graft.queries.CurationQueries.contamination(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the (small) benchmark shingle set must broadcast, not shuffle the corpus")
  }

  test("dedup_minhash: band join carries ids and band keys only, shingles join back later") {
    val df = graft.operators.Dedup.minhashLshPairs(
      Tables(spark, dir, "documents").limit(50), "doc_id", "text")
    val p = plan(df)
    val joins = "(?m)SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).length
    assert(joins >= 3, "candidate join + two shingle join-backs expected")
    // no plan line touching the band keys (join keys, exchanges,
    // projections) may carry the shingle array — pairs dedup first
    val bandLines = p.linesIterator.filter(_.contains("band_key")).toSeq
    assert(bandLines.nonEmpty, "expected a band_key join in the plan")
    assert(bandLines.forall(l => !l.contains("sh#") && !l.contains("sh_a") && !l.contains("sh_b")),
      s"shingle arrays must not ride through the band join:\n${bandLines.mkString("\n")}")
  }

  test("dedup_semantic: centroid table broadcasts; pair join shuffles assignments, not raw corpus") {
    val p = plan(graft.operators.Similarity.semanticDedup(
      Tables(spark, dir, "embeddings"), tau = 0.35, nCentroids = 8))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the nCentroids-row centroid table must broadcast")
    assert(!p.contains("CartesianProduct"),
      "corpus x centroids must be a broadcast product, never a cartesian shuffle")
  }

  test("filter_url: blocklist equi-joins as a broadcast, never a LIKE scan or cartesian") {
    val p = plan(graft.queries.CurationQueries.filterUrl(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      "the blocklist must broadcast-equi-join against exploded host suffixes")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "no corpus-wide shuffle join for a broadcastable blocklist")
  }

  test("filter_gopher: whole rule panel is one narrow map over a 2-column scan") {
    val p = plan(graft.queries.CurationQueries.filterGopher(spark, dir))
    val exchanges = "(?m)Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the output-sort exchange, plan:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to (doc_id, text)")
  }

  test("sim_pq: codebook and query tables broadcast; scoring side reads codes, not embeddings") {
    val emb = Tables(spark, dir, "embeddings")
    val p = plan(graft.operators.Similarity.pqTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8), k = 5))
    assert(p.contains("BroadcastExchange"),
      "the m*k codebook and per-query distance tables must broadcast")
    assert(!p.contains("CartesianProduct"),
      "corpus x queries must be a broadcast product, never a cartesian shuffle")
    // the ADC scoring join must not resurrect the raw embedding column:
    // after pqCodes aggregates, only (vec_id, codes) rides forward
    val adcLines = p.linesIterator.filter(_.contains("dtab")).toSeq
    assert(adcLines.nonEmpty, "expected the broadcast distance-table join in the plan")
    assert(adcLines.forall(!_.contains("embedding#")),
      s"raw embeddings must not ride through ADC scoring:\n${adcLines.mkString("\n")}")
  }

  test("filter_c4: whole rule panel is one narrow map over a 2-column scan") {
    val p = plan(graft.queries.CurationQueries.filterC4(spark, dir))
    val exchanges = "(?m)Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the output-sort exchange, plan:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to (doc_id, text)")
  }

  test("sim_ivfpq: centroids/codebook/ADC tables broadcast; scoring reads codes, not embeddings") {
    val emb = Tables(spark, dir, "embeddings")
    val p = plan(graft.operators.Similarity.ivfpqTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8), k = 5))
    assert(p.contains("BroadcastExchange"),
      "centroid table, PQ codebook, and per-(query,cell) ADC tables must broadcast")
    assert(!p.contains("CartesianProduct"),
      "corpus x centroids must be a broadcast product, never a cartesian shuffle")
    val adcLines = p.linesIterator.filter(_.contains("dtab")).toSeq
    assert(adcLines.nonEmpty, "expected the broadcast distance-table join in the plan")
    assert(adcLines.forall(!_.contains("embedding#")),
      s"raw embeddings must not ride through ADC scoring:\n${adcLines.mkString("\n")}")
  }

  test("IVF/PQ index builds are shuffle-free: every remaining exchange is query- or pair-side") {
    // Budgets pin the literal-codebook design: corpus-side assignment
    // and PQ encoding are narrow maps, so the ONLY shuffle exchanges
    // left sit on bounded data — the probe/ADC-table side (queries ×
    // centroids), the per-query top-k window, the within-cluster pair
    // window, and the output sort. A regression that reintroduces a
    // corpus-wide window or groupBy in the index build raises the count.
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange (hash|range|SinglePartition)".r.findAllIn(plan(df)).length
    assert(shuffles(graft.operators.Similarity.ivfTopK(emb, q, k = 5)) <= 1)
    assert(shuffles(graft.operators.Similarity.pqTopK(emb, q, k = 5)) <= 2)
    assert(shuffles(graft.operators.Similarity.ivfpqTopK(emb, q, k = 5)) <= 2)
    assert(shuffles(graft.operators.Similarity.semanticDedup(emb, tau = 0.35)) <= 1)
    // trained codebooks ride the SAME literal-map plumbing: budgets
    // must not grow when k-means replaces the seed convention
    assert(shuffles(graft.operators.Similarity.ivfTopKTrained(emb, q, k = 5)) <= 1)
    assert(shuffles(graft.operators.Similarity.pqTopKTrained(emb, q, k = 5)) <= 2)
    assert(shuffles(graft.operators.Similarity.ivfpqTopKTrained(emb, q, k = 5)) <= 2)
  }

  test("as-of join: exactly one keyed shuffle in the operator; query adds only marker dedup") {
    import org.apache.spark.sql.functions.col
    val ev = Tables(spark, dir, "events")
    val mk = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("event_id").as("m_id"))
    val op = plan(graft.operators.AsOf.joinBackward(
      ev.select(col("user_id"), col("ts"), col("event_id")), mk,
      key = Seq("user_id"), ts = "ts", payload = Seq("m_id")))
    assert("Exchange hashpartitioning".r.findAllIn(op).length == 1,
      s"the as-of operator is ONE shuffle on the key, plan:\n$op")
    assert(!op.contains("CartesianProduct") && !op.contains("SortMergeJoin"),
      "the union+window formulation must not plan a join at all")
    val fwd = plan(graft.operators.AsOf.joinForward(
      ev.select(col("user_id"), col("ts"), col("event_id")), mk,
      key = Seq("user_id"), ts = "ts", payload = Seq("m_id")))
    assert("Exchange hashpartitioning".r.findAllIn(fwd).length == 1,
      s"the forward as-of operator is ONE shuffle on the key, plan:\n$fwd")
    // the registry queries add one aggregate for the marker-uniqueness
    // contract (dedup per (user, ts)) + the output sort — nothing else
    val q = plan(graft.queries.TimeSeriesQueries.tsAsof(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(q).length <= 2, s"plan:\n$q")
  }

  test("pipeline_funnel: flags computed in a project below the aggregate; bounded exchanges") {
    val p = plan(graft.queries.CurationQueries.pipelineFunnel(spark, dir))
    // multi-distinct expands through two hash exchanges (source+gid,
    // then source) + the output sort — anything more means the panel
    // flags leaked into a per-aggregate re-evaluation
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"plan:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>") ||
      p.contains("ReadSchema: struct<doc_id:bigint,source:string,text:string>"),
      "scan must prune to (doc_id, text, source)")
  }

  test("text_gopher: single narrow generate over a 2-column scan, no shuffle before the output sort") {
    val df = graft.queries.CurationQueries.textGopher(spark, dir)
    val p = plan(df)
    assert(p.contains("top_ngrams"), "the native TopNgrams kernel must be in the plan")
    // exactly one exchange: the final rangepartitioning for ORDER BY —
    // the per-row kernel must not introduce an aggregation shuffle
    val exchanges = "(?m)Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the output-sort exchange, plan:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to (doc_id, text)")
  }

  test("kg store: single-constraint search partition-prunes to the constrained field") {
    // Q8 index routing at 100×: the KG persisted partitioned by `field`
    // (one directory per typed field = the reference's per-type ES
    // index); a one-constraint query must SCAN only that field's
    // partitions, proven on the executed scan node's selected
    // partition count — not just the filter string.
    val store = java.nio.file.Files.createTempDirectory("kgstore").toString
    KgPipeline.writeKgStore(KgPipeline.kg(spark, dir), store)
    val kgStored = KgPipeline.kgFromStore(spark, store)
    assert(kgStored.select("field").distinct().count() == 3) // op, speed, size

    val spec = graft.query.QueryCompiler.QuerySpec(
      constraints = Seq(graft.query.QueryCompiler.Constraint("op", "join")),
      freeText = None, limit = 50)

    // unwrap AQE (scans live under inputPlan before stage execution)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.inputPlan)
      case other => other.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    }
    // both thresholds: the default, under which the documents side of
    // this small query is coalesced (the store, one directory per field,
    // reads several files and keeps its partitions), and -1, the
    // multi-partition plan of a large store
    val key = "spark.sql.autoBroadcastJoinThreshold"
    for (threshold <- Seq(spark.conf.get(key), "-1")) withConf(key, threshold) {
      val df = graft.query.QueryCompiler.search(
        kgStored, Tables(spark, dir, "documents"), "doc_id", "text",
        spec, KgPipeline.DemoCatalog)
      val scans = scansOf(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("kgstore")))
      assert(scans.nonEmpty, s"threshold $threshold: expected a file scan over the kg store")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "field")),
        s"threshold $threshold: field isin(...) must become a partition filter, not a data filter")
      // the scan's own file index, under the scan's own partition filters:
      // exactly ONE partition directory (field=op) may be selected
      val selected = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      assert(selected.size == 1, s"threshold $threshold: one-constraint search must scan " +
        s"exactly the field=op partition, scanned ${selected.size}")
    }
  }

  test("bloom_semi_join: bitset broadcasts; the probe side is a narrow map (no keyed shuffle)") {
    val p = Relational.bloomSemiJoin(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), s"bitset must broadcast:\n$p")
    // the customer probe never hash-shuffles: the only hashpartitioning
    // exchanges belong to the build (distinct positions) and the exact
    // reference count — both on key/position columns
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    // _groupingexpression = the bitset build's word-index groupBy
    assert(hashEx.subsetOf(Set("p", "o_custkey", "c_custkey", "w", "_groupingexpression")),
      s"probe-side payload must not shuffle; shuffled on: $hashEx\n$p")
  }

  test("approx_distinct_hll: register aggregation is partial (map-side max before the shuffle)") {
    val p = Relational.approxDistinctHll(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("partial_max") || p.contains("partial max") ||
      p.matches("(?s).*HashAggregate.*partial.*max.*"),
      s"expected map-side partial max of rho:\n$p")
  }

  test("pipeline_shuffle: exactly one keyed shuffle, no global sort before the output ordering") {
    val p = TrainingPrep.shuffleOrder(spark, dir).queryExecution.executedPlan.toString
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected 1 keyed shuffle (the shard window), got $keyed:\n$p")
    // the only range exchange is the final deterministic output orderBy
    assert("Exchange rangepartitioning".r.findAllIn(p).length <= 1, p)
  }

  test("scd2_build / cdc_apply: snapshot and history each ride ONE keyed shuffle") {
    Seq(TimeSeriesQueries.scd2Build _, TimeSeriesQueries.cdcApply _).foreach { q =>
      val p = q(spark, dir).queryExecution.executedPlan.toString
      val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(keyed == 1, s"expected 1 keyed shuffle, got $keyed:\n$p")
    }
  }

  test("range/interval joins: bucketized equi-joins, never a nested-loop or cartesian") {
    Seq(TimeSeriesQueries.tsRangeJoin _,
        TimeSeriesQueries.tsIntervalOverlap _).foreach { q =>
      val p = q(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"range predicate must ride a bucket equi-join, not an O(n*m) join:\n$p")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"expected an equi-join on the bucket key:\n$p")
    }
  }

  test("graph loops stay flat: iterative results read one materialized RDD, not re-derived lineage") {
    // Every fixed-iteration loop (BFS/SSSP/labelprop/pagerank) must
    // checkpoint each round — if the barrier is dropped, the final plan
    // re-embeds the full edge derivation per iteration and the exchange
    // count explodes (measured 61 vs 13 for the 5-iter pagerank). The
    // stable signal: the query's own plan is a scan of the checkpointed
    // RDD plus at most the final sort/aggregate stage.
    Seq(Relational.graphBfs _, Relational.graphSssp _).foreach { q =>
      val p = q(spark, dir).queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"),
        s"loop output must be a materialized checkpoint scan:\n$p")
      assert("Exchange (hash|range)partitioning".r.findAllIn(p).length <= 1,
        s"only the output sort may shuffle after a checkpointed loop:\n$p")
    }
    val lp = Relational.graphLabelprop(spark, dir).queryExecution.executedPlan.toString
    assert(lp.contains("Scan ExistingRDD"), s"labelprop output must read the checkpoint:\n$lp")
    assert("Exchange (hash|range)partitioning".r.findAllIn(lp).length <= 3,
      s"community-size join + output sort only:\n$lp")
  }

  test("round-5 joins: knn graph, containment, nearest as-of ride equi-joins, never nested-loop") {
    Seq(
      graft.queries.DedupSim.simKnnGraph _,
      graft.queries.DedupSim.dedupContainment _,
      TimeSeriesQueries.tsAsofNearest _).foreach { q =>
      val p = q(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"all round-5 pairing must be equi-join shaped:\n$p")
    }
  }

  test("cosineRange is shuffle-free: queries broadcast, filter in the scan projection") {
    val emb = Tables(spark, dir, "embeddings")
    val p = plan(graft.operators.Similarity.cosineRange(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 4), 0.3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries must broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"radius search must not shuffle the corpus:\n$p")
  }

  test("reshape_unpivot runs as one Expand pass, no join against a type table") {
    val p = plan(graft.queries.FeatureQueries.reshapeUnpivot(spark, dir))
    assert(p.contains("Expand"), s"native unpivot should lower to Expand:\n$p")
    assert(!p.contains("Join") || !p.split("Expand").head.contains("Join"),
      s"no join should feed the unpivot:\n$p")
  }

  test("ts_wau and eval_auc avoid window functions entirely (bounded fan-out / rank join-backs)") {
    Seq(TimeSeriesQueries.tsWau _, graft.queries.FeatureQueries.evalAuc _).foreach { q =>
      val p = plan(q(spark, dir))
      assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
        s"these operators are designed window-free:\n$p")
    }
  }

  test("sampled centralities never go nested-loop; er_blocking_eval is the one documented cartesian") {
    Seq(Relational.graphBetweenness _, Relational.graphCloseness _).foreach { q =>
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"),
        s"seeded BFS must stay equi-join shaped:\n$p")
    }
    // the blocking evaluator's bounded ground-truth quadratic IS a
    // nested-loop by design — pin the pre-checkpoint pair join (the
    // final query hides it behind the result barrier) so an accidental
    // equi-key rewrite (silently changing the universe) fails loudly
    val pe = plan(Relational.erBlockingPairs(
      Relational.erBlockingUniverse(spark, dir)))
    assert(pe.contains("BroadcastNestedLoopJoin") || pe.contains("CartesianProduct"),
      s"er_blocking_eval's ground truth is the documented bounded quadratic:\n$pe")
  }

  test("stats_bootstrap: replicate means partial-aggregate map-side (B counters per partition)") {
    // the means barrier (localCheckpoint) hides the aggregate behind a
    // Scan ExistingRDD in the final plan — pin the PRE-barrier pipeline
    val means = Relational.statsBootstrapMeans(
      Relational.statsBootstrapRows(spark, dir))
    val p = means.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"),
      s"the Poisson bootstrap's whole point is map-side B-counter combine:\n$p")
    val fin = Relational.statsBootstrap(spark, dir).queryExecution.executedPlan.toString
    assert(!fin.contains("CartesianProduct") ||
      "CartesianProduct".r.findAllIn(fin).length <= 2,
      s"only the 1-row SE/mean broadcasts may cross-join:\n$fin")
  }
}
