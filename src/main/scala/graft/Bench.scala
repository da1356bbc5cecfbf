package graft

import org.apache.spark.metrics.source.CodegenMetrics

object Bench {
  /** The per-entry seconds of a prior run's BENCH_FULL.json, when that run
    * measured the same scale directory `sf` on the same `cpus`: an sf0.01
    * or 8-core time is no reference for an sf0.1 or 32-core run (a file
    * that records no core count is none either).
    */
  def prior(json: String, sf: String, cpus: Int): Map[String, Double] = {
    val sfOf = """"sf":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
    val cpusOf = """"cpus":([0-9]+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
    if (!sfOf.contains(sf) || !cpusOf.contains(cpus)) Map.empty
    else {
      val body = """"queries":\{([^}]*)\}""".r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
      """"([A-Za-z0-9_]+)":([0-9.Ee+\-]+)""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    // Every timed run is tagged with a job group; the listener's records
    // are read once after the run (BENCH_FULL.json `exec`).
    val listener = Harness.listener(spark)
    // Warm-up before anything is measured, so the first measured query
    // doesn't pay session init or a one-time kernel cost.
    Harness.warmUp(spark, sfDir)
    // Contention canary: the same fixed probe re-timed before the run,
    // every `canaryEvery` entries, and after the run. The probe is
    // constant work (range→sum, no IO, no shuffle), so its timing series
    // measures MACHINE state — CPU contention from sandbox neighbors, GC
    // pressure — not code. Three rounds of verdicts burned on "is this
    // 5× a regression or a noisy container?"; the series in
    // BENCH_FULL.json lets any reader normalize per-query times against
    // measured drift instead of arguing. min-of-3 like the queries.
    def canary(): Double = (1 to 3).map(_ =>
      Harness.seconds(spark.range(1000000L).selectExpr("sum(id)").collect())).min
    val canaryEvery = 25
    val canaries = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    // Periodic driver GC at the canary points: Spark's ContextCleaner
    // frees shuffle files / broadcast blocks only when the JVM collects
    // the referencing objects, and spark.cleaner.periodicGC.interval
    // defaults to 30 MINUTES — longer than this whole run — so a
    // 340-entry sequence accretes hundreds of dead shuffles' files and
    // broadcast blocks, taxing exactly the shuffle-heaviest entries at
    // the alphabetical tail (rec_als measured 6.9 s at entry ~280 vs
    // 5.8 s standalone on a SLOWER machine state, same code, r11).
    // A long-lived cluster driver gets this hygiene from the periodic
    // GC; the bench gives itself the same, and the canary timed right
    // after measures the post-cleanup steady state.
    def cleanerTick(): Unit = {
      System.gc()
      Thread.sleep(100) // let the async cleaner thread drain the queue
    }
    // Prior-run per-query times from the committed BENCH_FULL.json: the
    // reference for the end-of-run re-queue pass (r11 verdict #1 — six
    // queries read 5–26× their committed times on untouched code; the
    // 25-entry canary sampled right past the contention bands, so the
    // harness now re-measures outliers itself instead of leaving the
    // forensics to the next verdict). Absent file / new query → no
    // reference → no re-queue for that entry.
    val prior: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("BENCH_FULL.json")
      if (java.nio.file.Files.exists(p))
        Bench.prior(java.nio.file.Files.readString(p), sfDir, Harness.cpus)
      else Map.empty
    } catch { case _: Throwable => Map.empty }
    // Run clock: every measured entry records its wall-clock START
    // offset (seconds since runT0) so a per-query regression can be
    // correlated with the canary series — "entry 92 read 26×" becomes
    // "the 17 s at offset 201–219 s, between canary points at 195 s and
    // 240 s", i.e. positioned inside or outside a measured drift band.
    val runT0 = System.nanoTime()
    val t0Epoch = System.currentTimeMillis() / 1000
    def offset(): Double = (System.nanoTime() - runT0) / 1e9
    val starts = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    // The session-scoped indexes (kg_build: the reference's ES indexing
    // phase; graph_build: the co-supply graph the graph_* queries share)
    // are index-build work, not query-plane work: each is timed as its
    // own entry (r2 verdict #6). Its blocks stay in the keep-set:
    // everything else persisted during a query — per-query `.cache()`
    // barriers, loop checkpoints — is swept between entries; r4 showed
    // the alternative (join_denorm read 21 s under eviction pressure
    // from ~40 queries of accreted blocks vs 1.1 s standalone).
    val builds = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val keepRdds = Harness.indexes(spark, sfDir, (name, build) => {
      starts += ((name, offset()))
      builds += name -> Harness.seconds(build())
    })
    // name-sorted: Map iteration order reshuffles whenever a query is
    // added, which moves JIT/codegen warm-up costs to different queries
    // each round and makes per-query times incomparable across rounds.
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (local iteration and
    // profiling aid; the driver never sets it).
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => Harness.only.forall(_.contains(name)) }
      .sortBy(_._1)
    // min-of-k per query: a single-pass timing cannot distinguish a code
    // regression from one noisy neighbor in a shared sandbox (a 1.9s query
    // can read 23s under CPU contention). The min over k runs is robust to
    // transient contention while still charging real per-query cost.
    val k = sys.env.getOrElse("SPARK_GRAFT_BENCH_K", "3").toInt.max(1)
    // Generated classes Spark compiled during each entry's timed runs
    // (BENCH_FULL.json `compiles`): a class the JVM-wide codegen cache
    // still holds is not compiled again, so a nonzero count is
    // compile time inside the timing.
    val compiles = scala.collection.mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    // the job group of each entry's kept (min) run: its `exec` record
    val keptGroup = scala.collection.mutable.Map[String, (Double, String)]()
    val byName = selected.toMap
    def timedRuns(name: String, tag: String): Double = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try {
        val (t, group) = Harness.minOf(spark, sfDir, byName(name), k, keepRdds, tag)
        if (keptGroup.get(name).forall(_._1 > t)) keptGroup(name) = (t, group)
        t
      } finally compiles(name) += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val firstPass: Seq[(String, Either[String, Double])] =
      selected.zipWithIndex.map { case ((name, _), idx) =>
        if (idx % canaryEvery == 0) { cleanerTick(); canaries += ((idx, canary())) }
        starts += ((name, offset()))
        // A query that throws must surface as an error entry, never as a
        // (tiny) timing — a broken query silently reading as "fast" would
        // corrupt the round-over-round signal.
        try name -> Right(timedRuns(name, name))
        catch { case e: Throwable =>
          val msg = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage))
            .replaceAll("[\\\\\"\\n\\r\\t]", " ").take(120)
          name -> Left(msg)
        }
      }
    // Re-queue pass: any entry whose min-of-k exceeded 3× its prior-run
    // time (and isn't sub-second noise) is re-measured ONCE after the
    // sequence completes, behind a cleanerTick, and the min of both
    // passes is kept. A genuine regression reproduces (both passes
    // slow); a contention band does not (the tail re-run, minutes later
    // under different machine state, restores the real time). Both
    // readings are emitted under "requeue" so the forensics are in the
    // artifact, not reconstructed from the next round's diff.
    val requeue = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
    val results: Seq[(String, Either[String, Double])] = firstPass.map {
      case (name, Right(t))
          if prior.get(name).exists(p => t > 3.0 * p) && t > 1.0 =>
        cleanerTick()
        starts += ((name + "#rq", offset()))
        val again =
          try Some(timedRuns(name, name + "#rq"))
          catch { case _: Throwable => None } // keep the first reading
        again.foreach(t2 => requeue += ((name, t, t2)))
        name -> Right(math.min(t, again.getOrElse(t)))
      case other => other
    }
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val errs = results.collect { case (n, Left(m)) => s""""$n":"$m"""" }
      .mkString("{", ",", "}")
    val ok = results.collect { case (n, Right(t)) => n -> t } ++ builds
    val total = ok.map(_._2).sum
    val qs = ok.map { case (q, v) => "\"" + q + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // The headline total appears FIRST (head-capped artifact) and is
    // repeated LAST as value_tail (tail-capped artifact), so a fixed-size
    // log excerpt from either end always carries it; per-query times are
    // 3-decimal to keep the line short.
    // The final canary gets the same cleanerTick every in-run point
    // got, so all series points measure the same post-cleanup state.
    cleanerTick()
    canaries += ((selected.size, canary()))
    // canary summary up front (head-capped artifact still carries it):
    // min/max/last of the series plus the full (index, sec) pairs
    val cvs = canaries.map(_._2)
    val cj = canaries.map { case (i, v) => s"[$i,${fmt(v)}]" }
      .mkString("[", ",", "]")
    val canaryJson = s""""canary":{"min":${fmt(cvs.min)},"max":${fmt(cvs.max)},"last":${fmt(cvs.last)},"series":$cj}"""
    val rqJson = requeue.map { case (n, a, b) => s""""$n":[${fmt(a)},${fmt(b)}]""" }
      .mkString("{", ",", "}")
    val startsJson = starts.map { case (n, o) => "\"" + n + "\":" + fmt(o) }
      .mkString("{", ",", "}")
    val compilesJson = compiles.map { case (n, c) => "\"" + n + "\":" + c }
      .mkString("{", ",", "}")
    // Each entry's kept run as the listener saw it (jobs, stages, tasks,
    // shuffle bytes, spill, the slowest stages with their call sites),
    // read behind one drain for the whole run, so no entry pays a wait.
    listener.drain()
    val kept = keptGroup.map { case (n, (_, group)) => n -> group }.toMap ++
      builds.map { case (n, _) => n -> n }
    val execJson = ok.map { case (n, _) => "\"" + n + "\":" + listener.take(kept(n)).json }
      .mkString("{", ",", "}")
    // Printed line = the DRIVER CONTRACT (r12 verdict item 1): short —
    // total first (head-capped excerpts), then k/n/errs/requeue, then the
    // `queries` map, sf, and the total again as value_tail so a
    // tail-capped excerpt still ends with ...,"queries":{...},"sf":...,
    // "value_tail":N and the driver's parser finds per-query durations.
    // Forensics (canary series, start offsets, t0_epoch) go ONLY to
    // BENCH_FULL.json — r12's printed `starts` map pushed `queries` out
    // of the driver's fixed-size tail capture and blanked PERF_r12.
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","k":$k,"n_queries":${ok.size},"n_errs":${results.count(_._2.isLeft)},"n_requeued":${requeue.size},"errs":$errs,"requeue":$rqJson,"queries":$qs,"sf":"$sfDir","value_tail":${fmt(total)}}"""
    println(line)
    // BENCH_FULL.json in the repo root is the complete, uncapped record
    // of the most recent bench run on this machine: the contract line's
    // fields plus the forensic series the printed line must not carry.
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","k":$k,"n_queries":${ok.size},"n_errs":${results.count(_._2.isLeft)},"n_requeued":${requeue.size},"cpus":${Harness.cpus},$canaryJson,"errs":$errs,"requeue":$rqJson,"queries":$qs,"t0_epoch":$t0Epoch,"starts":$startsJson,"compiles":$compilesJson,"exec":$execJson,"sf":"$sfDir","value_tail":${fmt(total)}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"), full + "\n")
    catch { case _: Throwable => () } // read-only cwd must not fail the run
    spark.stop()
  }
}
