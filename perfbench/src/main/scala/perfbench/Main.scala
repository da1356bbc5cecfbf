package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD

import graft.Caches
import graft.queries.KgPipeline

/** What a workload hands back from its timed region. `latencyMs` feeds the
  * op percentiles, `throughput` the rate, and `traced` the per-layer
  * metrics; `extra` holds per-layer values the workload measures itself.
  * `untracedPair` holds (untraced, traced) wall times of the same op.
  * `heapMb` is the live heap after a fixed number of ops, so that it does
  * not grow with the number of ops a run gets through; a traced run, which
  * reports no end-to-end metric, does not read it.
  */
final case class Measured(
    latencyMs: Seq[Double],
    throughput: Double,
    attempted: Int,
    failed: Int,
    traced: Seq[OpRecord],
    untracedPair: Seq[(Double, Double)],
    extra: Map[String, Double],
    heapMb: Double,
    detail: Map[String, Any])

trait Workload {
  /** Build what the first timed op needs; billed to `setup_s`. */
  def setup(spark: SparkSession): Unit

  /** The timed region, then the checks that run outside it. */
  def measure(spark: SparkSession, t: Tracer, seconds: Double): Measured
}

/** One benchmark run: set-up three times, canary, the timed workload with
  * tracing off (or on, with `--trace 1`), checks, and a result file that
  * `run.py` completes and prints.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val in = a("input")
    val out = a("out")
    val cores = Runtime.getRuntime.availableProcessors
    val w: Workload = a("workload") match {
      case "kg_search" => new Search(in, out)
      case "analytics_mix" => new Analytics(in, out, seed)
    }
    var spark: SparkSession = null
    val sessionS = ArrayBuffer[Double]()
    // The heap baseline is the live set once the kept session has started
    // and run its first job, before the workload's set-up: the JVM, Spark
    // and what the earlier, stopped sessions left behind. It is read
    // outside the timed set-up.
    var baselineMb = 0.0
    val setups = (1 to 3).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, out)
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val started = (System.nanoTime() - t0) / 1e9
      sessionS += started
      if (i == 3 && !traced) baselineMb = Jvm.liveHeapMb()
      val t1 = System.nanoTime()
      w.setup(spark)
      started + (System.nanoTime() - t1) / 1e9
    }
    val tracer = new Tracer(spark, cores, traced)
    val canaryBefore = canary(spark)
    val m = w.measure(spark, tracer, a("seconds").toDouble)
    tracer.close()
    val canaryAfter = canary(spark)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_ms" -> Stats.pct(m.latencyMs, 50),
      "op_p90_ms" -> Stats.pct(m.latencyMs, 90),
      "throughput_per_s" -> m.throughput,
      // the live set the workload added: its indexes and caches, and the
      // session state its ops left behind
      "live_heap_mb" -> (m.heapMb - baselineMb))
    val layers = if (traced) Layers.metrics(m) ++ Map(
      "harness.canary_before_ms" -> canaryBefore, "harness.canary_after_ms" -> canaryAfter)
    else Map.empty[String, Double]
    val result = Map(
      "workload" -> a("workload"), "seed" -> seed, "trace" -> traced,
      "attempted" -> m.attempted, "failed" -> m.failed,
      "e2e" -> e2e, "per_layer" -> layers,
      "canary_ms" -> Map("before" -> canaryBefore, "after" -> canaryAfter),
      "setups_s" -> setups, "session_start_s" -> sessionS, "latency_ms" -> m.latencyMs,
      "heap_baseline_mb" -> baselineMb,
      "ops" -> m.traced.map(r => Map("kind" -> r.kind, "name" -> r.name,
        "counts" -> r.counts, "self_ms" -> r.selfMs,
        "spans" -> r.spans.map(s => Seq(s.layer, s.name, s.start, s.end, s.depth))))) ++ m.detail
    Files.writeString(Paths.get(out, "result.json"), Json(result))
    spark.stop()
  }

  def session(cores: Int, out: String): SparkSession = {
    val spark = graft.Tables.sessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bench's machine canary: constant range→sum work, min of three, in ms. */
  def canary(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e6
  }.min
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = r.floor.toInt
      val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Per-layer metrics of a traced run: per-op means over the traced ops,
  * self time per layer, and tracing overhead as traced over untraced wall
  * time of the same ops.
  */
object Layers {
  def metrics(m: Measured): Map[String, Double] = {
    val ops = m.traced
    def per(k: String) = Stats.mean(ops.map(_.counts.getOrElse(k, 0.0)))
    val self = ops.map(_.selfMs.groupMapReduce(kv => selfGroup(kv._1))(_._2)(_ + _))
    // the share of each op's wall time that the program's and Spark's
    // spans cover; the rest is the op's own span, i.e. untraced time
    val covered = ops.zip(self).map { case (o, s) => 1.0 - s.getOrElse("harness", 0.0) / o.wallMs }
    // Each op runs untraced and traced, and which goes first alternates.
    // An op's second run is faster (warm caches and code), so the geometric
    // mean of the per-op ratios cancels that order effect.
    val logRatio = m.untracedPair.map { case (u, tr) => math.log(tr / u) }
    Map(
      "plans.analysis_ms" -> per("analysis_ms"),
      "plans.optimization_ms" -> per("optimization_ms"),
      "plans.planning_ms" -> per("planning_ms"),
      "query.construct_ms" -> per("construct_ms"),
      "exec.jobs" -> per("jobs"),
      "exec.stages" -> per("stages"),
      "exec.tasks" -> per("tasks"),
      "exec.construct_jobs" -> per("construct_jobs"),
      "exec.action_ms" -> per("action_ms"),
      "exec.task_run_ms" -> per("task_run_ms"),
      "exec.task_cpu_ms" -> per("task_cpu_ms"),
      "exec.scheduler_delay_ms" -> per("scheduler_delay_ms"),
      "exec.idle_core_ms" -> per("idle_core_ms"),
      "exec.shuffle_write_bytes" -> per("shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> per("shuffle_read_bytes"),
      "exec.fetch_wait_ms" -> per("fetch_wait_ms"),
      "exec.spill_bytes" -> per("spill_bytes"),
      "exec.task_skew" -> per("task_skew"),
      "jvm.gc_ms" -> per("gc_ms"),
      "trace.ops" -> ops.size.toDouble,
      "trace.self_sum_ratio" -> (if (covered.isEmpty) 0.0 else covered.min),
      "trace.overhead_pct" -> 100.0 * (math.exp(Stats.mean(logRatio)) - 1.0)) ++
      SelfGroups.map(k => s"self.${k}_ms" -> Stats.mean(self.map(_.getOrElse(k, 0.0)))) ++
      m.extra
  }

  val SelfGroups = Seq("harness", "sources", "queries", "query", "streaming", "plans",
    "Caches", "exec_driver", "exec_job", "exec_tasks")

  /** The `queries.kg_*` values of traced ops that each made one
    * `KgPipeline.kg` call: a rebuild is a call that launched a job.
    */
  def kg(calls: Seq[OpRecord], spark: SparkSession, dir: String,
         buildMs: Double): Map[String, Double] = {
    val rebuilds = calls.count(_.counts.getOrElse("jobs_in_kg_call", 0.0) > 0)
    val kgRdds = KgPipeline.kg(spark, dir).queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.id
    }.toSet
    val kgBytes = spark.sparkContext.getRDDStorageInfo.filter(i => kgRdds(i.id))
      .map(i => i.memSize + i.diskSize).sum
    Map(
      "queries.kg_calls" -> calls.size.toDouble,
      "queries.kg_rebuilds" -> rebuilds.toDouble,
      "queries.kg_hit_ratio" -> (1.0 - rebuilds.toDouble / calls.size),
      "queries.kg_index_mb" -> kgBytes / 1048576.0,
      "queries.kg_build_ms" -> buildMs)
  }

  /** The `Caches.*` values: per-sweep means over the ops that swept. */
  def caches(sweeps: Seq[OpRecord]): Map[String, Double] = {
    def per(k: String) = Stats.mean(sweeps.map(_.counts.getOrElse(k, 0.0)))
    Map(
      "Caches.sweep_ms" -> per("sweep_ms"),
      "Caches.blocks_freed" -> per("blocks_freed"),
      "Caches.rdds_persisted" -> per("rdds_persisted"))
  }

  /** `Caches.sweep` as a traced call, with the counts of what it frees. */
  def sweep(spark: SparkSession, t: Tracer, keep: Set[Int]): Unit = {
    t.count("rdds_persisted", spark.sparkContext.getPersistentRDDs.keySet.count(!keep(_)).toDouble)
    t.count("blocks_freed", spark.sparkContext.getRDDStorageInfo.filter(i => !keep(i.id))
      .map(_.numCachedPartitions).sum.toDouble)
    val t0 = System.nanoTime()
    t.span("Caches", "sweep")(Caches.sweep(spark, keep))
    t.count("sweep_ms", (System.nanoTime() - t0) / 1e6)
  }

  /** Span layer → the self-time group it is reported under. */
  def selfGroup(layer: String): String = layer match {
    case "exec" => "exec_driver"
    case "exec.job" => "exec_job"
    case "exec.stage" => "exec_tasks"
    case l => l.takeWhile(_ != '.')
  }
}

/** Minimal JSON writer for the result and detail files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
