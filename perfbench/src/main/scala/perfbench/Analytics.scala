package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{Caches, SparkEntry}
import graft.queries.{KgPipeline, Relational}

/** analytics_mix: a family-stratified panel of registry entries run back to
  * back on the generated tables, with Bench's noop sink and a
  * `Caches.sweep` after every execution.
  *
  * The panel is every (n / PanelSize)-th entry in name order, so each
  * family gets slots in proportion to its size. It is the same for every
  * seed; the seed draws the tables and the order the panel runs in.
  */
final class Analytics(in: String, out: String, seed: Long) extends Workload {
  private val dir = s"$in/tables"
  private val PanelSize = 8

  val panel: Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val step = names.size.toDouble / PanelSize
    new scala.util.Random(seed).shuffle((0 until PanelSize).map(i => names((i * step + step / 2).toInt)))
  }
  private var keep = Set.empty[Int]
  private var kgBuildMs = 0.0
  private val ingest = new Ingest(s"$in/cdr", out)

  def setup(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    KgPipeline.kg(spark, dir)
    kgBuildMs = (System.nanoTime() - t0) / 1e6
    Relational.graphBuild(spark, dir).count()
    keep = Caches.persistentIds(spark)
  }

  def measure(spark: SparkSession, t: Tracer, seconds: Double): Measured = {
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val lat = ArrayBuffer[Double]()
    val traced = ArrayBuffer[OpRecord]()
    val pairs = ArrayBuffer[(Double, Double)]()
    val checks = ArrayBuffer[Map[String, Any]]()
    val entryMs = ArrayBuffer[(String, Double)]()
    val kgCalls = ArrayBuffer[OpRecord]()
    var attempted, failed = 0

    def timed(name: String, on: Boolean): Option[OpRecord] = {
      attempted += 1
      t.on = on
      try {
        val (_, rec) = t.op("entry", name) {
          val df = t.span("queries", "construct")(fns(name)(spark, dir))
          t.span("exec", "action")(df.write.format("noop").mode("overwrite").save())
          Layers.sweep(spark, t, keep)
        }
        Some(rec)
      } catch { case e: Exception =>
        System.err.println(s"entry $name failed: $e")
        failed += 1
        Caches.sweep(spark, keep)
        None
      }
    }

    panel.zipWithIndex.foreach { case (name, i) =>
      // Untimed first execution: its output is what run.py checks against
      // the DuckDB oracle, and it pays the entry's one-time codegen.
      val res = s"$out/results/$name"
      val error = try {
        fns(name)(spark, dir).write.mode("overwrite").parquet(res)
        None
      } catch { case e: Exception => Some(e.toString) }
      Caches.sweep(spark, keep)
      val runs0 = attempted
      if (t.on) {
        // once traced and once untraced, alternating which goes first
        val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        val recs = order.map(on => on -> timed(name, on))
        for ((_, Some(u)) <- recs.find(!_._1); (_, Some(tr)) <- recs.find(_._1)) {
          pairs += ((u.wallMs, tr.wallMs))
          traced += tr
          lat += u.wallMs
          entryMs += name -> u.wallMs
        }
        t.on = true
        // the KG index should survive the sweeps: a call after each entry
        // that launches a job is a rebuild
        kgCalls += t.op("kg", "KgPipeline.kg")(
          t.span("queries", "KgPipeline.kg")(KgPipeline.kg(spark, dir)))._2
      } else timed(name, on = false).foreach { r =>
        lat += r.wallMs
        entryMs += name -> r.wallMs
      }
      checks += Map("name" -> name, "oracle" -> oracles.get(name), "result" -> res,
        "error" -> error, "runs" -> (attempted - runs0))
    }
    val heap = if (t.on) Double.NaN else Jvm.liveHeapMb()
    // the ingest plane's per-layer values come from one traced drain of
    // the tables' documents, checked like kg_search's store
    val layers = if (!t.on) Map.empty[String, Double] else {
      val drained = ingest.tracedDrain(spark, t)
      attempted += 1
      if (!ingest.check(spark)) {
        System.err.println(s"KG store ${ingest.lastStore} differs from the reference extraction")
        failed += 1
      }
      Layers.caches(traced.toSeq) ++ Layers.kg(kgCalls.toSeq, spark, dir, kgBuildMs) ++ drained
    }
    Files.writeString(Paths.get(out, "analytics_checks.json"), Json(checks))
    Measured(lat.toSeq, lat.size / (lat.sum / 1000.0), attempted, failed, traced.toSeq,
      pairs.toSeq, layers, heap,
      Map("panel" -> panel, "entry_ms" -> entryMs.toMap))
  }
}
