package perfbench

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Tables}
import graft.queries.KgPipeline
import graft.query.QueryCompiler
import graft.query.QueryCompiler.{Constraint, QuerySpec}

/** One line of the generated op stream (see gen.py `search_ops`). */
final case class SearchOp(kind: String, spec: QuerySpec, fields: Seq[String], k: Int,
                          text: String, limit: Int, line: String)

object SearchOp {
  def parse(line: String): SearchOp = {
    val f = line.split("\t")
    def spec = QuerySpec(
      f(1).split(";").toSeq.map { c => val Array(t, v) = c.split("="); Constraint(t, v) },
      Some(f(2)).filter(_ != "-"), f(3).toInt)
    f(0) match {
      case "search" => SearchOp("search", spec, Nil, 0, "", 0, line)
      case "facets" => SearchOp("facets", spec, f(4).split(",").toSeq, f(5).toInt, "", 0, line)
      case "bm25" => SearchOp("bm25", null, Nil, 0, f(1), f(2).toInt, line)
      case "phrase" => SearchOp("phrase", null, Nil, 0, f(1), 0, line)
    }
  }
}

/** Plain-Scala reference for constraint search and facets over the
  * corpus: the KG is each document's distinct tokens that a glossary holds.
  */
final class SearchRef(docs: Array[(String, String)]) {
  private val glossary = Map(
    "op" -> KgPipeline.OpGlossary.toSet,
    "speed" -> KgPipeline.SpeedGlossary.toSet,
    "size" -> KgPipeline.SizeGlossary.toSet)
  private val toks = docs.map { case (id, text) => id -> SearchRef.tokens(text).toSet }
  private val cat = KgPipeline.DemoCatalog

  private def kgHas(t: Set[String], field: String, key: String) =
    glossary.get(field).exists(_(key)) && t(key)

  def search(spec: QuerySpec): Seq[(String, Double, Long)] = {
    val q = spec.freeText.map(SearchRef.tokens(_).distinct).getOrElse(Nil)
    toks.flatMap { case (id, t) =>
      val perConstraint = spec.constraints.map { c =>
        val fields = cat.typeFieldMappings(c.ctype).fields
        val variants = cat.expand(c.ctype, c.value)
        for ((f, w) <- fields; v <- variants if kgHas(t, f, v)) yield w
      }
      if (perConstraint.forall(_.nonEmpty))
        Some((id, perConstraint.flatten.sum + q.count(t).toDouble, spec.constraints.size.toLong))
      else None
    }.toSeq.sortBy(r => (-r._2, r._1)).take(spec.limit)
  }

  def facets(spec: QuerySpec, fields: Seq[String], k: Int): Set[(String, String, Long, Int)] = {
    val hits = search(spec).map(_._1).toSet
    val counts = toks.toSeq.filter(d => hits(d._1)).flatMap { case (_, t) =>
      fields.flatMap(f => glossary.getOrElse(f, Set.empty[String]).filter(t).map(f -> _))
    }.groupMapReduce(identity)(_ => 1L)(_ + _)
    counts.toSeq.groupBy(_._1._1).flatMap { case (_, xs) =>
      xs.sortBy { case ((_, key), cnt) => (-cnt, key) }.take(k).zipWithIndex.map {
        case (((f, key), cnt), i) => (f, key, cnt, i + 1)
      }
    }.toSet
  }
}

object SearchRef {
  def tokens(s: String): Seq[String] = "[a-z0-9]+".r.findAllIn(s.toLowerCase(Locale.ROOT)).toSeq
}

/** kg_search: one client in a closed loop over the in-memory KG that
  * `KgPipeline.kg` builds for the generated corpus. Each op is timed until
  * its rows are collected. Set-up also ingests the corpus's CDR feed into a
  * parquet KG store, so the ingest plane's cost shows in `setup_s`.
  */
final class Search(in: String, out: String) extends Workload {
  private val ingest = new Ingest(s"$in/cdr", out)
  private var setupBatchMs = Seq.empty[Double]
  private val ops = Files.readAllLines(Paths.get(in, "ops.tsv")).asScala
    .map(SearchOp.parse).toIndexedSeq
  private var kgBuildMs = 0.0
  private var keep = Set.empty[Int]

  // The stream comes in blocks of Block ops, one of each kind, and its
  // search shapes repeat every Cycle ops (gen.py SEARCH_CYCLE). A run
  // measures whole cycles, at least MinCycles of them, so every run
  // measures the same mix of shapes and the p90 stands on 36 ops or more.
  private val Block = 4
  private val Cycle = 3 * Block
  private val MinCycles = 3
  private val TracedOps = 2 * Block

  def setup(spark: SparkSession): Unit = {
    setupBatchMs = ingest.drain(spark, new Tracer(spark, 1, false))
    val t0 = System.nanoTime()
    KgPipeline.kg(spark, in)
    kgBuildMs = (System.nanoTime() - t0) / 1e6
    keep = Caches.persistentIds(spark)
  }

  private def run(spark: SparkSession, t: Tracer, op: SearchOp): Array[Row] = {
    def kg = t.span("queries", "KgPipeline.kg")(KgPipeline.kg(spark, in))
    def docs = t.span("sources", "Tables")(Tables(spark, in, "documents"))
    val df: DataFrame = op.kind match {
      case "search" =>
        val (g, d) = (kg, docs)
        t.span("query", "construct")(
          QueryCompiler.search(g, d, "doc_id", "text", op.spec, KgPipeline.DemoCatalog))
      case "facets" =>
        val (g, d) = (kg, docs)
        t.span("query", "construct")(QueryCompiler.facets(g,
          QueryCompiler.search(g, d, "doc_id", "text", op.spec, KgPipeline.DemoCatalog),
          op.fields, op.k))
      case "bm25" =>
        val d = docs
        t.span("query", "construct")(
          QueryCompiler.bm25(d, "doc_id", "text", op.text, limit = op.limit))
      case "phrase" =>
        val d = docs
        val frag = op.text.split(" ").mkString("(.{0,24}", "[^a-z0-9]+", ".{0,24})")
        t.span("query", "construct")(d.filter(QueryCompiler.phraseMatch(col("text"), op.text))
          .select(col("doc_id"), col("lang"), regexp_extract(lower(col("text")), frag, 1).as("frag"))
          .orderBy(col("doc_id")))
    }
    t.span("exec", "action")(df.collect())
  }

  def measure(spark: SparkSession, t: Tracer, seconds: Double): Measured = {
    val ref = new SearchRef(spark.read.parquet(s"$in/documents.parquet")
      .select(col("doc_id").cast("string"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))))
    val first = mutable.LinkedHashMap[String, Seq[Seq[Any]]]()
    val runs = mutable.Map[String, Int]().withDefaultValue(0)
    val lat = ArrayBuffer[Double]()
    val traced = ArrayBuffer[OpRecord]()
    val pairs = ArrayBuffer[(Double, Double)]()
    var attempted, failed = 0

    def timed(op: SearchOp, on: Boolean): Option[OpRecord] = {
      attempted += 1
      t.on = on
      try {
        val (rows, rec) = t.op(op.kind, op.line)(run(spark, t, op))
        if (!correct(op, rows)) failed += 1
        Some(rec)
      } catch { case e: Exception =>
        System.err.println(s"op failed: ${op.line}: $e")
        failed += 1
        None
      }
    }

    def correct(op: SearchOp, rows: Array[Row]): Boolean = op.kind match {
      case "search" =>
        rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq == ref.search(op.spec)
      case "facets" =>
        rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet ==
          ref.facets(op.spec, op.fields, op.k)
      case _ =>
        // bm25 and phrase are checked against DuckDB by run.py; every
        // execution of an op must return what its first execution did
        runs(op.line) += 1
        val got = rows.toSeq.map(_.toSeq)
        first.getOrElseUpdate(op.line, got) == got
    }

    // Untimed warm-up: the ops of the stream's last block, one of each
    // kind, which timed runs never reach. It takes the JIT past the
    // first-query cost of each op shape.
    val w0 = System.nanoTime()
    val untraced = new Tracer(spark, 1, false)
    ops.takeRight(Block).foreach(run(spark, untraced, _))
    val warmUpS = (System.nanoTime() - w0) / 1e9
    // the ingest plane's per-layer values come from one traced drain
    val ingestLayers = if (t.on) ingest.tracedDrain(spark, t) else Map.empty[String, Double]
    var layers = Map.empty[String, Double]
    var heap = Double.NaN
    if (t.on) {
      // fixed op list: each op once traced and once untraced, alternating
      // which goes first, so counts repeat and overhead is paired
      ops.take(TracedOps).zipWithIndex.foreach { case (op, i) =>
        val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        val recs = order.map(on => on -> timed(op, on))
        for ((_, Some(u)) <- recs.find(!_._1); (_, Some(tr)) <- recs.find(_._1)) {
          pairs += ((u.wallMs, tr.wallMs))
          traced += tr
          lat += u.wallMs
        }
      }
      t.on = true
      // one sweep after the traced ops: what they left persisted
      val (_, sweep) = t.op("sweep", "Caches.sweep")(Layers.sweep(spark, t, keep))
      layers = Layers.kg(traced.filter(r => r.kind == "search" || r.kind == "facets").toSeq,
        spark, in, kgBuildMs) ++ Layers.caches(Seq(sweep)) ++ ingestLayers
    } else {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (i % Cycle != 0 || i < MinCycles * Cycle || System.nanoTime() < deadline) {
        timed(ops(i % ops.size), on = false).foreach(r => lat += r.wallMs)
        i += 1
        // between ops, outside their timing
        if (i == MinCycles * Cycle) heap = Jvm.liveHeapMb()
      }
    }
    attempted += 1
    if (!ingest.check(spark)) {
      System.err.println(s"KG store ${ingest.lastStore} differs from the reference extraction")
      failed += 1
    }
    val checks = first.toSeq.map { case (line, rows) =>
      Map("op" -> line, "runs" -> runs(line), "rows" -> rows)
    }
    Files.writeString(Paths.get(out, "search_checks.json"), Json(checks))
    Measured(lat.toSeq, lat.size / (lat.sum / 1000.0), attempted, failed, traced.toSeq,
      pairs.toSeq, layers, heap,
      Map("op_kinds" -> ops.groupBy(_.kind).view.mapValues(_.size).toMap, "warm_up_s" -> warmUpS,
        "setup_batch_ms" -> setupBatchMs))
  }
}
