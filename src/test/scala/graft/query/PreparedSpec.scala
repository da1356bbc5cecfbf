package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD

import graft.{Caches, PlanBudget, SparkSpec}
import graft.queries.KgPipeline
import graft.query.QueryCompiler._

/** Prepared ops ([[Prepared]]) over the session's KG and postings index
  * return the rows of the fresh plan, share nothing between calls, and
  * skip the optimizer from the second call of a kind on.
  */
class PreparedSpec extends SparkSpec {
  import spark.implicits._

  private val glossary = Seq("op" -> KgPipeline.OpGlossary, "speed" -> KgPipeline.SpeedGlossary,
    "size" -> KgPipeline.SizeGlossary)
  private val words = glossary.flatMap(_._2) ++ Seq("spark", "stream", "plan", "row")

  /** A 60-doc corpus of the demo glossaries' words in one parquet file. */
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("prepared").toString
    (1 to 60).map { i =>
      (i.toLong, (0 until 8).map(j => words((i * (j + 3) + j * j) % words.size)).mkString(" "))
    }.toDF("doc_id", "text").coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  private def kg = KgPipeline.kg(spark, dir)
  private def docs = graft.Tables(spark, dir, "documents")

  /** gen.py's SEARCH_CYCLE shapes, (constraints, free text, a value the
    * first type's glossary lacks), with fixed values per shape.
    */
  private def cycle(p: Int): Seq[QuerySpec] = {
    val shapes = Seq((1, true, true), (1, false, false), (2, false, false), (2, true, true),
      (3, true, false), (3, false, true))
    shapes.zipWithIndex.map { case ((n, free, missing), s) =>
      val types = (glossary.drop((s + p) % 3) ++ glossary.take((s + p) % 3)).take(n)
      val cs = types.zipWithIndex.map { case ((t, g), i) =>
        val pool = if (missing && i == 0) words.filterNot(g.contains) else g
        Constraint(t, pool((s + p + i) % pool.size))
      }
      QuerySpec(cs, if (free) Some(words((s * 5 + p) % words.size) + " spark") else None)
    }
  }

  private val queries = Seq("spark stream join", "zebra", "", "hash zebra fast", "big big small")

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def isBound(df: DataFrame) = df.queryExecution.analyzed.isInstanceOf[Prepared.Bound]

  /** Each prepared op, and its fresh plan, over the index. */
  private def ops(p: Int): Seq[(String, Prepared.Op)] = {
    val searches = (cycle(p) :+ QuerySpec(Seq(Constraint("op", "join")), Some(""))).map { spec =>
      s"search $spec" -> searchOp(kg, docs, "doc_id", "text", spec, KgPipeline.DemoCatalog)
    }
    val facets = searches.map { case (name, op) =>
      s"facets over $name" -> facetsOp(kg, Prepared(op), Seq("op", "size"), 10)
    }
    val ranked = queries.flatMap { q =>
      Seq(s"bm25 '$q'" -> bm25Op(docs, "doc_id", "text", q, 1.2, 0.75, 50),
        s"bm25f '$q'" -> bm25fOp(docs, "doc_id", "text", q, Postings.Head, 2.0, 1.2, 50),
        s"qld '$q'" -> qldOp(docs, "doc_id", "text", q, 300.0, 50))
    }
    searches ++ facets ++ ranked
  }

  test("every SEARCH_CYCLE shape, facets over each, bm25, bm25f and qld return the fresh plan's rows") {
    for (p <- 0 to 1; (name, op) <- ops(p)) {
      val (prepared, fresh) = (Prepared(op), op.fresh)
      assert(isBound(prepared), s"$name was not prepared")
      assert(PlanBudget.tree(prepared) == PlanBudget.tree(fresh), s"$name: physical plans differ")
      if (name.startsWith("facets")) assert(rows(prepared).toSet == rows(fresh).toSet, name)
      else assert(rows(prepared) == rows(fresh), name)
    }
    assert(ops(0).exists { case (_, op) => rows(Prepared(op)).isEmpty }, "no empty result was covered")
  }

  test("an input with no index identity is planned afresh") {
    val spec = cycle(0).head
    assert(!isBound(search(kg.toDF(), docs, "doc_id", "text", spec, KgPipeline.DemoCatalog)))
    assert(!isBound(bm25(docs.filter($"doc_id" > 0), "doc_id", "text", "spark")))
    assert(!isBound(bm25f(docs, "doc_id", "text", "spark", headLen = 5)))
    assert(isBound(search(kg, docs, "doc_id", "text", spec, KgPipeline.DemoCatalog)))
  }

  test("two threads binding different values into one template get their own rows") {
    val specs = cycle(0) ++ cycle(1)
    val want = specs.map(s => rows(searchOp(kg, docs, "doc_id", "text", s, KgPipeline.DemoCatalog).fresh))
    val before = Prepared.builds
    def run(order: Seq[Int]): Seq[(Int, Seq[Row])] = order.map { i =>
      i -> rows(search(kg, docs, "doc_id", "text", specs(i), KgPipeline.DemoCatalog))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq(specs.indices, specs.indices.reverse).map { o =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, Seq[Row])]] { def call() = run(o) })
      }
      futures.flatMap(_.get()).foreach { case (i, got) => assert(got == want(i), specs(i)) }
    } finally pool.shutdown()
    assert(Prepared.builds - before <= 1)
  }

  test("after a sweep frees the KG, the next op rebuilds its template over the healed KG") {
    val spec = cycle(0)(3)
    val first = search(kg, docs, "doc_id", "text", spec, KgPipeline.DemoCatalog)
    val want = rows(first)
    val templates = Prepared.templateCount(spark)
    Caches.sweep(spark, Set.empty)
    assert(!Caches.alive(first))
    val before = Prepared.builds
    val healed = search(kg, docs, "doc_id", "text", spec, KgPipeline.DemoCatalog)
    assert(Prepared.builds == before + 1)
    assert(Caches.alive(healed))
    assert(rows(healed) == want)
    // the stale templates are gone, and the healed search's replaced its own
    assert(Prepared.templateCount(spark) <= templates)
  }

  test("with the broadcast threshold at -1 the op is prepared again with the multi-partition shape") {
    val spec = cycle(0)(4)
    val small = search(kg, docs, "doc_id", "text", spec, KgPipeline.DemoCatalog)
    assert(!small.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    val want = rows(small)
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val before = Prepared.builds
      val wide = search(kg, docs, "doc_id", "text", spec, KgPipeline.DemoCatalog)
      assert(isBound(wide) && Prepared.builds == before + 1)
      assert(wide.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
      assert(rows(wide) == want)
    }
  }

  /** The size of the largest tree the optimizer was handed. */
  private object Spy extends Rule[LogicalPlan] {
    @volatile var largest = 0
    override def apply(plan: LogicalPlan): LogicalPlan = {
      largest = math.max(largest, plan.collect { case p => p }.size)
      plan
    }
  }

  /** Spark's codegen cache entries, each named by its class, the
    * operator prefixes of its variables, its source hash and its class
    * loader (the cache's key holds both), to say what a window compiled.
    */
  private def codegenEntries(): Set[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val memo = get.invoke(CodeGenerator)
    val cache = memo.getClass.getMethod("cache").invoke(memo)
    val keys = Class.forName("org.sparkproject.guava.cache.Cache").getMethod("asMap")
      .invoke(cache).asInstanceOf[java.util.Map[AnyRef, AnyRef]].keySet.asScala
    keys.map { k =>
      val (loader, code) = k.asInstanceOf[(AnyRef, CodeAndComment)]
      val body = code.body
      val cls = "class (\\w+)".r.findFirstMatchIn(body).map(_.group(1)).getOrElse("?")
      val ops = "\\b([a-z]+)_\\w".r.findAllMatchIn(body).map(_.group(1)).toSeq.distinct.sorted
      s"$cls${ops.mkString("[", ",", "]")}#${body.hashCode} (loader ${loader.hashCode})"
    }.toSet
  }

  test("the second op of each kind runs no optimizer pass over the op's tree and compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // Per kind, in a fixed order, two ops of one shape with different
    // values, so the first compiles every class the second needs: a
    // class only another shape uses (a facets op's SpecificSafeProjection)
    // may have been evicted from Spark's 100-entry codegen cache since.
    def op(p: Int, name: String) = ops(p).find(_._1 == name).get
    val kinds = Seq("search", "facets over search").map { kind =>
      Seq(0, 1).map(p => op(p, s"$kind ${cycle(p).head}"))
    } ++ Seq("bm25", "bm25f", "qld").map { kind =>
      Seq("spark stream join", "hash zebra fast").map(q => op(0, s"$kind '$q'"))
    }
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved :+ Spy
    try {
      for (Seq((_, first), (name, second)) <- kinds) {
        rows(Prepared(first))
        Spy.largest = 0
        val (before, c0, cached) = (Prepared.builds, compiles, codegenEntries())
        rows(Prepared(second))
        assert(Prepared.builds == before, name)
        assert(Spy.largest == 1, s"$name: the optimizer saw a tree of ${Spy.largest} nodes")
        assert(compiles == c0, s"$name compiled ${compiles - c0} new classes: " +
          (codegenEntries() -- cached).mkString(", "))
      }
    } finally spark.experimental.extraOptimizations = saved
  }

  test("a prepared op's result composes: filtered, self-joined and read through by the helpers") {
    val hits = search(kg, docs, "doc_id", "text", QuerySpec(Nil, Some("spark")), KgPipeline.DemoCatalog)
    val other = search(kg, docs, "doc_id", "text", QuerySpec(Nil, Some("spark")), KgPipeline.DemoCatalog)
    val ids = Seq(hits, other).map(_.queryExecution.analyzed.output.map(_.exprId))
    assert(ids(0).intersect(ids(1)).isEmpty)
    val joined = hits.as("a").join(other.as("b"), $"a.doc_id" === $"b.doc_id")
    assert(joined.count() == hits.count())
    assert(hits.filter($"score" > 1.0).count() == rows(hits).count(_.getDouble(1) > 1.0))
    val read = Prepared.unfold(hits.queryExecution.analyzed).collect { case l: LogicalRDD => l.rdd.id }
    assert(read.nonEmpty && Caches.alive(hits))
  }
}
