package graft.query

import graft.SparkSpec
import graft.query.QueryCompiler._

class QueryCompilerSpec extends SparkSpec {
  import spark.implicits._

  private def kg = Seq(
    ("d1", "country", "nigeria", "nigeria", "dict", "content", 1.0),
    ("d1", "city", "lagos", "lagos", "dict", "content", 1.0),
    ("d2", "country", "nigeria", "nigeria", "dict", "content", 1.0),
    ("d3", "city", "lagos", "lagos", "dict", "content", 1.0))
    .toDF("doc_id", "field", "value", "key", "method", "segment", "confidence")

  private def docs = Seq(
    ("d1", "nigeria lagos report"),
    ("d2", "nigeria summary"),
    ("d3", "lagos note")).toDF("doc_id", "text")

  private val catalog = Catalog(
    typeFieldMappings = Map(
      "country" -> TypeMapping(Seq("country" -> 10.0)),
      "city" -> TypeMapping(Seq("city" -> 3.0))),
    synonyms = Map("country" -> Map("naija" -> Seq("nigeria"))))

  test("Q4 AtLeastOneField per constraint, all constraints required") {
    val hits = QueryCompiler.search(kg, docs, "doc_id", "text",
      QuerySpec(Seq(Constraint("country", "nigeria"), Constraint("city", "lagos"))),
      catalog)
    assert(hits.select("doc_id").as[String].collect().toSeq == Seq("d1"))
  }

  test("Q6 weighted scoring + Q13 free-text token overlap") {
    val hits = QueryCompiler.search(kg, docs, "doc_id", "text",
      QuerySpec(Seq(Constraint("country", "nigeria")), freeText = Some("report summary")),
      catalog)
    val rows = hits.collect().map(r => (r.getString(0), r.getDouble(1)))
    // d1: 10 + 1 ("report"); d2: 10 + 1 ("summary") — tie broken by doc_id
    assert(rows.toSeq == Seq(("d1", 11.0), ("d2", 11.0)))
  }

  test("Q3/Q11 synonym expansion matches variant values") {
    val hits = QueryCompiler.search(kg, docs, "doc_id", "text",
      QuerySpec(Seq(Constraint("country", "naija"))), catalog)
    assert(hits.select("doc_id").as[String].collect().sorted.toSeq == Seq("d1", "d2"))
  }

  test("A2 facets over the hit set with rank") {
    val hits = QueryCompiler.search(kg, docs, "doc_id", "text",
      QuerySpec(Seq(Constraint("country", "nigeria"))), catalog)
    val f = QueryCompiler.facets(kg, hits, Seq("country", "city"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(f.toSet == Set(("country", "nigeria", 2L), ("city", "lagos", 1L)))
  }

  test("Q3 expanders: phone formats and height units") {
    val ph = QueryCompiler.Expanders.phone("+1 (555) 123-4567")
    assert(ph.contains("5551234567") && ph.contains("+15551234567") &&
      ph.contains("555-123-4567"))
    val h = QueryCompiler.Expanders.height("5'6\"")
    assert(h.contains("66in") && h.contains("168cm"))
    val h2 = QueryCompiler.Expanders.height("168 cm")
    assert(h2.contains("66in"))
    // catalog wiring: expander variants reach constraint matching
    val cat = Catalog(
      Map("phone" -> TypeMapping(Seq("phone" -> 1.0))),
      expanders = Map("phone" -> QueryCompiler.Expanders.phone))
    assert(cat.expand("phone", "(555) 123-4567").contains("5551234567"))
  }

  test("Q12 zone profile: alternate catalog weights rank strict above relaxed") {
    // zone model (zone_field_mappings.json): same field in two zones
    // with different weights — expressed as a second catalog profile
    val zoneKg = Seq(
      ("d1", "country.strict", "nigeria", "nigeria", "dict", "strict", 1.0),
      ("d2", "country.relaxed", "nigeria", "nigeria", "dict", "relaxed", 1.0))
      .toDF("doc_id", "field", "value", "key", "method", "segment", "confidence")
    val zoneCatalog = Catalog(Map(
      "country" -> TypeMapping(Seq("country.strict" -> 10.0, "country.relaxed" -> 2.0))))
    val hits = QueryCompiler.search(zoneKg, docs, "doc_id", "text",
      QuerySpec(Seq(Constraint("country", "nigeria"))), zoneCatalog)
    val rows = hits.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq == Seq(("d1", 10.0), ("d2", 2.0))) // strict zone outranks
  }

  test("Q9 highlight extracts fragment around the term") {
    val frag = docs.select(QueryCompiler.highlight($"text", "lagos", 8).as("h"))
      .as[String].collect()
    assert(frag(0).contains("lagos"))
  }

  test("O1/Q6 BM25: hand-computed scores on a 3-doc corpus") {
    // N=3, avgdl=8/3; q = spark|stream; df(spark)=1, df(stream)=2
    // idf(spark)=ln(2.5/1.5+1); idf(stream)=ln(0.6+1)
    // dl=3 norm: tf + 1.2*(0.25 + 0.75*3/(8/3)) = tf + 1.3125
    val corpus = Seq(
      (1L, "spark spark stream"),
      (2L, "join the stream"),
      (3L, "nothing here")).toDF("doc_id", "text")
    val out = QueryCompiler.bm25(corpus, "doc_id", "text", "spark stream")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L)) // doc3 matches nothing
    val idfSpark = math.log(2.5 / 1.5 + 1)
    val idfStream = math.log(0.6 + 1)
    val exp1 = idfSpark * (2 * 2.2 / (2 + 1.3125)) + idfStream * (1 * 2.2 / (1 + 1.3125))
    val exp2 = idfStream * (1 * 2.2 / (1 + 1.3125))
    assert(math.abs(out(0)._2 - exp1) < 1e-3, s"${out(0)._2} vs $exp1")
    assert(math.abs(out(1)._2 - exp2) < 1e-3)
    assert(out(0)._3 == 2 && out(1)._3 == 1) // matched term counts
    // rarer term outranks at equal tf: idf(spark) > idf(stream)
    assert(idfSpark > idfStream)
  }

  // Small-input rule: at or below the broadcast threshold every op runs
  // over single-partition inputs; -1 keeps the multi-partition plan.
  /** The six query-plane ops over a 60-doc corpus of the demo glossaries'
    * words and its KG (each doc's distinct glossary tokens).
    */
  private def sixOps(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import graft.queries.KgPipeline
    val (_, docs, kg) = glossaryCorpus()
    val cat = KgPipeline.DemoCatalog
    val hits = QueryCompiler.search(kg, docs, "doc_id", "text", KgPipeline.DemoSpec, cat)
    val terms = Seq("spark" -> 1.0, "stream" -> 1.0, "join" -> 0.4).toDF("tok", "w")
    val q = "spark stream join"
    Seq(
      "search" -> hits,
      "search, 1 constraint" -> QueryCompiler.search(kg, docs, "doc_id", "text",
        QuerySpec(Seq(Constraint("op", "join"))), cat),
      "facets" -> QueryCompiler.facets(kg, hits, Seq("op", "size"), k = 10),
      "bm25" -> QueryCompiler.bm25(docs, "doc_id", "text", q),
      "bm25Weighted" -> QueryCompiler.bm25Weighted(docs, "doc_id", "text", terms),
      "bm25f" -> QueryCompiler.bm25f(docs, "doc_id", "text", q),
      "qld" -> QueryCompiler.qld(docs, "doc_id", "text", q))
  }

  private val glossary = {
    import graft.queries.KgPipeline
    Seq("op" -> KgPipeline.OpGlossary, "speed" -> KgPipeline.SpeedGlossary,
      "size" -> KgPipeline.SizeGlossary)
  }

  /** The 60 docs' words, the docs and their KG. */
  private def glossaryCorpus()
      : (Seq[(Long, Seq[String])], org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val words = glossary.flatMap(_._2) ++ Seq("spark", "stream", "plan", "row")
    val texts = (1 to 60).map { i =>
      (i.toLong, (0 until 8).map(j => words((i * (j + 3) + j * j) % words.size)))
    }
    val docs = texts.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
    val kg = (for ((id, t) <- texts; tok <- t.distinct; (f, g) <- glossary if g.contains(tok))
      yield (id.toString, f, tok, tok, "dict", "content", 1.0))
      .toDF("doc_id", "field", "value", "key", "method", "segment", "confidence")
    (texts, docs, kg)
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange (hash|range|Single)".r.findAllIn(df.queryExecution.executedPlan.toString).size

  test("small inputs: all six ops plan no shuffle and return the rows of the multi-partition plan") {
    def run() = sixOps().map { case (name, df) =>
      (name, shuffles(df), df.collect().map(_.toString).sorted.toSeq)
    }
    val small = run()
    val wide = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    small.zip(wide).foreach { case ((name, s0, rows0), (_, s1, rows1)) =>
      assert(s0 == 0, s"$name: the small-input plan has $s0 shuffles")
      assert(s1 > 0, s"$name: with the threshold at -1 the plan must keep its shuffles")
      assert(rows0.nonEmpty, name)
      assert(rows0 == rows1, name)
    }
  }

  test("small inputs: an input that reads several files keeps its partitions") {
    val dir = java.nio.file.Files.createTempDirectory("qc-docs").toString
    val docs = (1L to 30L).map(i => (i, s"spark stream join doc $i")).toDF("doc_id", "text")
    docs.repartition(3).write.parquet(s"$dir/documents.parquet")
    val multi = graft.Tables(spark, dir, "documents")
    assert(graft.Tables.filesRead(multi).size == 3)
    val bm = QueryCompiler.bm25(multi, "doc_id", "text", "spark stream")
    val p = bm.queryExecution.executedPlan.toString
    assert(!p.contains("Coalesce"), s"a multi-file scan must not be coalesced:\n$p")
    assert(shuffles(bm) > 0, p)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(bm) == rows(QueryCompiler.bm25(docs, "doc_id", "text", "spark stream")))
  }

  test("small inputs: each op runs in a bounded number of jobs") {
    // one job for the single-partition plan, plus one per broadcast
    val bounds = Map("search" -> 2, "search, 1 constraint" -> 1, "facets" -> 3,
      "bm25" -> 4, "bm25Weighted" -> 6, "bm25f" -> 4, "qld" -> 4)
    for ((name, df) <- sixOps()) {
      val jobs = graft.Harness.countJobs(spark)(df.collect())._2
      info(s"$name: $jobs jobs")
      assert(jobs <= bounds(name), s"$name launched $jobs jobs")
    }
  }

  // Codegen reuse: the code Spark generates for an op depends on the op's
  // kind only, not on its values or on how many constraints, variants or
  // terms it has. Once an op of a shape has run, ops of that shape with
  // other values find every class in Spark's codegen cache. Each shape is
  // checked right after its warm-up, so the classes in use at a time are
  // one shape's, far fewer than the cache's 100 entries.
  test("codegen: ops that differ only in their values compile no new classes") {
    import graft.queries.KgPipeline
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.col
    val (texts, docsLocal, kgLocal) = glossaryCorpus()
    // read back from parquet: over local rows the optimizer evaluates the
    // ops' filters and projections itself, and the plans would not be the
    // file-scan plans that queries run
    val dir = java.nio.file.Files.createTempDirectory("qc-codegen").toString
    docsLocal.coalesce(1).write.parquet(s"$dir/docs")
    kgLocal.coalesce(1).write.parquet(s"$dir/kg")
    val (docs, kg) = (spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/kg"))
    // the values of pass p come from a doc that holds a word of every
    // glossary, so each search, facet, ranking and phrase has hits
    val full = texts.map(_._2).filter(t => glossary.forall(g => t.exists(g._2.contains)))
    def ops(p: Int): Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val t = full(p * 5 % full.size)
      // each pass starts the constraints at another type: other fields and weights
      val cs = (glossary.drop(p) ++ glossary.take(p))
        .map { case (f, g) => Constraint(f, t.find(g.contains).get) }
      def search(n: Int, text: Option[String]) = QueryCompiler.search(kg, docs, "doc_id", "text",
        QuerySpec(cs.take(n), text, limit = 10 + p), KgPipeline.DemoCatalog)
      val q = t.drop(p % 3).take(2 + p).mkString(" ")
      val terms = t.distinct.take(2 + p).map(_ -> 1.0).toDF("tok", "w")
      Seq(1, 2, 3).flatMap(n => Seq(
        s"search, $n constraints" -> search(n, None),
        s"search, $n constraints and free text" -> search(n, Some(t.takeRight(1 + p).mkString(" "))))) ++
      Seq(
        "facets" -> QueryCompiler.facets(kg, search(1 + p % 3, None), Seq("op", "size"), k = 10),
        "bm25" -> QueryCompiler.bm25(docs, "doc_id", "text", q),
        "bm25Weighted" -> QueryCompiler.bm25Weighted(docs, "doc_id", "text", terms),
        "bm25f" -> QueryCompiler.bm25f(docs, "doc_id", "text", q),
        "qld" -> QueryCompiler.qld(docs, "doc_id", "text", q),
        "phraseMatch" -> docs.filter(QueryCompiler.phraseMatch(col("text"), t.slice(p, p + 2).mkString(" "))))
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val passes = (0 to 2).map(ops)
    for (shape <- passes.head.indices; p <- passes.indices) {
      val (name, df) = passes(p)(shape)
      val before = compiles
      assert(df.collect().nonEmpty, name)
      if (p > 0) assert(compiles == before, s"pass $p, $name: compiled ${compiles - before} new classes")
    }
  }
}
