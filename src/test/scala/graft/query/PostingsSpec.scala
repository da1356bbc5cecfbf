package graft.query

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{Caches, Harness, SparkSpec, Tables}
import graft.queries.KgPipeline
import graft.query.QueryCompiler.{Constraint, QuerySpec}

/** The postings index: an indexed documents scan and any other input
  * (an in-memory copy, a filtered frame, a rewritten table) return the
  * same rows, and only a bare scan of the indexed files, stamped alike,
  * is served from the index.
  */
class PostingsSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = KgPipeline.OpGlossary ++ KgPipeline.SpeedGlossary ++
    KgPipeline.SizeGlossary ++ Seq("spark", "stream", "plan", "row", "cost", "index")

  /** 90 documents of 4 to 24 words, mixed case and punctuation, so heads
    * (the first 10 tokens) and bodies both vary.
    */
  private def corpus(seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    (1L to 90L).map { id =>
      val words = Seq.fill(4 + rng.nextInt(21))(vocab(rng.nextInt(vocab.size)))
      (id, words.zipWithIndex.map { case (w, i) => if (i % 7 == 3) w.toUpperCase + "," else w }
        .mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
  }

  private def writeDocs(dir: String, seed: Int): Unit =
    corpus(seed).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private lazy val dir = {
    val d = Files.createTempDirectory("postings-spec").toString
    writeDocs(d, 1)
    KgPipeline.kg(spark, d)
    d
  }

  private def docs = Tables(spark, dir, "documents")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private val q = "spark stream join"

  /** One op of every kind over `d`: the gen.py `SEARCH_CYCLE` search and
    * facet shapes (1–3 constraints, with and without free text, with and
    * without a missing value) and the four scorers.
    */
  private def ops(d: DataFrame): Seq[(String, DataFrame)] = {
    val kg = KgPipeline.kg(spark, dir)
    val values = Seq("op" -> "join", "speed" -> "fast", "size" -> "big")
    def spec(n: Int, free: Boolean, missing: Boolean) = QuerySpec(
      values.take(n).zipWithIndex.map { case ((t, v), i) =>
        Constraint(t, if (missing && i == 0) "stream" else v) },
      if (free) Some("spark plan") else None)
    val shapes = Seq((1, true, true), (1, false, false), (2, false, false), (2, true, true),
      (3, true, false), (3, false, true))
    val terms = Seq("spark" -> 1.0, "stream" -> 1.0, "cost" -> 0.4).toDF("tok", "w")
    shapes.flatMap { case s @ (n, free, missing) =>
      val hits = QueryCompiler.search(kg, d, "doc_id", "text", spec(n, free, missing), KgPipeline.DemoCatalog)
      Seq(s"search $s" -> hits,
        s"facets $s" -> QueryCompiler.facets(kg, hits, Seq("op", "size"), k = 10)
          .orderBy(col("field"), col("rank")))
    } ++ Seq(
      "search, free text only" -> QueryCompiler.search(kg, d, "doc_id", "text",
        QuerySpec(Nil, Some("row index")), KgPipeline.DemoCatalog),
      "bm25" -> QueryCompiler.bm25(d, "doc_id", "text", q),
      "bm25f" -> QueryCompiler.bm25f(d, "doc_id", "text", q),
      "bm25f, head 4" -> QueryCompiler.bm25f(d, "doc_id", "text", q, headLen = 4),
      "qld" -> QueryCompiler.qld(d, "doc_id", "text", q),
      "bm25Weighted" -> QueryCompiler.bm25Weighted(d, "doc_id", "text", terms))
  }

  test("every op shape returns the same rows over the index and over an in-memory copy") {
    assert(Postings.lookup(docs, "doc_id", "text", Postings.Head).isDefined)
    val local = docs.collect().toSeq
    val copy = spark.createDataFrame(spark.sparkContext.parallelize(local, 3), docs.schema)
    assert(Postings.lookup(copy, "doc_id", "text", Postings.Head).isEmpty)
    ops(docs).zip(ops(copy)).foreach { case ((name, indexed), (_, derived)) =>
      val r = rows(indexed)
      // a shape with a missing value matches nothing
      assert(r.nonEmpty || name.endsWith("true)"), name)
      assert(r == rows(derived), name)
      // served from the index, the op scans no documents
      if (!name.contains("head 4")) assert(Tables.filesRead(indexed).isEmpty, name)
    }
  }

  test("a filtered frame, another column or another head length is not served from the index") {
    assert(Postings.lookup(docs.filter(col("lang") === "en"), "doc_id", "text", Postings.Head).isEmpty)
    assert(Postings.lookup(docs.select(col("doc_id"), col("text")), "doc_id", "text", Postings.Head).isEmpty)
    assert(Postings.lookup(docs, "doc_id", "lang", Postings.Head).isEmpty)
    assert(Postings.lookup(docs, "doc_id", "text", 4).isEmpty)
    val filtered = docs.filter(col("doc_id") % 2 === 0)
    val copy = filtered.collect().toSeq.map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text")
    assert(rows(QueryCompiler.bm25(filtered, "doc_id", "text", q)) ==
      rows(QueryCompiler.bm25(copy, "doc_id", "text", q)))
  }

  test("a bm25 op over an indexed input runs one job and scans no documents") {
    val bm = QueryCompiler.bm25(docs, "doc_id", "text", q)
    assert(Tables.filesRead(bm).isEmpty, bm.queryExecution.analyzed.toString)
    assert(Harness.countJobs(spark)(bm.collect())._2 == 1)
  }

  test("the index survives a sweep with the indexes' keep-set, and heals once freed") {
    val sf = "/root/testdata/sf0.001"
    assume(Files.isDirectory(java.nio.file.Paths.get(sf)))
    def docs = Tables(spark, sf, "documents")
    val keep = Harness.indexes(spark, sf)
    val before = rows(QueryCompiler.bm25(docs, "doc_id", "text", q))
    Caches.sweep(spark, keep)
    assert(Postings.lookup(docs, "doc_id", "text", Postings.Head).isDefined)
    assert(rows(QueryCompiler.bm25(docs, "doc_id", "text", q)) == before)
    Caches.free(Postings.lookup(docs, "doc_id", "text", Postings.Head).get.rows)
    // freed blocks are never served: the op derives its postings in-plan
    assert(Postings.lookup(docs, "doc_id", "text", Postings.Head).isEmpty)
    assert(rows(QueryCompiler.bm25(docs, "doc_id", "text", q)) == before)
    KgPipeline.kg(spark, sf)
    assert(Postings.lookup(docs, "doc_id", "text", Postings.Head).isDefined)
  }

  test("rewriting the documents files leaves the stale index unused") {
    val d = Files.createTempDirectory("postings-rewrite").toString
    writeDocs(d, 2)
    KgPipeline.kg(spark, d)
    val first = Tables(spark, d, "documents")
    assert(Postings.lookup(first, "doc_id", "text", Postings.Head).isDefined)
    val old = rows(QueryCompiler.bm25(first, "doc_id", "text", q))
    Thread.sleep(1100) // a new modification time even at one-second resolution
    writeDocs(d, 3)
    val now = Tables(spark, d, "documents")
    assert(Postings.lookup(now, "doc_id", "text", Postings.Head).isEmpty)
    val fresh = corpus(3).select("doc_id", "text")
    val got = rows(QueryCompiler.bm25(now, "doc_id", "text", q))
    assert(got == rows(QueryCompiler.bm25(fresh, "doc_id", "text", q)))
    assert(got != old)
  }
}
