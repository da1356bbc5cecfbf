package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.extract.Extractors
import graft.ingest.MappingRules
import graft.sources.Sources

/** The reference-parity API that no registry query runs, checked on small
  * inline fixtures. Each expectation follows the reference lines the
  * function's scaladoc cites.
  */
class ReferenceApiSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  // P4 remove_fields (dig_tabular_import.py:229-231): the listed columns go
  test("removeFields drops exactly the listed columns") {
    val df = Seq(("1", "x", "y", "z")).toDF("a", "b", "c", "d")
    val out = MappingRules.removeFields(Seq("b", "c"))(df)
    assert(out.columns.toSeq == Seq("a", "d"))
    assert(out.as[(String, String)].collect().toSeq == Seq(("1", "z")))
  }

  // P2 (dig_tabular_import.py:76-90): content_start_row/content_end_row
  // are 1-based and inclusive, the first all-blank row ends the content
  // when blank_row_ends_content is set, and rows count within one file
  test("rowRangeSlice slices each file by start, end and the first blank row") {
    val dir = tmp("row-range")
    def file(name: String, rows: Seq[(Int, String, String)]): String = {
      val p = s"$dir/$name"
      rows.toDF("line", "a", "b").coalesce(1).write.parquet(p)
      p
    }
    val f1 = file("f1", Seq((1, "h", "h2"), (2, "x1", "y1"), (3, "x2", "y2"),
      (4, "", "  "), (5, "x3", "y3")))
    val f2 = file("f2", Seq((1, "h", "h2"), (2, "p1", "q1"), (3, "p2", "q2"),
      (4, "p3", "q3")))
    val both = spark.read.parquet(f1, f2)
    def slice(start: Int, end: Option[Int], blankEnds: Boolean): Seq[String] =
      MappingRules.rowRangeSlice(start, end, blankEnds, Seq(col("line")))(both)
        .select("a").as[String].collect().sorted.toSeq

    assert(slice(2, None, blankEnds = false) ==
      Seq("", "p1", "p2", "p3", "x1", "x2", "x3"))
    assert(slice(2, Some(3), blankEnds = false) == Seq("p1", "p2", "x1", "x2"))
    assert(slice(2, None, blankEnds = true) == Seq("p1", "p2", "p3", "x1", "x2"))
    assert(slice(3, Some(4), blankEnds = true) == Seq("p2", "p3", "x2"))
  }

  // P15 (etk_worker.py:109-113): `type` → `type_`, `provenances` dropped
  test("renameFields renames, then drops") {
    val df = Seq(("d1", "ad", "[]")).toDF("doc_id", "type", "provenances")
    val out = MappingRules.renameFields(Map("type" -> "type_"), Seq("provenances"))(df)
    assert(out.columns.toSeq == Seq("doc_id", "type_"))
    assert(out.as[(String, String)].collect().toSeq == Seq(("d1", "ad")))
  }

  // P16 (dig_tabular_import.py:536-581): field = lower(column), runs of
  // non-word characters → '_', no leading or trailing '_'
  test("applyDefaultMapping maps every column 1:1 to its default field name") {
    val df = Seq(("Ann", "90210", "3.50")).toDF("First Name", "Zip-Code", " Price ($) ")
    val out = MappingRules.applyDefaultMapping(df)
    assert(out.columns.toSeq == Seq("first_name", "zip_code", "price"))
    assert(out.as[(String, String, String)].collect().toSeq == Seq(("Ann", "90210", "3.50")))
  }

  // E10 (em_base.py:14-21): hex digests of 32 to 64 digits, whole words only
  test("cryptoHashes finds md5, sha1 and sha256 digests and nothing shorter or longer") {
    val md5 = "900150983cd24fb0d6963f7d28e17f72"
    val sha1 = "a9993e364706816aba3e25717850c26c9cd0d89d"
    val sha256 = "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    val text = s"md5 $md5, sha1=$sha1 and ($sha256); short deadbeef, long ${sha256}00ff"
    val got = Seq(text).toDF("t").select(Extractors.cryptoHashes(col("t")))
      .as[Seq[String]].head()
    assert(got == Seq(md5, sha1, sha256))
  }

  // E13 (generate_mydig_config.py:301-305): one segment fans out to
  // location, country, city_name and state
  test("locationCompound fans one segment out to four fields") {
    val fields = Extractors.locationCompound(col("t"),
      countries = Seq("France"), cities = Seq("Paris", "New York"), states = Seq("Texas"))
    assert(fields.map(_._1) == Seq("location", "country", "city_name", "state"))
    val row = Seq("Flights from New York to Paris, France and Austin, Texas").toDF("t")
      .select(fields.map { case (n, c) => c.as(n) }: _*).head()
    def field(n: String) = row.getSeq[String](row.fieldIndex(n)).sorted
    assert(field("location") == Seq("france", "new york", "paris", "texas"))
    assert(field("country") == Seq("france"))
    assert(field("city_name") == Seq("new york", "paris"))
    assert(field("state") == Seq("texas"))
  }

  // E7 (em_elicit.py:40-46): <meta> content by name, in either attribute
  // order, with the name matched literally
  test("htmlMetaContent reads either attribute order and quotes the name") {
    val pages = Seq(
      "nameFirst" -> """<head><meta name="description" content="A page"></head>""",
      "contentFirst" -> """<head><meta content="Other page" name="description" /></head>""",
      "single" -> """<meta name='description' content='Quoted'>""",
      "dc" -> """<meta name="DC.title" content="Dublin">""",
      "dcLookalike" -> """<meta name="DCxtitle" content="Wrong">""",
      "none" -> """<meta name="keywords" content="a,b">""")
    val df = pages.toDF("k", "html")
    def read(name: String): Map[String, String] =
      df.select(col("k"), Extractors.htmlMetaContent(col("html"), name))
        .as[(String, String)].collect().toMap
    val desc = read("description")
    assert(desc("nameFirst") == "A page")
    assert(desc("contentFirst") == "Other page")
    assert(desc("single") == "Quoted")
    assert(desc("none") == "")
    val dc = read("DC.title")
    assert(dc("dc") == "Dublin")
    assert(dc("dcLookalike") == "", "'.' in the name must match only itself")
  }

  // S5 (docs/advanced.md:297-308): a whole file becomes one doc's
  // raw_content, tagged with the dataset
  test("htmlFiles reads each file whole as one tagged doc") {
    val dir = tmp("html-files")
    val pages = Seq("a.html" -> "<html>\n<body>first page</body>\n</html>\n",
      "b.html" -> "<html><body>second</body></html>")
    pages.foreach { case (n, body) =>
      Files.write(dir.resolve(n), body.getBytes(StandardCharsets.UTF_8))
    }
    val docs = Sources.htmlFiles(spark, dir.toString, "pages")
      .select("raw_content", "dataset", "doc_id").as[(String, String, String)].collect()
    def sha256(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
    assert(docs.sortBy(_._1).toSeq ==
      pages.map(_._2).sorted.map(body => (body, "pages", sha256(body))))
  }

  // S10 (manager.py:237-255): register the project table if absent
  test("bootstrapTable registers the table once and is idempotent") {
    val path = tmp("bootstrap").resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    try {
      Sources.bootstrapTable(spark, "graft_bootstrap_t", path)
      Sources.bootstrapTable(spark, "graft_bootstrap_t", path)
      assert(spark.table("graft_bootstrap_t").orderBy("id").as[(Long, String)]
        .collect().toSeq == Seq((1L, "a"), (2L, "b")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_bootstrap_t")
  }
}
