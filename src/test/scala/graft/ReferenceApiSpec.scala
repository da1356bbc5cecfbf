package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.extract.Extractors
import graft.ingest.MappingRules
import graft.sources.Sources
import graft.ts.TimeSeriesOps

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

  // E1 extract_as_is (generate_mydig_config.py:226-231): the segment's
  // value becomes the field's one extraction, verbatim
  test("asIs copies the segment value verbatim as a one-element extraction") {
    val got = Seq(" Hello, World ", "MiXeD case").toDF("t")
      .select(Extractors.asIs(col("t"))).as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq(" Hello, World "), Seq("MiXeD case")))
  }

  // T3 (trend/io_utils.py:15-48): x = days since the series' first point
  // over a 365-day year, per series, whatever the row order
  test("yearsSinceStart measures fractional 365-day years from each series' start") {
    val day = 86400000L
    val t0 = 1577836800000L // 2020-01-01, a leap year
    val rows = Seq(("a", t0 + 365 * day), ("a", t0), ("a", t0 + 366 * day),
      ("a", t0 + day * 365 / 2), ("b", 5 * day), ("b", 5 * day + 730 * day))
    val w = TimeSeriesOps.seriesWindow(col("s"), Seq(col("ts")))
    val got = rows.toDF("s", "ts")
      .select(col("s"), col("ts"), TimeSeriesOps.yearsSinceStart(col("ts"), w).as("x"))
      .as[(String, Long, Double)].collect().map { case (s, ts, x) => (s, ts) -> x }.toMap
    assert(got(("a", t0)) == 0.0)
    assert(got(("a", t0 + day * 365 / 2)) == 0.5)
    assert(got(("a", t0 + 365 * day)) == 1.0)
    assert(math.abs(got(("a", t0 + 366 * day)) - 366.0 / 365.0) < 1e-12,
      "a leap year is 366/365 of a year, not 1")
    assert(got(("b", 5 * day)) == 0.0)
    assert(got(("b", 5 * day + 730 * day)) == 2.0)
  }

  // T14 (ts_label_maker.py:12-44): the label format-string reads the
  // series metadata; a missing key or a null value renders as ''
  test("labelTemplate renders series metadata into a label, missing keys as empty") {
    val meta = Seq(("GDP", "France", "EUR"), ("CPI", "Chad", null))
      .toDF("indicator", "country", "unit")
    val got = TimeSeriesOps.labelTemplate("label", "{indicator} of {country} [{unit}]{region}")(meta)
      .select("indicator", "label").as[(String, String)].collect().toMap
    assert(got == Map("GDP" -> "GDP of France [EUR]", "CPI" -> "CPI of Chad []"))
  }

  // A6 (ts_converter.py:30-33,58-61,79-89): series id = upper-hex
  // sha256(dataset + name); a measurement's id = lower-hex
  // sha256(payload + series id)
  test("seriesId and measurementId are the reference's content hashes") {
    val sid = "47B2A0ED3B1A1E308EFB08650A336DE0F3705658A0ECC4719A4DC7C391F71340"
    val got = Seq(("eurostat", "gdp")).toDF("dataset", "name")
      .select(TimeSeriesOps.seriesId(col("dataset"), col("name"))).as[String].head()
    assert(got == sid)
    val mid = Seq(("""{"value": 1.5}""", sid)).toDF("payload", "sid")
      .select(TimeSeriesOps.measurementId(col("payload"), col("sid"))).as[String].head()
    assert(mid == "71b70f4d1bf6de4770ebcd900c9bad37cd795c63615e7fe49b84668abe3a5541")
  }
}
