package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Extraction operators (SURVEY §2.3, E1–E14) as column expressions
  * producing arrays of extractions. All built-ins / higher-order
  * functions — codegen-friendly, no shuffle; glossaries are driver-side
  * small data compiled into the plan (the Spark analogue of the
  * reference's per-worker glossary warm-up, docs/index.md:115-117).
  */
object Extractors {

  /** E1 extract_as_is (generate_mydig_config.py:226-231). */
  def asIs(c: Column): Column = array(c)

  /** E2 glossary extractor (em_elicit.py:15-26): n-gram (1–3) token match
    * against a dictionary, case-insensitive. Single-token glossaries use
    * array_intersect on the token array; multi-word entries match on the
    * shingle arrays — all per-row, glossary folded into the plan as a
    * literal array (for huge glossaries use a broadcast join instead —
    * Dedup-style semi-join, SURVEY J4).
    */
  def glossary(c: Column, entries: Seq[String], maxNgram: Int = 3,
               caseSensitive: Boolean = false): Column = {
    // case-sensitive mode tokenizes without lowercasing (the reference's
    // case_sensitive glossary flag, master_config fields)
    val base = if (caseSensitive) c else lower(c)
    glossaryFromTokens(
      regexp_extract_all(base, lit("[A-Za-z0-9]+"), lit(0)),
      entries, maxNgram, caseSensitive)
  }

  /** [[glossary]] over a pre-tokenized column. Callers extracting
    * SEVERAL glossary fields from one text should tokenize once behind
    * a barrier (projection + cache) and pass the array here —
    * CollapseProject otherwise inlines the tokenizer subtree into every
    * field's expression (N× regex scans of the same text).
    */
  def glossaryFromTokens(toks: Column, entries: Seq[String], maxNgram: Int = 3,
                         caseSensitive: Boolean = false): Column = {
    // entries normalize through the SAME tokenizer as the documents —
    // lowercase+trim alone leaves punctuation ("washington, d.c.",
    // "o'brien") that the alphanumeric shingles can never match
    val norm = entries
      .map { e =>
        val base = if (caseSensitive) e else e.toLowerCase(java.util.Locale.ROOT)
        "[A-Za-z0-9]+".r.findAllIn(base).mkString(" ")
      }
      .filter(_.nonEmpty).distinct
    val byLen = norm.groupBy(_.split("\\s+").length)
    val matches = (1 to maxNgram).flatMap { n =>
      byLen.get(n).map { es =>
        val hay =
          if (n == 1) toks
          else TextFunctions.shinglesOf(toks, n)
        array_intersect(array_distinct(hay), array(es.map(lit): _*))
      }
    }
    if (matches.isEmpty) array()
    else matches.reduce(concat(_, _))
  }

  /** E2 at scale: glossary as a broadcast semi-join (SURVEY J4) for
    * dictionaries too large to fold into the plan as literals. Explodes
    * distinct tokens/shingles, joins the broadcast glossary table, and
    * regroups matches per doc — still no big-side shuffle.
    */
  def glossaryJoin(docs: DataFrame, idCol: String, textCol: String,
                   glossary: DataFrame, maxNgram: Int = 3): DataFrame = {
    // same tokenizer normalization as glossaryFromTokens: punctuation
    // inside entries must not block shingle matches
    val gloss = broadcast(glossary.select(
      concat_ws(" ", regexp_extract_all(lower(col(glossary.columns.head)),
        lit("[a-z0-9]+"), lit(0))).as("__g"))
      .filter(length(col("__g")) > 0).distinct())
    val candidates = docs.select(
      col(idCol).as("__id"),
      explode(array_distinct(concat(
        (1 to maxNgram).map(n =>
          if (n == 1) TextFunctions.tokens(col(textCol))
          else TextFunctions.shingles(col(textCol), n)): _*))).as("__t"))
    candidates
      .join(gloss, col("__t") === col("__g"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_set(col("__t"))).as("matches"))
      .withColumnRenamed("__id", idCol)
  }

  /** E4 email extractor (predefined_extractor "email"). */
  def emails(c: Column): Column = TextFunctions.extractEmails(c)

  /** E5 date battery (em_elicit.py:14,52-54): try multiple formats,
    * first hit wins, normalized ISO.
    */
  val DateFormats: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd", "MM/dd/yyyy", "dd-MM-yyyy",
    "MMM d, yyyy", "MMMM d, yyyy", "yyyyMMdd")

  /** Shape pre-dispatch: each format is gated behind an anchored regex
    * that ACCEPTS A SUPERSET of what the format can parse, so
    * `when(shape, parse)` inside the coalesce is semantically identical
    * to the bare battery — but a row pays cheap fail-fast regex tests
    * plus (usually) ONE formatter parse instead of up to 7 formatter
    * parse attempts. Order matches [[DateFormats]].
    */
  private val DateShapes: Seq[(String, String)] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss" -> "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$",
    "yyyy-MM-dd" -> "^\\d{4}-\\d{2}-\\d{2}$",
    "MM/dd/yyyy" -> "^\\d{1,2}/\\d{1,2}/\\d{4}$",
    "dd-MM-yyyy" -> "^\\d{1,2}-\\d{1,2}-\\d{4}$",
    "MMM d, yyyy" -> "^[A-Za-z]{3} \\d{1,2}, \\d{4}$",
    // full month names can be 3 letters too ("May")
    "MMMM d, yyyy" -> "^[A-Za-z]{3,} \\d{1,2}, \\d{4}$",
    "yyyyMMdd" -> "^\\d{8}$")

  def parseDate(c: Column): Column =
    coalesce(DateShapes.map { case (f, rx) =>
      when(c.rlike(rx), try_to_timestamp(c, lit(f)))
    }: _*)

  /** E6 HTML content ALL_TEXT strategy: tag-strip via regex (the strict/
    * relaxed readability strategies are heuristics over this base).
    */
  def htmlAllText(c: Column): Column =
    trim(regexp_replace(regexp_replace(c,
      "(?is)<(script|style)[^>]*>.*?</\\1>", " "), "(?s)<[^>]*>", " "))

  /** E6 MAIN_CONTENT_STRICT / RELAXED (em_base.py:43-51 delegates to the
    * readability package): an Arc90-style scorer, not just a block-tag
    * filter. Candidate containers (<div>/<article>/<section>/<main>/
    * <td>) are scored by comma count + capped text length, penalized by
    * link density (anchor chars / text chars — the classic boilerplate
    * signal), and the best container's block text wins; pages with no
    * scoring container fall back to whole-page block extraction.
    * RELAXED widens the block set with list/table text. All per-row
    * expressions (nested HOFs over regexp_extract_all) — no UDF, no
    * shuffle. Known limit vs a DOM parser: nested same-tag containers
    * truncate at the first close tag (regex, not a tree).
    */
  def htmlMainContent(c: Column, relaxed: Boolean = false): Column = {
    val blockTags = if (relaxed) "p|article|h[1-6]|blockquote|li|td" else "p|article|h[1-6]|blockquote"
    val stripTags = (s: Column) => regexp_replace(s, "(?s)<[^>]*>", " ")
    val blockText = (b: Column) => trim(regexp_replace(concat_ws(" ",
      transform(regexp_extract_all(b, lit(s"(?is)<($blockTags)[^>]*>(.*?)</\\1>"), lit(2)),
        stripTags)), "\\s+", " "))
    val containers = regexp_extract_all(c,
      lit("(?is)<(div|article|section|main|td)[^>]*>(.*?)</\\1>"), lit(2))
    val scored = transform(containers, b => {
      val text = blockText(b)
      val tl = length(text).cast("double")
      val linkChars = aggregate(
        regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
        lit(0.0), (acc, a) => acc + length(trim(stripTags(a))).cast("double"))
      val commas = (size(split(text, ",")) - 1).cast("double")
      val linkDensity = linkChars / greatest(tl, lit(1.0))
      val score = (commas + least(tl / 100.0, lit(3.0))) * (lit(1.0) - linkDensity)
      struct(score.as("score"), text.as("text"))
    })
    val positives = filter(scored, s =>
      s.getField("score") > 0.1 && length(s.getField("text")) > 0)
    // struct ordering compares score first -> array_max = best candidate
    coalesce(
      when(size(positives) > 0, array_max(positives).getField("text")),
      blockText(c))
  }

  /** E7 HTML metadata: title + meta description (em_elicit.py:40-46). */
  def htmlTitle(c: Column): Column =
    regexp_extract(c, "(?is)<title[^>]*>(.*?)</title>", 1)

  def htmlMetaContent(c: Column, name: String): Column = {
    // both attribute orders occur in real pages (content-before-name is
    // common generator output); the name is quoted — Dublin Core names
    // like "DC.title" contain regex metacharacters
    val q = java.util.regex.Pattern.quote(name)
    val nameFirst =
      regexp_extract(c, s"""(?is)<meta[^>]*name=["']$q["'][^>]*content=["']([^"']*)""", 1)
    val contentFirst =
      regexp_extract(c, s"""(?is)<meta[^>]*content=["']([^"']*)["'][^>]*name=["']$q["']""", 1)
    when(length(nameFirst) > 0, nameFirst).otherwise(contentFirst)
  }

  /** E7 microdata/RDFa (em_elicit.py:40-46 extracts title, meta,
    * microdata AND RDFa — the latter two were the fidelity gap):
    * `itemprop=` (microdata) and `property=` (RDFa) annotated values as
    * array<struct<prop:string,value:string>>. Covers the three
    * attribute shapes: content-after-prop, content-before-prop (void
    * elements like <meta>/<link>), and container elements whose inner
    * text is the value (markup stripped). Per-row regex expressions —
    * same narrow-map scaling as the rest of the extractor battery.
    */
  def htmlAnnotations(c: Column): Column = {
    val cleanText = (s: Column) =>
      trim(regexp_replace(regexp_replace(s, "(?s)<[^>]*>", " "), "\\s+", " "))
    def pairs(pat: String, propG: Int, valG: Int, textForm: Boolean): Column = {
      val ms0 = regexp_extract_all(c, lit(pat), lit(0))
      // the text form must not re-capture elements already handled by
      // the content= attribute forms
      val ms = if (!textForm) ms0
        else filter(ms0, m =>
          !regexp_extract(m, "(?is)^<[^>]*", 0).rlike("(?i)\\bcontent="))
      transform(ms, m => struct(
        regexp_extract(m, pat, propG).as("prop"),
        (if (textForm) cleanText(regexp_extract(m, pat, valG))
         else regexp_extract(m, pat, valG)).as("value")))
    }
    val attr =
      """(?is)<\w+[^>]*\b(?:itemprop|property)=["']([^"']+)["'][^>]*\bcontent=["']([^"']*)["'][^>]*>"""
    val attrRev =
      """(?is)<\w+[^>]*\bcontent=["']([^"']*)["'][^>]*\b(?:itemprop|property)=["']([^"']+)["'][^>]*>"""
    val text =
      """(?is)<(\w+)[^>]*\b(?:itemprop|property)=["']([^"']+)["'][^>]*>(.*?)</\1>"""
    concat(pairs(attr, 1, 2, textForm = false),
      pairs(attrRev, 2, 1, textForm = false),
      pairs(text, 2, 3, textForm = true))
  }

  /** E8 landmark/Inferlink rule: begin/end regex pair extraction
    * (em_base.py:61-69); rule name field-i-j → field via stripping the
    * trailing index (re.sub(r'-\\d+$','')).
    */
  final case class LandmarkRule(name: String, begin: String, end: String) {
    // rule names use the two-index field-i-j form (museum corpus:
    // title-0-0, name-0-1, ...) — strip ALL trailing indices, matching
    // LandmarkRules.ItemRule (a single strip left "title-0")
    def field: String = name.replaceAll("(-\\d+)+$", "")
  }

  def landmark(c: Column, rule: LandmarkRule): Column =
    regexp_extract(c, s"(?s)${rule.begin}(.*?)${rule.end}", 1)

  /** E9 hostname / TLD extractor (em_base.py:71-80). */
  def hostname(c: Column): Column = TextFunctions.hostname(c)

  def tld(c: Column): Column =
    regexp_extract(hostname(c), "([^.]+\\.[^.]+)$", 1)

  /** E10 HTML table extractor (em_base.py:14-21 imports the etk table
    * extractor): every <table> in the page becomes a cell grid
    * array<struct<table_idx,row_idx,col_idx,text>> — nested
    * index-carrying transforms over regexp_extract_all, all per-row
    * expressions (no UDF, no shuffle; the 100 TB shape is a narrow map).
    * th and td both count as cells; nested markup inside a cell is
    * stripped to text.
    */
  def htmlTables(c: Column): Column = {
    val cellText = (s: Column) =>
      trim(regexp_replace(regexp_replace(s, "(?s)<[^>]*>", " "), "\\s+", " "))
    val tables = regexp_extract_all(c, lit("(?is)<table[^>]*>(.*?)</table>"), lit(1))
    flatten(transform(tables, (t, ti) => {
      val rows = regexp_extract_all(t, lit("(?is)<tr[^>]*>(.*?)</tr>"), lit(1))
      flatten(transform(rows, (r, ri) => {
        val cells = regexp_extract_all(r, lit("(?is)<(td|th)[^>]*>(.*?)</\\1>"), lit(2))
        transform(cells, (cell, ci) => struct(
          ti.cast("int").as("table_idx"),
          ri.cast("int").as("row_idx"),
          ci.cast("int").as("col_idx"),
          cellText(cell).as("text")))
      }))
    }))
  }

  /** E10 misc predefined extractors (em_base.py:14-21). */
  def cveIds(c: Column): Column = TextFunctions.extractCves(c)
  def ipAddresses(c: Column): Column = TextFunctions.extractIps(c)
  def cryptoHashes(c: Column): Column =
    regexp_extract_all(c, lit(TextFunctions.HashRx), lit(0))
  val BtcRx = "\\b[13][a-km-zA-HJ-NP-Z1-9]{25,34}\\b"
  def bitcoinAddresses(c: Column): Column =
    regexp_extract_all(c, lit(BtcRx), lit(0))

  /** E13 location compound: one segment fans out to 4 fields
    * (generate_mydig_config.py:301-305): location (any of the three
    * glossaries), country, city_name and state.
    */
  def locationCompound(c: Column, countries: Seq[String], cities: Seq[String],
                       states: Seq[String] = Nil): Seq[(String, Column)] = Seq(
    "location" -> glossary(c, countries ++ cities ++ states),
    "country" -> glossary(c, countries),
    "city_name" -> glossary(c, cities),
    "state" -> glossary(c, states))

  /** KG long-format builder: (field → array<value>) extraction columns
    * exploded into one (doc_id, field, value, method, segment, key,
    * confidence) row per extraction (SURVEY §1.2 exploded long-format
    * Dataset). `method`/`segment` record provenance.
    */
  def toKgValues(docs: DataFrame, idCol: String,
                 extractions: Seq[(String, Column, String, String)]): DataFrame = {
    val structs = extractions.map { case (field, values, method, segment) =>
      struct(lit(field).as("field"),
        values.cast("array<string>").as("values"),
        lit(method).as("method"), lit(segment).as("segment"))
    }
    docs
      .select(col(idCol).cast("string").as("doc_id"),
        explode(array(structs: _*)).as("ex"))
      .select(col("doc_id"), col("ex.field").as("field"),
        explode(col("ex.values")).as("value"),
        col("ex.method").as("method"), col("ex.segment").as("segment"))
      .withColumn("key", lower(trim(col("value")))) // high_confidence_keys
      .withColumn("confidence", lit(1.0))
  }
}
