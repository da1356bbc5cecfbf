package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for the large-scale training-data
  * pipeline (builder brief) and the reference's extraction plane
  * (SURVEY §2.3): tokenization, quality scoring, language-ID,
  * fingerprinting, and the regex extractor battery
  * (reference extractors E4/E9/E10, em_base.py:14-21).
  *
  * Everything here is a composition of codegen'd built-in expressions —
  * no UDFs — so the whole battery stays inside WholeStageCodegen and
  * scales as a narrow map over document partitions (no shuffle).
  */
object TextFunctions {

  /** Expression-level evaluate-once barrier: binds `e` to a lambda
    * variable via a single-element `transform`, so `f` can reference it
    * any number of times while `e` is evaluated exactly once per row.
    *
    * This is the per-ROW analogue of the `.cache()` plan barrier: an
    * expression subtree referenced k times in one projection is
    * evaluated k times (Catalyst shares no common subexpressions across
    * HOF lambdas, and CollapseProject re-inlines projections), which
    * turns an O(tokens) tokenizer into O(k × tokens) work. Unlike
    * `.cache()` it composes inside a single expression and is legal in
    * streaming plans. The optimizer cannot re-inline through
    * ArrayTransform, so the binding survives optimization.
    */
  def bindOnce(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** Lowercased alphanumeric tokens. */
  def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** Whitespace+BPE-ish token count (builder brief: token counting). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** GPT-2-style BPE PRE-tokenizer pieces (builder brief: "a BPE-ish
    * regex"): contractions, space-prefixed letter runs, space-prefixed
    * digit runs, space-prefixed punctuation runs, residual whitespace —
    * the standard byte-level-BPE splitting regex MINUS the trailing
    * `\s+(?!\S)` lookahead (RE2 has no lookahead, and the oracle's
    * regexp engine is RE2; the simplification only shifts how runs of
    * trailing whitespace group, not word/number/punct pieces).
    * Case-preserving, like the real pretokenizer. Piece count is the
    * standard proxy for BPE token count (each piece expands to >= 1
    * merges-table tokens; ~1 for common words).
    *
    * The whitespace class is the EXPLICIT [\t\n\f\r ] everywhere, not
    * \s: Java's \s includes vertical tab U+000B but RE2's does not, so
    * a \s-based pattern would route U+000B into different arms across
    * engines (whitespace in Spark, punctuation in the oracle) and
    * break the hash match. With the explicit class both engines put
    * U+000B in the punctuation arm.
    */
  val BpeWsClass: String = "\\t\\n\\f\\r "
  val BpePieceRx: String =
    s"'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^$BpeWsClass\\p{L}\\p{N}]+|[$BpeWsClass]+"

  def bpePieces(c: Column): Column =
    regexp_extract_all(c, lit(BpePieceRx), lit(0))

  /** URL canonicalization for URL-level dedup (the standard web-corpus
    * first pass): lowercase scheme and host, strip a leading `www.`,
    * default ports, the fragment, tracking parameters
    * (utm_… / fbclid / gclid), and a trailing slash; the surviving query
    * parameters are SORTED so parameter order doesn't split dup
    * groups. Path case is preserved (paths are case-sensitive). Pure
    * string expressions in the Java∩RE2 regex subset, so the DuckDB
    * oracle mirrors byte-for-byte.
    */
  def canonicalizeUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z]+)://", 1))
    val host = regexp_replace(
      regexp_replace(lower(regexp_extract(u, "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", ""),
      ":(80|443)$", "")
    val path = regexp_replace(
      regexp_extract(u, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/$", "")
    val q = array_join(array_sort(filter(split(regexp_extract(u, "\\?([^#]*)", 1), "&"),
      x => x =!= "" && !x.rlike("^(utm_[A-Za-z0-9_]+|fbclid|gclid)="))), "&")
    concat(scheme, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** Count of alphanumeric characters. */
  def alnumChars(c: Column): Column =
    length(regexp_replace(lower(c), "[^a-z0-9]", ""))

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  def stopwordCount(c: Column): Column = {
    val stop = Stopwords.map(lit(_))
    size(filter(tokens(c), t => t.isin(stop: _*)))
  }

  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[.!?,;:]"), lit(0)))

  /** Marker-word language-ID heuristic (n-gram style): count per-language
    * marker tokens, argmax with a fixed precedence for ties. Integer
    * scores → fully deterministic.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "et"),
    "zh" -> Seq("de5", "shi4"))

  def langId(c: Column): Column = {
    // First language (in declaration order) whose score equals the max.
    // The token array and the score vector are each bound ONCE
    // ([[bindOnce]]): the naive greatest+fold formulation copies every
    // score subtree into the max AND into each when-branch, tokenizing
    // ~25× per row.
    bindOnce(tokens(c)) { toks =>
      val scoresArr = array(LangMarkers.map { case (_, ms) =>
        val m = ms.map(lit(_))
        size(filter(toks, t => t.isin(m: _*)))
      }: _*)
      bindOnce(scoresArr) { scores =>
        val mx = array_max(scores)
        val scored = LangMarkers.zipWithIndex.map { case ((l, _), i) =>
          (l, element_at(scores, i + 1))
        }
        scored.reverse.tail.foldLeft(lit(scored.last._1): Column) {
          case (acc, (l, s)) => when(s === mx, lit(l)).otherwise(acc)
        }
      }
    }
  }

  /** Document fingerprint: sha256 of whitespace-normalized lowercase text
    * (reference A6 content-hash ids, ts_converter.py:30-33). trim wraps
    * the collapse — trimming FIRST left a residual space when the text
    * ended in punctuation ('foo.' hashed "foo ", 'foo' hashed "foo"),
    * so trivially-equal content fingerprinted differently.
    */
  def fingerprint(c: Column): Column =
    sha2(trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")), 256)

  /** Dedup key: the normalized [[fingerprint]] when the text HAS
    * latin-alphanumeric content, else a raw-byte digest. Without the
    * guard, every document with no [a-z0-9] at all (CJK, Cyrillic,
    * emoji-only) normalizes to "" and shares ONE fingerprint — exact
    * dedup would silently collapse all non-Latin documents to a single
    * survivor.
    */
  def dedupKey(c: Column): Column = {
    val norm = trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))
    when(length(norm) > 0, sha2(norm, 256)).otherwise(sha2(c.cast("binary"), 256))
  }

  // ---- regex extractor battery (E4/E9/E10) -------------------------------
  val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Rx = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val HostRx = "https?://([^/\\s:]+)"
  val CveRx = "CVE-\\d{4}-\\d{4,7}"
  val HashRx = "\\b[a-f0-9]{32,64}\\b"

  def extractEmails(c: Column): Column = regexp_extract_all(c, lit(EmailRx), lit(0))
  def extractIps(c: Column): Column = regexp_extract_all(c, lit(Ipv4Rx), lit(0))
  def hostname(c: Column): Column = regexp_extract(c, HostRx, 1)
  def extractCves(c: Column): Column = regexp_extract_all(c, lit(CveRx), lit(0))

  /** Token n-gram shingles for near-dup detection (builder brief).
    *
    * Built by zipping k shifted copies of the token array instead of a
    * positional lambda: a lambda body referencing the token array would
    * re-evaluate the whole tokenizer subtree PER ELEMENT (Catalyst
    * inlines it), turning an O(tokens) row into O(tokens²) regex work.
    * zip_with binds each shifted copy once per row. zip_with pads the
    * shorter side with null and concat null-propagates, so the trailing
    * (n-1) partial shingles drop in the final filter.
    */
  def shingles(c: Column, n: Int = 3): Column = shinglesOf(tokens(c), n)

  /** Shingles over a pre-tokenized array (lets callers control the
    * tokenizer, e.g. case-sensitive glossaries).
    */
  def shinglesOf(toks: Column, n: Int): Column = bindOnce(toks) { t =>
    // bindOnce: the shifted copies + size() reference the token array
    // ~2n times; binding keeps the (regex) tokenizer at one eval per row.
    val shifted = (0 until n).map(k => if (k == 0) t else slice(t, lit(k + 1), size(t)))
    val zipped = shifted.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    filter(zipped, x => x.isNotNull)
  }

  /** Per-row mode of a string array as struct(cnt, gram): the most
    * frequent element and its count, ties to the lexicographically
    * smallest element. One sort + one linear fold per row (max run
    * length in the sorted array) — a narrow map, no explode/shuffle,
    * so per-document "top n-gram" stats stay embarrassingly parallel
    * at 100 TB. Empty input → (0, "").
    */
  def modeOf(arr: Column): Column = bindOnce(array_sort(arr)) { sorted =>
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("cnt"), lit("").as("gram")),
      (acc, x) => {
        val newRun = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(
          x.as("prev"), newRun.as("run"),
          when(newRun > acc.getField("cnt"), newRun).otherwise(acc.getField("cnt")).as("cnt"),
          // strict > keeps the FIRST max run; ascending sort makes that
          // the lexicographically smallest mode — the oracle tiebreak
          when(newRun > acc.getField("cnt"), x).otherwise(acc.getField("gram")).as("gram"))
      },
      acc => struct(acc.getField("cnt").as("cnt"), acc.getField("gram").as("gram")))
  }

  // ── Encoding repair (round 4 — the CCNet/ftfy-style curation step) ──

  /** Heuristic double-encoded-UTF-8 (mojibake) detector: counts the
    * lead-byte artifacts UTF-8 text shows after a latin-1 decode
    * ("Ã©" for é, "â€™" for ', "Â " for NBSP…). Zero on clean text.
    */
  def mojibakeCount(c: Column): Column =
    size(regexp_extract_all(c, lit("Ã.|â€.|Â[ °£·»«]"), lit(0)))

  /** Repair double-encoded UTF-8: re-encode the string's chars as
    * windows-1252 bytes (the charset real pipelines mis-decode with)
    * and decode them as UTF-8 — the inverse of the corrupting decode.
    * A native expression, not SQL decode(encode(...)): Spark 4's ANSI
    * `encode` THROWS on any non-encodable char and `decode` throws on
    * invalid UTF-8 bytes, while this repair must simply pass such rows
    * through. Applied only when the detector fires and the result
    * strictly reduces the artifact count — never corrupts clean text,
    * idempotent on repaired text.
    */
  def fixDoubleUtf8(c: Column): Column =
    graft.plans.NativeExpressions.fixDoubleUtf8(c)
}
