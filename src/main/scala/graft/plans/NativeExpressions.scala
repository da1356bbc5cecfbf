package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, InSet, LeafExpression, Literal, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for hot-path operators (builder brief:
  * "a native Catalyst Expression (with doGenCode) beats a Scala UDF").
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) are
  * evaluated interpreted — per-element closure dispatch. These
  * expressions generate a single static call into a tight JVM loop,
  * keeping the surrounding projection inside whole-stage codegen.
  * Semantics are bit-identical to the composed-HOF formulations they
  * replace (same md5/vote arithmetic, same left-to-right IEEE fold), so
  * the DuckDB oracles are unchanged.
  */
object NativeExpressions {

  /** Per-thread digest: MessageDigest.getInstance per ROW would pay a
    * JCA provider lookup + allocation inside the hot kernels these
    * expressions exist to speed up. digest() resets internally, so the
    * instance is reusable as-is.
    */
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Tight-loop simhash: tokenize, distinct, md5 per token, ±1 bit
    * votes, sign → 64-char bit string. Mirrors Dedup.simhash64 exactly.
    */
  def simhashCompute(text: UTF8String): UTF8String = {
    val tokens = new java.util.LinkedHashSet[String]()
    // Locale.ROOT: JVM-default-locale lowercasing diverges under e.g.
    // tr-TR ('I' -> dotless ı), breaking bit-parity with Spark's
    // locale-independent lower() and the DuckDB oracle.
    val m = TokenRx.matcher(text.toString.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) tokens.add(m.group())
    val votes = new Array[Int](64)
    val md = Md5.get()
    val it = tokens.iterator()
    while (it.hasNext) {
      val h = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var i = 0
      while (i < 64) {
        // hex digit i/4 of the digest; bit (i%4) of that digit — matches
        // the oracle's strpos/substr arithmetic on the hex string
        val byteIdx = i / 8
        val hexInByte = (i / 4) % 2 // 0 -> high nibble (first hex char)
        val digit =
          if (hexInByte == 0) (h(byteIdx) >> 4) & 0xf
          else h(byteIdx) & 0xf
        votes(i) += (if ((digit & (1 << (i % 4))) != 0) 1 else -1)
        i += 1
      }
    }
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < 64) { sb.append(if (votes(i) > 0) '1' else '0'); i += 1 }
    UTF8String.fromString(sb.toString)
  }

  private val TokenRx = java.util.regex.Pattern.compile("[a-z0-9]+")

  /** Left-to-right IEEE double fold of the float-array dot product —
    * identical to aggregate(zip_with(...)) and DuckDB list_reduce,
    * INCLUDING null semantics: zip_with pads a length mismatch with
    * nulls and a null element nulls the whole fold, so this returns
    * null (boxed) for mismatched lengths or null elements rather than
    * silently truncating to the common prefix.
    */
  def dotCompute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** One-pass text statistics: token count, stopword count, punctuation
    * count, alphanumeric chars — the four counters behind quality
    * scoring, without three separate regex scans. Integer outputs ≡
    * the composed regexp_extract_all formulations (same [a-z0-9]+
    * token model), so oracles are unchanged.
    */
  def textStatsCompute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    // FULL-STRING lowercase first (Locale.ROOT), matching the composed
    // lower(text) + [a-z0-9]+ formulation exactly: per-char
    // Character.toLowerCase uses simple mappings and diverges on
    // characters whose full lowercase expands (U+0130 -> "i" + U+0307,
    // where the combining mark splits a token). n_punct counts on the
    // lowered string too — the counted chars .!?,;: are case-invariant.
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    var nTok = 0; var nStop = 0; var nPunct = 0; var nAlnum = 0
    var i = 0
    val n = s.length
    val sb = new java.lang.StringBuilder(16)
    def flushToken(): Unit = {
      if (sb.length() > 0) {
        nTok += 1
        if (StopwordSet.contains(sb.toString)) nStop += 1
        sb.setLength(0)
      }
    }
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        nAlnum += 1
        sb.append(c)
      } else {
        flushToken()
        if (c == '.' || c == '!' || c == '?' || c == ',' || c == ';' || c == ':') nPunct += 1
      }
      i += 1
    }
    flushToken()
    org.apache.spark.sql.catalyst.InternalRow(nTok, nStop, nPunct, nAlnum)
  }

  private val StopwordSet: java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    graft.functions.TextFunctions.Stopwords.foreach(s.add)
    s
  }

  case class TextStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_tok", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_stop", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_punct", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_alnum", org.apache.spark.sql.types.IntegerType)))
    override def prettyName: String = "text_stats"
    override protected def nullSafeEval(input: Any): Any =
      textStatsCompute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.plans.NativeExpressions.textStatsCompute($c)")
    override protected def withNewChildInternal(newChild: Expression): TextStats =
      copy(child = newChild)
  }

  def textStats(c: Column): Column =
    GraftColumnBridge.column(TextStats(GraftColumnBridge.expression(c)))

  /** All k min-hashes in one pass over the shingle array: for each
    * shingle, md5("i:"+s) per seed, tracking the minimum hex digest
    * lexicographically — identical to k× array_min(transform(...)).
    */
  def minhashCompute(shingles: ArrayData, k: Int): ArrayData = {
    val mins = new Array[String](k)
    val md = Md5.get()
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      // null elements skip, matching the HOF reference: md5(null) is
      // null and array_min ignores nulls (was an NPE here)
      if (!shingles.isNullAt(j)) {
        val s = shingles.getUTF8String(j).toString
        var i = 0
        while (i < k) {
          val d = md.digest((i + ":" + s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val hex = toHex(d)
          if (mins(i) == null || hex.compareTo(mins(i)) < 0) mins(i) = hex
          i += 1
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      mins.map(m => if (m == null) null else UTF8String.fromString(m))
        .asInstanceOf[Array[Any]])
  }

  private def toHex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < bytes.length) {
      sb.append(Character.forDigit((bytes(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(bytes(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  case class MinHashSig(child: Expression, k: Int) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = true)
    override def prettyName: String = "minhash_sig"
    override protected def nullSafeEval(input: Any): Any =
      minhashCompute(input.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.plans.NativeExpressions.minhashCompute($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): MinHashSig =
      copy(child = newChild)
  }

  case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "simhash64"
    override protected def nullSafeEval(input: Any): Any =
      simhashCompute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.plans.NativeExpressions.simhashCompute($c)")
    override protected def withNewChildInternal(newChild: Expression): SimHash64 =
      copy(child = newChild)
  }

  case class DotProductF(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "dot_product_f"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      dotCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        java.lang.Double ${ev.value}_r = graft.plans.NativeExpressions.dotCompute($a, $b);
        if (${ev.value}_r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      """)
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
        : DotProductF = copy(left = newLeft, right = newRight)
  }

  /** Two-pointer intersection count over two ASC-sorted DISTINCT
    * string arrays (sort_array(collect_set(...)) output; null-free by
    * construction — collect_set drops nulls). Counts without
    * materializing the intersection array `size(array_intersect(...))`
    * allocates, and UTF8String.compareTo is byte-wise — the same
    * binary order sort_array produces — so the count is identical.
    */
  def sortedIntersectCompute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType), ArrayType(StringType))
    override def dataType: DataType = IntegerType
    override def prettyName: String = "sorted_intersect_count"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      sortedIntersectCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.plans.NativeExpressions.sortedIntersectCompute($a, $b);")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
        : SortedIntersectCount = copy(left = newLeft, right = newRight)
  }

  /** Intersection count of two sorted distinct string-array columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** chrF pair-totals kernel (r12): for a (ref, hyp) pair of ALREADY
    * CLEANED strings (chrF source normalization, [a-z0-9]* only) emit,
    * per character-n-gram order n = 1..3, the ref total tr, hyp total
    * th and clipped overlap ov = Σ_g min(count_ref(g), count_hyp(g)) —
    * exactly the integers the explode → two-level hash-aggregate
    * formulation produced (profiled 4.6 s of the 3.9 s query: ~1.5M
    * exploded gram strings per execution at sf0.1). Grams are coded
    * base-37 ints (injective per order for the 36-char alphabet), ref
    * counts land in a thread-local 37³ table, the hyp pass decrements
    * ("clipping" is exactly min), and a final ref re-walk zeroes the
    * touched slots — no per-row allocation beyond the 3-row result.
    */
  private val ChrfCnt = ThreadLocal.withInitial[Array[Int]](() =>
    new Array[Int](37 * 37 * 37))

  private def chrfDigit(b: Byte): Int =
    if (b >= '0' && b <= '9') b - '0' + 1
    else if (b >= 'a' && b <= 'z') b - 'a' + 11
    else 0 // precondition-violating byte: deterministic, never produced

  def chrfTotalsCompute(ref: UTF8String, hyp: UTF8String): ArrayData = {
    val rb = ref.getBytes
    val hb = hyp.getBytes
    val cnt = ChrfCnt.get()
    val rows = new Array[Any](3)
    var n = 1
    while (n <= 3) {
      val mod = if (n == 1) 1 else if (n == 2) 37 else 37 * 37
      val tr = math.max(rb.length - n + 1, 0).toLong
      val th = math.max(hb.length - n + 1, 0).toLong
      // count ref grams
      var code = 0
      var i = 0
      while (i < rb.length) {
        code = (code % mod) * 37 + chrfDigit(rb(i))
        if (i >= n - 1) cnt(code) += 1
        i += 1
      }
      // hyp pass: clip against ref counts
      var ov = 0L
      code = 0
      i = 0
      while (i < hb.length) {
        code = (code % mod) * 37 + chrfDigit(hb(i))
        if (i >= n - 1 && cnt(code) > 0) { ov += 1; cnt(code) -= 1 }
        i += 1
      }
      // zero the touched slots by re-walking ref (idempotent, exact)
      code = 0
      i = 0
      while (i < rb.length) {
        code = (code % mod) * 37 + chrfDigit(rb(i))
        if (i >= n - 1) cnt(code) = 0
        i += 1
      }
      rows(n - 1) = org.apache.spark.sql.catalyst.InternalRow(
        n.toLong, tr, th, ov)
      n += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  case class ChrfPairTotals(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", LongType),
        org.apache.spark.sql.types.StructField("tr", LongType),
        org.apache.spark.sql.types.StructField("th", LongType),
        org.apache.spark.sql.types.StructField("ov", LongType))),
      containsNull = false)
    override def prettyName: String = "chrf_pair_totals"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      chrfTotalsCompute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.plans.NativeExpressions.chrfTotalsCompute($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
        : ChrfPairTotals = copy(left = newLeft, right = newRight)
  }

  /** chrF per-order (n, tr, th, ov) totals of a cleaned string pair. */
  def chrfPairTotals(a: Column, b: Column): Column =
    GraftColumnBridge.column(ChrfPairTotals(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Token-n-gram sibling of [[chrfTotalsCompute]] (r12, for BLEU /
    * ROUGE): per order n = 1..maxN over two token arrays, the ref
    * total, hyp total, and clipped overlap Σ_g min(count_ref, count_hyp)
    * — the same integers the explode → two-level hash-aggregate shape
    * produced. Grams are space-joined token runs (tokens are [a-z0-9]+
    * so the join is injective); ref counts build a per-call hash map,
    * the hyp pass decrements (clipping ≡ min).
    */
  def ngramTotalsCompute(ref: ArrayData, hyp: ArrayData, maxN: Int): ArrayData = {
    val nr = ref.numElements()
    val nh = hyp.numElements()
    val rt = new Array[String](nr)
    val ht = new Array[String](nh)
    var i = 0
    while (i < nr) { rt(i) = ref.getUTF8String(i).toString; i += 1 }
    i = 0
    while (i < nh) { ht(i) = hyp.getUTF8String(i).toString; i += 1 }
    def gram(ts: Array[String], at: Int, n: Int): String =
      if (n == 1) ts(at)
      else {
        val sb = new java.lang.StringBuilder(ts(at))
        var k = 1
        while (k < n) { sb.append(' ').append(ts(at + k)); k += 1 }
        sb.toString
      }
    val rows = new Array[Any](maxN)
    var n = 1
    while (n <= maxN) {
      val tr = math.max(nr - n + 1, 0)
      val th = math.max(nh - n + 1, 0)
      val cnt = new java.util.HashMap[String, Integer](tr * 2 + 4)
      i = 0
      while (i < tr) {
        cnt.merge(gram(rt, i, n), Integer.valueOf(1), (a, b) =>
          Integer.valueOf(a.intValue() + b.intValue()))
        i += 1
      }
      var ov = 0L
      i = 0
      while (i < th) {
        val key = gram(ht, i, n)
        val c = cnt.get(key)
        if (c != null && c.intValue() > 0) {
          ov += 1
          cnt.put(key, Integer.valueOf(c.intValue() - 1))
        }
        i += 1
      }
      rows(n - 1) = org.apache.spark.sql.catalyst.InternalRow(
        n.toLong, tr.toLong, th.toLong, ov)
      n += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  case class NgramPairTotals(left: Expression, right: Expression, maxN: Int)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType), ArrayType(StringType))
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", LongType),
        org.apache.spark.sql.types.StructField("tr", LongType),
        org.apache.spark.sql.types.StructField("th", LongType),
        org.apache.spark.sql.types.StructField("ov", LongType))),
      containsNull = false)
    override def prettyName: String = "ngram_pair_totals"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      ngramTotalsCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], maxN)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.plans.NativeExpressions.ngramTotalsCompute($a, $b, $maxN)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
        : NgramPairTotals = copy(left = newLeft, right = newRight)
  }

  /** Per-order (n, tr, th, ov) token-n-gram totals of a token-array pair. */
  def ngramPairTotals(a: Column, b: Column, maxN: Int): Column =
    GraftColumnBridge.column(NgramPairTotals(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b), maxN))

  /** The latin-1 lead-byte artifacts UTF-8 text shows after a wrong
    * latin-1 decode — the same alternation TextFunctions.mojibakeCount
    * counts in-plan.
    */
  private val Mojibake = java.util.regex.Pattern.compile("Ã.|â€.|Â[ °£·»«]")

  private def mojibake(s: String): Int = {
    val m = Mojibake.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Double-encoded-UTF-8 repair kernel: re-encode through
    * windows-1252 — the charset browsers and real-world pipelines
    * actually mis-decode with (0x80–0x9F map to €…™, which is why
    * mojibake reads "â€™", never latin-1's invisible C1 controls) —
    * then strict UTF-8 decode. Guarded three ways: detector must fire,
    * every char must be cp1252-encodable (CharsetEncoder.canEncode,
    * not the silently-mangling getBytes), and the repair must strictly
    * reduce the artifact count. Invalid UTF-8 byte runs surface as a
    * CharacterCodingException (REPORT action), not replacement chars —
    * such rows pass through unrepaired.
    */
  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  def fixUtf8Compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (mojibake(str) == 0) return s
    if (!Cp1252.newEncoder().canEncode(str)) return s
    try {
      val bytes = str.getBytes(Cp1252)
      val fixed = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (mojibake(fixed) < mojibake(str)) UTF8String.fromString(fixed) else s
    } catch {
      case _: java.nio.charset.CharacterCodingException => s
    }
  }

  case class FixDoubleUtf8(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "fix_double_utf8"
    override protected def nullSafeEval(input: Any): Any =
      fixUtf8Compute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.NativeExpressions.fixUtf8Compute($c);")
    override protected def withNewChildInternal(newChild: Expression): FixDoubleUtf8 =
      copy(child = newChild)
  }

  def fixDoubleUtf8(c: Column): Column =
    GraftColumnBridge.column(FixDoubleUtf8(GraftColumnBridge.expression(c)))

  /** One-pass readability counters (round 4): words (maximal runs of
    * non-[\t\n\f\r ] chars — the BpeWsClass split), sentence marks
    * (.!? occurrences), vowel runs (maximal [aeiouy]+ runs of the
    * Locale.ROOT-lowercased text), and no-vowel words (lower(word)
    * contains no [aeiouy]) — the four integers behind the Flesch
    * panel, without two regexp_replace passes plus a per-word
    * interpreted rlike. Integer-exact vs the composed formulation
    * (parity-spec'd), so the readability oracle is unchanged.
    */
  def readabilityCompute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val raw = text.toString
    // vowel runs on the FULL-STRING lowercase (same trap as TextStats:
    // per-char lowering diverges on expanding mappings like U+0130)
    val lt = raw.toLowerCase(java.util.Locale.ROOT)
    var runs = 0
    var inRun = false
    var i = 0
    while (i < lt.length) {
      val c = lt.charAt(i)
      val v = c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u' || c == 'y'
      if (v) { if (!inRun) { runs += 1; inRun = true } }
      else inRun = false
      i += 1
    }
    def isWs(c: Char) = c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' '
    def isAsciiVowel(c: Char) = "aeiouyAEIOUY".indexOf(c) >= 0
    var nWords = 0
    var nNoVowel = 0
    var nSent = 0
    var w0 = -1
    var wordHasVowel = false
    var wordHasNonAscii = false
    def closeWord(end: Int): Unit = if (w0 >= 0) {
      nWords += 1
      // rare path: a word with no ASCII vowel may still gain one from
      // a full lowercase (U+0130 -> "i" + combining dot), which is what
      // lower(w) rlike [aeiouy] sees — replicate exactly
      val has =
        if (wordHasVowel) true
        else if (!wordHasNonAscii) false
        else {
          val lw = raw.substring(w0, end).toLowerCase(java.util.Locale.ROOT)
          var j = 0
          var found = false
          while (j < lw.length && !found) {
            val c = lw.charAt(j)
            found = c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u' || c == 'y'
            j += 1
          }
          found
        }
      if (!has) nNoVowel += 1
      w0 = -1; wordHasVowel = false; wordHasNonAscii = false
    }
    i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '.' || c == '!' || c == '?') nSent += 1
      if (isWs(c)) closeWord(i)
      else {
        if (w0 < 0) w0 = i
        if (isAsciiVowel(c)) wordHasVowel = true
        if (c > 127) wordHasNonAscii = true
      }
      i += 1
    }
    closeWord(raw.length)
    org.apache.spark.sql.catalyst.InternalRow(nWords, nSent, runs, nNoVowel)
  }

  case class ReadabilityStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_words", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_sent_raw", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_runs", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_novowel", org.apache.spark.sql.types.IntegerType, nullable = false)))
    override def prettyName: String = "readability_stats"
    override protected def nullSafeEval(input: Any): Any =
      readabilityCompute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.NativeExpressions.readabilityCompute($c);")
    override protected def withNewChildInternal(newChild: Expression): ReadabilityStats =
      copy(child = newChild)
  }

  def readabilityStats(c: Column): Column =
    GraftColumnBridge.column(ReadabilityStats(GraftColumnBridge.expression(c)))

  /** Gopher top-n-gram panel in one pass: tokenize once, then for each
    * n in [minN, maxN] count token n-grams (HashMap) and keep the most
    * frequent with ties to the lexicographically smallest (ASCII-safe:
    * grams are [a-z0-9 ], where UTF-16 compareTo ≡ UTF8/DuckDB byte
    * order). frac = cnt·len(gram) / len(space-joined tokens), the same
    * int-product-then-one-divide the oracle computes — IEEE-identical.
    * Equivalent to modeOf(shinglesOf(tokens(text), n)) per n, but the
    * tokenizer runs once and nothing is interpreted per element
    * (aggregate/array_sort HOFs are CodegenFallback).
    */
  def topNgramsCompute(text: UTF8String, minN: Int, maxN: Int): ArrayData = {
    val toks = new java.util.ArrayList[String]()
    var totalChars = 0
    val m = TokenRx.matcher(text.toString.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) { val t = m.group(); toks.add(t); totalChars += t.length }
    val ntok = toks.size()
    val dn = if (ntok == 0) 0 else totalChars + (ntok - 1)
    val rows = new java.util.ArrayList[Any]()
    var n = minN
    while (n <= maxN) {
      if (ntok >= n) {
        val counts = new java.util.HashMap[String, Integer]()
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i + n <= ntok) {
          sb.setLength(0)
          var k = 0
          while (k < n) { if (k > 0) sb.append(' '); sb.append(toks.get(i + k)); k += 1 }
          val g = sb.toString
          val prev = counts.get(g)
          counts.put(g, if (prev == null) 1 else prev + 1)
          i += 1
        }
        var bestG: String = null
        var bestC = 0
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.intValue()
          if (c > bestC || (c == bestC && e.getKey.compareTo(bestG) < 0)) {
            bestG = e.getKey; bestC = c
          }
        }
        // Long product: cnt × gram length can exceed Int for a ~GB-scale
        // single-token document; the oracle's product is BIGINT
        val frac = (bestC.toLong * bestG.length).toDouble / dn.toDouble
        rows.add(org.apache.spark.sql.catalyst.InternalRow(
          n, UTF8String.fromString(bestG), bestC, frac))
      }
      n += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }

  case class TopNgrams(child: Expression, minN: Int, maxN: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("gram", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("frac", DoubleType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "top_ngrams"
    override protected def nullSafeEval(input: Any): Any =
      topNgramsCompute(input.asInstanceOf[UTF8String], minN, maxN)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.plans.NativeExpressions.topNgramsCompute($c, $minN, $maxN)")
    override protected def withNewChildInternal(newChild: Expression): TopNgrams =
      copy(child = newChild)
  }

  /** Hilbert curve index (Wikipedia xy2d): maps a (x, y) cell of the
    * 2^bits × 2^bits grid to its position along the Hilbert curve.
    * Pure integer rotate/reflect loop — exact in any engine; the
    * oracle replays it as a 16-step packed-xy struct fold (x·65536+y
    * in ONE slot, because the swap step is a 2-cycle that cannot be
    * safely field-ordered under DuckDB's sequential struct_pack
    * accumulator — the ts_cusum lesson).
    */
  def hilbertCompute(x0: Long, y0: Long, bits: Int): Long = {
    val n = 1L << bits
    val mask = n - 1L
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = mask - x; y = mask - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  case class HilbertIndex(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def prettyName: String = "hilbert_index"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      hilbertCompute(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.plans.NativeExpressions.hilbertCompute($a, $b, $bits)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
        : HilbertIndex = copy(left = newLeft, right = newRight)
  }

  /** Poisson(1) CDF thresholds as floor(t·2³²)+1 — the numeric twin of
    * statsBootstrap's 8-hex-char string cuts: for a draw v (unsigned
    * 32-bit), hex(v) < hex(cut) ⟺ v < cut (equal-width lowercase hex
    * compares lexicographically as numerically).
    */
  private val PoissonCutLongs: Array[Long] =
    Array(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462)
      .map(t => math.floor(t * 4294967296.0).toLong + 1L)

  /** All `b` Poisson-bootstrap weights for one row in a single tight
    * loop (stats_bootstrap, r5 VERDICT #3): b/4 md5 digests of
    * "key:group", each yielding four unsigned 32-bit draws (big-endian
    * 4-byte slices — the numeric value of the composed formulation's
    * 8-hex-char substring), inverted through the Poisson(1) CDF. Bit-
    * identical to substring(md5(concat(key,':',b div 4)),(b%4)*8+1,8)
    * compared against the hex cuts — the DuckDB oracle replays THAT
    * form unchanged. The win over the composed expression tree: one
    * digest instance, zero string allocations, 32 integer compares —
    * instead of 32 concat+md5+substring evaluations per row.
    */
  def bootstrapWeightsCompute(key: Long, b: Int): ArrayData = {
    val md = Md5.get()
    val out = new Array[Long](b)
    val groups = b / 4
    var g = 0
    while (g < groups) {
      val h = md.digest((key.toString + ":" + g)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var i = 0
      while (i < 4) {
        val o = i * 4
        val v = ((h(o) & 0xffL) << 24) | ((h(o + 1) & 0xffL) << 16) |
          ((h(o + 2) & 0xffL) << 8) | (h(o + 3) & 0xffL)
        out(g * 4 + i) =
          if (v < PoissonCutLongs(0)) 0L
          else if (v < PoissonCutLongs(1)) 1L
          else if (v < PoissonCutLongs(2)) 2L
          else if (v < PoissonCutLongs(3)) 3L
          else 4L
        i += 1
      }
      g += 1
    }
    ArrayData.toArrayData(out)
  }

  case class BootstrapWeights(child: Expression, b: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(b % 4 == 0 && b > 0, s"b must be a positive multiple of 4, got $b")
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "bootstrap_weights"
    override protected def nullSafeEval(input: Any): Any =
      bootstrapWeightsCompute(input.asInstanceOf[Long], b)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.plans.NativeExpressions.bootstrapWeightsCompute($c, $b)")
    override protected def withNewChildInternal(newChild: Expression): BootstrapWeights =
      copy(child = newChild)
  }

  def bootstrapWeights(c: Column, b: Int): Column =
    GraftColumnBridge.column(BootstrapWeights(GraftColumnBridge.expression(c), b))

  /** Jaro–Winkler similarity, bit-compatible with DuckDB 1.0's
    * `jaro_winkler_similarity` (RapidFuzz semantics) — verified against
    * DuckDB over 4k+ randomized cases plus the classic literature
    * pairs: match window floor(max/2)−1 (clamped ≥0), transpositions
    * halved, sim accumulated as (m/|a| + m/|b|) + (m−t)/m then /3, the
    * Winkler bonus sim += 0.1·prefix·(1−sim) ONLY when sim > 0.7
    * (prefix capped at 4), and BOTH-empty → 0.0 (RapidFuzz's edge
    * choice, not the textbook 1.0). The op ORDER matters: it is the
    * exact IEEE sequence the C++ runs, so emitted doubles hash
    * cross-engine without rounding. Match units are UTF-8 BYTES of the
    * UTF8String — DuckDB's C++ walks the raw UTF-8 buffer, so a
    * code-unit (UTF-16) walk diverges on any non-ASCII pair (e.g.
    * jaro_winkler_similarity('😀x','x😀') = 0.8667 over bytes but 0.0
    * over UTF-16 units); operating on bytes keeps the bit-compat claim
    * true for ALL input, not just the ASCII the oracle exercises.
    */
  def jaroWinklerCompute(au: UTF8String, bu: UTF8String): Double = {
    val a = au.getBytes
    val b = bu.getBytes
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb, i + window + 1)
      var j = math.max(0, i - window)
      var done = false
      while (j < hi && !done) {
        if (!bm(j) && a(i) == b(j)) {
          am(i) = true; bm(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(j)) j += 1
        if (a(i) != b(j)) t += 1
        j += 1
      }
      i += 1
    }
    t /= 2
    var sim = m.toDouble / la
    sim += m.toDouble / lb
    sim += (m - t).toDouble / m
    sim /= 3.0
    if (sim > 0.7) {
      var p = 0
      val maxP = math.min(math.min(la, lb), 4)
      while (p < maxP && a(p) == b(p)) p += 1
      sim += 0.1 * p * (1.0 - sim)
    }
    sim
  }

  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "jaro_winkler"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      jaroWinklerCompute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.plans.NativeExpressions.jaroWinklerCompute($a, $b)")
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
        : JaroWinkler = copy(left = newLeft, right = newRight)
  }

  /** Column-API entry points (Spark 4 classic Column↔Expression bridge). */
  def simhash64(c: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(c)))
  def minhashSig(c: Column, k: Int): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(c), k))
  def dotF(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProductF(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def topNgrams(c: Column, minN: Int, maxN: Int): Column =
    GraftColumnBridge.column(TopNgrams(GraftColumnBridge.expression(c), minN, maxN))
  def jaroWinkler(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      JaroWinkler(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def hilbertIndex(x: Column, y: Column, bits: Int): Column =
    GraftColumnBridge.column(
      HilbertIndex(GraftColumnBridge.expression(x), GraftColumnBridge.expression(y), bits))

  /** A query value that generated code reads from its `references`
    * array. Whole-stage codegen writes a numeric literal into the Java
    * source, so a plan that differs from a compiled one only in such a
    * value compiles a new class; this leaf is not foldable, so
    * ConstantFolding keeps it a reference and the code stays the same.
    */
  case class QueryValue(value: Any, dataType: DataType) extends LeafExpression {
    override def foldable: Boolean = false
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override def toString: String = s"value($value)"
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("value", value, CodeGenerator.boxedType(dataType))
      val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
      ev.copy(code = code"", isNull = FalseLiteral, value = JavaCode.expression(read, dataType))
    }
  }

  /** `v` (not null) as a [[QueryValue]]: a number or flag the plan compares against. */
  def queryValue(v: Any): Column = {
    val l = Literal(v)
    GraftColumnBridge.column(QueryValue(l.value, l.dataType))
  }

  /** `c IN values` as an `InSet`, whatever the number of values. Spark
    * builds an `In` of literals for up to ten values, which generates
    * one comparison per value; an `InSet` generates one lookup in a set
    * passed by reference, and is pushed to a file scan as `In`. The set
    * is a `HashSet` at every size: the code casts the reference to the
    * set's class, and `toSet` picks a different class for one to four
    * values.
    */
  def isInSet(c: Column, values: Iterable[String]): Column =
    GraftColumnBridge.column(InSet(GraftColumnBridge.expression(c),
      scala.collection.immutable.HashSet.from(values.iterator.map(v => UTF8String.fromString(v): Any))))
}
