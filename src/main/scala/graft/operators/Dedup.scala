package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication suite for the training-data pipeline (builder brief):
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - Signatures (minhash, simhash, fingerprints) are **per-row array
  *    expressions** — computed in a narrow map, no shuffle, inside
  *    codegen'd projections.
  *  - Candidate generation shuffles only on **fixed-width band keys**
  *    (md5 strings), never on raw text.
  *  - Verification (exact Jaccard) runs only on candidate pairs via
  *    `array_intersect` on the two shingle arrays — no shingle-level
  *    explode join of the whole corpus.
  * The exact all-pairs Jaccard (inverted shingle index) is kept as the
  * small-scale oracle baseline; MinHash-LSH is the scale path.
  */
object Dedup {

  /** A5 exact dedup keyed by content hash: the shuffle key is a 256-bit
    * digest, not the (potentially megabyte) payload.
    */
  def exactByHash(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.groupBy(sha2(textCol, 256).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("copies"))

  /** Universal-hash min-hash constants: p Mersenne-prime modulus, odd
    * multipliers. a*h+b stays under 2^63 for 32-bit h, so the identical
    * integer arithmetic runs un-overflowed in Spark longs and DuckDB
    * BIGINTs.
    */
  val MinhashP: Long = 2147483647L
  def minhashA(i: Int): Long = 1103515245L + 2L * i
  def minhashB(i: Int): Long = 12345L + 7L * i

  /** 32-bit base hash per shingle: first 8 md5 hex digits as an integer.
    * ONE digest per shingle — the k per-seed hashes derive from it
    * affinely ([[minhashSig]]), instead of k full md5 runs per shingle
    * (the dominant CPU cost of the old scheme at any scale).
    */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => conv(substr(md5(s), lit(1), lit(8)), 16, 10).cast("long"))

  /** Per-seed min-hash over a PRE-HASHED long array ([[shingleHashes]]):
    * min of the affine universal hash (a_i*h + b_i) mod p. Pure integer
    * arithmetic — bit-identical across engines by construction.
    *
    * Measured note (history): with the old k×md5 scheme the HOF
    * formulation beat the native one-pass expression (md5 kernel
    * dominated; NativeExpressions.MinHashSig kept as the parity-tested
    * record of that A/B). Universal hashing removes the md5 bottleneck
    * outright — one digest per shingle, then k cheap integer maps.
    */
  def minhashSigAffine(hashArr: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(hashArr, h =>
        (lit(minhashA(i)) * h + lit(minhashB(i))) % lit(MinhashP)))): _*)

  /** Min-hash signature of a SHINGLE-STRING array — the stable public
    * contract (callers passing shingles keep working; the affine scheme
    * would otherwise coerce strings to null and collapse every band).
    * Pipelines sharing the hash array across signatures should compute
    * [[shingleHashes]] once behind a barrier and call
    * [[minhashSigAffine]] directly.
    */
  def minhashSig(shingleArr: Column, k: Int): Column =
    minhashSigAffine(shingleHashes(shingleArr), k)

  /** The original k×md5 formulation (min of md5("i:"+s) hex strings) —
    * retained for the native-expression parity spec.
    */
  def minhashSigHof(shingleArr: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingleArr, s => md5(concat(lit(s"$i:"), s))))): _*)

  /** LSH band keys: b bands of r signature rows, digested to fixed width. */
  def bandKeys(sigArr: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { j =>
      val parts = (0 until rows).map(r =>
        element_at(sigArr, j * rows + r + 1).cast("string"))
      md5(concat_ws("|", parts: _*))
    }: _*)

  /** MinHash+LSH near-dup pairs over (id, text):
    * shingle → k-signature → band join → verified Jaccard on candidates.
    * Returns (id_a, id_b, inter, na, nb, jaccard), exact-verified.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, bands: Int = 4): DataFrame = {
    val rows = k / bands
    // Materialize the shingle arrays: without the barrier CollapseProject
    // inlines the tokenizer into every one of the k signature expressions
    // (k× recompute); with it, signatures read the cached array column.
    // The base-hash array rides inside the cache barrier: without it,
    // CollapseProject would inline the per-shingle md5 into every one
    // of the k signature lambdas (k× digest work — the same trap the
    // shingle-tokenizer barrier guards against).
    val shingled = docs.select(
      col(idCol).as("id"),
      array_distinct(TextFunctions.shingles(col(textCol))).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("hs", shingleHashes(col("sh")))
      .cache()
    // Candidate generation shuffles (id, band_key) ONLY — a pair that
    // collides in multiple bands is deduplicated while the rows are
    // still two ids wide. Shingle arrays join back once per UNIQUE
    // pair, so at scale the band join never carries payload arrays and
    // the exact intersection runs exactly once per candidate (not once
    // per colliding band).
    // cache: the self-join below evaluates both branches — without the
    // barrier the signature work runs twice over the corpus
    val banded = shingled
      .withColumn("bands", bandKeys(minhashSigAffine(col("hs"), k), bands, rows))
      .select(col("id"), posexplode(col("bands")).as(Seq("band_id", "band_key")))
      .cache()
    val candidates = banded.select(col("band_id"), col("band_key"), col("id").as("id_a"))
      .join(banded.select(col("band_id"), col("band_key"), col("id").as("id_b")),
        Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    candidates
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
  }

  /** n-gram Jaccard pairs via a document-frequency-capped inverted
    * shingle index. Shingles appearing in more than `maxDf` documents
    * (the hot vocabulary) are removed from the pair-generating
    * self-join — the standard bound that keeps each shingle's pair
    * contribution ≤ maxDf² instead of quadratic in corpus size (one
    * shingle shared by 10⁵ docs would otherwise emit 10¹⁰ candidate
    * rows). Scores stay exact: the rare-shingle co-occurrence count
    * (one groupBy, no arrays) plus the overlap of the per-doc HOT
    * shingle sets — arrays bounded by the hot-vocabulary size, not
    * document length, so the join-back payload stays narrow. The
    * approximation is recall-only: a pair whose every shared shingle
    * is hot is not emitted (at the default cap such pairs share only
    * corpus-level boilerplate). At 100 TB prefer [[minhashLshPairs]];
    * this is the exact-score variant.
    */
  /** Threshold similarity join with PREFIX FILTERING (Chaudhuri et al.
    * ICDE'06; Xiao et al. WWW'08 "PPJoin"): emits every pair with
    * n-gram Jaccard ≥ τ, exactly — the pruning is lossless. Each doc's
    * shingles are ordered by ascending document frequency (rarest
    * first); if J(a,b) ≥ τ then |a∩b| ≥ ⌈τ·|a|⌉, so the prefix of
    * length |a|−⌈τ·|a|⌉+1 under the GLOBAL df order must contribute a
    * candidate token — only prefixes enter the inverted index, so
    * candidate volume is driven by RARE tokens (the opposite tail from
    * the df-cap's). τ is a rational k/10 and all pruning arithmetic is
    * integer (prefix length via ⌈τn⌉ = (k·n+9) div 10, length filter
    * via cross-multiplication), so no pair can be lost to a double
    * rounding at a boundary. Verification is the native sorted
    * two-pointer intersection over the pair's pre-sorted arrays.
    *
    * Scale shape: one vocabulary groupBy (df), one keyed per-doc
    * window (prefix rank), one equi-join on prefix tokens, one exact
    * verify join — no corpus² anywhere. Complements
    * [[ngramJaccardPairs]] (top-k by score, df-cap recall bound):
    * this one is threshold-complete, the standard contract for
    * near-dup REMOVAL at a fixed similarity bar.
    */
  def jaccardJoinPrefix(docs: DataFrame, idCol: String, textCol: String,
                        tauTenths: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tauTenths > 0 && tauTenths < 10, "tau = tauTenths/10 in (0,1)")
    val k = tauTenths.toLong
    // sorted ONCE: the verify step's two-pointer intersection needs
    // sorted arrays; cached because prefix build + verify both consume
    val sh = graft.Tables.spreadToWidth(docs).select(col(idCol).as("id"),
        sort_array(array_distinct(TextFunctions.shingles(col(textCol)))).as("sh"))
      .filter(size(col("sh")) > 0)
      .cache()
    val toks = sh.select(col("id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("s"))
    val dfreq = toks.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // prefix length = n - ceil(τn) + 1, all-integer: ceil(kn/10) = (kn+9) div 10
    val ceilTauN = {
      val a = col("n") * k + 9L
      (a - pmod(a, lit(10L))) / 10L
    }
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val pref = toks.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceilTauN.cast("long") + 1L)
      .select(col("id"), col("n"), col("s"))
    // candidates: prefix-token equi-join + integer length filter
    // (J ≥ τ ⟹ 10·min(na,nb) ≥ k·max(na,nb))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          least(col("a.n"), col("b.n")) * 10L >= greatest(col("a.n"), col("b.n")) * k)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .withColumn("inter",
        graft.plans.NativeExpressions.sortedIntersectCount(col("sha"), col("shb")).cast("int"))
      .withColumn("na", size(col("sha"))).withColumn("nb", size(col("shb")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= k.toDouble / 10.0)
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"), col("jaccard"))
  }

  /** Threshold-complete CONTAINMENT join: emits every ordered pair
    * (a, b), a ≠ b, with |a∩b| / |a| ≥ τ — the asymmetric cousin of
    * [[jaccardJoinPrefix]] that catches a short document swallowed by
    * a longer one (quote-plus-commentary, boilerplate-wrapped reposts)
    * where symmetric Jaccard stays low. Prefix filtering applies to
    * the CONTAINED side only: if |a∩b| ≥ ⌈τ·|a|⌉ then one of a's
    * |a| − ⌈τ·|a|⌉ + 1 globally-rarest tokens must appear in b, so
    * a's prefixes probe b's FULL inverted index (the Xiao et al.
    * WWW'08 overlap-join degradation — the b side cannot be prefixed
    * without losing pairs). Pruning and the final threshold are pure
    * integer cross-multiplications (inter·10 ≥ |a|·k, |b|·10 ≥ |a|·k),
    * so no boundary pair is lost to double rounding; the emitted score
    * is the one double division. Scale shape matches the Jaccard
    * join: vocabulary groupBy, keyed prefix window, token equi-join,
    * sorted two-pointer verify — no corpus² stage.
    */
  def containmentJoinPrefix(docs: DataFrame, idCol: String, textCol: String,
                            tauTenths: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tauTenths > 0 && tauTenths < 10, "tau = tauTenths/10 in (0,1)")
    val k = tauTenths.toLong
    val sh = graft.Tables.spreadToWidth(docs).select(col(idCol).as("id"),
        sort_array(array_distinct(TextFunctions.shingles(col(textCol)))).as("sh"))
      .filter(size(col("sh")) > 0)
      .cache()
    val toks = sh.select(col("id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("s"))
    val dfreq = toks.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ceilTauN = {
      val a = col("n") * k + 9L
      (a - pmod(a, lit(10L))) / 10L
    }
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val pref = toks.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceilTauN.cast("long") + 1L)
      .select(col("id"), col("n"), col("s"))
    val cand = pref.as("a").join(toks.as("b"),
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id") &&
          col("b.n") * 10L >= col("a.n") * k)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .withColumn("inter",
        graft.plans.NativeExpressions.sortedIntersectCount(col("sha"), col("shb")).cast("int"))
      .withColumn("na", size(col("sha"))).withColumn("nb", size(col("shb")))
      .filter(col("inter") * 10L >= col("na").cast("long") * k)
      .withColumn("containment",
        col("inter").cast("double") / col("na").cast("double"))
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"),
        col("containment"))
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDf: Int = 256): DataFrame = {
    val shingled = graft.Tables.spreadToWidth(docs).select(
      col(idCol).as("id"),
      array_distinct(TextFunctions.shingles(col(textCol))).as("sh"))
      .filter(size(col("sh")) > 0)
    val inv = shingled.select(
      struct(col("id"), size(col("sh")).as("n")).as("d"), explode(col("sh")).as("s"))
    // ONE groupBy builds the posting list per shingle; its length IS
    // the document frequency, so the cap is a filter on the grouped
    // row — no separate df scan, no self-join. Sorted in the aggregate
    // so the in-row pair expansion references a plain attribute (a
    // lambda referencing an expression subtree re-evaluates it per
    // element — the CollapseProject trap documented in NOTES.md).
    // Each posting entry carries (id, |sh|): the per-doc shingle count
    // rides into the pair expansion, so the candidate stream never
    // joins back to a corpus-sized size table (two fewer shuffles of
    // the pair stream — the expensive side at scale).
    // cache: consumed by both the rare (pair-expansion) and hot
    // (per-doc set) branches — without the barrier each branch re-runs
    // the scan+shingle+groupBy. Vocabulary-sized, i.e. strictly
    // smaller than the corpus-sized shingle cache it replaces.
    val posting = inv.groupBy(col("s"))
      .agg(sort_array(collect_list(col("d"))).as("ids"))
      .cache()
    val rarePost = posting.filter(size(col("ids")) <= maxDf)
    // hot postings (df > maxDf) are not pair-expanded; their shingles
    // ride per-doc as a SMALL set (bounded by the hot-vocabulary size),
    // sorted ONCE here so the overlap below is a native two-pointer
    // count instead of array_intersect's per-pair hash-set + array
    // allocation
    val hotPerDoc = posting.filter(size(col("ids")) > maxDf)
      .select(col("s"), explode(col("ids")).as("d"))
      .groupBy(col("d.id").as("id"))
      .agg(sort_array(collect_set(col("s"))).as("hot"))
    // ordered pairs (id_a < id_b) expanded IN-ROW from each rare
    // posting list: ≤ maxDf²/2 pairs per shingle by construction
    val pairs = rarePost.select(explode(flatten(transform(col("ids"),
        (x, i) => transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.getField("id").as("a"), y.getField("id").as("b"),
            x.getField("n").as("na"), y.getField("n").as("nb")))))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"), col("p.na").as("na"), col("p.nb").as("nb"))
      // a duplicated doc id appears twice in a sorted posting list and
      // would pair with itself — the strict < the old self-join had
      .filter(col("id_a") =!= col("id_b"))
    // na/nb ride as max() aggregates rather than grouping keys: for the
    // unique-id contract they are constant within a pair group (same
    // result either way), but a duplicated doc id with divergent texts
    // would otherwise SPLIT a pair into per-(na,nb) fragments with
    // partial inter_rare counts — one row per pair is kept regardless
    val commonRare = pairs
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter_rare"), max(col("na")).as("na"), max(col("nb")).as("nb"))
    // exact intersection = rare co-occurrences + hot-set overlap (the
    // hot arrays are tiny, so the join-back payload stays narrow)
    commonRare
      .join(hotPerDoc.select(col("id").as("id_a"), col("hot").as("hot_a")), Seq("id_a"), "left")
      .join(hotPerDoc.select(col("id").as("id_b"), col("hot").as("hot_b")), Seq("id_b"), "left")
      .withColumn("inter",
        (col("inter_rare") + graft.plans.NativeExpressions.sortedIntersectCount(
          coalesce(col("hot_a"), array()),
          coalesce(col("hot_b"), array()))).cast("int"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"), col("jaccard"))
  }

  /** Incremental dedup: drop arriving docs whose content fingerprint is
    * already in the seen-store, without rescanning the corpus — the
    * production shape for continuously-ingested training data (the
    * store is the small side: one 32-byte digest per retained doc).
    * The key is [[TextFunctions.dedupKey]] — the pipeline's normalized
    * content hash (raw-byte sha256 would never match a store populated
    * with pipeline fingerprints, and trivial punctuation variants would
    * sail through), with a raw-digest fallback for documents carrying
    * no latin-alphanumeric content at all (else every CJK doc would
    * share one key). Returns the
    * surviving docs WITH their `fingerprint` column so callers append
    * to the store without re-hashing. Also dedups WITHIN the batch
    * (first by id wins).
    */
  def incremental(newDocs: DataFrame, textCol: String, idCol: String,
                  seenFingerprints: DataFrame): DataFrame = {
    val seen = seenFingerprints
      .select(col(seenFingerprints.columns.head).as("fingerprint"))
    val inBatchFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint")).orderBy(col(idCol))
    newDocs.withColumn("fingerprint", TextFunctions.dedupKey(col(textCol)))
      .withColumn("__rn", row_number().over(inBatchFirst))
      .filter(col("__rn") === 1).drop("__rn")
      .join(seen, Seq("fingerprint"), "left_anti")
  }

  /** Streaming exact dedup: watermarked dedup on the content digest.
    * dropDuplicatesWithinWatermark is the variant that actually EVICTS
    * state as the watermark advances — plain dropDuplicates on a
    * non-event-time key keeps every digest forever (the watermark would
    * only filter late input), growing state monotonically on a
    * mostly-unique stream. The batch analogue is [[incremental]] with a
    * persistent store.
    */
  def streamingDedup(stream: DataFrame, textCol: String, tsCol: String,
                     watermarkDelay: String): DataFrame = {
    // same normalized dedup key as [[incremental]] — the two are
    // batch/streaming analogues and must retain the same documents
    val marked = stream
      .withColumn("__fp", TextFunctions.dedupKey(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
    // the WithinWatermark variant is streaming-only; in batch the plain
    // variant has identical output semantics (and no state to bound)
    val deduped =
      if (stream.isStreaming) marked.dropDuplicatesWithinWatermark("__fp")
      else marked.dropDuplicates("__fp")
    deduped.drop("__fp")
  }

  /** Connected components over verified near-dup pairs → dedup clusters:
    * iterative min-label propagation (each id adopts the smallest id
    * reachable through pairs) until fixpoint. Returns (id, cluster)
    * where cluster = min id of the component — "keep cluster == id,
    * drop the rest" is the dedup decision.
    *
    * Scale: each iteration is one join + one aggregate on the PAIR set
    * (candidates only, not the corpus); iterations ≤ diameter of the
    * largest cluster (near-dup clusters are shallow). The fixpoint test
    * is one aggregate — cheap relative to the join.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .distinct()
      .cache()
    // labels only ever DECREASE (min-propagation), so the label sum is
    // the fixpoint witness — one aggregate per round instead of a
    // join + count against the previous round (measured ~25% of
    // per-round wall time at sf0.1). maxIter + 1 rounds: a component
    // whose last label change lands on round maxIter needs the
    // confirming round. The checkpointed size stats double their digit
    // count per round; a reset every 8th round bounds them without
    // paying the wrapper's Row-conversion hop on every round.
    // (r12 note: composing a pointer-jump after this propagate step —
    // the graph_mst relabel recipe — was tried and measured a wash:
    // these pair graphs converge in few rounds already, and the extra
    // broadcast build plus the doubled in-plan propagate evaluation
    // offset the rounds saved. Kept single-step.)
    val fp = graft.Iterate.fixpoint(
        edges.select(col("id_a").as("id")).distinct().withColumn("cluster", col("id")),
        maxIter + 1, resetEvery = 8) { labels =>
      val neighborMin = edges
        .join(labels, edges("id_b") === labels("id"))
        .groupBy(edges("id_a").as("id"))
        .agg(min(col("cluster")).as("nmin"))
      labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
    }(graft.Iterate.unchanged(graft.Iterate.labelSum("cluster")))
    // the returned labels are a checkpoint: the edge cache backs nothing
    // downstream and would otherwise pin storage for the session
    edges.unpersist(blocking = false)
    // capped labels are NOT component minima — downstream "keep
    // cluster == id" decisions would silently keep the wrong rows
    fp.orThrow("Dedup.clusters")
  }

  private val HexDigits = "0123456789abcdef"

  /** Integer value [0,15] of hex digit at 0-based position `p` of digest
    * `h`. Pure integer arithmetic so the DuckDB oracle reproduces it
    * bit-for-bit.
    */
  private def hexVal(h: Column, p: Column): Column =
    call_function("instr", lit(HexDigits), h.substr(p + 1, lit(1))) - 1

  /** Power-of-two mask for bit (i % 4) inside a hex digit. */
  private def bitMask(i: Column): Column = {
    val m = pmod(i, lit(4))
    when(m === 0, 1).when(m === 1, 2).when(m === 2, 4).otherwise(8)
  }

  /** SimHash as a 64-char bit string: per-token md5, ±1 vote per bit,
    * sign of the vote sum. Per-row expression — no shuffle, no UDF.
    *
    * Loop order matters: folding ONCE over the hashes with a 64-wide
    * accumulator visits each token hash exactly once. The transposed
    * form (per-bit aggregate over the hashes) captures the tokenizer
    * subtree inside a 64-element lambda and re-evaluates it per bit —
    * 64× the work (measured: 31s → 0.9s at sf0.1).
    */
  def simhash64(textCol: Column): Column =
    graft.plans.NativeExpressions.simhash64(textCol)

  /** Interpreted HOF formulation of [[simhash64]] — kept as the
    * readable reference; the parity spec asserts bit-equality.
    */
  def simhash64Hof(textCol: Column): Column = {
    // binary-feature simhash: one vote per DISTINCT token (halves the
    // interpreted higher-order-function work vs tf-weighted votes)
    val hashes = transform(array_distinct(TextFunctions.tokens(textCol)), t => md5(t))
    val contribs = (h: Column) =>
      transform(sequence(lit(0), lit(63)), { i =>
        val hv = hexVal(h, floor(i / 4).cast("int"))
        when(hv.bitwiseAND(bitMask(i)) =!= 0, 1).otherwise(-1)
      })
    val votes = aggregate(hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, contribs(h), (a, b) => a + b))
    concat_ws("", transform(votes, v => when(v > 0, "1").otherwise("0")))
  }
}
