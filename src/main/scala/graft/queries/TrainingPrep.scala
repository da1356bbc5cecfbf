package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Training-data preparation operators (builder brief: "operations a
  * large-scale training-data pipeline would need") beyond the cleaning/
  * dedup/curation families already registered:
  *
  *  - line-level dedup (CCNet-style boilerplate line removal)
  *  - exact-substring duplication coverage (Lee et al. 2022,
  *    "Deduplicating Training Data Makes Language Models Better" —
  *    the ExactSubstr signal, bucketed instead of suffix-array)
  *  - sequence packing (docs -> fixed-token-budget training chunks)
  *  - dataset mixing (per-source deterministic sampling rates)
  *
  * Every operator is shuffle-bounded: line/window frequency tables
  * shuffle only the (short) line/window key, packing windows are
  * PARTITIONED by a salt bucket (never a global sort), and mixing
  * broadcasts the per-source rate table. All are oracle-checked.
  */
object TrainingPrep {

  // ---- line-level dedup (CCNet) -------------------------------------------

  /** CCNet-style line dedup: split documents into lines, drop every line
    * whose corpus-wide occurrence count reaches `maxOcc` (boilerplate:
    * headers, footers, nav text), re-emit the document from its kept
    * lines in original order.
    *
    * The synthetic corpus has no newlines, so lines are derived
    * deterministically: a shared header line, the document body in
    * 12-token lines, and a per-source footer line — the oracle derives
    * the same. Header (every doc) and footers (every doc of a source)
    * cross the threshold and are dropped; body lines survive. The check
    * hashes the reassembled text, so kept-line CONTENT and ORDER are both
    * certified.
    *
    * Scale shape: the frequency table shuffles (line, count) — not
    * documents; the join back is line-keyed; reassembly is a per-doc
    * aggregation with map-side partials. At 100 TB you'd key the
    * frequency table by a 64-bit line hash instead of the raw line; the
    * raw line is kept here so the DuckDB oracle mirrors byte-for-byte.
    */
  def lineDedup(s: SparkSession, dir: String, maxOcc: Int = 5): DataFrame = {
    // bindOnce: the chunking lambda references the token array per
    // element — unbound, Catalyst re-inlines the tokenizer into every
    // chunk (O(tokens²) regex work per document).
    val lines = TextFunctions.bindOnce(TextFunctions.tokens(col("text"))) { toks =>
      val nChunks = floor((size(toks) + lit(11)).cast("double") / lit(12.0)).cast("int")
      val body = when(size(toks) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(toks, i * lit(12) + 1, lit(12)), " ")))
      concat(
        array(lit(LineDedupHeader)), body,
        array(concat(lit("footer "), col("source"))))
    }

    // cache: read twice (line explode + final n_lines join) — the
    // barrier also keeps the tokenizer out of both consumers' plans
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), lines.as("lines"))
      .cache()
    val ex = base.select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
    val keepable = ex.groupBy(col("line")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") < maxOcc)
      .select(col("line"))
    val agg = ex.join(keepable, "line")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct(col("pos"), col("line")))).as("arr"))
      .withColumn("kept_hash",
        sha2(array_join(transform(col("arr"), x => x.getField("line")), "\n"), 256))
    base.select(col("doc_id"), size(col("lines")).as("n_lines"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_hash"), sha2(lit(""), 256)).as("kept_hash"))
      .orderBy(col("doc_id"))
  }

  private val LineDedupHeader = "standard corpus boilerplate header"

  val lineDedupSql: String =
    s"""WITH tk AS (SELECT doc_id, source, regexp_extract_all(lower(text),'[a-z0-9]+') AS t FROM documents),
       |ln AS (SELECT doc_id,
       |    (['$LineDedupHeader'] ||
       |     list_transform(range((len(t)+11)//12), i -> array_to_string(t[i*12+1:i*12+12], ' ')) ||
       |     ['footer ' || source]) AS lines FROM tk),
       |ex AS (SELECT doc_id, u.pos, u.line FROM ln,
       |  UNNEST(list_transform(range(len(lines)),
       |    i -> struct_pack(pos := i, line := lines[i+1]))) AS s(u)),
       |keepable AS (SELECT line FROM ex GROUP BY line HAVING COUNT(*) < 5),
       |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
       |    sha256(string_agg(line, chr(10) ORDER BY pos)) AS kept_hash
       |  FROM ex JOIN keepable USING (line) GROUP BY doc_id)
       |SELECT l.doc_id, len(l.lines) AS n_lines,
       |  coalesce(a.n_kept, 0) AS n_kept,
       |  coalesce(a.kept_hash, sha256('')) AS kept_hash
       |FROM ln l LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- exact-substring duplication coverage (Lee et al. 2022) -------------

  /** Per-document exact-substring duplication: the fraction of a
    * document's `w`-token windows that also occur verbatim in ANOTHER
    * document. The reference signal behind suffix-array training-data
    * dedup (ExactSubstr) — here bucketed: window -> distinct-doc count
    * (one shuffle on the window key), windows with df >= 2 flagged,
    * per-doc coverage by a semi-join back. Top-50 most-duplicated docs.
    *
    * Scale shape: identical to the contamination/inverted-index family —
    * no all-pairs step; the window frequency table is corpus-vocabulary
    * sized and the semi-join shuffles (window, doc_id) only. At 100 TB
    * the window key would be xxhash64(window) (64-bit fixed width); the
    * raw string is kept so the oracle mirrors exactly.
    */
  def dedupSubstring(s: SparkSession, dir: String, w: Int = 5): DataFrame = {
    // cache: read twice (window explode + final total join); the barrier
    // keeps the shingle kernel to one evaluation over the corpus
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.shinglesOf(TextFunctions.tokens(col("text")), w).as("w"))
      .cache()
    val ex = base.select(col("doc_id"), explode(col("w")).as("s"))
    val dup = ex.distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("s"))
    val cnt = ex.join(dup, Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dups"))
    base.select(col("doc_id"), size(col("w")).as("total"))
      .filter(col("total") > 0)
      .join(cnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total"),
        coalesce(col("dups"), lit(0L)).as("dups"))
      .withColumn("coverage", col("dups").cast("double") / col("total").cast("double"))
      .orderBy(col("coverage").desc, col("doc_id"))
      .limit(50)
  }

  val dedupSubstringSql: String =
    """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text),'[a-z0-9]+') AS t FROM documents),
      |win AS (SELECT doc_id, unnest(list_transform(range(greatest(len(t)-4, 0)),
      |    i -> t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5])) AS s FROM tk),
      |dup AS (SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS df FROM win GROUP BY s)
      |  WHERE df >= 2),
      |cnt AS (SELECT doc_id, COUNT(*) AS dups FROM win JOIN dup USING (s) GROUP BY doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS total FROM win GROUP BY doc_id)
      |SELECT t.doc_id, t.total, coalesce(c.dups, 0) AS dups,
      |  CAST(coalesce(c.dups, 0) AS DOUBLE) / CAST(t.total AS DOUBLE) AS coverage
      |FROM tot t LEFT JOIN cnt c USING (doc_id)
      |ORDER BY coverage DESC, doc_id LIMIT 50""".stripMargin

  // ---- sequence packing ----------------------------------------------------

  /** Greedy sequence packing: concatenate documents in deterministic
    * order and cut fixed token-budget training chunks (`seqLen`), the
    * standard pre-training batch-prep step. A document's chunk is the
    * window its FIRST token lands in (greedy concat-then-split).
    *
    * Scale shape: packing is per-BUCKET (doc_id mod nBuckets), so the
    * running-sum window is PARTITIONED — there is no global sort and no
    * single-partition window (the round-1 scale-killer shape). Each
    * bucket packs independently; on a cluster, buckets are the unit of
    * parallelism and a bucket's chunk sequence is reproducible in
    * isolation. Emits per-chunk document and token counts.
    */
  def packSequences(s: SparkSession, dir: String,
      seqLen: Int = 256, nBuckets: Int = 8): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nBuckets)).as("bucket"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("chunk", expr(s"(cum - n_tok) div $seqLen"))
      .groupBy(col("bucket"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("bucket"), col("chunk"))
  }

  val packSequencesSql: String =
    """WITH d AS (SELECT doc_id, doc_id % 8 AS bucket,
      |    len(regexp_extract_all(lower(text),'[a-z0-9]+')) AS n_tok FROM documents),
      |c AS (SELECT bucket, doc_id, n_tok,
      |    CAST(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM d)
      |SELECT bucket, (cum - n_tok) // 256 AS chunk,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM c GROUP BY 1, 2 ORDER BY bucket, chunk""".stripMargin

  /** [[packSequences]] with REAL subword budgets (round 4): the packing
    * decision uses the trained-BPE token counts ([[graft.functions.Bpe]])
    * instead of the whitespace approximation — the composition a
    * production packing pipeline runs, since sequence budgets are
    * measured in TOKENIZER tokens. Oracle: the full BPE training
    * replay (TextOps.BpeTrainCtes) feeding the same pack SQL.
    */
  def packSequencesBpe(s: SparkSession, dir: String,
      seqLen: Int = 256, nBuckets: Int = 8): DataFrame = {
    val base = Tables(s, dir, "documents")
    val merges = graft.functions.Bpe.trainMerges(base, "doc_id", "text",
      sampleN = 64, nMerges = 8)
    val docs = base.select(col("doc_id"),
      pmod(col("doc_id"), lit(nBuckets)).as("bucket"),
      graft.functions.Bpe.bpeTokenCount(col("text"), merges).as("n_tok"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("chunk", expr(s"(cum - n_tok) div $seqLen"))
      .groupBy(col("bucket"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("bucket"), col("chunk"))
  }

  val packSequencesBpeSql: String =
    s"""WITH ${TextOps.BpeTrainCtes},
       |${TextOps.BpeDocCountsCte},
       |d AS (SELECT dd.doc_id, dd.doc_id % 8 AS bucket, COALESCE(b.n_bpe, 0) AS n_tok
       |  FROM documents dd LEFT JOIN bcnt b USING (doc_id)),
       |c AS (SELECT bucket, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM d)
       |SELECT bucket, (cum - n_tok) // 256 AS chunk,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
       |FROM c GROUP BY 1, 2 ORDER BY bucket, chunk""".stripMargin

  // ---- dataset mixing ------------------------------------------------------

  /** Deterministic dataset mixing: cap each source's expected
    * contribution at `target` documents by sampling with rate
    * min(1, target/n_source), decided per-document by a
    * content-independent hash of the id (never rand() — reproducible
    * across engines, runs, partitionings). Emits the per-source mixing
    * report (population, kept, rate) a pipeline audits before training.
    *
    * Scale shape: one count aggregation builds the rate table (one row
    * per source — broadcast), the keep decision is a narrow map. Rates
    * use only IEEE-exact ops (division, multiply, compare) so the oracle
    * matches bit-for-bit; a temperature-weighted variant would swap the
    * rate formula (pow is NOT cross-engine exact — documented boundary).
    */
  def mixSources(s: SparkSession, dir: String, target: Double = 12.0): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    val rates = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("rate", least(lit(1.0), lit(target) / col("n_docs").cast("double")))
    val bucket = pmod(
      conv(substr(md5(col("doc_id").cast("string")), lit(1), lit(8)), 16, 10).cast("long"),
      lit(1000000))
    val kept = docs.join(broadcast(rates), "source")
      .filter(bucket.cast("double") < col("rate") * lit(1000000.0))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("rate"))
      .orderBy(col("source"))
  }

  val mixSourcesSql: String =
    """WITH r AS (SELECT source, COUNT(*) AS n_docs,
      |    least(CAST(1.0 AS DOUBLE), CAST(12.0 AS DOUBLE) / COUNT(*)) AS rate
      |  FROM documents GROUP BY source),
      |k AS (SELECT d.source, COUNT(*) AS n_kept
      |  FROM documents d JOIN r USING (source)
      |  WHERE CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 1000000 AS DOUBLE) < rate * 1000000
      |  GROUP BY d.source)
      |SELECT r.source, r.n_docs, coalesce(k.n_kept, 0) AS n_kept, r.rate
      |FROM r LEFT JOIN k USING (source) ORDER BY source""".stripMargin

  /** Deterministic training-order shuffle: every document gets a
    * pseudorandom but REPRODUCIBLE (shard, position) from a salted
    * md5 of its id — the "shuffle the corpus before training" step,
    * with the reproducibility a training run needs for resumption and
    * ablation (never rand(), the pipeline_mix convention).
    *
    * Scale: one hash-keyed shuffle; ordering is per-shard only (the
    * window sorts within its shard partition), so no global sort ever
    * happens — at cluster scale the same plan writes shard files via
    * repartition(shard) + sortWithinPartitions.
    */
  def shuffleOrder(s: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat(lit("sh:"), col("doc_id").cast("string")))
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard",
        pmod(conv(substring(col("h"), 1, 8), 16, 10).cast("long"), lit(nShards.toLong)))
    docs.withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  val shuffleOrderSql: String =
    """WITH t AS (SELECT doc_id, md5('sh:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |s AS (SELECT doc_id, h,
      |    CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % 8 AS shard FROM t)
      |SELECT shard, CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos,
      |  doc_id
      |FROM s ORDER BY shard, pos""".stripMargin

  /** Deterministic per-stratum sampling WITHOUT replacement: the k
    * lowest salted-hash priorities per source — uniform over each
    * stratum, reproducible, exact-k (vs [[mixSources]]' rate-based
    * Bernoulli thinning). One keyed shuffle; the window keeps only
    * rank ≤ k per stratum so nothing source-sized survives the sort.
    */
  def sampleK(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pri = md5(concat(lit("sm:"), col("doc_id").cast("string")))
    Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"), pri.as("pri"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("pri"), col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  val sampleKSql: String =
    """SELECT source, rk, doc_id FROM (
      |  SELECT source, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY md5('sm:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
      |  FROM documents)
      |WHERE rk <= 50 ORDER BY source, rk""".stripMargin

  /** Temperature-based source sampling weights (the multilingual-LM
    * rebalancing rule, τ = 2 ⇒ w ∝ n^0.5): upsample the tail, damp
    * the head. sqrt is correctly rounded IEEE, the normalizer folds
    * the per-source weights in SOURCE ORDER (the stats_entropy
    * discipline), and each rate/boost is one division — everything
    * bit-exact unrounded. The output is the rate table a weighted
    * sampler (pipeline_mix) consumes.
    */
  def pipelineTemperature(s: SparkSession, dir: String): DataFrame = {
    val per = graft.Tables(s, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum(col("n_docs")).as("total"))
    val weighted = per.withColumn("w", sqrt(col("n_docs").cast("double")))
    val z = weighted
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("source"), col("w")))),
          x => x.getField("w")),
        lit(0.0), (a, v) => a + v).as("z"))
    weighted.crossJoin(broadcast(z)).crossJoin(broadcast(tot))
      .withColumn("rate", col("w") / col("z"))
      .select(col("source"), col("n_docs"), col("w"), col("rate"),
        (col("rate") /
          (col("n_docs").cast("double") / col("total").cast("double")))
          .as("boost"))
      .orderBy(col("source"))
  }

  val pipelineTemperatureSql: String =
    """WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM per),
      |w AS (SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w FROM per),
      |z AS (SELECT list_reduce(list_prepend(0.0e0, list(w ORDER BY source)),
      |    (a, v) -> a + v) AS z FROM w)
      |SELECT source, n_docs, w, w / z AS rate,
      |  (w / z) / (CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)) AS boost
      |FROM w CROSS JOIN z CROSS JOIN tot ORDER BY source""".stripMargin

  /** Token-budget greedy selection (the data-mixing allocator): rank
    * documents by value density (distinct-token ratio — one division,
    * bit-identical cross-engine) and keep the density-descending
    * PREFIX whose cumulative token count fits the budget. The
    * cumulative runs through the two-level bucket machinery (offsets
    * over ≤1024 rows + per-bucket keyed windows — no global sort), the
    * abc_parts shape with tokens as the weight. Report per source:
    * docs/tokens available vs selected. All integers but the ordering
    * key.
    */
  def pipelineBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 100000L
    val docs = graft.Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.bindOnce(
          graft.functions.TextFunctions.tokens(col("text"))) { t =>
          struct(size(t).cast("long").as("tok"),
            size(array_distinct(t)).cast("long").as("uniq"))
        }.as("c"))
      .select(col("doc_id"), col("source"),
        col("c.tok").as("tok"), col("c.uniq").as("uniq"))
      .filter(col("tok") > 0)
      .withColumn("density", col("uniq").cast("double") / col("tok").cast("double"))
    val rng = docs.agg(min(-col("density")).as("lo"), max(-col("density")).as("hi"))
    val bucketed = docs.withColumn("v", -col("density"))
      .crossJoin(broadcast(rng))
      .withColumn("bucket", least(floor((col("v") - col("lo")) * 1024.0 /
        greatest(col("hi") - col("lo"), lit(1e-300))).cast("long"), lit(1023L)))
    val offsets = bucketed.groupBy(col("bucket")).agg(sum(col("tok")).as("sc"))
      .withColumn("off", coalesce(sum(col("sc")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("v"), col("doc_id"))
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("off") + sum(col("tok")).over(wb))
      .withColumn("sel", col("cum") <= B)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("tokens_all"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_sel"),
        sum(when(col("sel"), col("tok")).otherwise(0L)).as("tokens_sel"))
      .orderBy(col("source"))
  }

  val pipelineBudgetSql: String =
    """WITH tk AS (SELECT doc_id, source,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |d AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS tok,
      |    CAST(len(list_distinct(t)) AS BIGINT) AS uniq
      |  FROM tk WHERE len(t) > 0),
      |dd AS (SELECT *, CAST(uniq AS DOUBLE) / CAST(tok AS DOUBLE) AS density FROM d),
      |cm AS (SELECT *, CAST(SUM(tok) OVER (ORDER BY density DESC, doc_id) AS BIGINT) AS cum
      |  FROM dd)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens_all,
      |  CAST(SUM(CASE WHEN cum <= 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
      |  CAST(SUM(CASE WHEN cum <= 100000 THEN tok ELSE 0 END) AS BIGINT) AS tokens_sel
      |FROM cm GROUP BY source ORDER BY source""".stripMargin

  /** Systematic probability-proportional-to-size sampling (Madow
    * 1949; the PPS workhorse of survey statistics and the
    * quality/length-weighted corpus sampler a training pipeline wants
    * when uniform doc sampling over-represents short documents):
    * k = 20 sample points are placed at the centers of k equal slices
    * of the total-weight line (positions (2i+1)·W/(2k)), documents
    * are laid on that line in salted-hash order with width = weight
    * (n_chars), and each point selects the document covering it —
    * inclusion probability ∝ weight, a heavy doc can legitimately be
    * drawn more than once (its multiplicity is its integer point
    * count).
    *
    * Determinism — ALL-INTEGER selection: with cumulative weight c,
    * the number of points at or below c is m(c) = (2k·c + W) div
    * (2W) (the +W shift keeps the numerator positive, where DuckDB's
    * `//` and the floor intdiv agree); a doc's sample indices are
    * [m(cum−w), m(cum)). No float appears anywhere. Overflow bound:
    * 2k·W must stay under 2⁶³ — 40× total corpus chars ≈ 4·10¹⁵ at
    * 100 TB, three orders inside the bound, ANSI-loud past it.
    *
    * Scale shape: the pipeline_budget two-level weighted cumulative
    * (1024-bucket offsets broadcast, within-bucket keyed window — no
    * global sort), then a NARROW per-row index-range map + explode.
    */
  def ppsSample(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("w"),
        conv(substr(md5(concat(lit("pps:"), col("doc_id").cast("string"))),
          lit(1), lit(12)), 16, 10).cast("long").as("v"))
    val tot = docs.agg(sum(col("w")).as("wtot"))
    val rng = docs.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val bucketed = docs.crossJoin(broadcast(rng))
      .withColumn("bucket", least(floor(
        (col("v") - col("lo")).cast("double") * 1024.0 /
          greatest((col("hi") - col("lo")).cast("double"), lit(1.0)))
        .cast("long"), lit(1023L)))
    val offsets = bucketed.groupBy(col("bucket")).agg(sum(col("w")).as("sc"))
      .withColumn("off", coalesce(sum(col("sc")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("v"), col("doc_id"))
    def m(c: org.apache.spark.sql.Column) =
      graft.queries.Exact.intdiv(
        lit(2L * k) * c + col("wtot"), lit(2L) * col("wtot"))
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("off") + sum(col("w")).over(wb))
      .crossJoin(broadcast(tot))
      .withColumn("i0", m(col("cum") - col("w")))
      .withColumn("i1", m(col("cum")))
      .filter(col("i1") > col("i0"))
      .select(explode(sequence(col("i0"), col("i1") - 1)).as("i"),
        col("doc_id"), col("w"))
      .orderBy(col("i"))
  }

  val ppsSampleSql: String =
    """WITH d AS (SELECT doc_id, greatest(n_chars, 1) AS w,
      |    CAST(concat('0x', substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 12))
      |      AS BIGINT) AS v
      |  FROM documents),
      |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM d),
      |c AS (SELECT doc_id, w,
      |    CAST(SUM(w) OVER (ORDER BY v, doc_id) AS BIGINT) AS cum FROM d),
      |sel AS (SELECT doc_id, w,
      |    (40 * (cum - w) + tw) // (2 * tw) AS i0,
      |    (40 * cum + tw) // (2 * tw) AS i1
      |  FROM c CROSS JOIN t WHERE (40 * cum + tw) // (2 * tw)
      |    > (40 * (cum - w) + tw) // (2 * tw))
      |SELECT CAST(unnest(range(i0, i1)) AS BIGINT) AS i, doc_id,
      |  CAST(w AS BIGINT) AS w
      |FROM sel ORDER BY i""".stripMargin

  /** Moore–Lewis cross-entropy-difference data selection (Moore &
    * Lewis 2010, "Intelligent Selection of Language Model Training
    * Data" — the standard domain-selection scorer a training pipeline
    * runs before mixing): score every document by
    *
    *   H_in(d) − H_out(d) = (1/n) Σ_tok ln(p_out(tok) / p_in(tok)),
    *
    * where p_in is an add-one-smoothed unigram LM over the IN-DOMAIN
    * subset (here lang = 'en' — the pools a real pipeline contrasts
    * are exactly "my target corpus" vs "the crawl") and p_out the same
    * over the whole corpus, both smoothed against the GLOBAL vocabulary
    * V: p(t) = (cnt(t)+1)/(N+V). Lower = more in-domain; the k most
    * in-domain documents are selected. In-domain documents score low
    * on their own model's surprisal, so the selection recovers
    * (mostly) target-language text without a language-ID model — the
    * published result.
    *
    * Determinism: per-token log-ratios are row-local (one ln over a
    * product of exact-integer-valued doubles, mirrored verbatim in the
    * oracle); the per-document sum is the [[CurationQueries.textPerplexity]]
    * ordered fold — collect (pos, lp), sort_array, fold in position
    * order — so the double chain is identical at any parallelism.
    * (ce_diff ASC, doc_id) total order, LIMIT k.
    *
    * Scale shape — the standard LM-scoring topology: the two count
    * joins are plain equi-joins on the vocabulary key with NO forced
    * strategy — Catalyst broadcasts them while the vocabulary is
    * broadcast-sized (the sf fixtures) and falls back to the shuffle
    * equi-join once it is not (the 100 TB crawl), which is exactly the
    * right plan at each scale; the two scalar count frames broadcast,
    * the per-doc fold is one keyed aggregation, and the top-k is
    * TakeOrderedAndProject — no global sort anywhere.
    */
  def mooreLewis(s: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
    val va = toks.groupBy(col("tok")).agg(count(lit(1)).as("ca"))
    val vi = toks.filter(col("lang") === "en")
      .groupBy(col("tok")).agg(count(lit(1)).as("ci"))
    val cs = va.agg(count(lit(1)).as("v"), sum(col("ca")).as("n_all"))
    val ct = vi.agg(coalesce(sum(col("ci")), lit(0L)).as("n_in"))
    val lp = toks.join(va, "tok").join(vi, Seq("tok"), "left")
      .crossJoin(broadcast(cs)).crossJoin(broadcast(ct))
      .withColumn("lp", log(
        ((col("ca") + lit(1L)).cast("double") * (col("n_in") + col("v")).cast("double")) /
          ((coalesce(col("ci"), lit(0L)) + lit(1L)).cast("double") *
            (col("n_all") + col("v")).cast("double"))))
    lp.groupBy(col("doc_id"), col("lang"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("arr"),
        count(lit(1)).as("n_tokens"))
      .withColumn("ce_diff",
        aggregate(col("arr"), lit(0.0), (acc, x) => acc + x.getField("lp")) /
          col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("ce_diff"))
      .orderBy(col("ce_diff"), col("doc_id"))
      .limit(k)
  }

  val mooreLewisSql: String =
    """WITH tk AS (SELECT doc_id, lang,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |tks AS (SELECT doc_id, lang, u.pos, u.tok FROM tk,
      |  UNNEST(list_transform(range(len(t)), i -> struct_pack(pos := i, tok := t[i+1]))) AS s(u)),
      |va AS (SELECT tok, COUNT(*) AS ca FROM tks GROUP BY tok),
      |vi AS (SELECT tok, COUNT(*) AS ci FROM tks WHERE lang = 'en' GROUP BY tok),
      |cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(ca) AS BIGINT) AS n_all FROM va),
      |ct AS (SELECT CAST(COALESCE(SUM(ci), 0) AS BIGINT) AS n_in FROM vi),
      |lp AS (SELECT doc_id, lang, pos,
      |    ln((CAST(ca + 1 AS DOUBLE) * CAST(n_in + v AS DOUBLE)) /
      |       (CAST(COALESCE(ci, 0) + 1 AS DOUBLE) * CAST(n_all + v AS DOUBLE))) AS lp
      |  FROM tks JOIN va USING (tok) LEFT JOIN vi USING (tok)
      |  CROSS JOIN cs CROSS JOIN ct)
      |SELECT doc_id, lang, COUNT(*) AS n_tokens,
      |  list_reduce(list(lp ORDER BY pos), (x, y) -> x + y) / COUNT(*) AS ce_diff
      |FROM lp GROUP BY doc_id, lang ORDER BY ce_diff, doc_id LIMIT 25""".stripMargin

  /** TOKEN-level selection — the RHO-1 recipe (Lin et al. 2024,
    * "Rho-1: Not All Tokens Are What You Need"; Selective Language
    * Modeling): instead of scoring whole documents ([[mooreLewis]]),
    * score each TOKEN by its excess loss under a reference (in-domain)
    * model vs the general model and keep only tokens the reference
    * model prefers. Deterministic surrogate for the two models: the
    * same add-one-smoothed unigram LMs as [[mooreLewis]] (in-domain =
    * lang 'en'), so per token
    *
    *   excess(t) = ln p_in(t) − ln p_all(t)
    *             = ln( (ci+1)·(n_all+V) / ((ca+1)·(n_in+V)) ),
    *
    * a token is SELECTED when excess > 0 (the reference model finds it
    * more likely than the general model — RHO-1's "clean under the
    * reference" signal), and the per-document report is the training-
    * relevant audit: token count, selected count, selected share, and
    * the selected excess mass — top-k documents by selected share,
    * i.e. the documents whose token stream is densest in
    * reference-preferred tokens.
    *
    * Determinism: counts are exact integers; each excess is one
    * row-local ln of an exact rational; selection is a sign test;
    * sel_mass is the position-ordered fold (the [[mooreLewis]]
    * discipline), emitted rounded to 4 decimals like [[dsirSelect]]'s
    * ln sums; sel_share an exact integer ratio; (share DESC, doc_id)
    * total order.
    *
    * Scale shape: identical to [[mooreLewis]] — the token→vocabulary
    * joins are stats-driven (broadcast at fixture scale, shuffle
    * equi-joins at crawl scale; DSIR's fixed feature space is the
    * bounded-table alternative when the vocabulary outgrows
    * broadcast), one corpus-wide per-doc fold, TakeOrderedAndProject
    * top-k.
    */
  def pipelineRho(s: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
    val va = toks.groupBy(col("tok")).agg(count(lit(1)).as("ca"))
    val vi = toks.filter(col("lang") === "en")
      .groupBy(col("tok")).agg(count(lit(1)).as("ci"))
    val cs = va.agg(count(lit(1)).as("v"), sum(col("ca")).as("n_all"))
    val ct = vi.agg(coalesce(sum(col("ci")), lit(0L)).as("n_in"))
    val lp = toks.join(va, "tok").join(vi, Seq("tok"), "left")
      .crossJoin(broadcast(cs)).crossJoin(broadcast(ct))
      .withColumn("ex", log(
        ((coalesce(col("ci"), lit(0L)) + lit(1L)).cast("double") *
          (col("n_all") + col("v")).cast("double")) /
          ((col("ca") + lit(1L)).cast("double") *
            (col("n_in") + col("v")).cast("double"))))
    lp.groupBy(col("doc_id"), col("lang"))
      .agg(sort_array(collect_list(struct(col("pos"), col("ex")))).as("arr"),
        count(lit(1)).as("n_tokens"))
      .withColumn("n_selected", aggregate(col("arr"), lit(0L),
        (a, x) => a + when(x.getField("ex") > 0.0, 1L).otherwise(0L)))
      .withColumn("sel_mass", round(aggregate(col("arr"), lit(0.0),
        (a, x) => a + when(x.getField("ex") > 0.0, x.getField("ex"))
          .otherwise(lit(0.0))), 4))
      .withColumn("sel_share",
        col("n_selected").cast("double") / col("n_tokens").cast("double"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_selected"), col("sel_share"), col("sel_mass"))
      .orderBy(col("sel_share").desc, col("doc_id"))
      .limit(k)
  }

  val pipelineRhoSql: String =
    """WITH tk AS (SELECT doc_id, lang,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |tks AS (SELECT doc_id, lang, u.pos, u.tok FROM tk,
      |  UNNEST(list_transform(range(len(t)), i -> struct_pack(pos := i, tok := t[i+1]))) AS s(u)),
      |va AS (SELECT tok, COUNT(*) AS ca FROM tks GROUP BY tok),
      |vi AS (SELECT tok, COUNT(*) AS ci FROM tks WHERE lang = 'en' GROUP BY tok),
      |cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(ca) AS BIGINT) AS n_all FROM va),
      |ct AS (SELECT CAST(COALESCE(SUM(ci), 0) AS BIGINT) AS n_in FROM vi),
      |lp AS (SELECT doc_id, lang, pos,
      |    ln((CAST(COALESCE(ci, 0) + 1 AS DOUBLE) * CAST(n_all + v AS DOUBLE)) /
      |       (CAST(ca + 1 AS DOUBLE) * CAST(n_in + v AS DOUBLE))) AS ex
      |  FROM tks JOIN va USING (tok) LEFT JOIN vi USING (tok)
      |  CROSS JOIN cs CROSS JOIN ct)
      |SELECT doc_id, lang, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN ex > 0.0e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
      |  CAST(SUM(CASE WHEN ex > 0.0e0 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS sel_share,
      |  round(list_reduce(list(CASE WHEN ex > 0.0e0 THEN ex ELSE 0.0e0 END ORDER BY pos),
      |    (x, y) -> x + y), 4) AS sel_mass
      |FROM lp GROUP BY doc_id, lang ORDER BY sel_share DESC, doc_id LIMIT 25""".stripMargin

  /** DSIR data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): the scalable
    * counterpart to [[mooreLewis]] — instead of unigram LMs over an
    * unbounded vocabulary, both distributions live on a FIXED
    * `buckets`-cell hashed n-gram feature space (unigrams + word
    * bigrams, the paper's feature set), so the model tables are
    * broadcast-sized at ANY corpus scale. Per document,
    *
    *   log w(d) = Σ_feat ln(p_in(bucket) / p_out(bucket)),
    *
    * add-one smoothed over the bucket alphabet, and the selection is
    * the paper's importance RESAMPLING via seeded Gumbel-top-k:
    * g(d) = log w(d) + Gumbel(u_d) with u_d a salted-hash uniform —
    * sampling without replacement ∝ w, yet fully deterministic (the
    * Gumbel-max trick with a fixed seed; Vieira 2014).
    *
    * Determinism: bucket counts are exact integers; per-feature
    * log-ratios are row-local; the per-doc sum is the ordered fold
    * ([[CurationQueries.textPerplexity]] discipline, position order
    * with bigrams indexed after unigrams); the Gumbel key is one
    * row-local double chain from a 48-bit md5 uniform (the
    * [[ppsSample]] hash convention). log_w and g are emitted rounded
    * to 4 decimals, the woe/pmi convention for ln outputs (the JVM's
    * log and DuckDB's ln can differ in the last ulp), and the top-k
    * order is (rounded g DESC, doc_id).
    *
    * Scale shape — the DSIR selling point reproduced: the two count
    * tables are ≤`buckets` rows by construction, so they BROADCAST
    * (asserted with explicit hints — correct at 100 TB, unlike a
    * vocabulary LM); the only corpus-wide shuffles are the bucket
    * groupBys and the per-doc fold; top-k is TakeOrderedAndProject.
    */
  def dsirSelect(s: SparkSession, dir: String, buckets: Int = 4096,
                 k: Int = 25): DataFrame = {
    val feats = Tables(s, dir, "documents")
      // r12: spread the raw text across the session width BEFORE
      // tokenization — cheaper than repartitioning the (2× larger)
      // token+bigram arrays, and the single-split sf0.1 table otherwise
      // runs the whole md5 feature pass in one task
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"),
        TextFunctions.bindOnce(TextFunctions.tokens(col("text"))) { tv =>
          concat(tv, zip_with(
            slice(tv, lit(1), greatest(size(tv) - 1, lit(0))),
            slice(tv, lit(2), greatest(size(tv) - 1, lit(0))),
            (a, b) => concat(a, lit("_"), b)))
        }.as("f"))
    // r12: hash every feature to its bucket INSIDE the per-doc array
    // (one md5 pass), spread the tokenize+hash work across the session
    // width (the documents table is one parquet split at sf0.1 — the
    // feature pass ran single-task), and cache the narrow per-doc
    // bucket-array table: the previous shape re-ran tokenize+md5 for
    // every consumer (profiled: five single-task corpus passes, ~8 s of
    // stage time). The cache holds one int-array row per doc — strictly
    // narrower than the text column it derives from.
    val bs = feats
      .select(col("doc_id"), col("lang"),
        transform(col("f"), ft =>
          conv(substr(md5(ft), lit(1), lit(8)), 16, 10).cast("long")
            % buckets).as("bv"))
      .cache()
    val fb = bs.select(col("doc_id"), col("lang"),
      posexplode(col("bv")).as(Seq("pos", "b")))
    // va and vi in ONE aggregation pass: vi's left-join-then-coalesce
    // semantics are reproduced by a conditional count (0 where the old
    // ci was NULL — identical after the old coalesce(ci, 0)).
    val v = fb.groupBy(col("b")).agg(count(lit(1)).as("ca"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ci"))
    val cs = v.agg(sum(col("ca")).as("n_all"))
    val ct = v.agg(coalesce(sum(col("ci")), lit(0L)).as("n_in"))
    val lp = fb.join(broadcast(v), "b")
      .crossJoin(broadcast(cs)).crossJoin(broadcast(ct))
      .withColumn("lp", log(
        ((col("ci") + lit(1L)).cast("double") *
          (col("n_all") + lit(buckets.toLong)).cast("double")) /
          ((col("ca") + lit(1L)).cast("double") *
            (col("n_in") + lit(buckets.toLong)).cast("double"))))
    val u = (conv(substr(md5(concat(lit("dsir:"), col("doc_id").cast("string"))),
      lit(1), lit(12)), 16, 10).cast("long").cast("double") + lit(0.5)) /
      lit(281474976710656.0)
    lp.groupBy(col("doc_id"), col("lang"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("arr"),
        count(lit(1)).as("n_feats"))
      .withColumn("log_w",
        aggregate(col("arr"), lit(0.0), (acc, x) => acc + x.getField("lp")))
      .withColumn("gkey", round(col("log_w") + (-log(-log(u))), 4))
      .withColumn("log_w", round(col("log_w"), 4))
      .select(col("doc_id"), col("lang"), col("n_feats"), col("log_w"), col("gkey"))
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(k)
  }

  val dsirSelectSql: String =
    """WITH tk AS (SELECT doc_id, lang,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |ft AS (SELECT doc_id, lang,
      |    t || list_transform(range(greatest(len(t) - 1, 0)),
      |      i -> t[i+1] || '_' || t[i+2]) AS f
      |  FROM tk),
      |fx AS (SELECT doc_id, lang, u.pos, u.feat FROM ft,
      |  UNNEST(list_transform(range(len(f)), i -> struct_pack(pos := i, feat := f[i+1]))) AS s(u)),
      |fb AS (SELECT doc_id, lang, pos,
      |    CAST(concat('0x', substr(md5(feat), 1, 8)) AS BIGINT) % 4096 AS b FROM fx),
      |va AS (SELECT b, COUNT(*) AS ca FROM fb GROUP BY b),
      |vi AS (SELECT b, COUNT(*) AS ci FROM fb WHERE lang = 'en' GROUP BY b),
      |cs AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_all FROM va),
      |ct AS (SELECT CAST(COALESCE(SUM(ci), 0) AS BIGINT) AS n_in FROM vi),
      |lp AS (SELECT doc_id, lang, pos,
      |    ln((CAST(COALESCE(ci, 0) + 1 AS DOUBLE) * CAST(n_all + 4096 AS DOUBLE)) /
      |       (CAST(ca + 1 AS DOUBLE) * CAST(n_in + 4096 AS DOUBLE))) AS lp
      |  FROM fb JOIN va USING (b) LEFT JOIN vi USING (b)
      |  CROSS JOIN cs CROSS JOIN ct),
      |w AS (SELECT doc_id, lang, COUNT(*) AS n_feats,
      |    list_reduce(list(lp ORDER BY pos), (x, y) -> x + y) AS log_w
      |  FROM lp GROUP BY doc_id, lang)
      |SELECT doc_id, lang, n_feats, round(log_w, 4) AS log_w,
      |  round(log_w + (-ln(-ln(
      |    (CAST(concat('0x', substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 12))
      |       AS BIGINT) + 0.5) / 281474976710656.0))), 4) AS gkey
      |FROM w ORDER BY gkey DESC, doc_id LIMIT 25""".stripMargin

  /** Two-phase quality-annealed token schedule — the "mid-training
    * anneal" modern pretraining runs ship (decay-phase upsampling of
    * high-quality data; documented in MiniCPM (Hu et al. 2024) and the
    * Llama 3 report): phase 1 fills 90% of the token budget from the
    * WHOLE corpus in salted-hash order; phase 2 (the anneal) draws the
    * final 10% of budget exclusively from the high-quality pool (unique-token
    * density > 0.5 with ≥ 20 tokens — the [[pipelineBudget]] quality
    * signal as an absolute gate, so membership is per-row
    * deterministic, no data-dependent quantile). The report is the
    * per-(phase, source) document/token tally — what a mixing run
    * audits before launch.
    *
    * The two phases sample INDEPENDENTLY (different salts, overlapping
    * pools): a high-quality document selected in phase 1 can be
    * selected again in phase 2. That overlap is intended upsampling —
    * the published anneal recipes re-expose high-quality data during
    * the decay phase rather than exclude it — so the per-phase tallies
    * may count the same document (and its tokens) in both phases; the
    * report reads as per-phase exposure, not a disjoint partition of
    * the corpus.
    *
    * Determinism: selection is cumulative-integer-tokens ≤ budget over
    * a total (md5 salt, doc_id) order, different salt per phase; all
    * arithmetic integer. Scale shape: per phase, the [[ppsSample]]
    * two-level cumulative (1024-bucket offsets broadcast, within-
    * bucket keyed window — no global sort), then an alphabet-sized
    * groupBy.
    */
  def pipelineAnneal(s: SparkSession, dir: String,
                     budget: Long = 20000L): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.bindOnce(TextFunctions.tokens(col("text"))) { tv =>
          struct(size(tv).cast("long").as("tok"),
            size(array_distinct(tv)).cast("long").as("uniq"))
        }.as("c"))
      .select(col("doc_id"), col("source"),
        col("c.tok").as("tok"), col("c.uniq").as("uniq"))
      .filter(col("tok") > 0L)
    val hq = docs.filter(col("tok") >= 20L &&
      col("uniq").cast("double") / col("tok").cast("double") > 0.5)

    // salted-hash-ordered cumulative token fill: the ppsSample
    // two-level shape (bucket offsets broadcast, keyed window)
    def fill(pool: DataFrame, salt: String, cap: Long): DataFrame = {
      val keyed = pool.withColumn("v",
        conv(substr(md5(concat(lit(salt), col("doc_id").cast("string"))),
          lit(1), lit(12)), 16, 10).cast("long"))
      val rng = keyed.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      val bucketed = keyed.crossJoin(broadcast(rng))
        .withColumn("bucket", least(floor(
          (col("v") - col("lo")).cast("double") * 1024.0 /
            greatest((col("hi") - col("lo")).cast("double"), lit(1.0)))
          .cast("long"), lit(1023L)))
      val offsets = bucketed.groupBy(col("bucket")).agg(sum(col("tok")).as("sc"))
        .withColumn("off", coalesce(sum(col("sc")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bucket"), col("off"))
      val wb = Window.partitionBy(col("bucket")).orderBy(col("v"), col("doc_id"))
      bucketed.join(broadcast(offsets), "bucket")
        .withColumn("cum", col("off") + sum(col("tok")).over(wb))
        .filter(col("cum") <= cap)
        .select(col("doc_id"), col("source"), col("tok"))
    }

    val p1 = fill(docs, "anneal1:", budget * 9L / 10L)
      .withColumn("phase", lit(1))
    val p2 = fill(hq, "anneal2:", budget / 10L)
      .withColumn("phase", lit(2))
    p1.unionByName(p2)
      .groupBy(col("phase"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
      .orderBy(col("phase"), col("source"))
  }

  val pipelineAnnealSql: String =
    """WITH tk AS (SELECT doc_id, source,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
      |d AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS tok,
      |    CAST(len(list_distinct(t)) AS BIGINT) AS uniq
      |  FROM tk WHERE len(t) > 0),
      |c1 AS (SELECT doc_id, source, tok,
      |    CAST(SUM(tok) OVER (ORDER BY
      |      CAST(concat('0x', substr(md5('anneal1:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT),
      |      doc_id) AS BIGINT) AS cum
      |  FROM d),
      |p1 AS (SELECT 1 AS phase, doc_id, source, tok FROM c1 WHERE cum <= 18000),
      |hq AS (SELECT * FROM d
      |  WHERE tok >= 20 AND CAST(uniq AS DOUBLE) / CAST(tok AS DOUBLE) > 0.5),
      |c2 AS (SELECT doc_id, source, tok,
      |    CAST(SUM(tok) OVER (ORDER BY
      |      CAST(concat('0x', substr(md5('anneal2:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT),
      |      doc_id) AS BIGINT) AS cum
      |  FROM hq),
      |p2 AS (SELECT 2 AS phase, doc_id, source, tok FROM c2 WHERE cum <= 2000),
      |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
      |SELECT phase, source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens
      |FROM u GROUP BY phase, source ORDER BY phase, source""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_budget" -> (pipelineBudget _),
    "pipeline_pps" -> ((s: SparkSession, dir: String) => ppsSample(s, dir)),
    "pipeline_moore_lewis" -> ((s: SparkSession, dir: String) => mooreLewis(s, dir)),
    "pipeline_rho" -> ((s: SparkSession, dir: String) => pipelineRho(s, dir)),
    "pipeline_dsir" -> ((s: SparkSession, dir: String) => dsirSelect(s, dir)),
    "pipeline_anneal" -> ((s: SparkSession, dir: String) => pipelineAnneal(s, dir)),
    "pipeline_temperature" -> (pipelineTemperature _),
    "pipeline_sample" -> ((s: SparkSession, dir: String) => sampleK(s, dir)),
    "pipeline_shuffle" -> ((s: SparkSession, dir: String) => shuffleOrder(s, dir)),
    "dedup_lines" -> ((s: SparkSession, dir: String) => lineDedup(s, dir)),
    "dedup_substring" -> ((s: SparkSession, dir: String) => dedupSubstring(s, dir)),
    "pipeline_pack" -> ((s: SparkSession, dir: String) => packSequences(s, dir)),
    "pipeline_pack_bpe" -> ((s: SparkSession, dir: String) => packSequencesBpe(s, dir)),
    "pipeline_mix" -> ((s: SparkSession, dir: String) => mixSources(s, dir)))

  val oracles: Map[String, String] = Map(
    "pipeline_budget" -> pipelineBudgetSql,
    "pipeline_pps" -> ppsSampleSql,
    "pipeline_moore_lewis" -> mooreLewisSql,
    "pipeline_rho" -> pipelineRhoSql,
    "pipeline_dsir" -> dsirSelectSql,
    "pipeline_anneal" -> pipelineAnnealSql,
    "pipeline_temperature" -> pipelineTemperatureSql,
    "pipeline_sample" -> sampleKSql,
    "pipeline_shuffle" -> shuffleOrderSql,
    "dedup_lines" -> lineDedupSql,
    "dedup_substring" -> dedupSubstringSql,
    "pipeline_pack" -> packSequencesSql,
    "pipeline_pack_bpe" -> packSequencesBpeSql,
    "pipeline_mix" -> mixSourcesSql)
}
