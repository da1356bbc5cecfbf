package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity}

/** Oracle-checked queries for the dedup + similarity-search suite
  * (builder brief: MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine ANN). The shared SQL fragments mirror the Scala operators'
  * arithmetic exactly (md5-based hashing, integer bit math,
  * decimal-exact dot products) so results hash-match across engines.
  */
object DedupSim {

  /** Shared oracle CTE: distinct token-3-gram shingles per doc. */
  private val ShinglesCte =
    """WITH tk AS (SELECT doc_id AS id, regexp_extract_all(lower(text),'[a-z0-9]+') AS t FROM documents),
      |sh AS (SELECT id, list_distinct(list_transform(range(greatest(len(t)-2,0)),
      |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s FROM tk WHERE len(t) >= 3)""".stripMargin

  /** MinHash+LSH near-dup pairs, exact-verified, top-100 by jaccard. */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    Dedup.minhashLshPairs(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  /** Shared oracle CTE chain ending in `cand(id_a, id_b, inter, na, nb)`
    * — the MinHash+LSH candidate pairs with exact shingle overlap.
    * Mirrors Dedup.shingleHashes + minhashSig: ONE md5 per shingle
    * (first 8 hex digits as a 32-bit int), then affine universal
    * hashes (a_i*h + b_i) mod p — identical integer arithmetic in
    * DuckDB BIGINTs and Spark longs (products stay under 2^63).
    */
  private val MinhashCandCtes: String = {
    val p = graft.operators.Dedup.MinhashP
    val sigI = (i: Int) =>
      s"list_min(list_transform(h, v -> (${graft.operators.Dedup.minhashA(i)} * v + " +
        s"${graft.operators.Dedup.minhashB(i)}) % $p))"
    val bandKey = (j: Int) =>
      s"md5(CAST(${sigI(2 * j)} AS VARCHAR) || '|' || CAST(${sigI(2 * j + 1)} AS VARCHAR))"
    val bandSelects = (0 until 4)
      .map(j => s"SELECT id, s, $j AS band_id, ${bandKey(j)} AS key FROM hs")
      .mkString("\n  UNION ALL ")
    s"""$ShinglesCte,
       |hs AS (SELECT id, s, list_transform(s,
       |    x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)) AS h FROM sh),
       |bands AS (\n  $bandSelects),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS na, len(b.s) AS nb
       |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.key = b.key AND a.id < b.id)""".stripMargin
  }

  val dedupMinhashSql: String =
    s"""$MinhashCandCtes
       |SELECT id_a, id_b, inter, na, nb,
       |  CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
       |FROM cand ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin

  /** Connected components over the MinHash near-dup pairs
    * ([[Dedup.clusters]] — iterative min-label propagation on the PAIR
    * set only): (doc, cluster representative). The oracle computes true
    * components via a recursive transitive closure, so the fixpoint
    * iteration is certified exact, not just converged.
    */
  def dedupCluster(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(Tables(s, dir, "documents"), "doc_id", "text")
    Dedup.clusters(pairs.select(col("id_a"), col("id_b")), maxIter = 20)
      .orderBy(col("id"))
  }

  val dedupClusterSql: String =
    s"""WITH RECURSIVE ${MinhashCandCtes.stripPrefix("WITH ")},
       |edges AS (SELECT id_a, id_b FROM cand
       |  UNION SELECT id_b AS id_a, id_a AS id_b FROM cand),
       |reach(a, b) AS (
       |  SELECT id_a, id_b FROM edges
       |  UNION
       |  SELECT r.a, e.id_b FROM reach r JOIN edges e ON r.b = e.id_a)
       |SELECT a AS id, least(a, MIN(b)) AS cluster
       |FROM reach GROUP BY a ORDER BY id""".stripMargin

  /** The user-facing OUTPUT of near-dup dedup: the corpus after
    * cluster collapse — every doc whose component representative (min
    * id) is itself, i.e. drop each doc with a lower-id near-dup mate,
    * transitively. Composes [[Dedup.minhashLshPairs]] →
    * [[Dedup.clusters]] → anti-join back to the corpus; the anti-join
    * shuffles only doc ids against the (tiny) dropped set.
    */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
    val dropped = Dedup.clusters(pairs.select(col("id_a"), col("id_b")), maxIter = 20)
      .filter(col("cluster") =!= col("id"))
      .select(col("id").as("doc_id"))
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val dedupSurvivorsSql: String =
    s"""WITH RECURSIVE ${MinhashCandCtes.stripPrefix("WITH ")},
       |edges AS (SELECT id_a, id_b FROM cand
       |  UNION SELECT id_b AS id_a, id_a AS id_b FROM cand),
       |reach(a, b) AS (
       |  SELECT id_a, id_b FROM edges
       |  UNION
       |  SELECT r.a, e.id_b FROM reach r JOIN edges e ON r.b = e.id_a),
       |lbl AS (SELECT a AS id, least(a, MIN(b)) AS cluster FROM reach GROUP BY a),
       |drp AS (SELECT id FROM lbl WHERE cluster <> id)
       |SELECT doc_id, source FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM drp) ORDER BY doc_id""".stripMargin

  /** Exact-score n-gram Jaccard via the df-capped inverted index
    * (cap = 256 docs per shingle, mirrored in the oracle), top-100.
    */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame = {
    Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text", maxDf = 256)
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  val dedupJaccardSql: String =
    s"""$ShinglesCte,
       |inv AS (SELECT id, unnest(s) AS x FROM sh),
       |rare AS (SELECT x FROM inv GROUP BY x HAVING COUNT(*) <= 256),
       |invc AS (SELECT id, x FROM inv JOIN rare USING (x)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM invc a JOIN invc b ON a.x = b.x AND a.id < b.id)
       |SELECT id_a, id_b, len(list_intersect(sa.s, sb.s)) AS inter,
       |  len(sa.s) AS na, len(sb.s) AS nb,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |    CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS jaccard
       |FROM cand JOIN sh sa ON sa.id = id_a JOIN sh sb ON sb.id = id_b
       |ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin

  /** Threshold-complete Jaccard similarity join at τ = 0.7 via prefix
    * filtering — emits ALL pairs ≥ τ (contrast dedup_jaccard's df-cap
    * top-100). The oracle generates candidates from the FULL inverted
    * index, so the green row certifies the prefix pruning is lossless.
    */
  def dedupJaccardJoin(s: SparkSession, dir: String): DataFrame = {
    Dedup.jaccardJoinPrefix(Tables(s, dir, "documents"), "doc_id", "text", tauTenths = 7)
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupJaccardJoinSql: String =
    s"""$ShinglesCte,
       |inv AS (SELECT id, unnest(s) AS x FROM sh),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM inv a JOIN inv b ON a.x = b.x AND a.id < b.id)
       |SELECT id_a, id_b, len(list_intersect(sa.s, sb.s)) AS inter,
       |  len(sa.s) AS na, len(sb.s) AS nb,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |    CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS jaccard
       |FROM cand JOIN sh sa ON sa.id = id_a JOIN sh sb ON sb.id = id_b
       |WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |    CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= 0.7e0
       |ORDER BY id_a, id_b""".stripMargin

  /** Containment (asymmetric overlap) join at τ = 0.8: every ordered
    * pair where ≥ 80% of a's shingles appear in b — near-dup
    * CONTAINMENT, which symmetric Jaccard misses when lengths differ.
    * The oracle builds candidates from the FULL inverted index, so a
    * green row certifies the contained-side-only prefix pruning is
    * lossless (the dedup_jaccard_join convention).
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    Dedup.containmentJoinPrefix(Tables(s, dir, "documents"), "doc_id", "text",
      tauTenths = 8)
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupContainmentSql: String =
    s"""$ShinglesCte,
       |inv AS (SELECT id, unnest(s) AS x FROM sh),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM inv a JOIN inv b ON a.x = b.x AND a.id <> b.id)
       |SELECT id_a, id_b, len(list_intersect(sa.s, sb.s)) AS inter,
       |  len(sa.s) AS na, len(sb.s) AS nb,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |    CAST(len(sa.s) AS DOUBLE) AS containment
       |FROM cand JOIN sh sa ON sa.id = id_a JOIN sh sb ON sb.id = id_b
       |WHERE len(list_intersect(sa.s, sb.s)) * 10 >= len(sa.s) * 8
       |ORDER BY id_a, id_b""".stripMargin

  /** Recall evaluation of banded MinHash+LSH against exhaustive truth:
    * gold = the threshold-complete prefix join at τ = 0.7
    * ([[Dedup.jaccardJoinPrefix]]), predicted = the LSH candidate
    * pairs exact-verified at the same τ. Because candidates are
    * exact-verified, predicted ⊆ gold by construction (fp = 0,
    * precision = 1 when any pair predicts) — the number under test is
    * RECALL, i.e. the fraction of true near-dup pairs whose 4 bands
    * never collided. This is the measurement a production dedup run
    * needs before trusting banded LSH at scale; both pair sets come
    * from bounded candidate generation, and the metric aggregation
    * shuffles only (id, id) pairs. Divisions are guarded (NULL when
    * a side is empty) for degenerate corpora under ANSI.
    */
  def dedupEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val gold = Dedup.jaccardJoinPrefix(docs, "doc_id", "text", tauTenths = 7)
      .select(col("id_a"), col("id_b"), lit(1L).as("g"))
    val pred = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.7)
      .select(col("id_a"), col("id_b"), lit(1L).as("p"))
    gold.join(pred, Seq("id_a", "id_b"), "full_outer")
      .agg(
        coalesce(sum(when(col("g").isNotNull && col("p").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("g").isNotNull && col("p").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("fn"),
        coalesce(sum(when(col("g").isNull && col("p").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("fp"))
      .select(col("tp"), col("fn"), col("fp"),
        (col("tp") + col("fn")).as("n_gold"),
        (col("tp") + col("fp")).as("n_pred"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"))
  }

  val dedupEvalSql: String =
    s"""$MinhashCandCtes,
       |pred AS (SELECT id_a, id_b FROM cand
       |  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.7e0),
       |inv AS (SELECT id, unnest(s) AS x FROM sh),
       |gcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM inv a JOIN inv b ON a.x = b.x AND a.id < b.id),
       |gold AS (SELECT id_a, id_b FROM gcand
       |  JOIN sh sa ON sa.id = gcand.id_a JOIN sh sb ON sb.id = gcand.id_b
       |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |    CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= 0.7e0),
       |j AS (SELECT g.id_a IS NOT NULL AS in_g, p.id_a IS NOT NULL AS in_p
       |  FROM gold g FULL OUTER JOIN pred p
       |    ON g.id_a = p.id_a AND g.id_b = p.id_b),
       |m AS (SELECT
       |    CAST(COALESCE(SUM(CASE WHEN in_g AND in_p THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
       |    CAST(COALESCE(SUM(CASE WHEN in_g AND NOT in_p THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
       |    CAST(COALESCE(SUM(CASE WHEN NOT in_g AND in_p THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp
       |  FROM j)
       |SELECT tp, fn, fp, tp + fn AS n_gold, tp + fp AS n_pred,
       |  CASE WHEN tp + fp > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       |  CASE WHEN tp + fn > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
       |FROM m""".stripMargin

  /** Incremental-ingestion dedup: treating doc_id < K (K = midpoint of
    * the id range, so the split scales with the corpus) as the
    * already-ingested corpus and the rest as the arriving batch, emit
    * each NEW doc that near-duplicates an earlier doc (lower id —
    * existing corpus or earlier in the batch, the survivor-order
    * convention), with its mate count and first mate. This is the
    * nightly-append shape: the arriving batch's shingles hash against
    * the same banded index, no corpus rescan; the pair set is the
    * bounded LSH candidate set.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val k = docs.agg(
      expr("min(doc_id) + (max(doc_id) - min(doc_id)) div 2").as("k"))
    Dedup.minhashLshPairs(docs, "doc_id", "text")
      .crossJoin(broadcast(k))
      .filter(col("id_b") >= col("k"))
      .groupBy(col("id_b").as("doc_id"))
      .agg(count(lit(1)).as("n_mates"), min(col("id_a")).as("first_mate"))
      .orderBy(col("doc_id"))
  }

  val dedupIncrementalSql: String =
    s"""$MinhashCandCtes,
       |kk AS (SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2 AS k
       |  FROM documents)
       |SELECT id_b AS doc_id, COUNT(*) AS n_mates, MIN(id_a) AS first_mate
       |FROM cand CROSS JOIN kk WHERE id_b >= k
       |GROUP BY id_b ORDER BY doc_id""".stripMargin

  /** Per-document n-gram novelty: the share of a doc's distinct
    * 3-gram shingles whose FIRST corpus occurrence (minimum doc_id —
    * ingestion order) is the doc itself. Low novelty = the doc mostly
    * restates earlier corpus content — the memorization-risk /
    * boilerplate signal a training-data report wants next to the
    * dedup numbers. One inverted-index aggregate (shingle → min doc)
    * joined back to the postings; integer counts, one division.
    */
  def textNovelty(s: SparkSession, dir: String): DataFrame = {
    // r12: both shingle passes (first-seen agg + join-back) ran
    // single-task off the one-split scan — spread once
    val sh = graft.Tables.spreadToWidth(Tables(s, dir, "documents"))
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.TextFunctions.shingles(col("text")))).as("sh"))
    val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  val textNoveltySql: String =
    s"""$ShinglesCte,
       |inv AS (SELECT id, unnest(s) AS sh FROM sh),
       |fst AS (SELECT sh, MIN(id) AS first_doc FROM inv GROUP BY sh),
       |pd AS (SELECT id AS doc_id, COUNT(*) AS n_shingles,
       |    CAST(SUM(CASE WHEN first_doc = id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM inv JOIN fst ON inv.sh = fst.sh GROUP BY id)
       |SELECT doc_id, n_shingles, n_novel,
       |  CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
       |FROM pd ORDER BY doc_id""".stripMargin

  /** Per-document 64-bit SimHash signature (bit string). */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "documents")
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .orderBy(col("doc_id"))
  }

  val dedupSimhashSql: String =
    """WITH hs AS (SELECT doc_id, list_transform(list_distinct(regexp_extract_all(lower(text),'[a-z0-9]+')),
      |    t -> md5(t)) AS h FROM documents)
      |SELECT doc_id, array_to_string(list_transform(range(64), i -> CASE WHEN
      |    list_sum(list_transform(h, x -> CASE WHEN
      |      (strpos('0123456789abcdef', substr(x, i // 4 + 1, 1)) - 1)
      |        & (CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END) != 0
      |      THEN 1 ELSE -1 END)) > 0
      |    THEN '1' ELSE '0' END), '') AS sig
      |FROM hs ORDER BY doc_id""".stripMargin

  /** Sequential-fold dot product in DuckDB — bit-identical to Spark's
    * `aggregate` over the zipped array (same left-to-right IEEE order).
    */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), i -> " +
      s"CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  /** Shared oracle CTE: squared norms per vector, sequential fold. */
  private val NormCte =
    s"nrm AS (SELECT vec_id, ${sqlDot("embedding", "embedding")} AS n2 FROM embeddings)"

  /** Brute-force cosine top-10 for query vectors vec_id < 8. */
  def simTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 8), k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  val simTopKSql: String =
    s"""WITH $NormCte,
       |cs AS (SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |    ${sqlDot("q.embedding", "e.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) AS cos
       |  FROM embeddings q, embeddings e, nrm a, nrm b
       |  WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id
       |    AND a.vec_id = q.vec_id AND b.vec_id = e.vec_id)
       |SELECT qid, vec_id, cos, rank FROM (
       |  SELECT qid, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM cs)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** LSH-bucketed ANN (4 hyperplanes → 16 buckets): top-5 within the
    * query's bucket only — the scale path.
    */
  def simLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 5, nPlanes = 4)
      .orderBy(col("qid"), col("rank"))
  }

  val simLshSql: String = {
    val planeDot =
      "list_reduce(list_transform(range(len(embedding)), d -> " +
        "CAST(embedding[d+1] AS DOUBLE) * " +
        "((strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) - 1)" +
        " / 7.5 - 1.0)), (x, y) -> x + y)"
    s"""WITH $NormCte,
       |bkt AS (SELECT vec_id, embedding, array_to_string(list_transform(range(4), j ->
       |    CASE WHEN $planeDot > 0 THEN '1' ELSE '0' END), '') AS bucket
       |  FROM embeddings),
       |cs AS (SELECT q.vec_id AS qid, q.bucket, e.vec_id AS vec_id,
       |    ${sqlDot("q.embedding", "e.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) AS cos
       |  FROM bkt q, bkt e, nrm a, nrm b
       |  WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id AND q.bucket = e.bucket
       |    AND a.vec_id = q.vec_id AND b.vec_id = e.vec_id)
       |SELECT qid, bucket, vec_id, cos, rank FROM (
       |  SELECT qid, bucket, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM cs)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** All-corpus nearest-neighbor GRAPH via LSH buckets: every vector
    * (not a handful of query points — the [[simLsh]] contrast) gets its
    * top-1 cosine neighbor among its 4-hyperplane bucket-mates. This is
    * the k-NN-graph build that SemDeDup-style semantic dedup and graph
    * clustering start from. Scale shape: bucket assignment is a narrow
    * map (plan-time literal hyperplanes), the candidate join is a keyed
    * equi-join on bucket (expected population N/2^planes — planes grow
    * as log₂N to hold it constant), and the per-vector argmax is one
    * keyed window. No all-pairs stage anywhere; vectors in a singleton
    * bucket are reported with a NULL neighbor rather than dropped (the
    * recall-accounting convention from dedup_eval).
    */
  def simKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.spreadToWidth(Tables(s, dir, "embeddings"))
    val b = emb.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), nPlanes = 4).as("bucket"),
      col("embedding"))
    val scored = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"), "left")
      .select(col("a.vec_id").as("vec_id"), col("a.bucket").as("bucket"),
        col("b.vec_id").as("cand"),
        when(col("b.vec_id").isNotNull,
          Similarity.cosine(col("a.embedding"), col("b.embedding"))).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc_nulls_last, col("cand"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("bucket"), col("cand").as("nn_id"), col("cos"))
      .orderBy(col("vec_id"))
  }

  val simKnnGraphSql: String = {
    val planeDot =
      "list_reduce(list_transform(range(len(embedding)), d -> " +
        "CAST(embedding[d+1] AS DOUBLE) * " +
        "((strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) - 1)" +
        " / 7.5 - 1.0)), (x, y) -> x + y)"
    s"""WITH $NormCte,
       |bkt AS MATERIALIZED (SELECT vec_id, embedding, array_to_string(list_transform(range(4), j ->
       |    CASE WHEN $planeDot > 0 THEN '1' ELSE '0' END), '') AS bucket
       |  FROM embeddings),
       |cs AS (SELECT a.vec_id AS vec_id, a.bucket, b.vec_id AS cand,
       |    CASE WHEN b.vec_id IS NOT NULL THEN
       |      ${sqlDot("a.embedding", "b.embedding")} / (sqrt(na.n2) * sqrt(nb.n2)) END AS cos
       |  FROM bkt a LEFT JOIN bkt b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  LEFT JOIN nrm na ON na.vec_id = a.vec_id
       |  LEFT JOIN nrm nb ON nb.vec_id = b.vec_id)
       |SELECT vec_id, bucket, cand AS nn_id, cos FROM (
       |  SELECT vec_id, bucket, cand, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC NULLS LAST, cand) AS rn FROM cs)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  /** IVF ANN (8 deterministic seed centroids, 2 probes): exact top-5
    * within the probed inverted lists — the second scale path beside
    * LSH bucketing.
    */
  def simIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
      nCentroids = 8, nProbe = 2)
      .orderBy(col("qid"), col("rank"))
  }

  val simIvfSql: String =
    s"""WITH $NormCte,
       |cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |asg AS (SELECT cid, vec_id, embedding FROM (
       |  SELECT c.cid, e.vec_id, e.embedding,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${sqlDot("e.embedding", "c.ce")} / (sqrt(ne.n2) * sqrt(nc.n2)) DESC, c.cid) AS crank
       |  FROM embeddings e CROSS JOIN cents c
       |  JOIN nrm ne ON ne.vec_id = e.vec_id JOIN nrm nc ON nc.vec_id = c.cid)
       |  WHERE crank = 1),
       |prb AS (SELECT qid, qe, cid FROM (
       |  SELECT q.vec_id AS qid, q.embedding AS qe, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${sqlDot("q.embedding", "c.ce")} / (sqrt(nq.n2) * sqrt(nc.n2)) DESC, c.cid) AS crank
       |  FROM embeddings q CROSS JOIN cents c
       |  JOIN nrm nq ON nq.vec_id = q.vec_id JOIN nrm nc ON nc.vec_id = c.cid
       |  WHERE q.vec_id < 8) WHERE crank <= 2)
       |SELECT qid, vec_id, cos, rank FROM (
       |  SELECT p.qid, a.vec_id,
       |    ${sqlDot("p.qe", "a.embedding")} / (sqrt(nq.n2) * sqrt(na.n2)) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |      ${sqlDot("p.qe", "a.embedding")} / (sqrt(nq.n2) * sqrt(na.n2)) DESC, a.vec_id) AS rank
       |  FROM prb p JOIN asg a USING (cid)
       |  JOIN nrm nq ON nq.vec_id = p.qid JOIN nrm na ON na.vec_id = a.vec_id
       |  WHERE p.qid <> a.vec_id)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** ANN recall-vs-cost sweep — the evaluation harness every vector-
    * index deployment runs before picking an operating point (Jégou
    * et al. 2011 report exactly this curve): for probe depths
    * nProbe ∈ {1, 2, 4} of the 8-cell IVF index, recall@5 of the
    * probed exact-cosine top-5 against the brute-force ground truth,
    * next to the scan cost (scored candidate rows, and the fraction
    * of full-scan work they represent). One row per probe depth —
    * recall and cost both rise with nProbe; the sweep makes the
    * trade-off a queryable fact instead of folklore.
    *
    * Determinism: hits/costs are exact integer counts over
    * deterministically-ranked candidate sets (cosine ties broken by
    * vec_id, the house convention); recall and scan_frac are single
    * double divisions of exact integers.
    *
    * Scale shape: the corpus is read once for the literal-codebook
    * assignment (narrow map, no shuffle) and once for the ground
    * truth (the brute-force leg is the POINT of the harness — run it
    * over a query sample, never the full query log; the 8-query probe
    * side broadcasts). Candidates are cached once and reused across
    * the three sweep points (windows keyed by (n_probe, qid)), so
    * deepening the sweep grid adds alphabet work, not corpus scans.
    */
  def simRecallSweep(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val emb = Tables(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val seeds = Similarity.collectSeeds(emb, 8)
    // seeds.isEmpty ⇔ the corpus itself is empty (the semanticDedup
    // convention): no cells to probe, no truth — the sweep is the
    // typed empty frame, not an ivfAssignLit precondition crash
    if (seeds.isEmpty) return s.range(0).select(
      lit(0L).as("n_probe"), lit(0L).as("k"), lit(0L).as("n_truth"),
      lit(0L).as("hits"), lit(0.0).as("recall"),
      lit(0L).as("cand_rows"), lit(0.0).as("scan_frac"))
    val cents = Similarity.seedFrame(s, seeds)
    val assigned = Similarity.ivfAssignLit(emb, seeds)
    val truth = Similarity.cosineTopK(emb, queries, k)
      .select(col("qid"), col("vec_id"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cid"))
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(cents)
      .withColumn("csim", Similarity.cosine(col("qe"), col("ce")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= 4)
      .select(col("qid"), col("qe"), col("cid"), col("crank"))
    val cand = probes.join(assigned, "cid")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", Similarity.cosine(col("qe"), col("embedding")))
      .select(col("qid"), col("vec_id"), col("cos"), col("crank"))
      .cache()
    val swept = cand
      .withColumn("n_probe", explode(array(lit(1L), lit(2L), lit(4L))))
      .filter(col("crank") <= col("n_probe"))
    val wTop = Window.partitionBy(col("n_probe"), col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val hits = swept
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .join(truth, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("n_probe")).agg(count(lit(1)).as("hits"))
    val costs = swept
      .groupBy(col("n_probe")).agg(count(lit(1)).as("cand_rows"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nScan = cand.agg(
      countDistinct(col("qid")).cast("double").as("n_q"))
      .crossJoin(emb.agg(count(lit(1)).cast("double").as("n_corpus")))
    costs.join(hits, Seq("n_probe"), "left")
      .crossJoin(broadcast(nTruth))
      .crossJoin(broadcast(nScan))
      .select(col("n_probe"), lit(k.toLong).as("k"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double")).as("recall"),
        col("cand_rows"),
        (col("cand_rows").cast("double") / (col("n_q") * col("n_corpus")))
          .as("scan_frac"))
      .orderBy(col("n_probe"))
  }

  val simRecallSweepSql: String =
    s"""WITH $NormCte,
       |cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |asg AS (SELECT cid, vec_id, embedding FROM (
       |  SELECT c.cid, e.vec_id, e.embedding,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${sqlDot("e.embedding", "c.ce")} / (sqrt(ne.n2) * sqrt(nc.n2)) DESC, c.cid) AS crank
       |  FROM embeddings e CROSS JOIN cents c
       |  JOIN nrm ne ON ne.vec_id = e.vec_id JOIN nrm nc ON nc.vec_id = c.cid)
       |  WHERE crank = 1),
       |prb AS (SELECT qid, qe, cid, crank FROM (
       |  SELECT q.vec_id AS qid, q.embedding AS qe, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${sqlDot("q.embedding", "c.ce")} / (sqrt(nq.n2) * sqrt(nc.n2)) DESC, c.cid) AS crank
       |  FROM embeddings q CROSS JOIN cents c
       |  JOIN nrm nq ON nq.vec_id = q.vec_id JOIN nrm nc ON nc.vec_id = c.cid
       |  WHERE q.vec_id < 8) WHERE crank <= 4),
       |cand AS (SELECT p.qid, a.vec_id, p.crank,
       |    ${sqlDot("p.qe", "a.embedding")} / (sqrt(nq.n2) * sqrt(na.n2)) AS cos
       |  FROM prb p JOIN asg a USING (cid)
       |  JOIN nrm nq ON nq.vec_id = p.qid JOIN nrm na ON na.vec_id = a.vec_id
       |  WHERE p.qid <> a.vec_id),
       |truth AS (SELECT qid, vec_id FROM (
       |  SELECT q.vec_id AS qid, e.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${sqlDot("q.embedding", "e.embedding")} / (sqrt(nq.n2) * sqrt(ne.n2)) DESC, e.vec_id) AS rank
       |  FROM embeddings q CROSS JOIN embeddings e
       |  JOIN nrm nq ON nq.vec_id = q.vec_id JOIN nrm ne ON ne.vec_id = e.vec_id
       |  WHERE q.vec_id < 8 AND q.vec_id <> e.vec_id) WHERE rank <= 5),
       |swept AS (SELECT c.*, p.n_probe
       |  FROM cand c CROSS JOIN (SELECT unnest([1, 2, 4]) AS n_probe) p
       |  WHERE c.crank <= p.n_probe),
       |top AS (SELECT n_probe, qid, vec_id FROM (
       |  SELECT n_probe, qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY n_probe, qid
       |      ORDER BY cos DESC, vec_id) AS rank FROM swept) WHERE rank <= 5),
       |hits AS (SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS hits FROM top t
       |  WHERE EXISTS (SELECT 1 FROM truth r
       |    WHERE r.qid = t.qid AND r.vec_id = t.vec_id)
       |  GROUP BY 1),
       |costs AS (SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS cand_rows
       |  FROM swept GROUP BY 1),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
       |ns AS (SELECT CAST(COUNT(DISTINCT qid) AS DOUBLE) AS n_q FROM cand),
       |nc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_corpus FROM embeddings)
       |SELECT CAST(c.n_probe AS BIGINT) AS n_probe, CAST(5 AS BIGINT) AS k,
       |  nt.n_truth, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(nt.n_truth AS DOUBLE) AS recall,
       |  c.cand_rows,
       |  CAST(c.cand_rows AS DOUBLE) / (ns.n_q * nc.n_corpus) AS scan_frac
       |FROM costs c LEFT JOIN hits h USING (n_probe)
       |CROSS JOIN nt CROSS JOIN ns CROSS JOIN nc
       |ORDER BY n_probe""".stripMargin

  /** SemDeDup semantic dedup (arXiv:2303.09540): coarse-cluster the
    * embedding corpus (8 deterministic seed centroids, as sim_ivf),
    * then within each cluster drop every vector with a lower-id
    * cluster-mate at cosine >= 0.35, reporting the keeper. The
    * synthetic corpus has no true near-dups (all-pairs max cos ~0.51),
    * so tau sits at the tail of the cosine distribution to exercise
    * the operator; a real deployment uses ~0.95 on text embeddings.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    Similarity.semanticDedup(Tables(s, dir, "embeddings"), tau = 0.35, nCentroids = 8)
      .orderBy(col("vec_id"))
  }

  val dedupSemanticSql: String =
    s"""WITH $NormCte,
       |cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |asg AS (SELECT cid, vec_id, embedding FROM (
       |  SELECT c.cid, e.vec_id, e.embedding,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${sqlDot("e.embedding", "c.ce")} / (sqrt(ne.n2) * sqrt(nc.n2)) DESC, c.cid) AS crank
       |  FROM embeddings e CROSS JOIN cents c
       |  JOIN nrm ne ON ne.vec_id = e.vec_id JOIN nrm nc ON nc.vec_id = c.cid)
       |  WHERE crank = 1)
       |SELECT vec_id, cid, keeper, cos FROM (
       |  SELECT b.vec_id, b.cid, a.vec_id AS keeper,
       |    ${sqlDot("a.embedding", "b.embedding")} / (sqrt(na.n2) * sqrt(nb.n2)) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |      ${sqlDot("a.embedding", "b.embedding")} / (sqrt(na.n2) * sqrt(nb.n2)) DESC, a.vec_id) AS rank
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN nrm na ON na.vec_id = a.vec_id JOIN nrm nb ON nb.vec_id = b.vec_id
       |  WHERE ${sqlDot("a.embedding", "b.embedding")} / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.35)
       |WHERE rank = 1 ORDER BY vec_id""".stripMargin

  /** Sequential-fold squared L2 in DuckDB — bit-identical to
    * [[graft.operators.Similarity.sqL2]]'s zip_with/aggregate fold.
    */
  private def sqlSqL2(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), i -> " +
      s"(CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)) * " +
      s"(CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))), (x, y) -> x + y)"

  /** PQ ADC top-5 (4 subspaces × 8 sub-centroids over the 64-dim
    * corpus): approximate distances from the compressed code table
    * only — the memory-bound ANN path (codes are ~64× smaller than
    * raw embeddings; see [[Similarity.pqTopK]]).
    */
  def simPq(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.spreadToWidth(Tables(s, dir, "embeddings"))
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
      m = 4, nCentroids = 8)
      .orderBy(col("qid"), col("rank"))
  }

  val simPqSql: String =
    s"""WITH seeds AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |ms AS (SELECT unnest(range(4)) AS m),
       |cb AS (SELECT cid, m, ce[m*16+1 : m*16+16] AS csub FROM seeds CROSS JOIN ms),
       |subs AS (SELECT vec_id, m, embedding[m*16+1 : m*16+16] AS sub
       |  FROM embeddings CROSS JOIN ms),
       |codes AS (SELECT vec_id, m, cid AS code FROM (
       |    SELECT s.vec_id, s.m, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sqlSqL2("s.sub", "c.csub")} ASC, c.cid) AS rk
       |    FROM subs s JOIN cb c USING (m)) WHERE rk = 1),
       |qtab AS (SELECT s.vec_id AS qid, s.m, c.cid, ${sqlSqL2("s.sub", "c.csub")} AS d
       |  FROM subs s JOIN cb c USING (m) WHERE s.vec_id < 8),
       |adc AS (SELECT t.qid, co.vec_id,
       |    list_reduce(list(t.d ORDER BY t.m), (x, y) -> x + y) AS adist
       |  FROM codes co JOIN qtab t ON t.m = co.m AND t.cid = co.code
       |  WHERE t.qid <> co.vec_id
       |  GROUP BY t.qid, co.vec_id)
       |SELECT qid, vec_id, adist, rank FROM (
       |  SELECT qid, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id) AS rank FROM adc)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** PQ quantization-distortion report (the index-quality audit Jégou
    * et al. 2011 §III run before trusting ADC distances): for each of
    * the 4 subspaces, the distribution of per-vector assignment
    * distortion — the squared L2 between a vector's subvector and its
    * NEAREST sub-centroid (exactly the quantity PQ encoding
    * minimizes). Reported per subspace as exact rank selections
    * (min / lower median / p95 / max) over the whole corpus, plus the
    * count — a subspace whose p95 dwarfs the others tells you the
    * codebook budget is misallocated before any recall regression
    * shows it.
    *
    * Determinism: each distortion is the sequential-fold sqL2 against
    * literal sub-centroids (bit-identical across engines) reduced by
    * min (a selection, order-free); median/p95 are pure-integer rank
    * selections (k = (n+1) div 2 and (95·(n−1)) div 100 + 1) off the
    * exact grouped cumulative — no double is ever summed across rows.
    *
    * Scale shape: ONE corpus pass (narrow literal-codebook map +
    * posexplode to 4 rows/vector), then cumRanksBy's two-level
    * cumulative per subspace — no global sort at any corpus size.
    */
  def simPqError(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val m = 4
    val seeds = Similarity.collectSeeds(emb, 8)
    if (seeds.isEmpty) return s.range(0).select(
      lit(0L).as("m"), lit(0L).as("n"), lit(0.0).as("min_d"),
      lit(0.0).as("med_d"), lit(0.0).as("p95_d"), lit(0.0).as("max_d"))
    val sub = Similarity.probeDim(emb) / m
    val dists = array((0 until m).map { mi =>
      val cands = graft.functions.TextFunctions.bindOnce(
        slice(col("embedding"), mi * sub + 1, sub)) { sv =>
        array(seeds.sortBy(_._1).map { case (_, ce) =>
          Similarity.sqL2(sv,
            lit(ce.map(_.toDouble).slice(mi * sub, mi * sub + sub)))
        }: _*)
      }
      aggregate(cands, lit(Double.PositiveInfinity),
        (acc, x) => least(acc, x))
    }: _*)
    val dmin = emb
      .select(posexplode(dists).as(Seq("g", "v")))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    // all four selections fold in ONE aggregation over the ranked
    // cumulative (conditions are row-local), so the corpus-sized
    // rank table is consumed exactly once — no reuse, no cache
    val ranked = FeatureQueries.cumRanksBy(dmin)
    ranked.groupBy(col("g")).agg(
        max(col("n")).as("n"), min(col("v")).as("min_d"),
        min(when(col("cum") >= Exact.intdiv(col("n") + 1, lit(2L)),
          col("v"))).as("med_d"),
        min(when(col("cum") >=
          Exact.intdiv(lit(95L) * (col("n") - 1), lit(100L)) + 1L,
          col("v"))).as("p95_d"),
        max(col("v")).as("max_d"))
      .select(col("g").cast("long").as("m"), col("n"), col("min_d"),
        col("med_d"), col("p95_d"), col("max_d"))
      .orderBy(col("m"))
  }

  val simPqErrorSql: String =
    s"""WITH seeds AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |ms AS (SELECT unnest(range(4)) AS m),
       |cb AS (SELECT cid, m, ce[m*16+1 : m*16+16] AS csub FROM seeds CROSS JOIN ms),
       |subs AS (SELECT vec_id, m, embedding[m*16+1 : m*16+16] AS sub
       |  FROM embeddings CROSS JOIN ms),
       |dmin AS (SELECT s.vec_id, s.m, MIN(${sqlSqL2("s.sub", "c.csub")}) AS d
       |  FROM subs s JOIN cb c USING (m) GROUP BY s.vec_id, s.m),
       |ranked AS (SELECT m, d,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY m ORDER BY d) AS BIGINT) AS rk,
       |    CAST(COUNT(*) OVER (PARTITION BY m) AS BIGINT) AS n FROM dmin)
       |SELECT CAST(m AS BIGINT) AS m, MAX(n) AS n, MIN(d) AS min_d,
       |  MIN(CASE WHEN rk >= (n + 1) // 2 THEN d END) AS med_d,
       |  MIN(CASE WHEN rk >= (95 * (n - 1)) // 100 + 1 THEN d END) AS p95_d,
       |  MAX(d) AS max_d
       |FROM ranked GROUP BY m ORDER BY m""".stripMargin

  /** IVFADC top-5 (Jégou 2011 §IV, the FAISS `IVF8,PQ4` shape): coarse
    * cells prune candidates (2 probes of 8 cells), product-quantized
    * RESIDUALS give the compressed scoring path — see
    * [[Similarity.ivfpqTopK]]. Candidate sets differ from sim_pq
    * (cell-pruned) and distances differ from sim_ivf (ADC approx):
    * the three queries certify the three index geometries separately.
    */
  def simIvfpq(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.spreadToWidth(Tables(s, dir, "embeddings"))
    Similarity.ivfpqTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
      m = 4, nCells = 8, pqK = 8, nProbe = 2)
      .orderBy(col("qid"), col("rank"))
  }

  /** Residual of `v` against centroid `c` — the zip_with double fold. */
  private def sqlResid(v: String, c: String): String =
    s"list_transform(range(len($v)), i -> CAST($v[i+1] AS DOUBLE) - CAST($c[i+1] AS DOUBLE))"

  val simIvfpqSql: String =
    s"""WITH $NormCte,
       |cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |asg AS (SELECT cid, vec_id, embedding FROM (
       |  SELECT c.cid, e.vec_id, e.embedding,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${sqlDot("e.embedding", "c.ce")} / (sqrt(ne.n2) * sqrt(nc.n2)) DESC, c.cid) AS crank
       |  FROM embeddings e CROSS JOIN cents c
       |  JOIN nrm ne ON ne.vec_id = e.vec_id JOIN nrm nc ON nc.vec_id = c.cid)
       |  WHERE crank = 1),
       |res AS (SELECT a.cid, a.vec_id, ${sqlResid("a.embedding", "c.ce")} AS resid
       |  FROM asg a JOIN cents c ON c.cid = a.cid),
       |ms AS (SELECT unnest(range(4)) AS m),
       |cb AS (SELECT p.vec_id AS pcid, m, p.resid[m*16+1 : m*16+16] AS csub
       |  FROM (SELECT vec_id, resid FROM res
       |    ORDER BY md5('pqseed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8) p CROSS JOIN ms),
       |subs AS (SELECT cid, vec_id, m, resid[m*16+1 : m*16+16] AS sv FROM res CROSS JOIN ms),
       |codes AS (SELECT cid, vec_id, m, pcid AS code FROM (
       |    SELECT s.cid, s.vec_id, s.m, c.pcid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sqlSqL2("s.sv", "c.csub")} ASC, c.pcid) AS rk
       |    FROM subs s JOIN cb c USING (m)) WHERE rk = 1),
       |prb AS (SELECT qid, cid, qresid FROM (
       |  SELECT q.vec_id AS qid, c.cid, ${sqlResid("q.embedding", "c.ce")} AS qresid,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${sqlDot("q.embedding", "c.ce")} / (sqrt(nq.n2) * sqrt(nc.n2)) DESC, c.cid) AS crank
       |  FROM embeddings q CROSS JOIN cents c
       |  JOIN nrm nq ON nq.vec_id = q.vec_id JOIN nrm nc ON nc.vec_id = c.cid
       |  WHERE q.vec_id < 8) WHERE crank <= 2),
       |qsubs AS (SELECT qid, cid, m, qresid[m*16+1 : m*16+16] AS sv FROM prb CROSS JOIN ms),
       |qtab AS (SELECT q.qid, q.cid, c.m, c.pcid, ${sqlSqL2("q.sv", "c.csub")} AS d
       |  FROM qsubs q JOIN cb c USING (m)),
       |adc AS (SELECT t.qid, co.vec_id,
       |    list_reduce(list(t.d ORDER BY t.m), (x, y) -> x + y) AS adist
       |  FROM codes co JOIN qtab t ON t.cid = co.cid AND t.m = co.m AND t.pcid = co.code
       |  WHERE t.qid <> co.vec_id
       |  GROUP BY t.qid, co.vec_id)
       |SELECT qid, vec_id, adist, rank FROM (
       |  SELECT qid, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id) AS rank FROM adc)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ── Trained-quantizer variants (round 4) ───────────────────────────
  // One Lloyd round on the 256 lowest-id vectors, expressed BOTH as the
  // driver-side fold (Similarity.kmeans*) and in the oracle SQL itself:
  // per-centroid-position means are list_reduce(list(v ORDER BY vec_id))
  // sequential folds divided by COUNT(*) — the exact arithmetic the
  // driver runs, so the trained codebooks (and every score computed
  // from them) hash-match bit-for-bit without baking values into SQL.

  /** Shared training CTEs: sample, seed, assign, mean-update → `cents`
    * (cid, ce double-list, cn = sqrt of the self-dot fold).
    */
  private val TrainedCentsCtes: String =
    s"""smp AS (SELECT vec_id, embedding FROM embeddings
       |  ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 256),
       |seeds AS (SELECT vec_id AS cid, embedding AS ce FROM smp ORDER BY vec_id LIMIT 8),
       |sasg AS (SELECT cid, vec_id, embedding FROM (
       |  SELECT c.cid, s.vec_id, s.embedding,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |      ${sqlDot("s.embedding", "c.ce")} / (sqrt(ns.n2) * sqrt(nc.n2)) DESC, c.cid) AS crank
       |  FROM smp s CROSS JOIN seeds c
       |  JOIN nrm ns ON ns.vec_id = s.vec_id JOIN nrm nc ON nc.vec_id = c.cid)
       |  WHERE crank = 1),
       |upd AS (SELECT cid, p,
       |    list_reduce(list(CAST(embedding[p+1] AS DOUBLE) ORDER BY vec_id), (x,y) -> x+y)
       |      / COUNT(*) AS cv
       |  FROM sasg CROSS JOIN range(64) t(p) GROUP BY cid, p),
       |tc AS (SELECT s.cid,
       |    COALESCE(u.ce, list_transform(s.ce, v -> CAST(v AS DOUBLE))) AS ce
       |  FROM seeds s LEFT JOIN
       |    (SELECT cid, list(cv ORDER BY p) AS ce FROM upd GROUP BY cid) u USING (cid)),
       |cents AS (SELECT cid, ce, sqrt(${sqlDot("ce", "ce")}) AS cn FROM tc)""".stripMargin

  /** IVF ANN with a TRAINED coarse quantizer (1 Lloyd round on the 256
    * lowest-id vectors): same plan as sim_ivf, trained codebook as
    * plan-time literals.
    */
  def simIvfT(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.spreadToWidth(Tables(s, dir, "embeddings"))
    Similarity.ivfTopKTrained(emb, emb.filter(col("vec_id") < 8), k = 5,
      nCentroids = 8, nProbe = 2, sampleN = 256, iters = 1)
      .orderBy(col("qid"), col("rank"))
  }

  val simIvfTSql: String =
    s"""WITH $NormCte,
       |$TrainedCentsCtes,
       |asg AS (SELECT cid, vec_id, embedding FROM (
       |  SELECT c.cid, e.vec_id, e.embedding,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${sqlDot("e.embedding", "c.ce")} / (sqrt(ne.n2) * c.cn) DESC, c.cid) AS crank
       |  FROM embeddings e CROSS JOIN cents c
       |  JOIN nrm ne ON ne.vec_id = e.vec_id) WHERE crank = 1),
       |prb AS (SELECT qid, qe, cid FROM (
       |  SELECT q.vec_id AS qid, q.embedding AS qe, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${sqlDot("q.embedding", "c.ce")} / (sqrt(nq.n2) * c.cn) DESC, c.cid) AS crank
       |  FROM embeddings q CROSS JOIN cents c
       |  JOIN nrm nq ON nq.vec_id = q.vec_id
       |  WHERE q.vec_id < 8) WHERE crank <= 2)
       |SELECT qid, vec_id, cos, rank FROM (
       |  SELECT p.qid, a.vec_id,
       |    ${sqlDot("p.qe", "a.embedding")} / (sqrt(nq.n2) * sqrt(na.n2)) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |      ${sqlDot("p.qe", "a.embedding")} / (sqrt(nq.n2) * sqrt(na.n2)) DESC, a.vec_id) AS rank
       |  FROM prb p JOIN asg a USING (cid)
       |  JOIN nrm nq ON nq.vec_id = p.qid JOIN nrm na ON na.vec_id = a.vec_id
       |  WHERE p.qid <> a.vec_id)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** PQ ADC with TRAINED per-subspace codebooks (1 L2-Lloyd round per
    * subspace on the sample's subvectors).
    */
  def simPqT(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.spreadToWidth(Tables(s, dir, "embeddings"))
    Similarity.pqTopKTrained(emb, emb.filter(col("vec_id") < 8), k = 5,
      m = 4, nCentroids = 8, sampleN = 256, iters = 1)
      .orderBy(col("qid"), col("rank"))
  }

  val simPqTSql: String =
    s"""WITH smp AS (SELECT vec_id, embedding FROM embeddings
       |  ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 256),
       |ms AS (SELECT unnest(range(4)) AS m),
       |sseeds AS (SELECT vec_id AS cid, embedding FROM smp ORDER BY vec_id LIMIT 8),
       |scb AS (SELECT cid, m, embedding[m*16+1 : m*16+16] AS csub FROM sseeds CROSS JOIN ms),
       |ssubs AS (SELECT vec_id, m, embedding[m*16+1 : m*16+16] AS sv FROM smp CROSS JOIN ms),
       |psasg AS (SELECT m, cid, vec_id, sv FROM (
       |    SELECT s.m, c.cid, s.vec_id, s.sv,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sqlSqL2("s.sv", "c.csub")} ASC, c.cid) AS rk
       |    FROM ssubs s JOIN scb c USING (m)) WHERE rk = 1),
       |pupd AS (SELECT m, cid, p,
       |    list_reduce(list(CAST(sv[p+1] AS DOUBLE) ORDER BY vec_id), (x,y) -> x+y)
       |      / COUNT(*) AS cv
       |  FROM psasg CROSS JOIN range(16) t(p) GROUP BY m, cid, p),
       |cb AS (SELECT s.cid, s.m,
       |    COALESCE(u.csub, list_transform(s.csub, v -> CAST(v AS DOUBLE))) AS csub
       |  FROM scb s LEFT JOIN
       |    (SELECT m, cid, list(cv ORDER BY p) AS csub FROM pupd GROUP BY m, cid) u
       |    ON u.m = s.m AND u.cid = s.cid),
       |subs AS (SELECT vec_id, m, embedding[m*16+1 : m*16+16] AS sub
       |  FROM embeddings CROSS JOIN ms),
       |codes AS (SELECT vec_id, m, cid AS code FROM (
       |    SELECT s.vec_id, s.m, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sqlSqL2("s.sub", "c.csub")} ASC, c.cid) AS rk
       |    FROM subs s JOIN cb c USING (m)) WHERE rk = 1),
       |qtab AS (SELECT s.vec_id AS qid, s.m, c.cid, ${sqlSqL2("s.sub", "c.csub")} AS d
       |  FROM subs s JOIN cb c USING (m) WHERE s.vec_id < 8),
       |adc AS (SELECT t.qid, co.vec_id,
       |    list_reduce(list(t.d ORDER BY t.m), (x, y) -> x + y) AS adist
       |  FROM codes co JOIN qtab t ON t.m = co.m AND t.cid = co.code
       |  WHERE t.qid <> co.vec_id
       |  GROUP BY t.qid, co.vec_id)
       |SELECT qid, vec_id, adist, rank FROM (
       |  SELECT qid, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id) AS rank FROM adc)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** IVFADC with BOTH quantizers trained: spherical k-means coarse
    * cells + per-subspace L2 k-means over the sample's residuals.
    */
  def simIvfpqT(s: SparkSession, dir: String): DataFrame = {
    // r12 (this and the eight sibling sim_* queries): the per-vector
    // encode kernels ran single-task off the one-split embeddings scan
    // (profiled 1.35 s of sim_ivfpq_t's 2.26 s) — spread to width
    val emb = graft.Tables.spreadToWidth(Tables(s, dir, "embeddings"))
    Similarity.ivfpqTopKTrained(emb, emb.filter(col("vec_id") < 8), k = 5,
      m = 4, nCells = 8, pqK = 8, nProbe = 2, sampleN = 256, iters = 1)
      .orderBy(col("qid"), col("rank"))
  }

  val simIvfpqTSql: String =
    s"""WITH $NormCte,
       |$TrainedCentsCtes,
       |asg AS (SELECT cid, vec_id, embedding FROM (
       |  SELECT c.cid, e.vec_id, e.embedding,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${sqlDot("e.embedding", "c.ce")} / (sqrt(ne.n2) * c.cn) DESC, c.cid) AS crank
       |  FROM embeddings e CROSS JOIN cents c
       |  JOIN nrm ne ON ne.vec_id = e.vec_id) WHERE crank = 1),
       |res AS (SELECT a.cid, a.vec_id, ${sqlResid("a.embedding", "c.ce")} AS resid
       |  FROM asg a JOIN cents c ON c.cid = a.cid),
       |sres AS (SELECT r.vec_id, r.resid FROM res r JOIN smp s2 ON s2.vec_id = r.vec_id),
       |ms AS (SELECT unnest(range(4)) AS m),
       |pseeds AS (SELECT vec_id AS pcid, resid FROM sres ORDER BY vec_id LIMIT 8),
       |pscb AS (SELECT pcid, m, resid[m*16+1 : m*16+16] AS csub FROM pseeds CROSS JOIN ms),
       |pssubs AS (SELECT vec_id, m, resid[m*16+1 : m*16+16] AS sv FROM sres CROSS JOIN ms),
       |psasg AS (SELECT m, pcid, vec_id, sv FROM (
       |    SELECT s.m, c.pcid, s.vec_id, s.sv,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sqlSqL2("s.sv", "c.csub")} ASC, c.pcid) AS rk
       |    FROM pssubs s JOIN pscb c USING (m)) WHERE rk = 1),
       |pupd AS (SELECT m, pcid, p,
       |    list_reduce(list(sv[p+1] ORDER BY vec_id), (x,y) -> x+y) / COUNT(*) AS cv
       |  FROM psasg CROSS JOIN range(16) t(p) GROUP BY m, pcid, p),
       |cb AS (SELECT s.pcid, s.m, COALESCE(u.csub, s.csub) AS csub
       |  FROM pscb s LEFT JOIN
       |    (SELECT m, pcid, list(cv ORDER BY p) AS csub FROM pupd GROUP BY m, pcid) u
       |    ON u.m = s.m AND u.pcid = s.pcid),
       |subs AS (SELECT cid, vec_id, m, resid[m*16+1 : m*16+16] AS sv FROM res CROSS JOIN ms),
       |codes AS (SELECT cid, vec_id, m, pcid AS code FROM (
       |    SELECT s.cid, s.vec_id, s.m, c.pcid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${sqlSqL2("s.sv", "c.csub")} ASC, c.pcid) AS rk
       |    FROM subs s JOIN cb c USING (m)) WHERE rk = 1),
       |prb AS (SELECT qid, cid, qresid FROM (
       |  SELECT q.vec_id AS qid, c.cid, ${sqlResid("q.embedding", "c.ce")} AS qresid,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${sqlDot("q.embedding", "c.ce")} / (sqrt(nq.n2) * c.cn) DESC, c.cid) AS crank
       |  FROM embeddings q CROSS JOIN cents c
       |  JOIN nrm nq ON nq.vec_id = q.vec_id
       |  WHERE q.vec_id < 8) WHERE crank <= 2),
       |qsubs AS (SELECT qid, cid, m, qresid[m*16+1 : m*16+16] AS sv FROM prb CROSS JOIN ms),
       |qtab AS (SELECT q.qid, q.cid, c.m, c.pcid, ${sqlSqL2("q.sv", "c.csub")} AS d
       |  FROM qsubs q JOIN cb c USING (m)),
       |adc AS (SELECT t.qid, co.vec_id,
       |    list_reduce(list(t.d ORDER BY t.m), (x, y) -> x + y) AS adist
       |  FROM codes co JOIN qtab t ON t.cid = co.cid AND t.m = co.m AND t.pcid = co.code
       |  WHERE t.qid <> co.vec_id
       |  GROUP BY t.qid, co.vec_id)
       |SELECT qid, vec_id, adist, rank FROM (
       |  SELECT qid, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id) AS rank FROM adc)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Streaming near-dup candidates run in bounded mode over the corpus
    * (same operator the streaming query uses — flatMapGroupsWithState
    * over minhash band state): (pair, number of colliding bands).
    * With the cap above corpus size the emitted pair SET equals the
    * batch LSH candidate set, which the oracle re-derives; ids compare
    * as strings in the operator, so the oracle normalizes pairs the
    * same way.
    */
  def streamNearDup(s: SparkSession, dir: String): DataFrame = {
    graft.streaming.StreamingNearDup
      .candidates(s, Tables(s, dir, "documents"), "doc_id", "text", maxPerBand = 100000)
      .toDF()
      .groupBy(col("idA").as("id_a"), col("idB").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val streamNearDupSql: String = {
    val p = graft.operators.Dedup.MinhashP
    val sigI = (i: Int) =>
      s"list_min(list_transform(h, v -> (${graft.operators.Dedup.minhashA(i)} * v + " +
        s"${graft.operators.Dedup.minhashB(i)}) % $p))"
    val bandKey = (j: Int) =>
      s"md5(CAST(${sigI(2 * j)} AS VARCHAR) || '|' || CAST(${sigI(2 * j + 1)} AS VARCHAR))"
    val bandSelects = (0 until 4)
      .map(j => s"SELECT id, $j AS band_id, ${bandKey(j)} AS key FROM hs")
      .mkString("\n  UNION ALL ")
    s"""$ShinglesCte,
       |hs AS (SELECT id, list_transform(s,
       |    x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)) AS h FROM sh),
       |bands AS (\n  $bandSelects)
       |SELECT CAST(a.id AS VARCHAR) AS id_a, CAST(b.id AS VARCHAR) AS id_b,
       |  COUNT(*) AS n_bands
       |FROM bands a JOIN bands b
       |  ON a.band_id = b.band_id AND a.key = b.key
       |  AND CAST(a.id AS VARCHAR) < CAST(b.id AS VARCHAR)
       |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin
  }

  /** Radius search at τ=0.3 for queries vec_id < 4 — the quality-bar
    * retrieval mode (unknown result count). The τ comparison happens
    * on bit-identical doubles in both engines, so even boundary hits
    * agree exactly.
    */
  def simRange(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.cosineRange(emb, emb.filter(col("vec_id") < 4), tau = 0.3)
      .orderBy(col("qid"), col("vec_id"))
  }

  val simRangeSql: String =
    s"""WITH $NormCte
       |SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |  ${sqlDot("q.embedding", "e.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) AS cos
       |FROM embeddings q, embeddings e, nrm a, nrm b
       |WHERE q.vec_id < 4 AND e.vec_id <> q.vec_id
       |  AND a.vec_id = q.vec_id AND b.vec_id = e.vec_id
       |  AND ${sqlDot("q.embedding", "e.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) >= 0.3e0
       |ORDER BY qid, vec_id""".stripMargin

  /** MMR diversified re-ranking: top-8 cosine candidates for queries
    * vec_id < 4, then 3 greedy selections at λ=0.7 — the RAG
    * re-ranker. The oracle replays all three unrolled selection steps;
    * scores hash unrounded because every cosine is the shared
    * sequential-fold dot and the λ-chain uses the same two literals.
    */
  def simMmr(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.mmrSelect(emb, emb.filter(col("vec_id") < 4),
      kCand = 8, nSel = 3, lam = 0.7, oneMinusLam = 0.3)
  }

  val simMmrSql: String =
    s"""WITH $NormCte,
       |cs AS (SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |    ${sqlDot("q.embedding", "e.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) AS cos
       |  FROM embeddings q, embeddings e, nrm a, nrm b
       |  WHERE q.vec_id < 4 AND e.vec_id <> q.vec_id
       |    AND a.vec_id = q.vec_id AND b.vec_id = e.vec_id),
       |cand AS (SELECT qid, vec_id, cos FROM (
       |  SELECT qid, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM cs)
       |  WHERE rn <= 8),
       |pw AS (SELECT x.qid, x.vec_id AS a, y.vec_id AS b,
       |    ${sqlDot("ex.embedding", "ey.embedding")} / (sqrt(na.n2) * sqrt(nb.n2)) AS cab
       |  FROM cand x JOIN cand y ON x.qid = y.qid AND x.vec_id <> y.vec_id
       |  JOIN embeddings ex ON ex.vec_id = x.vec_id
       |  JOIN embeddings ey ON ey.vec_id = y.vec_id
       |  JOIN nrm na ON na.vec_id = x.vec_id
       |  JOIN nrm nb ON nb.vec_id = y.vec_id),
       |s1 AS (SELECT qid, vec_id, score FROM (
       |  SELECT qid, vec_id, 0.7e0 * cos AS score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY 0.7e0 * cos DESC, vec_id) AS rn
       |  FROM cand) WHERE rn = 1),
       |r2 AS (SELECT c.qid, c.vec_id, 0.7e0 * c.cos - 0.3e0 * MAX(p.cab) AS score
       |  FROM cand c
       |  JOIN s1 ON s1.qid = c.qid AND c.vec_id <> s1.vec_id
       |  JOIN pw p ON p.qid = c.qid AND p.a = c.vec_id AND p.b = s1.vec_id
       |  GROUP BY c.qid, c.vec_id, c.cos),
       |s2 AS (SELECT qid, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM r2)
       |  WHERE rn = 1),
       |sel12 AS (SELECT qid, vec_id FROM s1 UNION ALL SELECT qid, vec_id FROM s2),
       |r3 AS (SELECT c.qid, c.vec_id, 0.7e0 * c.cos - 0.3e0 * MAX(p.cab) AS score
       |  FROM cand c
       |  JOIN pw p ON p.qid = c.qid AND p.a = c.vec_id
       |  JOIN sel12 sl ON sl.qid = c.qid AND sl.vec_id = p.b
       |  WHERE NOT EXISTS (SELECT 1 FROM sel12 z
       |    WHERE z.qid = c.qid AND z.vec_id = c.vec_id)
       |  GROUP BY c.qid, c.vec_id, c.cos),
       |s3 AS (SELECT qid, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM r3)
       |  WHERE rn = 1)
       |SELECT qid, CAST(1 AS INT) AS sel_rank, vec_id, score FROM s1
       |UNION ALL SELECT qid, CAST(2 AS INT), vec_id, score FROM s2
       |UNION ALL SELECT qid, CAST(3 AS INT), vec_id, score FROM s3
       |ORDER BY qid, sel_rank""".stripMargin

  /** Matryoshka truncation-energy report (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): MRL deployments serve the
    * first d dims of a trained embedding as a cheaper index, and the
    * operational question before switching is WHICH vectors a
    * truncated index misrepresents. Per vector, the fraction of its
    * squared L2 energy captured by the first 8 / 16 / 32 of its 64
    * dims; report the top-k TAIL-HEAVY vectors (lowest r8, the ones a
    * d=8 index would misplace worst) with their full energy profile.
    *
    * Determinism: each energy is the [[Similarity.normSq]] sequential
    * left-to-right IEEE fold over the float→double squares (the
    * proven sqlDot ≡ aggregate convention); ratios are single
    * divisions of bit-identical doubles; (r8, vec_id) total order.
    *
    * Scale shape: one narrow codegen'd map over the corpus (four
    * row-local folds), TakeOrderedAndProject top-k — no shuffle
    * beyond the top-k reduction at any corpus size.
    */
  def simMrl(s: SparkSession, dir: String, k: Int = 25): DataFrame = {
    def pref(d: Int) = Similarity.normSq(slice(col("embedding"), 1, d))
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        pref(8).as("e8"), pref(16).as("e16"), pref(32).as("e32"),
        Similarity.normSq(col("embedding")).as("e64"))
      .filter(col("e64") > 0.0)
      .select(col("vec_id"), col("label"),
        (col("e8") / col("e64")).as("r8"),
        (col("e16") / col("e64")).as("r16"),
        (col("e32") / col("e64")).as("r32"))
      .orderBy(col("r8"), col("vec_id"))
      .limit(k)
  }

  val simMrlSql: String = {
    def prefE(d: String): String =
      sqlDot(s"embedding[1:$d]", s"embedding[1:$d]")
    s"""WITH e AS (SELECT vec_id, label,
       |    ${prefE("8")} AS e8,
       |    ${prefE("16")} AS e16,
       |    ${prefE("32")} AS e32,
       |    ${sqlDot("embedding", "embedding")} AS e64
       |  FROM embeddings)
       |SELECT vec_id, label, e8 / e64 AS r8, e16 / e64 AS r16,
       |  e32 / e64 AS r32
       |FROM e WHERE e64 > 0.0e0 ORDER BY r8, vec_id LIMIT 25""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_mrl" -> ((s: SparkSession, dir: String) => simMrl(s, dir)),
    "sim_mmr" -> (simMmr _),
    "sim_range" -> (simRange _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_eval" -> (dedupEval _),
    "dedup_incremental" -> (dedupIncremental _),
    "text_novelty" -> (textNovelty _),
    "dedup_cluster" -> (dedupCluster _),
    "dedup_survivors" -> (dedupSurvivors _),
    "dedup_jaccard" -> (dedupJaccard _),
    "dedup_jaccard_join" -> (dedupJaccardJoin _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_simhash" -> (dedupSimhash _),
    "sim_topk" -> (simTopK _),
    "sim_knn_graph" -> (simKnnGraph _),
    "sim_lsh" -> (simLsh _),
    "sim_ivf" -> (simIvf _),
    "sim_recall_sweep" -> (simRecallSweep _),
    "sim_pq_error" -> (simPqError _),
    "sim_pq" -> (simPq _),
    "sim_ivfpq" -> (simIvfpq _),
    "sim_ivf_t" -> (simIvfT _),
    "sim_pq_t" -> (simPqT _),
    "sim_ivfpq_t" -> (simIvfpqT _),
    "dedup_semantic" -> (dedupSemantic _),
    "stream_neardup" -> (streamNearDup _))

  val oracles: Map[String, String] = Map(
    "sim_mrl" -> simMrlSql,
    "sim_mmr" -> simMmrSql,
    "sim_range" -> simRangeSql,
    "dedup_minhash" -> dedupMinhashSql,
    "dedup_eval" -> dedupEvalSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "text_novelty" -> textNoveltySql,
    "dedup_cluster" -> dedupClusterSql,
    "dedup_survivors" -> dedupSurvivorsSql,
    "dedup_jaccard" -> dedupJaccardSql,
    "dedup_jaccard_join" -> dedupJaccardJoinSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_simhash" -> dedupSimhashSql,
    "sim_topk" -> simTopKSql,
    "sim_knn_graph" -> simKnnGraphSql,
    "sim_lsh" -> simLshSql,
    "sim_ivf" -> simIvfSql,
    "sim_recall_sweep" -> simRecallSweepSql,
    "sim_pq_error" -> simPqErrorSql,
    "sim_pq" -> simPqSql,
    "sim_ivfpq" -> simIvfpqSql,
    "sim_ivf_t" -> simIvfTSql,
    "sim_pq_t" -> simPqTSql,
    "sim_ivfpq_t" -> simIvfpqTSql,
    "dedup_semantic" -> dedupSemanticSql,
    "stream_neardup" -> streamNearDupSql)
}
