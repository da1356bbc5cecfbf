package graft.query

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, ScalaReflection}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.NativeExpressions

/** The structured-query plane (SURVEY §2.6, Q1–Q13): typed constraints →
  * field resolution → weighted relevance scoring + facets, compiled to
  * one DataFrame plan over the long-format KG table
  * (`Extractors.toKgValues`).
  *
  * Reference pipeline (sandpaper coarse, config/etk/config.json:1-97):
  * predicate→type mapping (Q1), value normalization (Q2), constraint
  * expansion via synonym dicts (Q3/Q11), AtLeastOneField OR-combination
  * (Q4), type→field-path mapping (Q5), per-path weights (Q6), free-text
  * fallback (Q13), ranked + faceted execution (O1/A2).
  *
  * Scale: constraints filter the KG table on (field, key) — both
  * pushed to the Parquet scan — and, unioned with one row per document
  * carrying its free-text score, one groupBy(doc_id) shuffle scores
  * and enforces all-constraints-matched. Facets are per-field partial
  * aggregations over the (small) hit set. Small inputs take one task
  * instead: when Catalyst's size estimate of an op's inputs is at most
  * `spark.sql.autoBroadcastJoinThreshold`, every op narrow-coalesces
  * those of them that read at most one file to one partition first
  * ([[small]]). With single-partition leaves EnsureRequirements inserts
  * no exchange, so the groupBys, the windows and the final sort run in
  * the leaves' task rather than as one job per shuffle; only broadcasts
  * (the joins' small sides, built concurrently) stay jobs of their own.
  * Above the threshold, or with it at -1, the plan is the
  * multi-partition shape described per op below, and so is the part
  * of it fed by a multi-file input.
  *
  * Codegen: the Java source Spark generates for an op depends on the
  * op's kind only. Query values ride as references — strings and typed
  * literal arrays and maps, key and token sets as `InSet`s, and numbers
  * the plan compares against as [[NativeExpressions.queryValue]] —
  * never as inlined literals, `In` lists of one comparison per value,
  * constant `rlike` patterns or one union branch per constraint. So
  * each op kind compiles once, and a stream of queries that differ in
  * their values, or in how many constraints, variants or terms they
  * carry, reuses the classes in Spark's JVM-wide codegen cache (100
  * entries) instead of recompiling them. Model parameters (k1, b, μ,
  * the bm25f head) and sizes (limit, facet k) stay literals: a new
  * value of one of them compiles once more.
  *
  * Preparation: over the session's indexes (the memoized KG and the
  * postings index) search, facets' facet plan, bm25, bm25f and qld are
  * built, analyzed and optimized once per kind, index and literals, and
  * each call binds its values into that plan ([[Prepared]]). Each op is
  * written once, as the code that builds its plan from one column per
  * value; any other input runs that code over the values themselves.
  */
object QueryCompiler {

  /** The small-input rule: when the summed size estimate of `inputs` is
    * at most the session's broadcast threshold (the size it already
    * ships whole to every task), each input that reads at most one file
    * is narrow-coalesced to one partition; the rest, and every input
    * above the threshold, are returned unchanged. Coalescing adds no
    * shuffle, but it runs the input's per-row work up to the first
    * exchange in one task: for a multi-file scan (a documents table of
    * ten files, say) that would serialize the tokenizing the scan spreads
    * over one task per file, and the measured ops got slower.
    * The estimate is taken on the analyzed plans, which every DataFrame
    * already has: an optimized plan would cost an optimizer pass per
    * input, and for the KG index and table scans both give the same
    * size.
    */
  private[graft] def small(inputs: DataFrame*): Seq[DataFrame] = {
    val limit = inputs.head.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val estimate = inputs.map(_.queryExecution.analyzed.stats.sizeInBytes).sum
    if (limit < 0 || estimate > limit) inputs
    else inputs.map(in => if (Tables.filesRead(in).size <= 1) in.coalesce(1) else in)
  }

  /** Q1+Q5+Q6: a constraint type resolves to weighted field paths. */
  final case class TypeMapping(fields: Seq[(String, Double)])

  /** Q3 constraint expanders (config/etk/config.json:16-23: Height and
    * Phone expanders generate equivalent unit/format variants). A
    * whitelist of named pure functions — no eval (SURVEY §7).
    */
  object Expanders {
    /** Phone formats: digits-only, +1-prefixed, dashed. */
    val phone: String => Seq[String] = { v =>
      val d = v.replaceAll("\\D", "")
      if (d.isEmpty) Nil
      else {
        val national = if (d.length == 11 && d.startsWith("1")) d.drop(1) else d
        val dashed =
          if (national.length == 10)
            Seq(s"${national.take(3)}-${national.slice(3, 6)}-${national.drop(6)}")
          else Nil
        (Seq(d, national, s"+1$national") ++ dashed).distinct
      }
    }

    /** Height units: 5'6" → inches and centimeters variants. */
    val height: String => Seq[String] = { v =>
      val ftIn = "(\\d)'(\\d{1,2})\"?".r.findFirstMatchIn(v.trim)
      val cm = "(\\d{2,3})\\s*cm".r.findFirstMatchIn(v.trim.toLowerCase)
      ftIn.map { m =>
        val inches = m.group(1).toInt * 12 + m.group(2).toInt
        Seq(s"${inches}in", s"${math.round(inches * 2.54)}cm", m.group(1) + "'" + m.group(2) + "\"")
      }.orElse(cm.map { m =>
        val c = m.group(1).toInt
        val inches = math.round(c / 2.54).toInt
        Seq(s"${c}cm", s"${inches}in", s"${inches / 12}'${inches % 12}\"")
      }).getOrElse(Nil)
    }

    val registry: Map[String, String => Seq[String]] =
      Map("phone" -> phone, "height" -> height)
  }

  /** Q11: per-type synonym expansion dictionary; Q3: named expanders. */
  final case class Catalog(
      typeFieldMappings: Map[String, TypeMapping],
      synonyms: Map[String, Map[String, Seq[String]]] = Map.empty,
      expanders: Map[String, String => Seq[String]] = Map.empty) {

    /** Q2+Q3+Q11: normalize, then expand to synonym + format variants. */
    def expand(ctype: String, value: String): Seq[String] = {
      val norm = value.toLowerCase(java.util.Locale.ROOT).trim
      val syn = synonyms.getOrElse(ctype, Map.empty).getOrElse(norm, Nil)
      val exp = expanders.get(ctype).map(_(value)).getOrElse(Nil)
      (norm +: (syn ++ exp)).distinct
    }
  }

  final case class Constraint(ctype: String, value: String)

  final case class QuerySpec(
      constraints: Seq[Constraint],
      freeText: Option[String] = None,
      limit: Int = 50)

  /** Compile + execute: ranked hits (doc_id, score, matched) with every
    * constraint satisfied on ≥1 field (Q4 AtLeastOneField, clause
    * combination = filter) and free-text token overlap added to the
    * score (Q13, filters-to-shoulds Q9).
    *
    * One plan for every query: the KG rows that satisfy some constraint
    * (each tagged with the constraints it satisfies, looked up in a map
    * literal) and the documents' [[Postings]] rows (every document, and
    * the query tokens' postings) are grouped by doc_id. With constraints
    * and no free text a filter drops the postings rows; their source
    * stays in the plan.
    */
  def search(kgIn: DataFrame, docsIn: DataFrame, docIdCol: String, textCol: String,
             spec: QuerySpec, catalog: Catalog): DataFrame =
    Prepared(searchOp(kgIn, docsIn, docIdCol, textCol, spec, catalog))

  /** The type `typedLit` gives [[search]]'s constraint map, and its
    * converter, derived once: reflecting them per call cost more than the
    * rest of a prepared search's construction.
    */
  private val SatisfiesType = ScalaReflection.schemaFor[Map[String, Map[String, Seq[(Int, Double)]]]].dataType
  private val toSatisfies = CatalystTypeConverters.createToCatalystConverter(SatisfiesType)

  private[query] def searchOp(kgIn: DataFrame, docsIn: DataFrame, docIdCol: String, textCol: String,
      spec: QuerySpec, catalog: Catalog): Prepared.Op = {
    // field -> key -> the (constraint, field weight) pairs that a KG row
    // with that field and key satisfies; a field listed twice in one
    // mapping keeps its first weight
    val satisfies = (for {
      (c, i) <- spec.constraints.zipWithIndex
      (f, w) <- catalog.typeFieldMappings.getOrElse(c.ctype, TypeMapping(Seq(c.ctype -> 1.0)))
        .fields.distinctBy(_._1)
      v <- catalog.expand(c.ctype, c.value)
    } yield (f, v, (i, w))).groupBy(_._1).map { case (f, xs) =>
      f -> xs.groupBy(_._2).map { case (v, ys) => v -> ys.map(_._3) }
    }
    // The documents take part when there is free text to score, or no
    // constraint (the Q13 free-text-only mode: every doc matches with
    // kg_score 0); otherwise a filter drops them before their postings
    // are read or derived.
    val withDocs = spec.freeText.isDefined || spec.constraints.isEmpty
    val qTokens = queryTokens(spec.freeText.getOrElse(""))
    val sources = for {
      ix <- Postings.lookup(docsIn, docIdCol, textCol, Postings.Head) if Postings.isIndex(kgIn)
    } yield Seq(kgIn, ix.rows)
    Prepared.Op("search", sources, Seq(spec.limit, docIdCol, textCol), Vector(
        NativeExpressions.isInSet(col("field"), satisfies.keys),
        NativeExpressions.isInSet(col("key"), satisfies.values.flatMap(_.keys)),
        GraftColumnBridge.column(Literal(toSatisfies(satisfies), SatisfiesType)),
        NativeExpressions.queryValue(withDocs),
        NativeExpressions.isInSet(col("tok"), qTokens),
        NativeExpressions.queryValue(spec.constraints.length.toLong),
        NativeExpressions.queryValue(!withDocs)),
      { case Seq(inFields, inKeys, satisfied, docsTakePart, inTokens, constraints, noDocs) =>
        val kgRows = kgIn
          .filter(inFields && inKeys)
          .select(col("doc_id"), explode(element_at(element_at(satisfied, col("field")), col("key"))).as("m"))
          .select(col("doc_id"), col("m._1").as("cid"), col("m._2").as("w"),
            lit(null).cast("double").as("ft"), lit(null).cast("boolean").as("doc"))
        // Each document's free-text score is the number of query tokens
        // whose postings list it: one row per document from the
        // all-documents row, one per (query token, document) posting.
        val docRows = Postings.source(docsIn, docIdCol, textCol, Some(qTokens), where = docsTakePart).rows
          .filter(col("tok").isNull || inTokens)
          .select(col("tok").isNull.as("doc"), explode(col("doc_ids")).as("doc_id"))
          .select(col("doc_id").cast("string").as("doc_id"), lit(null).cast("int").as("cid"),
            lit(0.0).as("w"), when(col("doc"), 0.0).otherwise(1.0).as("ft"), col("doc"))
        val Seq(rows) = small(kgRows.unionByName(docRows))
        rows
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("cid")).as("matched"), sum(col("w")).as("kg_score"),
            sum(col("ft")).as("ft_score"), max(col("doc")).as("doc"))
          // every constraint satisfied, and a document row when documents take part
          .filter(col("matched") === constraints && (col("doc") || noDocs))
          .select(col("doc_id"),
            (col("kg_score") + when(col("doc"), col("ft_score")).otherwise(0.0)).as("score"),
            col("matched"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(spec.limit)
      })
  }

  /** The distinct tokens of a query, tokenized exactly like the
    * documents ([a-z0-9]+): \W+ keeps underscores, which the document
    * tokenizer splits, so an underscore-bearing query token could never
    * match.
    */
  private def queryTokens(q: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(q.toLowerCase(java.util.Locale.ROOT)).toSeq.distinct

  /** A2/O4 facets over a hit set: top-k keys per facet field.
    *
    * `hits` is a hit list (a search's top `limit` rows, say). It is
    * collected here, and its doc_ids filter the KG as a set: the hits'
    * plan runs once, as the plan it is (a search's hits reuse the
    * classes a search compiled), the filter is pushed to a KG file
    * scan, and the facet plan is the same for every hit list.
    */
  def facets(kgIn: DataFrame, hits: DataFrame, fields: Seq[String], k: Int = 20): DataFrame =
    Prepared(facetsOp(kgIn, hits, fields, k))

  private[query] def facetsOp(kgIn: DataFrame, hits: DataFrame, fields: Seq[String], k: Int): Prepared.Op = {
    val hitIds = hits.collect().flatMap(r => Option(r.getAs[Any]("doc_id")).map(_.toString))
    Prepared.Op("facets", Some(Seq(kgIn)).filter(_ => Postings.isIndex(kgIn)), Seq(k), Vector(
        NativeExpressions.isInSet(col("doc_id"), hitIds), NativeExpressions.isInSet(col("field"), fields)),
      { case Seq(inHits, inFields) =>
        val Seq(kg) = small(kgIn)
        kg.filter(inHits && inFields)
          .groupBy(col("field"), col("key"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("field")).orderBy(col("cnt").desc, col("key"))))
          .filter(col("rank") <= k)
          .select(col("field"), col("key"), col("cnt"), col("rank"))
      })
  }

  /** Q10 execution with timeout (config/etk/config.json:45, 180s): run
    * the collect under a job group and cancel it if the deadline passes —
    * the Spark analogue of the ES query timeout.
    */
  def executeWithTimeout(df: DataFrame, timeoutSec: Int,
                         groupId: String = "graft-query"): Either[String, Array[org.apache.spark.sql.Row]] = {
    val sc = df.sparkSession.sparkContext
    // Per-invocation group id: a shared id would make one query's
    // timeout cancel every concurrently running query in the group.
    val gid = s"$groupId-${java.util.UUID.randomUUID()}"
    // Job-group local properties are read on the thread that TRIGGERS the
    // action, and pooled threads inherit properties only at creation — so
    // the group is set inside the task on a dedicated single-use thread
    // (caller-thread setJobGroup + global pool can cancel nothing, or
    // wrongly cancel a later query that reuses the pooled thread).
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(exec)
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val fut = scala.concurrent.Future {
        sc.setJobGroup(gid, s"graft query (timeout ${timeoutSec}s)", interruptOnCancel = true)
        try {
          // closes the race where the timeout fires before this thread
          // even set the group (cancelJobGroup would have been a no-op
          // and the job would run unbounded)
          if (cancelled.get()) throw new InterruptedException("cancelled before start")
          df.collect()
        } finally sc.clearJobGroup()
      }(ec)
      Right(scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration(timeoutSec, "s")))
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        cancelled.set(true)
        sc.cancelJobGroup(gid)
        exec.shutdownNow() // interrupt the worker if it never reached collect
        Left(s"query exceeded ${timeoutSec}s and was cancelled")
    } finally exec.shutdown()
  }

  /** Q7 phrase matching (type_query_mappings.json: Title→match_phrase):
    * tokens must appear adjacently (any non-alnum glue between them).
    */
  def phraseMatch(c: Column, phrase: String): Column = {
    val toks = phrase.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty)
    val rx = toks.map(java.util.regex.Pattern.quote).mkString("(^|[^a-z0-9])", "[^a-z0-9]+", "($|[^a-z0-9])")
    regexp_instr(lower(c), lit(rx)) > 0
  }

  /** Q9 source projection: the compiler's include/exclude select-list
    * (elasticsearch_compiler_options.json:5-26) — column pruning that
    * Catalyst then pushes into the scan.
    */
  def project(df: DataFrame, include: Seq[String], exclude: Seq[String]): DataFrame = {
    val cols = (if (include.nonEmpty) df.columns.filter(include.contains)
                else df.columns).filterNot(exclude.contains)
    df.select(cols.map(col).toIndexedSeq: _*)
  }

  /** Q9 highlight: matched-fragment extraction around a term. */
  def highlight(textCol: Column, term: String, context: Int = 30): Column =
    regexp_extract(textCol,
      s"(?i)(.{0,$context}${java.util.regex.Pattern.quote(term)}.{0,$context})", 1)

  /** O1/Q6 BM25 free-text relevance — the reference's actual scoring
    * function (ES 5 default similarity; the weighted-match scorer in
    * [[search]] was the documented deviation, closed round 3):
    *
    *   score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
    *   idf(t)     = ln( (N − df + 0.5)/(df + 0.5) + 1 )      (BM25+, ES form)
    *
    * All four scorers are expressions over one source, the query
    * tokens' [[Postings]]: one row per (token, document) with its tf,
    * head tf, document length, df and cf, plus the corpus stats — read
    * from the session's index, or derived in-plan for any other input.
    * Fully in-plan, no driver actions. Scale shape: the postings lists
    * of the query tokens only; the one corpus-wide pass is an in-plan
    * derivation's, and its stats are a broadcast one-row aggregate.
    * Scores are emitted rounded (4 decimals) so cross-engine float
    * comparison is stable.
    */
  def bm25(docsIn: DataFrame, docIdCol: String, textCol: String, query: String,
           k1: Double = 1.2, b: Double = 0.75, limit: Int = 50): DataFrame =
    Prepared(bm25Op(docsIn, docIdCol, textCol, query, k1, b, limit))

  private[query] def bm25Op(docsIn: DataFrame, docIdCol: String, textCol: String, query: String,
      k1: Double, b: Double, limit: Int): Prepared.Op =
    tokenOp("bm25", docsIn, docIdCol, textCol, query, Postings.Head, Seq(k1, b, limit)) { (postings, _) =>
      rank(postings.withColumn("s", idf * tfNorm(k1, b)),
        limit, round(sum(col("s")), 4).as("score"), count(lit(1)).as("matched"))
    }

  /** An op over the postings of `query`'s tokens in `docsIn`
    * ([[Postings.postings]]): `scored` ranks them, given too the column
    * holding the number of query tokens. It is prepared over the
    * session's postings index of `docsIn`, if there is one.
    */
  private def tokenOp(kind: String, docsIn: DataFrame, docIdCol: String, textCol: String,
      query: String, headLen: Int, literals: Seq[Any])(scored: (DataFrame, Column) => DataFrame): Prepared.Op = {
    val q = queryTokens(query)
    Prepared.Op(kind, Postings.lookup(docsIn, docIdCol, textCol, headLen).map(ix => Seq(ix.rows)),
      Seq(docIdCol, textCol, headLen) ++ literals,
      Vector(NativeExpressions.isInSet(col("tok"), q), NativeExpressions.queryValue(q.size.toDouble)),
      { case Seq(inQuery, terms) =>
        scored(Postings.postings(Postings.source(docsIn, docIdCol, textCol, Some(q), headLen), _.filter(inQuery)),
          terms)
      })
  }

  private val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)

  private def tfNorm(k1: Double, b: Double) = col("tf") * (k1 + 1.0) /
    (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))

  /** Per-document `aggs` of the scored postings, top `limit` by (score
    * DESC, doc_id).
    */
  private def rank(scored: DataFrame, limit: Int, aggs: Column*): DataFrame =
    scored.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)

  /** [[bm25]] over a DYNAMIC weighted term table `terms(tok, w)`, one row
    * per term, instead of a literal query string — the scoring core
    * pseudo-relevance feedback needs (the expansion terms are
    * data-derived, so the postings are selected by a broadcast
    * equi-join on `tok` rather than a token set; per-term score
    * contributions are scaled by `w`). Identical math, identical
    * determinism discipline (scores rounded to 4 decimals).
    */
  def bm25Weighted(docsIn: DataFrame, docIdCol: String, textCol: String,
                   termsIn: DataFrame, k1: Double = 1.2, b: Double = 0.75,
                   limit: Int = 50): DataFrame = {
    val Seq(terms) = small(termsIn)
    val scored = Postings.postings(Postings.source(docsIn, docIdCol, textCol, None),
        _.join(broadcast(terms), "tok"))
      .withColumn("s", col("w") * idf * tfNorm(k1, b))
    rank(scored, limit, round(sum(col("s")), 4).as("score"), count(lit(1)).as("matched"),
      sum(when(col("w") === 1.0, 1L).otherwise(0L)).as("matched_orig"))
  }

  /** BM25F (Robertson & Zaragoza 2009 §"The Probabilistic Relevance
    * Framework", eq. 3.20; originally Zaragoza et al., TREC-13 2004):
    * the FIELD-WEIGHTED extension of [[bm25]] — per-field term
    * frequencies are length-normalized PER FIELD, combined with field
    * weights into one pseudo-frequency, and saturated ONCE:
    *
    *   tf̃(t,d) = Σ_f w_f · tf_f(t,d) / (1 − b_f + b_f·len_f(d)/avglen_f)
    *   score   = Σ_t idf(t) · tf̃ / (k1 + tf̃)
    *
    * (Weighting then saturating — rather than summing per-field BM25
    * scores — is the published result: it keeps a term's marginal
    * contribution sub-linear across fields.) Fields here are positional
    * — the first `headLen` tokens form the "head" field (title-weight
    * w=2, gentle b=0.5), the remainder the "body" (w=1, b=0.75) — so
    * the oracle can re-derive the exact same split from raw text. The
    * index counts heads of [[Postings.Head]] tokens; another `headLen`
    * derives its postings in-plan.
    *
    * Determinism: per-field tf/length are exact integers; avglen is an
    * exact-integer sum ÷ count; each tf̃ is a fixed two-term IEEE chain
    * (constants 0.5/0.25/0.75/2.0 are exact binary; k1 written as the
    * same literal both engines); scores rounded to 4 decimals before
    * the cross-engine compare, the [[bm25]] convention.
    */
  def bm25f(docsIn: DataFrame, docIdCol: String, textCol: String,
            query: String, headLen: Int = 10, wHead: Double = 2.0,
            k1: Double = 1.2, limit: Int = 50): DataFrame =
    Prepared(bm25fOp(docsIn, docIdCol, textCol, query, headLen, wHead, k1, limit))

  private[query] def bm25fOp(docsIn: DataFrame, docIdCol: String, textCol: String,
      query: String, headLen: Int, wHead: Double, k1: Double, limit: Int): Prepared.Op = {
    val lh = least(col("dl"), lit(headLen.toDouble))
    val lb = greatest(col("dl") - headLen, lit(0.0))
    val tfb = col("tf") - col("tf_head")
    // two-term pseudo-frequency; the body term is gated on avg_lb > 0
    // (an all-short corpus has tfb = 0 everywhere, but 0/NaN ≠ 0)
    val tfTilde =
      lit(wHead) * col("tf_head") / (lit(0.5) + lit(0.5) * lh / col("avg_lh")) +
      when(col("avg_lb") > 0.0, tfb / (lit(0.25) + lit(0.75) * lb / col("avg_lb")))
        .otherwise(lit(0.0))
    tokenOp("bm25f", docsIn, docIdCol, textCol, query, headLen, Seq(wHead, k1, limit)) { (postings, _) =>
      rank(postings.withColumn("s", idf * tfTilde / (lit(k1) + tfTilde)),
        limit, round(sum(col("s")), 4).as("score"), count(lit(1)).as("matched"),
        sum(col("tf_head").cast("long")).as("tf_head"), sum(tfb.cast("long")).as("tf_body"))
    }
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2001, "A Study of Smoothing Methods for Language Models Applied
    * to Ad Hoc Information Retrieval" — the sparse "efficient"
    * decomposition Lucene ships as LMDirichletSimilarity): the other
    * canonical probabilistic ranking function next to [[bm25]],
    *
    *   score(q,d) = Σ_{t ∈ q∩d} ln(1 + tf_{t,d}·|C| / (μ·cf_t))
    *              + |q|·ln(μ / (dl_d + μ)),
    *
    * where cf_t is the COLLECTION frequency (total occurrences, not
    * document count — the LM/BM25 statistical split) and |C| the total
    * corpus token count. Only documents matching ≥1 query term are
    * ranked — the inverted-index contract; unmatched documents carry a
    * rank-only length prior that no index would materialize.
    *
    * Determinism: the matched-term sum is a ≤|q|-row double sum →
    * total score rounded to 4 decimals (the [[bm25]] convention);
    * (score DESC, doc_id) total order. cf/|C| are exact integers cast
    * once; μ is the same literal on both engines.
    */
  def qld(docsIn: DataFrame, docIdCol: String, textCol: String,
          query: String, mu: Double = 300.0, limit: Int = 50): DataFrame =
    Prepared(qldOp(docsIn, docIdCol, textCol, query, mu, limit))

  private[query] def qldOp(docsIn: DataFrame, docIdCol: String, textCol: String,
      query: String, mu: Double, limit: Int): Prepared.Op =
    tokenOp("qld", docsIn, docIdCol, textCol, query, Postings.Head, Seq(mu, limit)) { (postings, terms) =>
      val prior = terms * log(lit(mu) / (max(col("dl")) + lit(mu)))
      rank(postings.withColumn("s", log(lit(1.0) + col("tf") * col("ctot") / (lit(mu) * col("cf")))),
        limit, round(sum(col("s")) + prior, 4).as("score"), count(lit(1)).as("matched"))
    }
}
