package graft.query

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.{Caches, Tables}
import graft.functions.TextFunctions
import graft.plans.NativeExpressions

/** The session's postings index: the analogue of the inverted index
  * digsandpaper queries in Elasticsearch (PAPER.md §0, §1.2), and the
  * one text source of the query plane's scorers and of search's
  * free-text leg.
  *
  * Layout: one row per (token, input partition) with parallel arrays
  * `tok, df, cf, doc_ids[], tfs[], head_tfs[], dls[]` — the token's
  * documents in the partition, its count in each, its count among each
  * one's first [[Head]] tokens, and each one's length; `df` and `cf` are
  * the partition's document and occurrence counts. One more row per
  * partition, `tok = null`, is the posting list of every token: it lists
  * every document with `tf = dl` and `head_tf = min(dl, Head)`, so its
  * `df` and `cf` are the partition's document and token counts. Arrays
  * of primitives, not a row per posting, keep the index a few times
  * smaller than the KG it sits next to.
  *
  * `KgPipeline.kg` builds the index of a documents scan once, from the
  * token array its extraction already computes, as a local checkpoint
  * kept with the KG's, and registers it under the scan's files and
  * their stamp (path, length, modification time) as the scan's file
  * index listed them (`Tables.filesRead`). An op's documents input is
  * served from it only when its analyzed plan is a bare scan of the same
  * files, stamped alike, and the op's id and text columns are those the
  * index was built over; every other input (a filtered or in-memory
  * frame, a rewritten table, another head length) derives the same rows
  * in its own plan.
  */
object Postings {

  /** The head length the index's `head_tfs` count (bm25f's default head). */
  val Head = 10

  private type Stamp = Seq[(String, Long, Long)]

  /** A built index: its rows, what it was built over, its corpus
    * counts (documents, tokens, and tokens in the documents' heads) and
    * the frames built in its job (the KG).
    */
  final case class Index(rows: DataFrame, idCol: String, textCol: String,
      idType: DataType, stamp: Stamp, n: Long, ctot: Long, heads: Long, alongside: Seq[DataFrame])

  private val built = new graft.SessionMemo[Seq[String], Index]

  /** A scan's files, for an input whose analyzed plan is a bare file scan. */
  private def bareScan(docs: DataFrame): Option[Stamp] = docs.queryExecution.analyzed match {
    case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
      Some(Tables.filesRead(docs).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted)
    case _ => None
  }

  /** Builds, checkpoints and registers the index of `docs`, a bare scan,
    * from `toks(doc_id, t)`: its `idCol` and `textCol` tokenized by
    * [[TextFunctions.tokens]]. The index is a lazy local checkpoint that
    * one job materializes together with its corpus counts and with the
    * lazy checkpoints `alongside` (the KG, which reads the same `toks`):
    * a Spark job costs more than this corpus's layout does.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, toks: DataFrame,
      alongside: DataFrame*): Index = {
    val stamp = bareScan(docs).getOrElse(
      throw new IllegalArgumentException("a postings index is built over a bare file scan"))
    val Seq(in) = QueryCompiler.small(toks)
    val rows = layout(in, Head, None).localCheckpoint(false)
    // the all-documents rows' counts ([[stats]], without planning a query)
    val counts = rows.queryExecution.toRdd.map { r =>
      if (!r.isNullAt(0)) Seq(0L, 0L, 0L)
      else Seq(r.getLong(1), r.getLong(2), r.getArray(5).toIntArray.map(_.toLong).sum)
    }
    val drained = alongside.map(_.queryExecution.toRdd.map(_ => Seq(0L, 0L, 0L)))
    val Seq(n, ctot, heads) = docs.sparkSession.sparkContext.union(counts +: drained)
      .fold(Seq(0L, 0L, 0L))((a, b) => a.zip(b).map { case (x, y) => x + y })
    val ix = Index(rows, idCol, textCol, docs.schema(idCol).dataType, stamp, n, ctot, heads, alongside)
    built.put(docs.sparkSession, stamp.map(_._1), ix)
    ix
  }

  /** The live index `docs` can be served from, if any. */
  def lookup(docs: DataFrame, idCol: String, textCol: String, headLen: Int): Option[Index] =
    for {
      stamp <- bareScan(docs)
      ix <- built.get(docs.sparkSession, stamp.map(_._1))
      if ix.stamp == stamp && ix.idCol == idCol && ix.textCol == textCol && headLen == Head &&
        docs.schema(idCol).dataType == ix.idType && Caches.alive(ix.rows)
    } yield ix

  /** Whether `df` itself is a live frame built alongside an index (the
    * memoized KG): an index of the session, by identity.
    */
  def isIndex(df: DataFrame): Boolean =
    built.of(df.sparkSession).exists { case (_, ix) => ix.alongside.exists(_ eq df) } && Caches.alive(df)

  /** The layout rows of `toks(doc_id, t)`, one partition at a time; with
    * `keep`, only those tokens' rows (and the all-documents row). A null
    * token array is an empty document.
    */
  private def layout(toks: DataFrame, headLen: Int, keep: Option[Set[String]]): DataFrame = {
    val schema = StructType(Seq(
      StructField("tok", StringType), StructField("df", LongType), StructField("cf", LongType),
      StructField("doc_ids", ArrayType(toks.schema(0).dataType)),
      StructField("tfs", ArrayType(IntegerType, false)),
      StructField("head_tfs", ArrayType(IntegerType, false)),
      StructField("dls", ArrayType(IntegerType, false))))
    toks.mapPartitions { docs =>
      val lists = mutable.HashMap[String, Plist]()
      val all = new Plist
      docs.foreach { r =>
        val t = if (r.isNullAt(1)) Seq.empty[String] else r.getSeq[String](1)
        val counts = mutable.HashMap[String, Array[Int]]()
        t.iterator.zipWithIndex.foreach { case (w, i) =>
          if (keep.forall(_(w))) {
            val c = counts.getOrElseUpdate(w, Array(0, 0))
            c(0) += 1
            if (i < headLen) c(1) += 1
          }
        }
        counts.foreach { case (w, c) => lists.getOrElseUpdate(w, new Plist).add(r.get(0), c(0), c(1), t.size) }
        all.add(r.get(0), t.size, math.min(t.size, headLen), t.size)
      }
      if (all.ids.isEmpty) Iterator.empty
      else Iterator(all.row(null)) ++ lists.toSeq.sortBy(_._1).iterator.map { case (w, p) => p.row(w) }
    }(Encoders.row(schema))
  }

  /** One posting list under construction. */
  private final class Plist {
    val ids = mutable.ArrayBuffer[Any]()
    private val tfs, heads, dls = mutable.ArrayBuilder.make[Int]
    private var cf = 0L
    def add(id: Any, tf: Int, head: Int, dl: Int): Unit = {
      ids += id; tfs += tf; heads += head; dls += dl; cf += tf
    }
    def row(tok: String): Row =
      Row(tok, ids.size.toLong, cf, ids.toSeq, tfs.result(), heads.result(), dls.result())
  }

  /** The corpus counts of layout `rows`: documents, tokens, head tokens. */
  private def stats(rows: DataFrame): DataFrame =
    rows.filter(col("tok").isNull).agg(sum(col("df")).as("n"), sum(col("cf")).as("ctot"),
      sum(aggregate(col("head_tfs"), lit(0L), (a, x) => a + x)).as("heads"))

  /** The stats the scorers read, from the corpus counts: `n, avgdl,
    * avg_lh, avg_lb, ctot`.
    */
  private val StatNames = Seq("n", "avgdl", "avg_lh", "avg_lb", "ctot")

  /** The text source of an op over `docsIn`: the layout rows, from the
    * index or derived in-plan from the documents `where` keeps, and a
    * function adding the corpus stats `n, avgdl, avg_lh, avg_lb, ctot`
    * (doubles) to a frame — query values from the index, a broadcast
    * one-row aggregate in-plan. `keep` limits an in-plan derivation to
    * the query's tokens.
    */
  private[query] final case class Source(rows: DataFrame, withStats: DataFrame => DataFrame)

  private[query] def source(docsIn: DataFrame, idCol: String, textCol: String,
      keep: Option[Seq[String]], headLen: Int = Head, where: Column = lit(true)): Source =
    lookup(docsIn, idCol, textCol, headLen) match {
      case Some(ix) =>
        val (n, ctot, heads) = (ix.n.toDouble, ix.ctot.toDouble, ix.heads.toDouble)
        val values = Seq(n, ctot / n, heads / n, (ctot - heads) / n, ctot)
          .zip(StatNames).map { case (x, name) => NativeExpressions.queryValue(x).as(name) }
        Source(ix.rows.filter(where), _.select(col("*") +: values: _*))
      case None =>
        val Seq(docs) = QueryCompiler.small(docsIn.filter(where))
        val rows = layout(docs.select(col(idCol), TextFunctions.tokens(col(textCol))),
          headLen, keep.map(_.toSet))
        val Seq(n, ctot, heads) = Seq("n", "ctot", "heads").map(c => col(c).cast("double"))
        val st = stats(rows).select(Seq(n, ctot / n, heads / n, (ctot - heads) / n, ctot)
          .zip(StatNames).map { case (x, name) => x.as(name) }: _*)
        Source(rows, _.crossJoin(broadcast(st)))
    }

  /** The postings of the tokens `select` keeps from `src`'s rows: one row
    * per (token, document holding it) with `tok, doc_id` and the doubles
    * `tf, tf_head, dl, df, cf` (document and collection frequency over
    * every partition), plus `select`'s own columns and the corpus stats.
    */
  private[query] def postings(src: Source, select: DataFrame => DataFrame): DataFrame = {
    val byTok = Window.partitionBy(col("tok"))
    val lists = select(src.rows.filter(col("tok").isNotNull))
    val own = lists.columns.toSeq.filterNot(Set("df", "cf", "doc_ids", "tfs", "head_tfs", "dls")).map(col)
    src.withStats(lists
      .select(own ++ Seq(sum(col("df")).over(byTok).cast("double").as("df"),
        sum(col("cf")).over(byTok).cast("double").as("cf"),
        arrays_zip(col("doc_ids"), col("tfs"), col("head_tfs"), col("dls")).as("z")): _*)
      .select(own ++ Seq(col("df"), col("cf"), inline(col("z"))): _*)
      .select(own ++ Seq(col("doc_ids").as("doc_id"), col("tfs").cast("double").as("tf"),
        col("head_tfs").cast("double").as("tf_head"), col("dls").cast("double").as("dl"),
        col("df"), col("cf")): _*))
  }
}
