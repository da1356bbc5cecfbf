package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.extract.Extractors
import graft.functions.TextFunctions
import graft.queries.KgPipeline
import graft.streaming.PipelineRunner

/** The ingest plane: `PipelineRunner.run` drains a CDR feed (many parquet
  * files) with an AvailableNow trigger, through glossary extraction, into a
  * parquet KG store. kg_search drains its corpus in set-up; the traced runs
  * of both workloads drain their documents once more, traced.
  */
final class Ingest(feed: String, out: String) {
  private val schema = StructType(Seq("doc_id", "url", "text", "lang")
    .map(StructField(_, StringType)))
  val glossaries = Seq(
    "op" -> KgPipeline.OpGlossary, "speed" -> KgPipeline.SpeedGlossary,
    "size" -> KgPipeline.SizeGlossary)

  private val transform: DataFrame => DataFrame = df =>
    Extractors.toKgValues(df.select(col("doc_id"), TextFunctions.tokens(col("text")).as("__toks")),
      "doc_id", glossaries.map { case (f, g) =>
        (f, Extractors.glossaryFromTokens(col("__toks"), g), "extract_using_dictionary", "content")
      })

  private var drains = 0
  var lastStore = ""

  /** Drain the feed into a fresh store; returns the micro-batches'
    * triggerExecution times in ms.
    */
  def drain(spark: SparkSession, t: Tracer): Seq[Double] = {
    drains += 1
    val base = s"$out/drain-$drains"
    val q = t.span("streaming", "construct")(PipelineRunner.run(spark, "kg_ingest", feed,
      schema, transform, s"$base/store", s"$base/ckpt"))
    try {
      t.span("exec", "action")(PipelineRunner.await("kg_ingest", 120000L))
      q.exception.foreach(e => throw e)
    } finally PipelineRunner.stop("kg_ingest")
    lastStore = s"$base/store"
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .map(_.durationMs.get("triggerExecution").doubleValue)
  }

  /** The last store's (doc_id, field, key) rows equal a plain-Scala glossary
    * extraction over the feed.
    */
  def check(spark: SparkSession): Boolean = {
    val want = spark.read.parquet(feed).select("doc_id", "text").collect().toSeq.flatMap { r =>
      val toks = SearchRef.tokens(r.getString(1)).toSet
      glossaries.flatMap { case (f, g) => g.distinct.filter(toks).map(k => (r.getString(0), f, k)) }
    }
    val got = spark.read.parquet(lastStore).select("doc_id", "field", "key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    got.sorted == want.sorted
  }

  /** Drain once more as a traced op; returns its per-layer values. */
  def tracedDrain(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val (_, rec) = t.op("drain", "kg_ingest")(drain(spark, t))
    def c(k: String) = rec.counts.getOrElse(k, 0.0)
    val files = Files.list(Paths.get(lastStore)).toArray.count(_.toString.endsWith(".parquet"))
    Map(
      "streaming.batches" -> c("batches"),
      "streaming.add_batch_ms" -> c("stream_addBatch_ms"),
      "streaming.wal_commit_ms" -> c("stream_walCommit_ms"),
      "streaming.planning_ms" -> c("stream_queryPlanning_ms"),
      "streaming.latest_offset_ms" -> c("stream_latestOffset_ms"),
      "streaming.drain_ms" -> rec.wallMs,
      "sources.bytes_read" -> c("input_bytes"),
      "sources.records_read" -> c("input_records"),
      "extract.docs_in" -> c("batch_rows"),
      "extract.kg_values_out" -> c("output_records"),
      "extract.values_per_doc" ->
        (if (c("batch_rows") > 0) c("output_records") / c("batch_rows") else 0.0),
      "store.bytes_written" -> c("output_bytes"),
      "store.files_written" -> files.toDouble)
  }
}
