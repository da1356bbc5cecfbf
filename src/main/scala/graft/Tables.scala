package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All operators take the table directory as a parameter so the same code
  * runs at any scale factor — and, on a real cluster, against any
  * warehouse path. Reads are plain parquet scans: column pruning and
  * predicate pushdown reach the scan via Catalyst (verified with
  * `.explain("formatted")` — see `PlanSpec`).
  *
  * Schema memo: inferring a parquet schema is a Spark job (a footer read
  * per file), paid by every `spark.read.parquet` — at query-plane sizes
  * it costs more than the query it feeds. [[apply]] infers once per
  * table and reads with the remembered schema afterwards, in any
  * session. Within a session the resolved relation itself is memoized
  * too ([[read]]). Both memos are keyed on the qualified path and
  * stamped with one fingerprint, taken by one listing per read: the
  * files under the path (names, sizes, mtimes) and the SQL conf entries
  * that change parquet inference. Rewriting the table or changing that
  * conf misses both.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Stamp(files: Seq[(String, Long, Long)], conf: Seq[(String, String)])

  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  private val relations = new SessionMemo[String, (Stamp, BaseRelation)]

  /** The distinct files `df`'s file scans read (a prepared op's bound
    * tree included), as their file indexes listed them when the relations
    * were built: looking them up lists nothing.
    */
  private[graft] def filesRead(df: DataFrame): Seq[FileStatus] =
    graft.query.Prepared.unfold(df.queryExecution.analyzed).collect {
      case l: LogicalRelation => l.relation
    }.collect {
      case r: HadoopFsRelation => r.location
    }.collect {
      case i: PartitioningAwareFileIndex => i.allFiles()
    }.flatten.distinct

  /** The session's parquet-inference conf. */
  private def parquetConf(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  private def stamp(files: Seq[FileStatus], spark: SparkSession): Stamp =
    Stamp(files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted, parquetConf(spark))

  /** The data files under `p`, listed as a parquet read lists them: names
    * starting with `.`, or with `_` outside a `k=v` partition directory,
    * are not data.
    */
  private def listing(fs: FileSystem, p: Path): Seq[FileStatus] = {
    def hidden(name: String) = name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
    walk(fs.getFileStatus(p))
  }

  /** `path` read as parquet. In a session, a path read before whose files
    * and conf are unchanged is served from the relation resolved then,
    * with fresh attribute ids (two reads still self-join): resolving a
    * data source costs more than the query-plane op it feeds. Otherwise
    * it is resolved with the memoized schema, inferring it only when the
    * memo has none or its stamp no longer matches the read's. One
    * listing stamps both memos; it is taken before resolving, so a table
    * rewritten meanwhile misses on the next read. A path that does not
    * exist fails with Spark's own error.
    */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p).toString
    val listed = scala.util.Try(stamp(listing(fs, p), spark)).toOption
    relations.get(spark, key).collect {
      case (st, rel) if listed.contains(st) => spark.baseRelationToDataFrame(rel)
    }.getOrElse {
      val df = Option(schemas.get(key))
        .collect { case (st, schema) if listed.contains(st) =>
          spark.read.schema(schema).parquet(path)
        }
        .getOrElse {
          val df = spark.read.parquet(path)
          listed.foreach(st => schemas.put(key, (st, df.schema)))
          df
        }
      df.queryExecution.analyzed match {
        case l: LogicalRelation => listed.foreach(st => relations.put(spark, key, (st, l.relation)))
        case _ => ()
      }
      df
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    // The driver's events table stores TIMESTAMP(NANOS), which Spark 4 only
    // reads as a long (spark.sql.legacy.parquet.nanosAsLong). Normalize to
    // TimestampType (µs, floor) so every operator sees a real timestamp.
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      // FLOOR division, not `div` (truncation): pre-epoch nanoseconds
      // would truncate toward zero (-1500ns -> -1µs) while DuckDB's
      // native ns timestamps floor (-2µs), shifting every oracle compare
      // by one unit on pre-1970 data
      case Some(LongType) => df.withColumn("ts", timestamp_micros(
        expr("CASE WHEN ts >= 0 THEN ts div 1000 ELSE -((-ts + 999) div 1000) END")))
      // parquet timestamp[us] with isAdjustedToUTC=false reads as
      // TIMESTAMP_NTZ under Spark 4. The session runs in UTC (see
      // sessionDefaults), so the wall-clock reinterpretation cast is
      // value-preserving: every downstream unix_millis/unix_micros call
      // sees the same instants DuckDB computes natively.
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Round-robin-spread `df` across the session's full width when its
    * natural scan parallelism is BELOW the core count — the small-SF
    * hazard where a table fits one parquet split and every downstream
    * per-row kernel (shingling, minhash, tokenize+md5) runs in a single
    * task (r12 profile: dedup_cluster's whole LSH pipeline on one core,
    * 31 idle). At scale the natural split count exceeds the session
    * width and this is a NO-OP — no exchange enters the plan. Guide
    * §2.5: "input skew: repartition immediately after the read".
    */
  def spreadToWidth(df: DataFrame): DataFrame = {
    val width = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < width) df.repartition(width) else df
  }

  /** Session settings every graft session needs (nanos timestamps, UTC). */
  def sessionDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
}
