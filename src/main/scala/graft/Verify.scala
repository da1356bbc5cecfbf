package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare (tools/compare.py), plus
  * verify_status.json: per query its status ("ok"/"error"), error
  * text, row count and seconds, so a query that throws is named in the
  * artifact rather than inferred from a missing directory. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.sessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration subset (comma-separated names); unset → full run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // Session-scoped indexes (kg/graph) build inside the first query
    // that needs them; snapshotting the keep-set BEFORE any query runs
    // means the sweep below would free them — so build both up front.
    graft.queries.KgPipeline.kg(spark, sfDir)
    graft.queries.Relational.graphBuild(spark, sfDir).count()
    val keepRdds = Caches.persistentIds(spark)
    val status = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // begin/end lines on stderr, where Spark logs too: a warning the
      // query's jobs raise (a BlockManager "already exists" on a block
      // two tasks computed, say) lands between its query's two lines
      System.err.println(s"[verify] begin $name")
      val t0 = System.nanoTime()
      val result = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val secs = (System.nanoTime() - t0) / 1e9
        // the count reads the written files' footers, not the query
        val rows = spark.read.parquet(s"$outDir/$name").count()
        (name, "ok", None, Some(rows), secs)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        (name, "error", Some(e.toString), None, (System.nanoTime() - t0) / 1e9)
      }
      // bound executor storage across the 160+ query run: free every
      // per-query cache/checkpoint, keep the two shared indexes
      Caches.sweep(spark, keepRdds)
      System.err.println(s"[verify] end $name ${result._2}")
      result
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusJson = status.map { case (name, st, err, rows, secs) =>
      val seconds = String.format(java.util.Locale.ROOT, "%.3f", Double.box(secs))
      s"""${q(name)}: {"status": ${q(st)}, "error": ${err.map(q).getOrElse("null")}, """ +
        s""""rows": ${rows.getOrElse("null")}, "seconds": $seconds}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), statusJson)
    spark.stop()
  }
}
