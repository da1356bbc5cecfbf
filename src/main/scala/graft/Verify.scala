package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare (tools/compare.py), plus
  * verify_status.json: per query its status ("ok"/"error"), error
  * text, row count and seconds, so a query that throws is named in the
  * artifact rather than inferred from a missing directory. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // Session-scoped indexes (kg/graph) build inside the first query
    // that needs them; a keep-set snapshotted BEFORE any query runs
    // would let the sweep below free them — so build both up front.
    val keepRdds = Harness.indexes(spark, sfDir)
    val status = SparkEntry.queries
      .filter { case (name, _) => Harness.only.forall(_.contains(name)) }
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
    def q(s: String): String = Harness.jsonString(s)
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
