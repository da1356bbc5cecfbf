package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Harness, SparkSpec, Tables}

/** `Tables.apply` infers a table's parquet schema once and reads with the
  * remembered schema afterwards. The memo must never serve a schema the
  * table or the session conf no longer has.
  */
class TablesSchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private def tableDir(): String = {
    val dir = Files.createTempDirectory("tables-memo").toFile
    dir.deleteOnExit()
    dir.getAbsolutePath
  }

  private def jobs(body: => Any): Int = Harness.countJobs(spark)(body)._2

  test("a second read of an unchanged path launches no job") {
    val dir = tableDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(jobs(Tables(spark, dir, "t")) >= 1, "the first read infers the schema")
    assert(jobs(Tables(spark, dir, "t")) == 0)
    assert(Tables(spark, dir, "t").orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("rewriting a path with a different schema re-infers") {
    val dir = tableDir()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "s"))
    Seq((7L, 2.5, true)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables(spark, dir, "t")
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "x" -> DoubleType, "flag" -> BooleanType))
    assert(df.as[(Long, Double, Boolean)].collect().toSeq == Seq((7L, 2.5, true)))
  }

  test("another session's read of a path launches no job, and re-infers after a rewrite") {
    // a new session misses the relation memo, so the schema memo serves it
    val dir = tableDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    Tables(spark, dir, "t")
    val other = spark.newSession()
    val (df, none) = Harness.countJobs(other)(Tables(other, dir, "t"))
    assert(none == 0, "the schema memo was not served to the new session")
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    Seq((7L, 2.5)).toDF("id", "x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val third = spark.newSession()
    val (rewritten, some) = Harness.countJobs(third)(Tables(third, dir, "t"))
    assert(some >= 1, "the rewritten table was read with the memoized schema")
    assert(rewritten.schema.map(f => f.name -> f.dataType) == Seq("id" -> LongType, "x" -> DoubleType))
    assert(rewritten.as[(Long, Double)].collect().toSeq == Seq((7L, 2.5)))
  }

  test("a repeat read serves the resolved relation with fresh attributes, so two reads self-join") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def relation(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.asInstanceOf[LogicalRelation]
    val dir = tableDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    val (a, b) = (Tables(spark, dir, "t"), Tables(spark, dir, "t"))
    assert(relation(a).relation eq relation(b).relation, "the second read resolved a new data source")
    assert(relation(a).output.map(_.exprId).intersect(relation(b).output.map(_.exprId)).isEmpty)
    val joined = a.as("x").join(b.as("y"), $"x.id" === $"y.id" + 1)
    assert(joined.select($"x.s", $"y.s").as[(String, String)].collect().toSeq == Seq(("b", "a")))
    // a rewrite is a new relation
    Seq((3L, "c")).toDF("id", "s").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val c = Tables(spark, dir, "t")
    assert(!(relation(c).relation eq relation(a).relation))
    assert(c.as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("the type of ts follows spark.sql.legacy.parquet.nanosAsLong") {
    // parquet TIMESTAMP(NANOS), the encoding of the early events tables;
    // Spark cannot write it, so it is written with parquet-mr
    val dir = tableDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withConf(new Configuration())
      .withType(schema)
      .build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1500000500L, 2L -> -1500L).foreach { case (id, ns) =>
      writer.write(rows.newGroup().append("event_id", id).append("ts", ns))
    } finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key, "true") {
      val df = Tables(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.orderBy("event_id").select(unix_micros($"ts")).as[Long].collect().toSeq ==
        Seq(1500000L, -2L))
    }
    // without the flag Spark cannot infer the column at all: the
    // memoized long schema must not be served in its place
    withConf(key, "false") {
      val err = intercept[org.apache.spark.sql.AnalysisException](Tables(spark, dir, "events"))
      assert(err.getMessage.contains("TIMESTAMP(NANOS"), err.getMessage)
    }
    withConf(key, "true")(assert(Tables(spark, dir, "events").schema("ts").dataType == TimestampType))
  }
}
