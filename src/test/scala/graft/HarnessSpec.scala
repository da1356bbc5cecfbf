package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

class HarnessSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("the listener counts only its own group's jobs") {
    val (_, n) = Harness.countJobs(spark) {
      spark.range(10).collect()
      // a job of another group, on a thread that inherits this one's group
      val other = new Thread(() => Harness.inGroup(spark, "harness-spec-other") {
        spark.range(10).collect()
        spark.range(10).collect()
      })
      other.start()
      other.join()
    }
    assert(n == 1)
    val l = Harness.listener(spark)
    l.drain()
    assert(l.take("harness-spec-other").jobs == 2)
  }

  test("a groupBy over a 4-partition range records both stages, their tasks and the shuffle") {
    val group = "harness-spec-stages"
    Harness.inGroup(spark, group)(
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 3).count().collect())
    val l = Harness.listener(spark)
    l.drain()
    val e = l.take(group)
    assert(e.stages == 2)
    assert(e.tasks >= 5)
    assert(e.shuffleWrite > 0)
    assert(e.slowest.size == 2 && e.slowest.map(_.ms) == e.slowest.map(_.ms).sorted.reverse)
  }

  test("indexes returns a keep-set that a sweep leaves kg and graphBuild readable under") {
    val keep = Harness.indexes(spark, dir)
    val kg = graft.queries.KgPipeline.kg(spark, dir)
    val graph = graft.queries.Relational.graphBuild(spark, dir)
    assert(keep.nonEmpty)
    Caches.sweep(spark, keep)
    // checkpoint blocks cannot be recomputed: these reads fail if the
    // sweep freed them
    assert(kg.count() > 0)
    assert(graph.count() > 0)
    assert(graft.queries.KgPipeline.kg(spark, dir) eq kg, "the KG was rebuilt")
  }

  test("SparkSession.builder appears in src/main only in Harness.scala") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSeq
    assert(files == Seq("Harness.scala"))
  }
}
