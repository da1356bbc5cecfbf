package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-stress harness must itself keep working (r5 VERDICT #3):
  * replication correctness (FK-consistent key offsets, salted text,
  * preserved uniqueness) at 2× on sf0.001, and the measure→exponent
  * pipeline end to end on a small panel.
  */
class ScaleStressSpec extends AnyFunSuite {

  private val src = "/root/testdata/sf0.001"
  private lazy val out = {
    val d = Files.createTempDirectory("graft_scale_spec").toString
    ScaleStress.replicate(SparkSpec.session, src, d, copies = 2)
    d
  }

  test("replication doubles fact tables, keeps dims, preserves key uniqueness") {
    assume(Files.isDirectory(Paths.get(src)))
    val s = SparkSpec.session
    for (t <- Seq("orders", "lineitem", "events", "documents", "embeddings",
        "customer", "supplier", "part")) {
      val n0 = Tables(s, src, t).count()
      val n2 = Tables(s, out, t).count()
      assert(n2 == 2 * n0, s"$t: $n0 -> $n2")
    }
    for (t <- Seq("region", "nation"))
      assert(Tables(s, out, t).count() == Tables(s, src, t).count(), t)
    for ((t, k) <- Seq("orders" -> "o_orderkey", "events" -> "event_id",
        "documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val df = Tables(s, out, t)
      assert(df.select(k).distinct().count() == df.count(), s"$t.$k uniqueness")
    }
  }

  test("a replica is reusable only with the marker of its own (srcDir, copies)") {
    assume(Files.isDirectory(Paths.get(src)))
    assert(ScaleStress.replicaComplete(out, src, copies = 2))
    assert(!ScaleStress.replicaComplete(out, src, copies = 3))
    val otherSrc = Files.createTempDirectory("graft_scale_src").toString
    assert(!ScaleStress.replicaComplete(out, otherSrc, copies = 2))
    // a replica without its marker (an interrupted run) is not reused
    val partial = Files.createTempDirectory("graft_scale_partial")
    Files.createDirectories(partial.resolve("lineitem.parquet"))
    assert(!ScaleStress.replicaComplete(partial.toString, src, copies = 2))
  }

  test("FK consistency: every replicated lineitem still joins its order") {
    val s = SparkSpec.session
    val orphans = Tables(s, out, "lineitem").as("l")
      .join(Tables(s, out, "orders").as("o"),
        col("l.l_orderkey") === col("o.o_orderkey"), "left_anti")
      .count()
    assert(orphans == 0)
  }

  test("text salting breaks cross-copy near-duplication but keeps copy 0 verbatim") {
    val s = SparkSpec.session
    val n0 = Tables(s, src, "documents").count()
    val maxSrcId = Tables(s, src, "documents")
      .agg(max(col("doc_id"))).head.getLong(0)
    val both = Tables(s, out, "documents")
      .withColumn("copy", (col("doc_id") > lit(maxSrcId)).cast("int"))
    // copy 0 text survives byte-for-byte
    val origHash = Tables(s, src, "documents")
      .agg(expr("bit_xor(xxhash64(doc_id, text))")).head.getLong(0)
    val copy0Hash = both.filter(col("copy") === 0)
      .agg(expr("bit_xor(xxhash64(doc_id, text))")).head.getLong(0)
    assert(copy0Hash == origHash)
    // the two copies share (essentially) no exact text: identical rows
    // across copies would re-create the 2x-deep-bucket artifact
    val crossDup = both.groupBy(col("text")).agg(
        countDistinct(col("copy")).as("nc"))
      .filter(col("nc") > 1).count()
    assert(crossDup < n0 / 20, s"cross-copy exact dups: $crossDup of $n0")
  }

  test("name regeneration and sign-flip salting keep in-copy structure, break cross-copy twins") {
    val s = SparkSpec.session
    // customer/supplier names are regenerated from the shifted key, so
    // name-prefix ER blocks do NOT deepen with the copy count (names
    // stay globally unique, exactly as a larger real generation would)
    for ((t, nameCol) <- Seq("customer" -> "c_name", "supplier" -> "s_name")) {
      val df = Tables(s, out, t)
      assert(df.select(nameCol).distinct().count() == df.count(),
        s"$t.$nameCol uniqueness across copies")
    }
    // embeddings: copy k is a sign-flip reflection of the base —
    // magnitudes identical component-wise (within-copy geometry is
    // EXACTLY preserved: a reflection is orthogonal), signs flipped on
    // exactly the (i mod 7) classes where bit (i mod 7) of k is set
    // (k=1 -> components with i % 7 == 0), so cross-copy twins of a
    // base vector are no longer near-duplicates
    val srcV = Tables(s, src, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val maxSrcId = srcV.agg(max(col("vec_id"))).head.getLong(0)
    val vecK = {
      var p = 10L; while (p <= maxSrcId + 1) p *= 10; p
    }
    val copy1 = Tables(s, out, "embeddings")
      .filter(col("vec_id") > lit(maxSrcId))
      .select((col("vec_id") - lit(vecK)).as("vec_id"),
        col("embedding").as("e1"))
    val joined = srcV.join(copy1, "vec_id")
    // component-wise: |a| == |b| everywhere; sign differs iff i%7 == 0
    val viol = joined
      .select(aggregate(
        zip_with(col("embedding"), col("e1"), (a, b) => struct(a.as("a"), b.as("b"))),
        struct(lit(0).as("i"), lit(0L).as("bad")),
        (acc, x) => {
          val i = acc.getField("i")
          val a = x.getField("a"); val b = x.getField("b")
          val flipClass = pmod(i, lit(7)) === 0
          val ok = when(flipClass, a === -b).otherwise(a === b)
          struct((i + 1).as("i"),
            (acc.getField("bad") + when(ok, 0L).otherwise(1L)).as("bad"))
        }).getField("bad").as("bad"))
      .agg(sum(col("bad"))).head.getLong(0)
    assert(viol == 0, s"sign-flip salt violated on $viol components")
  }

  test("measure -> exponents produces finite rows and the renderer flags only real alerts") {
    val s = SparkSpec.session
    val panel = Seq("window_quota", "agg_pricing")
    val base = ScaleStress.measure(s, src, panel, k = 1, Set.empty)
    val big = ScaleStress.measure(s, out, panel, k = 1, Set.empty)
    val rows = ScaleStress.exponents(base, big, copies = 2)
    assert(rows.size == 2 && rows.forall(r => !r.exponent.isNaN && !r.exponent.isInfinite))
    val md = ScaleStress.render(rows, copies = 2, src, alertAt = 1.3)
    assert(md.contains("window_quota") && md.contains("agg_pricing"))
    // a fabricated quadratic row must trip the alert
    val alert = ScaleStress.render(
      Seq(ScaleStress.Row("bad_op", 1.0, 4.2, 2.07)), 2, src, 1.3)
    assert(alert.contains("**ALERT**"))
  }
}
