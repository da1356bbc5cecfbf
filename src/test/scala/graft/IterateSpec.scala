package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Pins the shared iteration policy: the confirming round of a
  * fixpoint, the uniform non-convergence outcome in both the throwing
  * and the reporting shape, the stats reset that keeps long fixpoints
  * plannable, and the equivalence of the lazy fixed-round chain with
  * the hand-unrolled loop.
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  // path 1-2-...-6: min-label propagation moves label 1 one hop per
  // round, so the last label change (node 6) lands on round 5
  private val pathLen = 6
  private val lastChange = pathLen - 1
  private lazy val path = (1L until pathLen).map(i => (i, i + 1)).toDF("id_a", "id_b")

  private def minLabels(maxRounds: Int): Iterate.Fixpoint = {
    val e = path.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(path.select(col("id_b").as("src"), col("id_a").as("dst")))
    Iterate.fixpoint(e.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id")), maxRounds) { labels =>
      labels.join(e.join(labels, e("dst") === labels("id"))
          .groupBy(e("src").as("id")).agg(min(col("cluster")).as("nmin")), Seq("id"), "left")
        .select(col("id"), least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
    }(Iterate.unchanged(Iterate.labelSum("cluster")))
  }

  test("a last change on round maxIter converges through the confirming round") {
    val fp = minLabels(lastChange + 1)
    assert(fp.converged && fp.rounds == lastChange + 1)
    assert(fp.frame.as[(Long, Long)].collect().forall(_._2 == 1L))
    val c = Dedup.clusters(path, maxIter = lastChange).as[(Long, Long)].collect()
    assert(c.length == pathLen && c.forall(_._2 == 1L))
  }

  test("one round fewer throws in the throwing shape and reports in the reporting shape") {
    val fp = minLabels(lastChange)
    assert(!fp.converged && fp.rounds == lastChange)
    val err = intercept[IllegalStateException](Dedup.clusters(path, maxIter = lastChange - 1))
    assert(err.getMessage.startsWith(s"Dedup.clusters: no fixpoint after $lastChange rounds"))
    assert(intercept[IllegalStateException](fp.orThrow("minLabels")).getMessage ==
      err.getMessage.replace("Dedup.clusters", "minLabels"))
  }

  test("25 self-joining rounds under the every-8th stats reset plan in bounded time") {
    // each round joins two copies of the previous frame, so its size
    // estimate squares per round: unreset, round 25 would carry a
    // ~10^8-bit BigInt that stats estimation multiplies for minutes.
    // The bit bound fails such a run at round ~14, before it stalls.
    val t0 = System.nanoTime()
    val sums = Iterate.unchanged(Iterate.labelSum("v"))
    var maxBits = 0
    val fp = Iterate.fixpoint(Seq((1L, 0L), (2L, 0L)).toDF("id", "v"), 25,
        resetEvery = 8) { f =>
      f.as("a").join(f.as("b"), col("a.id") === col("b.id"))
        .select(col("a.id").as("id"), (col("a.v") + col("b.v") + 1L).as("v"))
    } { frames =>
      val bits = frames.head.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
      assert(bits < 100000, s"size estimate compounded to $bits bits")
      maxBits = math.max(maxBits, bits)
      sums(frames)
    }
    assert(fp.rounds == 25 && !fp.converged)
    assert(fp.frame.agg(max(col("v"))).first.getLong(0) == (1L << 25) - 1)
    assert(maxBits > 1000, s"the step compounds the estimate ($maxBits bits)")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120, s"25 rounds took $secs s")
  }

  test("rounds(n) returns the rows of the hand-unrolled n-step loop") {
    val e = Seq((1L, 2L), (2L, 3L), (2L, 4L), (4L, 5L), (5L, 1L), (6L, 7L))
      .toDF("src", "dst")
    def step(frontiers: List[DataFrame], h: Int): DataFrame =
      e.join(frontiers.head.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(frontiers.reduce(_ unionByName _), Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
    val src = Seq(1L).toDF("node").withColumn("hop", lit(0L))
    val unrolled = (1 to 4).foldLeft(List(src))((fs, h) => step(fs, h) :: fs)
    val chained = Iterate.rounds(src, 4)(step)
    assert(chained.length == unrolled.length)
    chained.zip(unrolled).foreach { case (got, want) =>
      assert(got.as[(Long, Long)].collect().sorted.toSeq ==
        want.as[(Long, Long)].collect().sorted.toSeq)
    }
  }
}
