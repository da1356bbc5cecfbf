package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plain-Scala references for the round-11 additions: the end-to-end
  * coarse structured query (kg_coarse) at sf0.001.
  */
class Round11OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("kg_coarse equals a plain-Scala full-pipeline replay " +
    "(normalize, expand, AtLeastOneField, weight, facet, highlight)") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0).toString, r.getString(1),
        r.getString(2).toLowerCase(java.util.Locale.ROOT)))
    val toks = docs.map { case (id, lang, lt) =>
      (id, lang, lt,
        "[a-z0-9]+".r.findAllIn(lt).toVector.distinct.toSet)
    }
    // the compiled constraint legs: " Join " normalizes to join and
    // expands to {join, merge}; "FAST" → fast → {fast, big} across
    // the speed@5 / size@3 fields
    val scored = toks.flatMap { case (id, lang, lt, t) =>
      val c0 = t("join") || t("merge")
      val c1 = t("fast") || t("big")
      if (!c0 || !c1) None
      else {
        val kgScore = (if (t("join")) 10.0 else 0.0) +
          (if (t("merge")) 10.0 else 0.0) +
          (if (t("fast")) 5.0 else 0.0) +
          (if (t("big")) 3.0 else 0.0)
        val ft = Seq("spark", "stream").count(t).toDouble
        Some((id, lang, lt, kgScore + ft))
      }
    }
    val hits = scored.sortBy(e => (-e._4, e._1)).take(50)
    // synonym expansion is LIVE in the match set: some document
    // satisfies a constraint ONLY via the expanded variant (merge
    // without join, or big without fast) — it matches at all because
    // of Q3/Q11. (Such docs score ≤ 10 points below full matches, so
    // they sit below the top-50 cut at this corpus size — liveness is
    // a membership property of the pre-limit set.)
    val scoredToks = scored.map(e => toks.find(_._1 == e._1).get._4)
    assert(scoredToks.exists(t => !t("join") && t("merge")) ||
      scoredToks.exists(t => !t("fast") && t("big")),
      "no match depends on a synonym variant — expansion not exercised")
    // and the variant WEIGHTS flow into the certified scores: some
    // top-50 hit carries a merge or big contribution
    val hitToks = hits.map(h => toks.find(_._1 == h._1).get._4)
    assert(hitToks.exists(t => t("merge")) || hitToks.exists(t => t("big")),
      "no hit score carries a variant contribution")
    val fragRx = "(.{0,30}join.{0,30})".r
    val expHits = hits.map { case (id, lang, lt, score) =>
      ("hit", id, lang, score, 2L,
        fragRx.findFirstMatchIn(lt).map(_.group(1)).getOrElse(""))
    }
    // facets over the hit set: top-10 op/size keys by (cnt desc, key)
    val opGloss = KgPipeline.OpGlossary.toSet
    val sizeGloss = KgPipeline.SizeGlossary.toSet
    val facetCounts = hits.flatMap { h =>
      val t = toks.find(_._1 == h._1).get._4
      t.filter(opGloss).map(k => ("op", k)) ++
        t.filter(sizeGloss).map(k => ("size", k))
    }.groupBy(identity).map { case (fk, g) => (fk._1, fk._2, g.size.toLong) }
    val expFacets = facetCounts.groupBy(_._1).toSeq.flatMap { case (f, g) =>
      g.toSeq.sortBy(e => (-e._3, e._2)).zipWithIndex.take(10).map {
        case ((_, k, c), i) => ("facet", f, k, c.toDouble, (i + 1).toLong, "")
      }
    }
    val expected = (expHits ++ expFacets)
      .sortBy(e => (e._1, e._2, e._3))
    val got = KgPipeline.kgCoarse(spark, sf).collect()
    assert(got.length == expected.length, s"row count ${got.length} vs ${expected.length}")
    got.zip(expected).foreach { case (r, (kind, k1, k2, v1, v2, frag)) =>
      assert(r.getString(0) == kind && r.getString(1) == k1 &&
        r.getString(2) == k2, s"keys at $k1/$k2")
      assert(r.getDouble(3) == v1, s"v1 at $kind/$k1")
      assert(r.getLong(4) == v2, s"v2 at $kind/$k1")
      assert(r.getString(5) == frag, s"frag at $kind/$k1")
    }
    // both sections present and the hit section is really constrained:
    // every hit carries both constraints (matched = 2 by construction)
    assert(got.exists(_.getString(0) == "hit"), "hit section present")
    assert(got.exists(_.getString(0) == "facet"), "facet section present")
  }

  test("kg_tau equals a plain-Scala Kendall tau-a replay over the " +
    "three rankers' top-50 lists") {
    def top(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    val lists = Map(
      "bm25" -> top(KgPipeline.kgBm25(spark, sf)),
      "bm25f" -> top(KgPipeline.kgBm25f(spark, sf)),
      "qld" -> top(KgPipeline.kgQld(spark, sf)))
    val expected = Seq(("bm25", "bm25f"), ("bm25", "qld"), ("bm25f", "qld"))
      .map { case (a, b) =>
        val ra = lists(a).zipWithIndex.toMap
        val rb = lists(b).zipWithIndex.toMap
        val common = lists(a).filter(rb.contains)
        val prs = for {
          i <- common.indices; j <- (i + 1) until common.size
        } yield {
          val (d1, d2) = (common(i), common(j))
          (ra(d1) - ra(d2)).sign * (rb(d1) - rb(d2)).sign
        }
        val c = prs.count(_ > 0).toLong
        val np = prs.size.toLong
        val tau = if (np > 0) (c.toDouble * 2.0 - np.toDouble) / np.toDouble else 0.0
        (s"$a~$b", common.size.toLong, c, np - c, tau)
      }.sortBy(_._1)
    val got = KgPipeline.kgTau(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (pair, n, c, d, tau)) =>
      assert(r.getString(0) == pair, "pair order")
      assert(r.getLong(1) == n, s"n_common $pair")
      assert(r.getLong(2) == c, s"concordant $pair")
      assert(r.getLong(3) == d, s"discordant $pair")
      assert(r.getDouble(4) == tau, s"tau $pair")
    }
    // the statistic is informative: at least one pair agrees less than
    // perfectly (tau < 1) — three distinct scoring functions producing
    // three identical orders would mean the rankers are degenerate
    assert(got.exists(_.getDouble(4) < 1.0), "some pair disagrees")
  }

  test("pipeline_rho equals a plain-Scala token-level selection replay") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = docs.map { case (id, lang, t) =>
      (id, lang,
        "[a-z0-9]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toVector)
    }
    val va = toks.flatMap(_._3).groupBy(identity)
      .map { case (t, g) => t -> g.size.toLong }
    val vi = toks.filter(_._2 == "en").flatMap(_._3).groupBy(identity)
      .map { case (t, g) => t -> g.size.toLong }
    val v = va.size.toLong
    val nAll = va.values.sum
    val nIn = vi.values.sum
    val scored = toks.filter(_._3.nonEmpty).map { case (id, lang, tv) =>
      // per-token excess in position order; StrictMath matches
      // Catalyst's ln
      val ex = tv.map { t =>
        StrictMath.log(
          ((vi.getOrElse(t, 0L) + 1L).toDouble * (nAll + v).toDouble) /
            ((va(t) + 1L).toDouble * (nIn + v).toDouble))
      }
      var mass = 0.0
      ex.foreach(e => if (e > 0.0) mass += e)
      val nSel = ex.count(_ > 0.0).toLong
      // sel_mass is emitted rounded to 4 decimals (Spark's HALF_UP round)
      (id, lang, tv.size.toLong, nSel, nSel.toDouble / tv.size.toDouble,
        BigDecimal(mass).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expected = scored.sortBy(e => (-e._5, e._1)).take(25)
    val got = TrainingPrep.pipelineRho(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (id, lang, n, nSel, share, mass)) =>
      assert(r.getLong(0) == id, s"doc order at $id")
      assert(r.getString(1) == lang && r.getLong(2) == n, s"keys $id")
      assert(r.getLong(3) == nSel, s"n_selected $id")
      assert(r.getDouble(4) == share, s"sel_share $id")
      assert(r.getDouble(5) == mass, s"sel_mass bit-exact $id")
    }
    // the token-level gate is live: selection is a strict subset on at
    // least one returned document (0 < n_selected < n_tokens)
    assert(got.exists(r => r.getLong(3) > 0L && r.getLong(3) < r.getLong(2)),
      "no document with a strict token subset selected")
  }

  test("sim_mrl equals a plain-Scala truncation-energy replay") {
    val vecs = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    def energy(v: Array[Float], d: Int): Double = {
      var a = 0.0
      v.take(d).foreach(x => a += x.toDouble * x.toDouble)
      a
    }
    val expected = vecs.map { case (id, label, v) =>
      val e64 = energy(v, v.length)
      (id, label, energy(v, 8) / e64, energy(v, 16) / e64,
        energy(v, 32) / e64, e64)
    }.filter(_._6 > 0.0)
      .sortBy(e => (e._3, e._1)).take(25)
      .map(e => (e._1, e._2, e._3, e._4, e._5))
    val got = DedupSim.simMrl(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (id, label, r8, r16, r32)) =>
      assert(r.getLong(0) == id && r.getInt(1) == label, s"keys $id")
      assert(r.getDouble(2) == r8, s"r8 bit-exact $id")
      assert(r.getDouble(3) == r16 && r.getDouble(4) == r32, s"ratios $id")
    }
    // monotone by construction, and the report is informative: the
    // tail-heaviest vector really loses energy at d=8
    got.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-15 &&
        r.getDouble(3) <= r.getDouble(4) + 1e-15, "energy monotone in d")
    }
    assert(got.head.getDouble(2) < 0.5, "top row loses >half energy at d=8")
  }

  test("eval_passk equals a plain-Scala unbiased-estimator replay") {
    val rows = graft.Tables(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_quantity")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val g = rows.groupBy(_._1).map { case (p, xs) =>
      (p, xs.size.toLong, xs.count(_._2 >= 45.0).toLong)
    }.filter(_._2 >= 20L)
    def passAt(n: Long, c: Long, k: Int): Double = {
      var acc = 1.0
      (0 until k).foreach { i =>
        acc = acc * ((n.toDouble - c.toDouble - i.toDouble) /
          (n.toDouble - i.toDouble))
      }
      1.0 - acc
    }
    val expected = g.map { case (p, n, c) =>
      (p, n, c, passAt(n, c, 1), passAt(n, c, 5), passAt(n, c, 10))
    }.toSeq.sortBy(e => (-e._6, e._1)).take(50)
    val got = LlmEval.evalPassK(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (p, n, c, p1, p5, p10)) =>
      assert(r.getLong(0) == p && r.getLong(1) == n && r.getLong(2) == c,
        s"keys $p")
      assert(r.getDouble(3) == p1 && r.getDouble(4) == p5 &&
        r.getDouble(5) == p10, s"pass@k bit-exact $p")
    }
    // estimator sanity on the returned rows: pass@1 ≤ pass@5 ≤ pass@10,
    // and pass@1 is the success rate c/n up to the product-form chain
    got.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(4) + 1e-15 &&
        r.getDouble(4) <= r.getDouble(5) + 1e-15, "monotone in k")
      assert(math.abs(r.getDouble(3) -
        r.getLong(2).toDouble / r.getLong(1).toDouble) < 1e-12, "pass@1 ≈ c/n")
    }
  }

  test("eval_bt equals a plain-Scala Bradley-Terry MM replay") {
    val rows = graft.Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")).collect()
      .map(r => (r.getLong(0), r.getLong(1) % 8L, r.getDouble(2).toLong))
    val perLeague = rows.groupBy(e => (e._1, e._2))
      .map { case ((ok, lg), g) => (ok, lg, g.map(_._3).sum) }
    val battles = perLeague.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val a = g.minBy(_._2); val b = g.maxBy(_._2)
      if (a._2 == b._2 || a._3 == b._3) None
      else Some((a._2, b._2, if (a._3 > b._3) a._2 else b._2))
    }
    val pc = battles.groupBy(e => (e._1, e._2)).map { case ((a, b), g) =>
      (a, b, g.count(_._3 == a).toLong, g.count(_._3 == b).toLong)
    }
    val ex = pc.flatMap { case (a, b, wab, wba) =>
      Seq((a, b, wab + wba, wab), (b, a, wab + wba, wba))
    }.toSeq
    val wi = ex.groupBy(_._1).map { case (i, g) =>
      i -> (g.map(_._4).sum, g.map(_._3).sum)
    }
    var p = ex.map(_._1).distinct.map(i => i -> 1.0).toMap
    (1 to 5).foreach { _ =>
      p = p.keys.map { i =>
        // opponent-ordered fold, matching list(... ORDER BY j)
        var den = 0.0
        ex.filter(_._1 == i).sortBy(_._2).foreach { case (_, j, n, _) =>
          den += n.toDouble / (p(i) + p(j))
        }
        i -> wi(i)._1.toDouble / den
      }.toMap
    }
    var tot = 0.0
    p.keys.toSeq.sorted.foreach(i => tot += p(i))
    val expected = p.keys.toSeq
      .map(i => (i, wi(i)._1, wi(i)._2, p(i) / tot))
      .sortBy(e => (-e._4, e._1))
    val got = RankingEval.evalBt(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (i, w, g, st)) =>
      assert(r.getLong(0) == i && r.getLong(1) == w && r.getLong(2) == g,
        s"keys $i")
      assert(r.getDouble(3) == st, s"strength bit-exact $i")
    }
    // the model is live: strengths are not uniform (some league is
    // genuinely stronger under the quantity-win rule), yet all
    // positive and normalized
    assert(got.map(_.getDouble(3)).distinct.length > 1, "non-uniform")
    assert(math.abs(got.map(_.getDouble(3)).sum - 1.0) < 1e-12, "normalized")
    assert(got.forall(_.getDouble(3) > 0.0), "all positive")
  }

  test("eval_bt: an empty pair table yields no rows") {
    import spark.implicits._
    val ex = Seq.empty[(Long, Long, Long, Long)].toDF("i", "j", "n", "w")
    assert(RankingEval.btFold(ex, rounds = 5).collect().isEmpty)
  }
}
