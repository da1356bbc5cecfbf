package graft.queries

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plain-Scala references for the round-10 retrieval-depth additions:
  * BM25F field-weighted scoring (kg_bm25f) and the IVF
  * recall-vs-cost sweep (sim_recall_sweep), both at sf0.001.
  */
class Round10OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("kg_bm25f equals a plain-Scala field-weighted replay") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val q = Set("spark", "stream", "join")
    val toks = docs.map { case (id, t) =>
      (id, "[a-z0-9]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toVector)
    }
    val lens = toks.map { case (id, t) =>
      (id, math.min(t.size, 10).toDouble, math.max(t.size - 10, 0).toDouble)
    }
    val n = lens.length.toDouble
    val avgLh = lens.map(_._2).sum / n
    val avgLb = lens.map(_._3).sum / n
    // per (doc, term): head/body tf
    val tf = toks.flatMap { case (id, t) =>
      t.zipWithIndex.filter(e => q(e._1)).map { case (tok, pos) =>
        (id, tok, if (pos < 10) 1L else 0L, if (pos >= 10) 1L else 0L)
      }
    }.groupBy(e => (e._1, e._2)).map { case ((id, tok), g) =>
      (id, tok, g.map(_._3).sum, g.map(_._4).sum)
    }.toSeq
    val dfm = tf.groupBy(_._2).map { case (tok, g) => (tok, g.size.toDouble) }
    val lensM = lens.map(e => (e._1, (e._2, e._3))).toMap
    val scored = tf.groupBy(_._1).map { case (id, terms) =>
      val (lh, lb) = lensM(id)
      // canonical term order for the double sum (Spark's agg order is
      // partition-dependent; round-to-4 absorbs the ulp, asserted with
      // a one-ulp-of-the-4th-decimal tolerance below)
      val s = terms.sortBy(_._2).map { case (_, tok, tfh, tfb) =>
        val idf = math.log((n - dfm(tok) + 0.5) / (dfm(tok) + 0.5) + 1.0)
        val tft = 2.0 * tfh.toDouble / (0.5 + 0.5 * lh / avgLh) +
          (if (avgLb > 0.0) tfb.toDouble / (0.25 + 0.75 * lb / avgLb) else 0.0)
        idf * tft / (1.2 + tft)
      }.sum
      (id, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        terms.size.toLong, terms.map(_._3).sum, terms.map(_._4).sum)
    }.toSeq
    val expected = scored.sortBy(e => (-e._2, e._1)).take(50)
    val got = KgPipeline.kgBm25f(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (id, score, m, th, tb)) =>
      assert(r.getLong(0) == id, s"doc order at $id")
      assert(math.abs(r.getDouble(1) - score) <= 1e-4 + 1e-12, s"score $id")
      assert(r.getLong(2) == m && r.getLong(3) == th && r.getLong(4) == tb,
        s"match counts $id")
    }
    // field weighting is live: at least one doc pair is ordered
    // differently than plain BM25 would order it (head hits dominate)
    val headHeavy = got.filter(r => r.getLong(3) > 0)
    assert(headHeavy.nonEmpty, "corpus has head-field hits")
  }

  test("kg_rm3 equals a plain-Scala pseudo-relevance-feedback replay") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) =>
      (id, "[a-z0-9]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toVector)
    }
    val q0 = Vector("join", "spark", "stream") // canonical order
    val n = toks.length.toDouble
    val avgdl = toks.map(_._2.size).sum.toDouble / n
    val dlM = toks.map(e => (e._1, e._2.size.toDouble)).toMap
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // weighted BM25 over a term->weight map; returns (id, score, m, mOrig)
    def run(terms: Map[String, Double]): Seq[(Long, Double, Long, Long)] = {
      val tf = toks.flatMap { case (id, t) =>
        t.filter(terms.contains).groupBy(identity)
          .map { case (tok, g) => (id, tok, g.size.toDouble) }
      }
      val dfm = tf.groupBy(_._2).map { case (tok, g) => (tok, g.size.toDouble) }
      tf.groupBy(_._1).map { case (id, g) =>
        val s = g.sortBy(_._2).map { case (_, tok, f) =>
          val idf = math.log((n - dfm(tok) + 0.5) / (dfm(tok) + 0.5) + 1.0)
          terms(tok) * idf * (f * (1.2 + 1.0) /
            (f + 1.2 * (1.0 - 0.75 + 0.75 * dlM(id) / avgdl)))
        }.sum
        (id, round4(s), g.size.toLong,
          g.count(e => terms(e._2) == 1.0).toLong)
      }.toSeq
    }
    val fb = run(q0.map(_ -> 1.0).toMap)
      .sortBy(e => (-e._2, e._1)).take(10).map(_._1).toSet
    val exp = toks.filter(e => fb(e._1)).flatMap(_._2)
      .filterNot(q0.contains).groupBy(identity)
      .map { case (tok, g) => (tok, g.size.toLong) }.toSeq
      .sortBy { case (tok, c) => (-c, tok) }.take(5).map(_._1)
    val terms = q0.map(_ -> 1.0).toMap ++ exp.map(_ -> 0.4).toMap
    val expected = run(terms).sortBy(e => (-e._2, e._1)).take(20)
    val got = KgPipeline.kgRm3(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (id, score, m, mo)) =>
      assert(r.getLong(0) == id, s"doc order at $id")
      assert(math.abs(r.getDouble(1) - score) <= 1e-4 + 1e-12, s"score $id")
      assert(r.getLong(2) == m && r.getLong(3) == mo, s"matched $id")
    }
    // the expansion actually fired: some top doc matches > 3 terms
    assert(got.exists(_.getLong(2) > 3), "expansion terms matched")
  }

  test("sim_pq_error equals a plain-Scala distortion-quantile replay") {
    val embs = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def sqL2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc = acc + d * d; i += 1
      }
      acc
    }
    val seeds = embs.sortBy(e => (md5hex(s"seed:${e._1}"), e._1)).take(8)
      .sortBy(_._1).map(_._2)
    val sub = embs.head._2.length / 4
    val got = DedupSim.simPqError(spark, sf).collect()
    assert(got.length == 4)
    (0 until 4).foreach { mi =>
      val ds = embs.map { case (_, e) =>
        val sv = e.slice(mi * sub, mi * sub + sub)
        seeds.map(ce => sqL2(sv, ce.slice(mi * sub, mi * sub + sub))).min
      }.sorted
      val nn = ds.length
      val r = got(mi)
      assert(r.getLong(0) == mi.toLong && r.getLong(1) == nn.toLong, s"keys $mi")
      assert(r.getDouble(2) == ds.head && r.getDouble(5) == ds.last, s"ends $mi")
      assert(r.getDouble(3) == ds(((nn + 1) / 2 - 1).toInt), s"median $mi")
      assert(r.getDouble(4) == ds((95 * (nn - 1) / 100).toInt), s"p95 $mi")
    }
  }

  test("pipeline_pps equals a plain-Scala systematic-PPS replay") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), math.max(r.getLong(1), 1L)))
    val k = 20
    val ordered = docs.sortBy { case (id, _) =>
      (md5hex(s"pps:$id").take(12), id)
    }
    val w = ordered.map(_._2)
    val totW = w.sum
    val cums = w.scanLeft(0L)(_ + _).tail
    def m(c: Long): Long = (2L * k * c + totW) / (2L * totW)
    val expected = ordered.zip(cums).flatMap { case ((id, wt), cum) =>
      (m(cum - wt) until m(cum)).map(i => (i, id, wt))
    }
    assert(expected.length == k, "exactly k sample points")
    val rows = TrainingPrep.ppsSample(spark, sf).collect()
    assert(rows.length == k)
    rows.zip(expected).foreach { case (r, (i, id, wt)) =>
      assert(r.getLong(0) == i && r.getLong(1) == id && r.getLong(2) == wt,
        s"sample $i")
    }
    // heavier docs are sampled at least proportionally often overall:
    // multiplicity of any doc is within 1 of (k*w)/W
    rows.groupBy(_.getLong(1)).foreach { case (id, g) =>
      val wt = docs.find(_._1 == id).get._2
      val exp = k.toDouble * wt.toDouble / totW.toDouble
      assert(g.size.toDouble <= exp + 1.0 && g.size.toDouble >= exp - 1.0,
        s"multiplicity of $id")
    }
  }

  test("sim_recall_sweep equals a plain-Scala IVF recall replay") {
    val embs = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc = acc + a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val seeds = embs.sortBy(e => (md5hex(s"seed:${e._1}"), e._1)).take(8)
      .sortBy(_._1)
    // assignment: argmax cosine over cid-ascending seeds, ties keep
    // the earlier (lower-cid) entry — the ivfAssignLit fold
    val assigned = embs.map { case (id, e) =>
      val best = seeds.map { case (cid, ce) => (cid, cos(e, ce)) }
        .reduceLeft((a, b) => if (b._2 > a._2) b else a)
      (id, best._1)
    }.toMap
    val queries = embs.filter(_._1 < 8)
    val truth = queries.flatMap { case (qid, qe) =>
      embs.filter(_._1 != qid)
        .map { case (vid, ve) => (vid, cos(qe, ve)) }
        .sortBy { case (vid, c) => (-c, vid) }.take(5)
        .map { case (vid, _) => (qid, vid) }
    }.toSet
    val nTruth = truth.size.toLong
    val rows = Seq(1, 2, 4).map { p =>
      val perQ = queries.map { case (qid, qe) =>
        val probed = seeds.map { case (cid, ce) => (cid, cos(qe, ce)) }
          .sortBy { case (cid, c) => (-c, cid) }.take(p).map(_._1).toSet
        val cands = embs.filter(e => e._1 != qid && probed(assigned(e._1)))
        val top = cands.map { case (vid, ve) => (vid, cos(qe, ve)) }
          .sortBy { case (vid, c) => (-c, vid) }.take(5).map(_._1)
        (top.count(v => truth((qid, v))).toLong, cands.length.toLong)
      }
      val hits = perQ.map(_._1).sum
      val cand = perQ.map(_._2).sum
      (p.toLong, 5L, nTruth, hits, hits.toDouble / nTruth.toDouble, cand,
        cand.toDouble / (queries.length.toDouble * embs.length.toDouble))
    }
    val got = DedupSim.simRecallSweep(spark, sf).collect()
    assert(got.length == 3)
    got.zip(rows).foreach { case (r, (p, k, nt, h, rec, c, frac)) =>
      assert(r.getLong(0) == p && r.getLong(1) == k && r.getLong(2) == nt,
        s"keys p=$p")
      assert(r.getLong(3) == h && r.getLong(5) == c, s"counts p=$p")
      assert(r.getDouble(4) == rec && r.getDouble(6) == frac, s"ratios p=$p")
    }
    // the sweep is monotone: more probes never lose recall or cost
    val recs = got.map(_.getDouble(4)).toSeq
    val costs = got.map(_.getLong(5)).toSeq
    assert(recs == recs.sorted && costs == costs.sorted, "monotone sweep")
  }

  test("kg_qld equals a plain-Scala Dirichlet query-likelihood replay") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) =>
      (id, "[a-z0-9]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toVector)
    }
    val q = Vector("spark", "stream", "join")
    val mu = 300.0
    val ctot = toks.map(_._2.size.toLong).sum.toDouble
    val cf = q.map(t => t -> toks.map(_._2.count(_ == t).toLong).sum.toDouble).toMap
    val scored = toks.flatMap { case (id, tv) =>
      val matched = q.filter(t => tv.contains(t)).sorted
      if (matched.isEmpty) None
      else {
        // StrictMath.log, not math.log: Catalyst's ln evaluates via
        // StrictMath and the Math.log intrinsic can differ by 1 ulp on
        // some JDK/CPU combos (observed in the DSIR replay)
        val sm = matched.map { t =>
          StrictMath.log(1.0 + tv.count(_ == t).toDouble * ctot / (mu * cf(t)))
        }.sum
        val score = sm +
          q.size.toDouble * StrictMath.log(mu / (tv.size.toDouble + mu))
        Some((id,
          BigDecimal(score).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          matched.size.toLong))
      }
    }
    val expected = scored.sortBy(e => (-e._2, e._1)).take(50)
    val got = KgPipeline.kgQld(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (id, score, m)) =>
      assert(r.getLong(0) == id, s"doc order at $id")
      // both sides are rounded to 4 decimals, so a FULL rounding-step
      // divergence (1e-4) must still fail — but the Spark-side per-doc
      // sum adds its ≤3 terms in partition/row order while the replay
      // folds sorted tokens, and a raw sum landing within 1 ulp of a
      // .00005 boundary could flip the 4th decimal's representation by
      // an ulp. 1e-12 is strict about rounding steps, tolerant of ulps.
      assert(math.abs(r.getDouble(1) - score) <= 1e-12, s"score $id")
      assert(r.getLong(2) == m, s"matched $id")
    }
    // the Dirichlet length prior is live: among full 3-term matches,
    // scores are not a pure tf function — ordering differs from bm25's
    // for at least one adjacent pair (the two rankers must disagree
    // somewhere or registering both is pointless)
    val bm = KgPipeline.kgBm25(spark, sf).collect().map(_.getLong(0)).toSeq
    val ql = got.map(_.getLong(0)).toSeq
    assert(bm != ql, "QLD and BM25 rank differently on this corpus")
  }

  test("pipeline_moore_lewis equals a plain-Scala cross-entropy replay " +
    "and enriches the in-domain pool") {
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
      // left-to-right fold in token (position) order — the query's
      // sort_array + aggregate chain
      var s = 0.0
      tv.foreach { t =>
        // StrictMath.log matches Catalyst's ln (the Math.log intrinsic
        // can diverge by 1 ulp), required for the == assertion below
        s = s + StrictMath.log(
          ((va(t) + 1L).toDouble * (nIn + v).toDouble) /
            ((vi.getOrElse(t, 0L) + 1L).toDouble * (nAll + v).toDouble))
      }
      (id, lang, tv.size.toLong, s / tv.size.toDouble)
    }
    val expected = scored.sortBy(e => (e._4, e._1)).take(25)
    val got = TrainingPrep.mooreLewis(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (id, lang, n, ce)) =>
      assert(r.getLong(0) == id, s"doc order at $id")
      assert(r.getString(1) == lang && r.getLong(2) == n, s"keys $id")
      assert(r.getDouble(3) == ce, s"ce_diff bit-exact at $id")
    }
    // the selection is a real domain filter: the in-domain share of
    // the selected pool is at least the corpus base rate
    val baseEn = toks.count(_._2 == "en").toDouble / toks.length.toDouble
    val selEn = got.count(_.getString(1) == "en").toDouble / got.length.toDouble
    assert(selEn >= baseEn, s"selection enriches en: $selEn vs base $baseEn")
  }

  test("pipeline_dsir equals a plain-Scala hashed importance-resampling replay") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val B = 4096L
    def bucket(f: String): Long =
      java.lang.Long.parseLong(md5hex(f).take(8), 16) % B
    val feats = docs.map { case (id, lang, t) =>
      val tv = "[a-z0-9]+".r
        .findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toVector
      // unigrams then bigrams — the query's array-concat order
      (id, lang, (tv ++ tv.zip(tv.drop(1)).map { case (a, b) => s"${a}_$b" })
        .map(bucket))
    }
    val ca = feats.flatMap(_._3).groupBy(identity)
      .map { case (b, g) => b -> g.size.toLong }
    val ci = feats.filter(_._2 == "en").flatMap(_._3).groupBy(identity)
      .map { case (b, g) => b -> g.size.toLong }
    val nAll = ca.values.sum
    val nIn = ci.values.sum
    // Catalyst's Log expression evaluates via StrictMath.log — the
    // HotSpot Math.log intrinsic can differ by an ulp on some inputs
    // (observed on the double-log Gumbel chain), so the replay must
    // use StrictMath too
    val scored = feats.filter(_._3.nonEmpty).map { case (id, lang, bs) =>
      var s = 0.0
      bs.foreach { b =>
        s = s + StrictMath.log(
          ((ci.getOrElse(b, 0L) + 1L).toDouble * (nAll + B).toDouble) /
            ((ca(b) + 1L).toDouble * (nIn + B).toDouble))
      }
      val u = (java.lang.Long.parseLong(md5hex(s"dsir:$id").take(12), 16)
        .toDouble + 0.5) / 281474976710656.0
      // both outputs are rounded to 4 decimals (Spark's HALF_UP round)
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, lang, bs.size.toLong, r4(s), r4(s + (-StrictMath.log(-StrictMath.log(u)))))
    }
    val expected = scored.sortBy(e => (-e._5, e._1)).take(25)
    val got = TrainingPrep.dsirSelect(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (id, lang, n, w, g)) =>
      assert(r.getLong(0) == id, s"doc order at $id")
      assert(r.getString(1) == lang && r.getLong(2) == n, s"keys $id")
      assert(r.getDouble(3) == w, s"log_w bit-exact at $id")
      assert(r.getDouble(4) == g, s"gkey bit-exact at $id")
    }
    // resampling still tracks the target distribution
    val baseEn = docs.count(_._2 == "en").toDouble / docs.length.toDouble
    val selEn = got.count(_.getString(1) == "en").toDouble / got.length.toDouble
    assert(selEn >= baseEn, s"selection enriches en: $selEn vs base $baseEn")
  }

  test("kg_ranker_eval equals a plain-Scala metric replay over the " +
    "rankers' own outputs") {
    val q = Set("spark", "stream", "join")
    val rel = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .filter { r =>
        val ts = "[a-z0-9]+".r
          .findAllIn(r.getString(1).toLowerCase(java.util.Locale.ROOT)).toSet
        q.subsetOf(ts)
      }.map(_.getLong(0)).toSet
    val nRel = rel.size.toLong
    assert(nRel > 0, "pseudo-qrel is non-trivial")
    // metric replay over a ranked doc_id list, mirroring the fold ops
    def metrics(ids: Seq[Long]): (Long, Long, Double, Double, Double) = {
      var cnt = 0L
      var ap = 0.0
      var first = 0.0
      ids.zipWithIndex.foreach { case (id, i0) =>
        val i = i0 + 1
        val c = if (rel(id)) 1L else 0L
        ap = ap + c.toDouble * ((cnt + c).toDouble / i.toDouble)
        cnt += c
        if (first == 0.0 && c == 1L) first = i.toDouble
      }
      val p10 = ids.take(10).count(rel).toLong.toDouble / 10.0
      val rr = if (first > 0.0) 1.0 / first else 0.0
      (ids.size.toLong, cnt, p10, rr,
        if (nRel > 0) ap / nRel.toDouble else 0.0)
    }
    val legs = Seq(
      "bm25" -> KgPipeline.kgBm25(spark, sf),
      "bm25f" -> KgPipeline.kgBm25f(spark, sf),
      "qld" -> KgPipeline.kgQld(spark, sf))
    val expected = legs.map { case (n, df) =>
      n -> metrics(df.collect().map(_.getLong(0)).toSeq)
    }.toMap
    val got = KgPipeline.kgRankerEval(spark, sf).collect()
    assert(got.length == 3, "three rankers")
    got.foreach { r =>
      val (nRet, relRet, p10, rr, ap) = expected(r.getString(0))
      assert(r.getLong(1) == nRet && r.getLong(2) == nRel &&
        r.getLong(3) == relRet, s"counts ${r.getString(0)}")
      assert(r.getDouble(4) == p10 && r.getDouble(5) == rr &&
        r.getDouble(6) == ap, s"metrics ${r.getString(0)}")
    }
  }

  test("text_fertility equals a plain-Scala BPE-count replay") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mergesDf = graft.Tables(spark, sf, "documents")
    val merges = graft.functions.Bpe.trainMerges(mergesDf, "doc_id", "text",
      sampleN = 64, nMerges = 8)
    // plain-string replay of the replace-fold apply
    def spacedS(w: String): String = w.flatMap(c => s" $c ")
    def applyS(w: String): String = merges.foldLeft(spacedS(w)) { (acc, p) =>
      val from = " " + p.split(' ').mkString("  ") + " "
      val to = " " + p.replace(" ", "") + " "
      acc.replace(from, to)
    }
    def bpeCount(w: String): Int = applyS(w).trim.split("  ").length
    val per = docs.map { case (_, lang, t) =>
      val tv = "[a-z0-9]+".r
        .findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toVector
      (lang, tv.size.toLong, tv.map(_.length.toLong).sum,
        tv.map(w => bpeCount(w).toLong).sum)
    }.filter(_._2 > 0L)
    val expected = per.groupBy(_._1).map { case (lang, g) =>
      val (nd, ws, ch, bp) =
        (g.size.toLong, g.map(_._2).sum, g.map(_._3).sum, g.map(_._4).sum)
      (lang, nd, ws, ch, bp,
        bp.toDouble / ws.toDouble, bp.toDouble * 100.0 / ch.toDouble)
    }.toSeq.sortBy(_._1)
    val got = TextOps.textFertility(spark, sf).collect()
    assert(got.length == expected.length, "lang count")
    got.zip(expected).foreach { case (r, (lang, nd, ws, ch, bp, f, c100)) =>
      assert(r.getString(0) == lang, "lang order")
      assert(r.getLong(1) == nd && r.getLong(2) == ws &&
        r.getLong(3) == ch && r.getLong(4) == bp, s"counts $lang")
      assert(r.getDouble(5) == f && r.getDouble(6) == c100, s"ratios $lang")
    }
    // the metric is live: every language pays > 1 subword per word
    assert(got.forall(_.getDouble(5) > 1.0), "fertility > 1")
  }

  test("pipeline_anneal equals a plain-Scala two-phase schedule replay") {
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map { r =>
        val tv = "[a-z0-9]+".r
          .findAllIn(r.getString(2).toLowerCase(java.util.Locale.ROOT)).toVector
        (r.getLong(0), r.getString(1), tv.size.toLong,
          tv.distinct.size.toLong)
      }.filter(_._3 > 0L)
    def fill(pool: Seq[(Long, String, Long, Long)], salt: String,
             cap: Long): Seq[(Long, String, Long)] = {
      val ordered = pool.sortBy { case (id, _, _, _) =>
        (java.lang.Long.parseLong(md5hex(s"$salt$id").take(12), 16), id)
      }
      var cum = 0L
      ordered.flatMap { case (id, src, tok, _) =>
        cum += tok
        if (cum <= cap) Some((id, src, tok)) else None
      }
    }
    val budget = 20000L
    val hq = docs.filter(d => d._3 >= 20L && d._4.toDouble / d._3.toDouble > 0.5)
    val sel = fill(docs, "anneal1:", budget * 9L / 10L).map(e => (1, e._2, e._3)) ++
      fill(hq, "anneal2:", budget / 10L).map(e => (2, e._2, e._3))
    val expected = sel.groupBy(e => (e._1, e._2)).map { case ((ph, src), g) =>
      (ph, src, g.size.toLong, g.map(_._3).sum)
    }.toSeq.sortBy(e => (e._1, e._2))
    val got = TrainingPrep.pipelineAnneal(spark, sf).collect()
    assert(got.length == expected.length, "row count")
    got.zip(expected).foreach { case (r, (ph, src, nd, tk)) =>
      assert(r.getInt(0) == ph && r.getString(1) == src &&
        r.getLong(2) == nd && r.getLong(3) == tk, s"row $ph/$src")
    }
    // the anneal phase is a strict-quality subset and both caps bind
    // at bench scales (exercised at sf0.01 by the oracle; at sf0.001
    // the corpus may fit inside the caps — only check structure here)
    assert(got.exists(_.getInt(0) == 2), "anneal phase present")
  }
}
