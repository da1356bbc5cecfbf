package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Round-5 additions certified against independent plain-Scala
  * references (not the DuckDB oracle — that runs in the driver gate):
  * Brown double-exponential smoothing, k-core peeling, the KMV distinct
  * sketch, one-way ANOVA, and the LSH k-NN graph.
  */
class Round5OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val dir01 = "/root/testdata/sf0.01"

  test("ts_holt matches a plain-Scala sequential Brown fold exactly") {
    val rows = TimeSeriesQueries.tsHolt(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // independent reference: per-user values in (ts, event_id) order,
    // folded with the same α = 1/2 cascade
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("value"))
      .filter(col("value").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1).map { case (u, rs) =>
      u -> rs.sortBy(r => (r._2, r._3)).map(_._4)
    }
    var checked = 0
    byUser.foreach { case (u, vs) =>
      if (vs.length >= 2) {
        var s1 = vs.head; var s2 = vs.head
        vs.tail.foreach { v =>
          val ns1 = (v + s1) * 0.5
          val ns2 = (ns1 + s2) * 0.5
          s1 = ns1; s2 = ns2
        }
        val (n, level, trend, forecast) = rows(u)
        assert(n == vs.length, s"user $u n")
        assert(level == s1 * 2.0 - s2, s"user $u level")
        assert(trend == s1 - s2, s"user $u trend")
        assert(forecast == (s1 * 2.0 - s2) + (s1 - s2), s"user $u forecast")
        checked += 1
      }
    }
    assert(checked > 0 && rows.size == checked)
  }

  test("graph_kcore equals the run-to-convergence plain-Scala peel (and round 4 IS the fixpoint)") {
    val edges = Relational.graphBuild(spark, dir01)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    def peel(alive: Set[Long]): Map[Long, Long] = {
      val deg = edges.flatMap { case (u, v) =>
        if (alive(u) && alive(v)) Seq(u -> 1L, v -> 1L) else Nil
      }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum }
      deg.filter(_._2 >= 2)
    }
    var alive = edges.flatMap(e => Seq(e._1, e._2)).toSet
    var last = Map.empty[Long, Long]
    var rounds = 0
    var stable = false
    while (!stable && rounds < 50) {
      val next = peel(alive)
      stable = next.keySet == alive
      last = next; alive = next.keySet; rounds += 1
    }
    assert(rounds <= 4, s"test-corpus peel must stabilize within the 4 unrolled rounds (took $rounds)")
    val got = Relational.graphKcore(spark, dir01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "2-core must be non-trivial on the test corpus")
    assert(got == last)
  }

  test("sketch_kmv matches a plain-Scala KMV and is exact below k") {
    val k = 64
    val ev = graft.Tables(spark, dir01, "events")
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def h(u: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0
    }
    val expect = ev.groupBy(_._1).map { case (t, us) =>
      val ids = us.map(_._2).distinct
      val hs = ids.map(u => (h(u), u)).sortBy(identity)
      val est =
        if (ids.length < k) ids.length.toDouble
        else (k - 1).toDouble / hs(k - 1)._1
      // HALF_UP at 4dp — Spark's round() convention for doubles
      t -> (BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, ids.length.toLong)
    }
    val got = Relational.sketchKmv(spark, dir01).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (t, (est, nExact)) =>
      assert(got(t)._2 == nExact, s"$t exact count")
      assert(got(t)._1 == est, s"$t estimate: got ${got(t)._1}, want $est")
      if (nExact < k) assert(got(t)._1 == nExact.toDouble, s"$t sub-k exactness")
      else assert(math.abs(got(t)._1 - nExact) / nExact < 0.5,
        s"$t estimate sane: ${got(t)._1} vs $nExact")
    }
  }

  test("stats_anova satisfies the SSB + SSW = SST decomposition and group count") {
    val r = Relational.statsAnova(spark, dir01).collect().head
    val (g, n, ssb, ssw) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val vals = graft.Tables(spark, dir01, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value")).collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    assert(g == vals.map(_._1).distinct.length)
    assert(n == vals.length)
    val m = vals.map(_._2).sum / vals.length
    val sst = vals.map(v => (v._2 - m) * (v._2 - m)).sum
    assert(math.abs(ssb + ssw - sst) / sst < 1e-9,
      s"decomposition: ssb=$ssb ssw=$ssw sst=$sst")
    assert(r.getDouble(4) > 0.0)
  }

  test("sim_knn_graph picks each vector's true within-bucket argmax, NULL for singletons") {
    val emb = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def bucket(v: Array[Float]): String =
      (0 until 4).map { j =>
        var acc = 0.0
        for (d <- v.indices)
          acc += v(d).toDouble * Similarity.planeComponentValue(j, d)
        if (acc > 0) '1' else '0'
      }.mkString
    val byBucket = emb.groupBy(e => bucket(e._2))
    val expect = emb.map { case (id, v) =>
      val mates = byBucket(bucket(v)).filter(_._1 != id)
      if (mates.isEmpty) id -> None
      else {
        val scored = mates.map { case (mid, mv) =>
          (dot(v, mv) / (math.sqrt(dot(v, v)) * math.sqrt(dot(mv, mv))), mid)
        }
        val best = scored.minBy { case (c, mid) => (-c, mid) }
        id -> Some(best._2)
      }
    }.toMap
    val got = TimeSeriesQueriesHelper.knn(spark, dir)
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, nn) =>
      assert(got(id) == nn, s"vec $id: got ${got(id)}, want $nn")
    }
    assert(expect.values.exists(_.isDefined))
  }
  test("dedup_containment equals the brute-force all-pairs containment at tau = 0.8") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
    val sh = docs.select(col("doc_id"),
        array_distinct(graft.functions.TextFunctions.shingles(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val expect = (for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia != ib
      inter = (sa & sb).size
      if inter * 10 >= sa.size * 8
    } yield (ia, ib) -> (inter, sa.size, sb.size)).toMap
    val got = graft.operators.Dedup
      .containmentJoinPrefix(docs, "doc_id", "text", tauTenths = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got == expect, s"got ${got.size} pairs, want ${expect.size}")
  }

  test("containment is asymmetric: a quote inside a longer doc scores 1.0 one way only") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " iota kappa lambda mu nu xi omicron pi rho sigma " +
      "tau upsilon phi chi psi omega one two three four five six seven"
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .containmentJoinPrefix(docs, "doc_id", "text", tauTenths = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1.0)
    assert(!got.contains((2L, 1L)))
  }

  test("ts_decompose: additivity cnt = trend + seasonal + resid and zero residual means") {
    val rows = TimeSeriesQueries.tsDecompose(spark, dir01).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cnt, trend, seasonal, resid) =
        (r.getLong(2).toDouble, r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(trend + seasonal + resid - cnt) < 1e-6,
        s"additivity at ${r.getString(0)}/${r.getLong(1)}")
    }
    // per-(type, dow) residual means vanish by construction
    rows.groupBy(r => (r.getString(0), (r.getLong(1) + 4) % 7)).foreach {
      case (k, rs) =>
        val s = rs.map(_.getDouble(5)).sum
        assert(math.abs(s) / rs.length < 1e-9, s"residual mean at $k: $s")
    }
  }

  test("dHash kernel: constant, two-tone, and scaled-ramp images hash as predicted") {
    import graft.multimodal.ImageCodec
    val const9x8 = ImageCodec.encodePngColumns(Array.fill(9)(128), 8)
    assert(ImageCodec.dHashBits(const9x8).get == "0" * 64)
    val twoTone = ImageCodec.encodePngColumns(
      Array(20, 20, 20, 20, 20, 220, 220, 220, 220), 8)
    // the single rising edge is at column 4 -> 5: bit c=4 per row
    assert(ImageCodec.dHashBits(twoTone).get == "0000100000001000" * 4)
    // non-9×8 path goes through the bilinear scale: a strict horizontal
    // ramp stays strictly increasing, so every bit is 1
    val ramp = ImageCodec.encodePngColumns(Array.tabulate(18)(c => c * 14), 16)
    assert(ImageCodec.dHashBits(ramp).get == "1" * 64)
  }
  test("ts_asof_nearest picks the closer marker, backward on ties") {
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // markers mirror the query: event_id % 10 == 0, max id per (user, ts)
    val markers = ev.filter(_._3 % 10 == 0)
      .groupBy(e => (e._1, e._2)).map { case ((u, t), es) => (u, t, es.map(_._3).max) }
      .toSeq
    val byUser = markers.groupBy(_._1)
    val expect = ev.map { case (u, t, id) =>
      val ms = byUser.getOrElse(u, Nil)
      val back = ms.filter(_._2 <= t)
        .sortBy(m => (m._2, m._3)).lastOption // latest ts; ties max id
      val fwd = ms.filter(_._2 >= t)
        .sortBy(m => (m._2, -m._3)).headOption // earliest ts; ties max id
      val pick = (back, fwd) match {
        case (Some(b), Some(f)) =>
          if (t - b._2 <= f._2 - t) Some((b._3, t - b._2)) else Some((f._3, -(f._2 - t)))
        case (Some(b), None) => Some((b._3, t - b._2))
        case (None, Some(f)) => Some((f._3, -(f._2 - t)))
        case _ => None
      }
      id -> pick
    }.toMap
    val got = TimeSeriesQueries.tsAsofNearest(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getLong(4))))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, p) => assert(got(id) == p, s"event $id") }
  }

  test("stats_bootstrap: exact Poisson-weight replay, sane n_eff and SE") {
    val rows = Relational.statsBootstrap(spark, dir).collect()
    assert(rows.length == 32)
    val orders = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    // independent replay of the draw scheme: md5(key:b div 4), 8-hex
    // slice b mod 4, compared against the Poisson(1) CDF as exact
    // 32-bit integers (hex-cut equivalence: u < t ⟺ v < ⌊t·2³²⌋+1)
    val cuts = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462)
      .map(t => math.floor(t * 4294967296.0).toLong + 1L)
    def weight(key: Long, b: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key:${b / 4}".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString
      val v = java.lang.Long.parseLong(hex.substring((b % 4) * 8, (b % 4) * 8 + 8), 16)
      cuts.indexWhere(v < _) match { case -1 => 4L; case i => i.toLong }
    }
    rows.foreach { r =>
      val b = r.getInt(0)
      val nEff = orders.map(weight(_, b)).sum
      assert(r.getLong(1) == nEff, s"replicate $b n_eff")
      // Poisson(1) multiplicities: n_eff concentrates near n
      assert(math.abs(nEff - orders.length).toDouble / orders.length < 0.1)
    }
    val se = rows.head.getDouble(3)
    assert(se > 0.0 && rows.forall(_.getDouble(3) == se))
  }

  test("window_ranks: percent_rank and cume_dist equal their closed forms") {
    val rows = TimeSeriesQueries.windowRanks(spark, dir).collect()
      .map(r => (r.getString(1), r.getInt(3), r.getDouble(5), r.getDouble(6)))
    val sizes = rows.groupBy(_._1).view.mapValues(_.length).toMap
    rows.foreach { case (p, rnk, prnk, cdist) =>
      val n = sizes(p)
      assert(prnk == (rnk - 1).toDouble / (n - 1).toDouble, s"$p rank $rnk")
      // total order (unique key tiebreak) -> cume_dist = rank / n
      assert(cdist == rnk.toDouble / n.toDouble, s"$p rank $rnk")
    }
  }

  test("stats_spearman equals a plain-Scala average-rank Spearman per flag") {
    val got = Relational.statsSpearman(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    val rows = graft.Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100.0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      // doubled average ranks, then Pearson on ranks
      def dranks(vs: Array[Long]): Map[Long, Double] = {
        val sorted = vs.sorted
        vs.distinct.map { v =>
          val lo = sorted.indexWhere(_ == v) + 1
          val c = sorted.count(_ == v)
          v -> (2.0 * lo + c - 1)
        }.toMap
      }
      val rq = dranks(rs.map(_._2)); val rp = dranks(rs.map(_._3))
      val xs = rs.map(r => rq(r._2)); val ys = rs.map(r => rp(r._3))
      val n = rs.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
      val num = n * sxy - sx * sy
      val ref = num / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      val (gn, grho) = got(flag)
      assert(gn == rs.length, s"$flag n")
      assert(math.abs(grho.get - ref) < 1e-9, s"$flag rho ${grho.get} vs $ref")
    }
  }

  test("stats_kendall equals the O(n²) plain-Scala Mann-Kendall tau-b") {
    val got = Relational.statsKendall(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val daily = graft.Tables(spark, dir, "events")
      .select(col("event_type"), (unix_millis(col("ts")) / lit(86400000L)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .toSeq.map { case ((t, d), y) => (t, d, y) }
    daily.groupBy(_._1).foreach { case (typ, rs) =>
      val ys = rs.sortBy(_._2).map(_._3)
      var sStat = 0L
      for (i <- ys.indices; j <- (i + 1) until ys.length)
        sStat += java.lang.Long.signum(ys(j) - ys(i))
      val n = ys.length.toLong
      val d = n * (n - 1) / 2
      val ty = ys.groupBy(identity).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
      val (gn, gs, gtau) = got(typ)
      assert(gn == n && gs == sStat, s"$typ n/S")
      if (d > 0 && d - ty > 0)
        assert(math.abs(gtau.get - sStat / (math.sqrt(d.toDouble) * math.sqrt((d - ty).toDouble))) < 1e-12, typ)
      else assert(gtau.isEmpty, typ)
    }
  }

  test("graph_hits equals the plain-Scala scaled-integer replay exactly") {
    val got = EventGraph.graphHits(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent replay of the same integer iteration on collected edges
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val edges = ev.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val s = rs.sortBy(r => (r._3, r._4)).map(_._2)
      s.zip(s.drop(1))
    }.groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }.toSeq
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var h = nodes.map(_ -> 1000000L).toMap
    var a = Map.empty[String, Long]
    (1 to 3).foreach { _ =>
      val ar = nodes.map(n => n ->
        edges.filter(_._2 == n).map(e => e._3 * h(e._1)).sum).toMap
      val at = ar.values.sum
      a = ar.map { case (n, v) => n -> (v * 1000000L) / at }
      val hr = nodes.map(n => n ->
        edges.filter(_._1 == n).map(e => e._3 * a(e._2)).sum).toMap
      val ht = hr.values.sum
      h = hr.map { case (n, v) => n -> (v * 1000000L) / ht }
    }
    assert(got.keySet == nodes.toSet)
    nodes.foreach { n => assert(got(n) == (h(n), a(n)), s"node $n") }
    // L1 normalization holds up to div-truncation (< #nodes units)
    assert(math.abs(got.values.map(_._1).sum - 1000000L) < nodes.length)
  }

  test("dq_kanon reports the true smallest class and below-k tallies") {
    val r = Relational.dqKanon(spark, dir).collect().head
    val sizes = graft.Tables(spark, dir, "events")
      .select(col("event_type"),
        pmod((unix_millis(col("ts")) / lit(86400000L)).cast("long") + 4, lit(7)),
        when(col("value").isNull, lit(-1L)).otherwise(floor(col("value") / 100.0)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).values.map(_.length.toLong).toSeq
    assert(r.getLong(1) == sizes.length)
    assert(r.getLong(2) == sizes.min)
    assert(r.getLong(3) == sizes.count(_ < 5))
    assert(r.getLong(4) == sizes.filter(_ < 5).sum)
  }

  test("ts_forecast: seasonal-naive backtest equals the closed form per type") {
    val rows = TimeSeriesQueries.tsForecast(spark, dir).collect()
    val daily = graft.Tables(spark, dir, "events")
      .select(col("event_type"), (unix_millis(col("ts")) / lit(86400000L)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byType = daily.groupBy(_._1._1)
    rows.foreach { r =>
      val t = r.getString(0)
      val series = byType(t).map { case ((_, d), y) => d -> y }
      val pairs = series.toSeq.flatMap { case (d, y) =>
        series.get(d - 7).map(f => (y, f)) }
      assert(r.getLong(1) == pairs.length, s"$t n_eval")
      if (pairs.nonEmpty) {
        val sae = pairs.map { case (y, f) => math.abs(y - f) }.sum
        assert(r.getDouble(2) == sae.toDouble / pairs.length, s"$t mae")
        assert(r.getDouble(3) == sae.toDouble / pairs.map(_._1).sum, s"$t wape")
      }
      val lastDay = series.keys.max
      series.get(lastDay - 6) match {
        case Some(y) => assert(r.getLong(4) == y, s"$t forecast_next")
        case None => assert(r.isNullAt(4), s"$t forecast_next null")
      }
    }
    assert(rows.nonEmpty)
  }

  test("jaro_winkler matches the literature values and both eval paths agree") {
    import graft.plans.NativeExpressions.jaroWinkler
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("dwayne", "duane", 0.8400000000000001), // bonus applied (jaro > 0.7)
      ("crate", "trace", 0.7333333333333334),  // prefix 0 -> no bonus
      ("abcdef", "badcfe", 0.8333333333333334),
      ("ab", "ba", 0.0),                       // window 0 -> no matches
      ("abc", "abc", 1.0),
      // non-ASCII: UTF-8 BYTE semantics (DuckDB walks the raw buffer).
      // "😀x" = bytes F0 9F 98 80 78 vs 78 F0 9F 98 80:
      // window 1, m=4, t=0, prefix 0 -> (4/5 + 4/5 + 4/4)/3. A UTF-16
      // code-unit walk would give 0.0 here — this pins the byte walk.
      ("😀x", "x😀", 0.8666666666666667),
      ("", "abc", 0.0), ("a", "", 0.0), ("", "", 0.0)) // RapidFuzz both-empty = 0
    val df = spark.createDataFrame(cases.map { case (a, b, _) => (a, b) }).toDF("a", "b")
    // codegen path (projection over a DataFrame)
    val got = df.select(jaroWinkler(col("a"), col("b"))).collect().map(_.getDouble(0))
    got.zip(cases).foreach { case (g, (a, b, want)) =>
      assert(g == want, s"codegen jw($a,$b)")
    }
    // interpreted path (literal eval)
    cases.foreach { case (a, b, want) =>
      val e = graft.plans.NativeExpressions.jaroWinklerCompute(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(e == want, s"eval jw($a,$b)")
    }
  }

  test("sketch_quantile: exact side is the true selection; sample side within range") {
    val r = Relational.sketchQuantile(spark, dir).collect().head
    val vs = graft.Tables(spark, dir, "lineitem")
      .select(col("l_extendedprice")).collect().map(_.getDouble(0)).sorted
    val n = vs.length
    assert(r.getLong(1) == n)
    def sel(p: Double) = vs((p * (n - 1)).floor.toInt)
    assert(r.getDouble(3) == sel(0.5), "exact_p50")
    assert(r.getDouble(6) == sel(0.9), "exact_p90")
    assert(r.getDouble(9) == sel(0.99), "exact_p99")
    // the 1024-sample estimates live inside the value range and the
    // error columns are consistent
    Seq((2, 3, 4), (5, 6, 7), (8, 9, 10)).foreach { case (e, x, err) =>
      assert(r.getDouble(e) >= vs.head && r.getDouble(e) <= vs.last)
      assert(r.getDouble(err) == math.abs(r.getDouble(e) - r.getDouble(x)))
    }
  }

  test("graph_ppr equals the plain-Scala scaled-integer replay; mass concentrates at the seed") {
    val got = EventGraph.graphPpr(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val edges = ev.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val s = rs.sortBy(r => (r._3, r._4)).map(_._2)
      s.zip(s.drop(1))
    }.groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }.toSeq
    val wout = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val seed = wout.toSeq.sortBy { case (n, wt) => (-wt, n) }.head._1
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var r = nodes.map(n => n -> (if (n == seed) 1000000L else 0L)).toMap
    (1 to 5).foreach { _ =>
      val contrib = nodes.map(n => n -> edges.filter(_._2 == n)
        .map(e => (r(e._1) * e._3) / wout(e._1)).sum).toMap
      r = nodes.map(n => n ->
        ((if (n == seed) 150000L else 0L) + (85L * contrib(n)) / 100L)).toMap
    }
    assert(got == r)
    // personalization: the seed outranks every other node here
    assert(got.keys.forall(n => n == seed || got(n) <= got(seed)))
  }

  test("rec_jaccard scores are the exact set-overlap ratios of rec_cosine's pairs") {
    val rows = Relational.recJaccard(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cij, ca, cb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(r.getDouble(5) == cij.toDouble / (ca + cb - cij).toDouble)
      assert(cij >= 3 && cij <= math.min(ca, cb))
    }
  }

  test("sim_mmr equals the plain-Scala greedy MMR over brute-force cosines") {
    val got = DedupSim.simMmr(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val emb = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Long, b: Long): Double =
      dot(emb(a), emb(b)) / (math.sqrt(dot(emb(a), emb(a))) * math.sqrt(dot(emb(b), emb(b))))
    emb.keys.filter(_ < 4).foreach { q =>
      val cands = emb.keys.filter(_ != q).toSeq
        .map(v => v -> cos(q, v)).sortBy { case (v, c) => (-c, v) }.take(8)
      var sel = List.empty[(Long, Double)]
      (1 to 3).foreach { _ =>
        val scored = cands.filterNot(c => sel.exists(_._1 == c._1)).map { case (v, cq) =>
          val penTerm = if (sel.isEmpty) 0.7 * cq
            else 0.7 * cq - 0.3 * sel.map(s => cos(v, s._1)).max
          (v, penTerm)
        }
        sel = sel :+ scored.minBy { case (v, sc) => (-sc, v) }
      }
      sel.zipWithIndex.foreach { case ((v, sc), i) =>
        val (gv, gs) = got((q, i + 1))
        assert(gv == v, s"q=$q rank ${i + 1}")
        assert(math.abs(gs - sc) < 1e-12, s"q=$q score ${i + 1}")
      }
    }
    assert(got.size == emb.keys.count(_ < 4) * 3)
    // inconsistent (λ, 1−λ) pairs are rejected, not silently scored
    val emb2 = graft.Tables(spark, dir, "embeddings")
    intercept[IllegalArgumentException](
      graft.operators.Similarity.mmrSelect(emb2, emb2.limit(1), 8, 3, 0.7, 0.4))
  }

  test("hilbert index: bijective with unit-step adjacency (exhaustive 3/4-bit), codegen = eval") {
    import graft.plans.NativeExpressions.{hilbertCompute, hilbertIndex}
    Seq(3, 4).foreach { bits =>
      val n = 1 << bits
      val cells = (for (x <- 0 until n; y <- 0 until n)
        yield hilbertCompute(x, y, bits) -> (x, y)).toMap
      assert(cells.keySet == (0 until n * n).map(_.toLong).toSet, s"bits=$bits bijective")
      (0 until n * n - 1).foreach { i =>
        val (x1, y1) = cells(i.toLong); val (x2, y2) = cells(i + 1L)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"bits=$bits: step $i not adjacent") // THE Hilbert property
      }
    }
    // codegen path through a projection equals the static function
    val pts = spark.createDataFrame(Seq((3L, 9L), (100L, 200L), (65535L, 65535L), (0L, 0L)))
      .toDF("x", "y")
    val got = pts.select(hilbertIndex(col("x"), col("y"), 16)).collect().map(_.getLong(0))
    val want = Seq((3L, 9L), (100L, 200L), (65535L, 65535L), (0L, 0L))
      .map { case (x, y) => hilbertCompute(x, y, 16) }
    assert(got.toSeq == want)
  }

  test("reshape_unpivot is the exact pivot inverse: melt(pivot(x)) == direct counts") {
    val got = FeatureQueries.reshapeUnpivot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val direct = graft.Tables(spark, dir, "events")
      .groupBy(col("user_id"), col("event_type")).count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // every present cell agrees; absent cells melt to explicit zeros
    direct.foreach { case (k, v) => assert(got(k) == v, k) }
    got.foreach { case (k, v) => if (!direct.contains(k)) assert(v == 0L, k) }
    val users = graft.Tables(spark, dir, "events")
      .select(col("user_id")).distinct().count()
    assert(got.size == users * 5) // dense matrix: 5 event types per user
  }

  test("sim_range returns exactly the vectors at/above tau, per brute force") {
    val got = DedupSim.simRange(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val emb = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val want = for {
      q <- emb.keys.filter(_ < 4); v <- emb.keys if v != q
      c = dot(emb(q), emb(v)) / (math.sqrt(dot(emb(q), emb(q))) * math.sqrt(dot(emb(v), emb(v))))
      if c >= 0.3
    } yield (q, v)
    assert(got.keySet == want.toSet)
    assert(got.values.forall(_ >= 0.3))
  }

  test("text_hash_features: buckets in [0,64), tf sums equal token counts") {
    val rows = CurationQueries.textHashFeatures(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall { case (_, b, tf) => b >= 0 && b < 64 && tf > 0 })
    val tfSums = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val tokCounts = graft.Tables(spark, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tfSums == tokCounts.filter(_._2 > 0))
  }

  test("ts_wau equals brute-force 7-day rolling distinct per observed day") {
    val got = TimeSeriesQueries.tsWau(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val act = graft.Tables(spark, dir, "events")
      .select(col("event_type"), (unix_millis(col("ts")) / lit(86400000L)).cast("long"),
        col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val byType = act.groupBy(_._1)
    got.foreach { case ((t, d), (dau, wau)) =>
      val rows = byType(t)
      assert(dau == rows.filter(_._2 == d).map(_._3).size, s"$t $d dau")
      assert(wau == rows.filter(r => r._2 >= d - 6 && r._2 <= d).map(_._3).toSet.size,
        s"$t $d wau")
    }
    val observed = act.map(r => (r._1, r._2))
    assert(got.keySet == observed, "exactly the observed (type, day) pairs")
  }

  test("stats_ols: coefficients satisfy the normal equations; R² in [0,1]") {
    val rows = Relational.statsOls(spark, dir).collect()
    val data = graft.Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        round(col("l_discount") * 100.0).cast("long"),
        round(col("l_extendedprice") * 100.0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.foreach { r =>
      val g = r.getString(0)
      val rs = data.filter(_._1 == g)
      val n = rs.length.toDouble
      def S(f: ((String, Long, Long, Long)) => Double) = rs.map(f).sum
      val (sq, sd, sp) = (S(_._2.toDouble), S(_._3.toDouble), S(_._4.toDouble))
      val (b0, b1, b2) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // normal equation 1: Σ(p − b0 − b1 q − b2 d) ≈ 0 (residuals sum to 0)
      val resid = sp - b0 * n - b1 * sq - b2 * sd
      assert(math.abs(resid) / math.max(1.0, math.abs(sp)) < 1e-9, s"$g residual sum")
      // R² well-formed
      assert(!r.isNullAt(5) && r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0, s"$g r2")
      assert(r.getLong(1) == rs.length)
    }
    assert(rows.nonEmpty)
  }

  test("graph_scc: components equal mutual-reachability on the collected graph; round 3 is the fixpoint") {
    val got = EventGraph.graphScc(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val edges = ev.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val s = rs.sortBy(r => (r._3, r._4)).map(_._2)
      s.zip(s.drop(1))
    }.distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    // run-to-convergence transitive closure (the TRUE fixpoint)
    var clo = edges.toSet
    var grew = true
    var iters = 0
    while (grew) {
      val next = clo ++ (for ((a, b) <- clo; (c, d) <- clo if b == c) yield (a, d))
      grew = next.size != clo.size
      clo = next
      iters += 1
    }
    assert(iters <= 4, "3 doubling rounds must cover the true closure")
    val want = nodes.map { v =>
      val mutual = nodes.filter(w => w == v || (clo((v, w)) && clo((w, v))))
      v -> mutual.min
    }.toMap
    assert(got == want)
  }

  test("stats_runs: runs/sign counts equal the sequential scan per type") {
    val got = Relational.statsRuns(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val daily = graft.Tables(spark, dir, "events")
      .select(col("event_type"), (unix_millis(col("ts")) / lit(86400000L)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    daily.groupBy(_._1._1).foreach { case (t, m) =>
      val ys = m.toSeq.map { case ((_, d), y) => (d, y) }.sortBy(_._1).map(_._2)
      val signs = ys.zip(ys.drop(1)).collect {
        case (a, b) if b > a => 1L
        case (a, b) if b < a => -1L
      }
      if (signs.nonEmpty) {
        val runs = 1L + signs.zip(signs.drop(1)).count { case (a, b) => a != b }
        val (np, nn, r) = got(t)
        assert(np == signs.count(_ == 1L) && nn == signs.count(_ == -1L) && r == runs, t)
      } else assert(!got.contains(t), t)
    }
  }

  test("stats_kruskal equals the plain-Scala tie-corrected H") {
    val r = Relational.statsKruskal(spark, dir).collect().head
    val data = graft.Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(row => (row.getString(0), row.getLong(1)))
    val n = data.length
    val counts = data.map(_._2).groupBy(identity).view.mapValues(_.length).toMap
    val sorted = data.map(_._2).sorted
    val avgRank = counts.keys.map { v =>
      val lo = sorted.indexWhere(_ == v) + 1
      v -> (lo + (counts(v) - 1) / 2.0)
    }.toMap
    val h = 12.0 / (n.toDouble * (n + 1)) * data.groupBy(_._1).map { case (_, rs) =>
      val s = rs.map(x => avgRank(x._2)).sum
      s * s / rs.length
    }.sum - 3.0 * (n + 1)
    val tieC = 1.0 - counts.values.map(c => c.toDouble * c * c - c).sum /
      (n.toDouble * n * n - n)
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - h) < 1e-6, s"H ${r.getDouble(1)} vs $h")
    assert(math.abs(r.getDouble(2) - tieC) < 1e-12)
    assert(math.abs(r.getDouble(3) - h / tieC) < 1e-6)
  }

  test("graph_assortativity equals plain-Scala Pearson over symmetrized edge-end degrees") {
    val r = Relational.graphAssortativity(spark, dir01).collect().head
    val edges = Relational.graphBuild(spark, dir01)
      .select("u", "v").collect().map(x => (x.getLong(0), x.getLong(1)))
    val deg = edges.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ends = edges.flatMap { case (u, v) => Seq((deg(u), deg(v)), (deg(v), deg(u))) }
    val n = ends.length.toDouble
    val sx = ends.map(_._1.toDouble).sum; val sy = ends.map(_._2.toDouble).sum
    val sxy = ends.map(e => e._1.toDouble * e._2).sum
    val sxx = ends.map(e => e._1.toDouble * e._1).sum
    val syy = ends.map(e => e._2.toDouble * e._2).sum
    val want = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(r.getLong(0) == ends.length)
    assert(math.abs(r.getDouble(1) - want) < 1e-9)
  }

  test("graph_betweenness equals brute-force seed-pair 3-hop betweenness") {
    val got = Relational.graphBetweenness(spark, dir01).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val edges = Relational.graphBuild(spark, dir01)
      .select("u", "v").collect().map(x => (x.getLong(0), x.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seeds = nodes.sortBy(n => (md5hex(s"bc:$n"), n)).take(32)
    // BFS (σ, d) from each seed, depth ≤ 3
    def paths(src: Long): Map[Long, (Int, Long)] = {
      var res = Map(src -> (0, 1L))
      var frontier = Map(src -> 1L)
      (1 to 3).foreach { d =>
        val next = scala.collection.mutable.Map.empty[Long, Long]
        frontier.foreach { case (n, sg) =>
          adj.getOrElse(n, Set.empty).foreach { w =>
            if (!res.contains(w)) next(w) = next.getOrElse(w, 0L) + sg
          }
        }
        res ++= next.map { case (w, sg) => w -> (d, sg) }
        frontier = next.toMap
      }
      res - src
    }
    val p = seeds.map(s => s -> paths(s)).toMap
    val want = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    for (s <- seeds; t <- seeds if s != t; stp <- p(s).get(t)) {
      val (dst, sgst) = stp
      nodes.foreach { v =>
        if (v != s && v != t)
          for ((d1, s1) <- p(s).get(v); (d2, s2) <- p(t).get(v) if d1 + d2 == dst)
            want(v) += s1.toDouble * s2.toDouble / sgst.toDouble
      }
    }
    nodes.foreach { n =>
      assert(math.abs(got(n) - want(n)) < 1e-9, s"node $n: ${got(n)} vs ${want(n)}")
    }
    assert(got.values.exists(_ > 0.0), "some node should lie on a sampled shortest path")
  }

  test("graph_closeness equals brute-force sampled-source BFS distance sums") {
    val got = Relational.graphCloseness(spark, dir01).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val edges = Relational.graphBuild(spark, dir01)
      .select("u", "v").collect().map(x => (x.getLong(0), x.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seeds = nodes.sortBy(n => (md5hex(s"bc:$n"), n)).take(32)
    val want = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      .withDefaultValue((0L, 0L))
    seeds.foreach { s =>
      var dist = Map(s -> 0)
      var frontier = Set(s)
      (1 to 3).foreach { d =>
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
        dist ++= frontier.map(_ -> d)
      }
      (dist - s).foreach { case (v, d) =>
        val (r0, s0) = want(v); want(v) = (r0 + 1, s0 + d)
      }
    }
    nodes.foreach(n => assert(got(n) == want(n), s"node $n"))
  }

  test("kg_mlt: jaccard consistent with shared/size counts, top-3 per seed") {
    val rows = KgPipeline.kgMlt(spark, dir).collect()
    assert(rows.nonEmpty)
    val perQ = rows.groupBy(_.getLong(0))
    perQ.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(4)).sorted.sameElements(1 to rs.length) && rs.length <= 3)
      // scores non-increasing in rank
      val byRank = rs.sortBy(_.getInt(4)).map(_.getDouble(3))
      assert(byRank.zip(byRank.drop(1)).forall { case (a, b) => a >= b })
    }
    rows.foreach(r => assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0))
  }

  test("eval_auc equals the brute-force pairwise win rate (ties half)") {
    val r = FeatureQueries.evalAuc(spark, dir).collect().head
    val data = graft.Tables(spark, dir, "orders")
      .select(round(col("o_totalprice") * 100.0).cast("long"),
        (col("o_orderstatus") === "F").cast("long"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val pos = data.filter(_._2 == 1L).map(_._1)
    val neg = data.filter(_._2 == 0L).map(_._1)
    var wins = 0.0
    pos.foreach(p => neg.foreach { n =>
      if (p > n) wins += 1.0 else if (p == n) wins += 0.5
    })
    val want = wins / (pos.length.toDouble * neg.length)
    assert(r.getLong(0) == pos.length && r.getLong(1) == neg.length)
    assert(math.abs(r.getDouble(2) - want) < 1e-9, s"${r.getDouble(2)} vs $want")
  }

  test("eval_confusion: matrix totals and single-division F1 identity") {
    val r = FeatureQueries.evalConfusion(spark, dir).collect().head
    val (tp, fp, fn, tn) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val total = graft.Tables(spark, dir, "orders").count()
    assert(tp + fp + fn + tn == total)
    assert(r.getDouble(4) == tp.toDouble / (tp + fp))
    assert(r.getDouble(5) == tp.toDouble / (tp + fn))
    assert(r.getDouble(6) == 2.0 * tp / (2.0 * tp + fp + fn).toDouble)
  }

  test("eval_calibration: ten bins, counts sum to corpus, rates are exact ratios") {
    val rows = FeatureQueries.evalCalibration(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 9L))
    assert(rows.map(_.getLong(1)).sum == graft.Tables(spark, dir, "orders").count())
    rows.foreach(r =>
      assert(r.getDouble(3) == r.getLong(2).toDouble / r.getLong(1).toDouble))
  }

  test("pipeline_budget: selected tokens are the exact density-descending prefix") {
    val rows = TrainingPrep.pipelineBudget(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"),
        size(array_distinct(graft.functions.TextFunctions.tokens(col("text")))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .filter(_._3 > 0)
    val ordered = docs.sortBy { case (id, _, tok, uniq) =>
      (-(uniq.toDouble / tok.toDouble), id) }
    var cum = 0L
    val sel = ordered.takeWhile { d => cum += d._3; cum <= 100000L }
    val bySrcSel = sel.groupBy(_._2)
    rows.foreach { case (src, nd, ta, ns, ts2) =>
      val all = docs.filter(_._2 == src)
      assert(nd == all.length && ta == all.map(_._3).sum, src)
      val s2 = bySrcSel.getOrElse(src, Array.empty[(Long, String, Long, Long)])
      assert(ns == s2.length && ts2 == s2.map(_._3).sum, src)
    }
    assert(rows.map(_._4).sum == sel.length && sel.nonEmpty)
  }

  test("graph_reciprocity equals brute force on the collected transition edges") {
    val r = EventGraph.graphReciprocity(spark, dir).collect().head
    val ev = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")), col("event_id"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
    val edges = ev.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val s = rs.sortBy(x => (x._3, x._4)).map(_._2)
      s.zip(s.drop(1))
    }.filter(e => e._1 != e._2).distinct.toSet
    val recip = edges.count(e => edges((e._2, e._1)))
    assert(r.getLong(0) == edges.size && r.getLong(1) == recip)
    assert(r.getDouble(2) == recip.toDouble / edges.size)
  }

  test("graph_summary identities: density and avg degree from n/E, max degree real") {
    val r = Relational.graphSummary(spark, dir01).collect().head
    val edges = Relational.graphBuild(spark, dir01)
      .select("u", "v").collect().map(x => (x.getLong(0), x.getLong(1)))
    val degs = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    assert(r.getLong(0) == degs.size && r.getLong(1) == edges.length)
    assert(r.getLong(2) == degs.values.max)
    val n = degs.size.toDouble
    assert(r.getDouble(3) == 2.0 * edges.length / (n * (n - 1.0)))
    assert(r.getDouble(4) == 2.0 * edges.length / n)
  }

  test("kg_hybrid: RRF scores equal the rank identity; both legs bounded") {
    val rows = KgPipeline.kgHybrid(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val t = if (r.isNullAt(1)) 0.0 else 1.0 / (60.0 + r.getInt(1))
      val v = if (r.isNullAt(2)) 0.0 else 1.0 / (60.0 + r.getInt(2))
      assert(r.getDouble(3) == t + v, s"doc ${r.getLong(0)}")
      assert(r.isNullAt(1) || (r.getInt(1) >= 1 && r.getInt(1) <= 50))
      assert(r.isNullAt(2) || (r.getInt(2) >= 1 && r.getInt(2) <= 50))
    }
    // fused order is non-increasing
    val scores = rows.map(_.getDouble(3))
    assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b })
  }

  test("agg_incremental: the base+delta merge equals the direct aggregate") {
    val merged = Relational.aggIncremental(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val direct = graft.Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)),
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(merged.keySet == direct.keySet)
    merged.foreach { case (g, (cnt, s, avg)) =>
      val (dc, ds) = direct(g)
      assert(cnt == dc && s == ds, s"$g merge must equal recompute exactly")
      assert(avg == s / cnt.toDouble, g)
    }
  }

  test("dq_erasure: cohort and per-table tallies match a direct recount") {
    val rows = Relational.dqErasure(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def inCohort(u: Long): Boolean = java.security.MessageDigest.getInstance("MD5")
      .digest(s"gdpr:$u".getBytes("UTF-8")).take(1).head == 0
    val ev = graft.Tables(spark, dir, "events").select(col("user_id"))
      .collect().map(_.getLong(0))
    val cohort = ev.distinct.filter(inCohort).toSet
    assert(rows(("cohort", "users")) == cohort.size)
    assert(rows(("events", "rows_total")) == ev.length)
    assert(rows(("events", "rows_to_erase")) == ev.count(cohort))
    val ck = graft.Tables(spark, dir, "customer").select(col("c_custkey"))
      .collect().map(_.getLong(0))
    assert(rows(("customer", "rows_total")) == ck.length)
    assert(rows(("customer", "rows_to_erase")) == ck.count(cohort))
  }

  test("stream_dau bounded mode equals batch daily COUNT(DISTINCT)") {
    val got = Relational.streamDau(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.Tables(spark, dir, "events")
      .groupBy(col("event_type"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == batch)
  }

  test("ts_backtest: winner agrees with the reported WAPEs") {
    val rows = TimeSeriesQueries.tsBacktest(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (wp, ws, win) = (r.getDouble(2), r.getDouble(3), r.getString(4))
      if (ws < wp) assert(win == "seasonal")
      else if (wp < ws) assert(win == "persistence")
      else assert(win == "tie")
    }
  }

  test("eval_lift: cumulatives telescope, final gain is 1, lift consistent") {
    val rows = FeatureQueries.evalLift(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 9L))
    var (cn, cp) = (0L, 0L)
    rows.foreach { r =>
      cn += r.getLong(1); cp += r.getLong(2)
      assert(r.getLong(3) == cn && r.getLong(4) == cp, s"dbin ${r.getLong(0)}")
    }
    val totPos = rows.map(_.getLong(2)).sum
    val totN = rows.map(_.getLong(1)).sum
    assert(rows.last.getDouble(5) == 1.0, "all positives captured at decile 9")
    rows.foreach { r =>
      val gain = r.getLong(4).toDouble / totPos.toDouble
      assert(r.getDouble(5) == gain)
      assert(r.getDouble(6) == gain / (r.getLong(3).toDouble / totN.toDouble))
    }
  }

  test("facet_gsets emits exactly the three requested marginals") {
    val li = graft.Tables(spark, dir, "lineitem")
    val nFlag = li.select("l_returnflag").distinct().count()
    val nStatus = li.select("l_linestatus").distinct().count()
    val rows = Relational.facetGsets(spark, dir).collect()
    assert(rows.length == nFlag + nStatus + 1)
    val grand = rows.filter(_.getLong(4) == 3L)
    assert(grand.length == 1 && grand.head.getLong(2) == li.count())
  }
}

/** Collects the query result in a null-safe shape. */
private object TimeSeriesQueriesHelper {
  def knn(spark: org.apache.spark.sql.SparkSession, dir: String): Map[Long, Option[Long]] =
    DedupSim.simKnnGraph(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
}
