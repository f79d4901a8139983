package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Sampling, Temporal}
import graft.queries.GraphQueries

/** As-of and range joins verified against brute-force recomputation,
  * plus determinism/fraction properties of the md5 sampling ops. */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin picks the greatest right ts <= left ts, per key") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 12:00:00"), "b"),
      (2L, ts("2024-01-01 09:00:00"), "c")
    ).toDF("k", "lts", "lpay")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100L),
      (1L, ts("2024-01-01 11:00:00"), 200L),
      (2L, ts("2024-01-01 09:30:00"), 300L) // after the only left row
    ).toDF("k", "rts", "rpay")
    val got = Temporal.asofJoin(left, right, "k", "lts", "rts")
      .select("lpay", "rpay").as[(String, Option[Long])].collect().toMap
    assert(got === Map("a" -> Some(100L), "b" -> Some(200L), "c" -> None))
  }

  test("asofJoin matches an exactly-coincident right row (>= semantics)") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "x")).toDF("k", "lts", "lpay")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 7L)).toDF("k", "rts", "rpay")
    val got = Temporal.asofJoin(left, right, "k", "lts", "rts")
      .select("rpay").as[Long].collect()
    assert(got.toSeq === Seq(7L))
  }

  test("asofJoin carries a matched row's NULL payload atomically") {
    // the matching right row has pay=NULL: the result must be that NULL,
    // not a stale pay torn in from the older right row; and a NULL
    // right ts must never match anything
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "x")).toDF("k", "lts", "lpay")
    val right = Seq(
      (1L, Option(ts("2024-01-01 09:00:00")), Option(5L)),
      (1L, Option(ts("2024-01-01 11:00:00")), Option.empty[Long]),
      (1L, Option.empty[java.sql.Timestamp], Option(99L))
    ).toDF("k", "rts", "rpay")
    val row = Temporal.asofJoin(left, right, "k", "lts", "rts")
      .select("rts", "rpay").collect().head
    assert(row.getTimestamp(0) === ts("2024-01-01 11:00:00"))
    assert(row.isNullAt(1))
  }

  test("asofJoin equals brute-force max-below join on real events") {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts"))
      .agg(max("event_id").as("click_id"))
    val fast = Temporal.asofJoin(purchases, clicks, "user_id", "pts", "cts")
      .select("event_id", "click_id").as[(Long, Option[Long])].collect().toMap
    // brute force: all-pairs join, keep max click ts per purchase
    val brute = purchases.as("p")
      .join(clicks.as("c"),
        $"p.user_id" === $"c.user_id" && $"p.pts" >= $"c.cts", "left")
      .groupBy($"p.event_id")
      .agg(max_by(struct($"c.cts", $"c.click_id"), $"c.cts")("click_id")
        .as("click_id"))
      .as[(Long, Option[Long])].collect().toMap
    assert(fast === brute)
    assert(fast.nonEmpty)
  }

  test("asofJoinForward equals brute-force min-above join on real events") {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts"))
      .agg(max("event_id").as("click_id"))
    val fast = Temporal
      .asofJoinForward(purchases, clicks, "user_id", "pts", "cts")
      .select("event_id", "click_id").as[(Long, Option[Long])].collect().toMap
    // brute force: all-pairs join, keep MIN click ts at-or-after
    val brute = purchases.as("p")
      .join(clicks.as("c"),
        $"p.user_id" === $"c.user_id" && $"p.pts" <= $"c.cts", "left")
      .groupBy($"p.event_id")
      .agg(min_by(struct($"c.cts", $"c.click_id"), $"c.cts")("click_id")
        .as("click_id"))
      .as[(Long, Option[Long])].collect().toMap
    assert(fast === brute)
    assert(fast.nonEmpty)
    // forward and backward disagree somewhere (frames really mirrored)
    val back = Temporal.asofJoin(purchases, clicks, "user_id", "pts", "cts")
      .select("event_id", "click_id").as[(Long, Option[Long])].collect().toMap
    assert(fast !== back)
  }

  test("binnedRangeJoin equals naive interval join, incl. unaligned bins") {
    val points = Seq((1L, 5.0), (2L, 10.0), (3L, 17.5), (4L, 99.0))
      .toDF("id", "v")
    val ivals = Seq((10L, 0.0, 10.0), (20L, 7.5, 18.0), (30L, 17.5, 60.0))
      .toDF("iid", "lo", "hi")
    // width 7 deliberately misaligned with every boundary
    val fast = Temporal.binnedRangeJoin(points, "v", ivals, "lo", "hi", 7.0)
      .select("id", "iid").as[(Long, Long)].collect().toSet
    val naive = points.join(ivals, $"v" >= $"lo" && $"v" < $"hi")
      .select("id", "iid").as[(Long, Long)].collect().toSet
    assert(fast === naive)
    assert(fast === Set((1L, 10L), (2L, 20L), (3L, 20L), (3L, 30L)))
  }

  test("asofJoin plan shuffles once; binnedRangeJoin plan has no nested loop") {
    val ev = Tables.events(spark, sfDir)
    val l = ev.select(col("event_id"), col("user_id"), col("ts").as("lts"))
    val r = ev.select(col("user_id"), col("ts").as("rts"),
                      col("value").as("rv")).distinct()
    val asofPlan = Temporal.asofJoin(l, r, "user_id", "lts", "rts")
      .queryExecution.executedPlan.toString
    // one exchange for the union's window partitioning (plus r's
    // distinct); the join itself must not add a shuffle per side
    assert(asofPlan.split("Exchange hashpartitioning\\(user_id").length - 1 === 2)
    assert(!asofPlan.contains("NestedLoop") && !asofPlan.contains("CartesianProduct"))

    val bands = spark.range(0, 10).select(col("id").as("iid"),
      (col("id") * 100.0).as("lo"), ((col("id") + 1) * 100.0).as("hi"))
    val rangePlan = Temporal.binnedRangeJoin(
        Tables.orders(spark, sfDir), "o_totalprice", bands, "lo", "hi", 100.0)
      .queryExecution.executedPlan.toString
    assert(!rangePlan.contains("NestedLoop") && !rangePlan.contains("CartesianProduct"))
  }

  test("hashSample is deterministic and near the requested fraction") {
    val docs = Tables.documents(spark, sfDir)
    val a = Sampling.hashSample(docs, col("doc_id"), 0.25)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs.repartition(7), col("doc_id"), 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b) // partition-layout independent
    val n = docs.count().toDouble
    assert(a.size > n * 0.1 && a.size < n * 0.45)
  }

  test("splitLabel covers every row and is stable across runs") {
    val docs = Tables.documents(spark, sfDir)
    val dist = docs.select(Sampling.splitLabel(col("doc_id")).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(dist.keySet === Set("train", "val", "test"))
    assert(dist.values.sum === docs.count())
    assert(dist("train") > dist("val") && dist("train") > dist("test"))
  }

  test("sampleMixture keeps exactly the threshold-rule set at the target mix") {
    val docs = Tables.documents(spark, sfDir)
    val weights = Map("src0" -> 4, "src1" -> 3, "src2" -> 2, "src3" -> 1)
    val kept = Sampling.sampleMixture(docs, "source", "doc_id", weights)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    // recompute the integer-exact rule driver-side: thresholds from
    // per-source counts, bucket from md5 — the kept set is a pure
    // function of the ids, so the expectation is EXACT, not statistical
    val all = docs.select("doc_id", "source").as[(Long, String)].collect()
    val nS = all.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val wTot = weights.values.sum
    val nMax = weights.map { case (s, w) => nS(s) * wTot / w }.min
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(28, 32), 16)
    }
    val want = all.filter { case (id, s) =>
      weights.get(s).exists(w =>
        bucket(id) < w * nMax * 65536L / (wTot * nS(s)))
    }.toSet
    assert(kept === want)
    // layout independence: same set from a differently-partitioned input
    val kept2 = Sampling
      .sampleMixture(docs.repartition(7), "source", "doc_id", weights)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(kept2 === kept)
    // unlisted sources are gone; listed ones survive in rough w-order
    assert(kept.map(_._2).subsetOf(weights.keySet))
  }

  test("ewma equals the closed-form dyadic sum and drops unwarmed rows") {
    import spark.implicits._
    val terms = 4
    val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0)
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i.toLong, x) }
      .toDF("grp", "t", "x")
    val out = Temporal.ewma(df, Seq("grp"), "t", "x", terms)
      .select("t", "ewma").as[(Long, Double)].collect().toMap
    // rows 0..2 lack full history
    assert(out.keySet === Set(3L, 4L, 5L, 6L))
    val norm = 1.0 - math.pow(2.0, -terms)
    for (t <- 3 to 6) {
      val expect = (0 until terms)
        .map(i => xs(t - i) * math.pow(2.0, -(i + 1)))
        .reduceLeft(_ + _) / norm
      assert(out(t.toLong) === expect, s"t=$t")
    }
    // newest observation dominates: a spike at t=5 pulls ewma(5) above ewma(4)
    assert(out(5L) > out(4L))
  }

  test("dyadicWeights are exact doubles for tuned alphas and sum to the normalizer") {
    // exact rational m / 2^e as an unlimited-precision decimal
    def rat(num: BigInt, log2den: Int): BigDecimal = BigDecimal(
      new java.math.BigDecimal(num.bigInteger).divide(
        new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(log2den))))
    for ((j, k) <- Seq((1, 1), (1, 2), (3, 3), (5, 4), (11, 5)); terms <- Seq(1, 4, 10)) {
      val (ws, norm) = Temporal.dyadicWeights(j, k, terms)
      val q = (BigInt(1) << k) - j
      for (i <- 0 until terms) {
        // the double IS the exact rational j*q^i / 2^(k(i+1)) — no rounding
        assert(BigDecimal.exact(ws(i)) === rat(BigInt(j) * q.pow(i), k * (i + 1)),
               s"alpha=$j/2^$k lag=$i")
      }
      val exactNorm = rat((BigInt(1) << (k * terms)) - q.pow(terms), k * terms)
      assert(BigDecimal.exact(norm) === exactNorm)
      // Σ wᵢ is exactly the normalizer as a rational (not merely ≈)
      val sum = ws.map(w => BigDecimal.exact(w).bigDecimal)
        .reduceLeft(_.add(_)) // exact: BigDecimal add never rounds without a context
      assert(BigDecimal(sum) === exactNorm, s"alpha=$j/2^$k terms=$terms")
    }
    // guard: a weight numerator past the 53-bit mantissa is rejected
    assertThrows[IllegalArgumentException] {
      Temporal.dyadicWeights(1, 20, 50)
    }
  }

  test("ewma at alpha=3/8 equals the closed-form tuned-weight sum") {
    import spark.implicits._
    val terms = 4
    val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0)
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i.toLong, x) }
      .toDF("grp", "t", "x")
    val out = Temporal.ewma(df, Seq("grp"), "t", "x", terms,
                            alphaNum = 3, alphaLog2Den = 3)
      .select("t", "ewma").as[(Long, Double)].collect().toMap
    assert(out.keySet === Set(3L, 4L, 5L, 6L))
    val (ws, norm) = Temporal.dyadicWeights(3, 3, terms)
    for (t <- 3 to 6) {
      val expect = (0 until terms).map(i => xs(t - i) * ws(i))
        .reduceLeft(_ + _) / norm
      assert(out(t.toLong) === expect, s"t=$t")
    }
    // lower alpha smooths harder: tuned ewma reacts less to the t=5 spike
    val half = Temporal.ewma(df, Seq("grp"), "t", "x", terms)
      .select("t", "ewma").as[(Long, Double)].collect().toMap
    assert(math.abs(out(5L) - out(4L)) < math.abs(half(5L) - half(4L)))
  }

  test("backtest computes WMAPE/bias on the common eval window (hand check)") {
    // demand = day index: naive errs by 1 per point, seasonal by 7;
    // eval window = days 8..10 (both methods gated by the longest lag)
    val daily = (1 to 10).map(i => ("g", i, i.toDouble))
      .toDF("grp", "day", "d")
      .select(col("grp"), col("day"),
              col("d").cast("decimal(25,6)").as("demand"))
    val out = Temporal.backtest(daily, Seq("grp"), "day", "demand")
      .as[(String, String, Double, Double, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    val den = (8 + 9 + 10).toDouble
    assert(out("naive") === ((3.0 / den, -3.0 / den, 3L)))
    assert(out("seasonal_naive") === ((21.0 / den, -21.0 / den, 3L)))
  }

  test("holtBrown is exact on a constant series: level=c, trend=0, forecast=c") {
    // constant 1.0 with dyadic weights: every product and the weight
    // sum are exact, so s1 = s2 = 1 BITWISE, trend is exactly 0 and
    // the forecast exactly the constant — a stronger-than-epsilon check
    val df = (1 to 30).map(t => ("g", t, 1.0)).toDF("grp", "t", "x")
    val out = Temporal.holtBrown(df, Seq("grp"), "t", "x", terms = 8,
        alphaNum = 3, alphaLog2Den = 3)
      .select("t", "level", "trend", "forecast")
      .as[(Long, Double, Double, Double)].collect()
    assert(out.length === 30 - 2 * 7) // 2·(terms−1) warmup rows dropped
    out.foreach { case (t, level, trend, fc) =>
      assert(level === 1.0 && trend === 0.0 && fc === 1.0, s"t=$t")
    }
  }

  test("seasonalDecompose recovers a planted weekly pattern BITWISE") {
    // y = 100 + pattern[pos], pattern sums to 0 over the period: the
    // centered 7-sum is exactly 700, so trend = 100.0 exactly; the
    // detrended series is exactly 7·pattern[pos], so the seasonal
    // index is pattern[pos] exactly and the residual exactly 0.0
    val pattern = Seq(3.0, -1.0, 4.0, -2.0, 0.5, -4.0, -0.5) // Σ = 0
    val start = java.time.LocalDate.parse("1970-01-05") // pos 0 anchor
    val df = (0 until 28).map { i =>
      ("g", java.sql.Date.valueOf(start.plusDays(i)), 100.0 + pattern(i % 7))
    }.toDF("grp", "day", "y")
      .select(col("grp"), col("day"), col("y").cast("decimal(25,6)").as("y"))
    val out = Temporal.seasonalDecompose(df, Seq("grp"), "day", "y")
      .select("day", "value", "trend", "seasonal", "resid")
      .as[(java.sql.Date, Double, Double, Double, Double)].collect()
    assert(out.length === 28 - 6) // 3 edge rows lost each side
    out.foreach { case (day, v, t, s, r) =>
      val pos = java.time.temporal.ChronoUnit.DAYS.between(
        start, day.toLocalDate).toInt % 7
      assert(t === 100.0, s"trend at $day")
      assert(s === pattern(pos), s"seasonal at $day")
      assert(v === 100.0 + pattern(pos) && r === 0.0, s"value/resid at $day")
    }
  }

  test("cusum flags a sustained shift and stays quiet on flat + spike") {
    // 60 flat days at 100; then 20 days at 130: mean ≈ 107.5, the
    // shifted tail accumulates (130 − mean) per day and must cross
    // h = 2·mean, while the flat head never alerts. A lone DOUBLED
    // day on an otherwise flat series (≈ +90 once vs h ≈ 2·100·...)
    // stays under threshold — the single-spike case belongs to the
    // MAD gate, not CUSUM.
    def series(vals: Seq[Double]) = vals.zipWithIndex
      .map { case (v, i) => ("g", i, v) }.toDF("grp", "t", "x")
      .select(col("grp"), col("t"), col("x").cast("decimal(25,6)").as("x"))
    val shifted = Temporal.cusum(
      series(Seq.fill(60)(100.0) ++ Seq.fill(20)(130.0)),
      Seq("grp"), "t", "x", hMultiple = 2)
      .select("t").as[Long].collect().sorted
    assert(shifted.nonEmpty, "sustained shift must alert")
    assert(shifted.forall(_ >= 60), s"flat head must not alert: $shifted")
    val spike = Temporal.cusum(
      series(Seq.fill(40)(100.0).updated(20, 190.0)),
      Seq("grp"), "t", "x", hMultiple = 2)
    assert(spike.count() === 0, "a single spike is MAD's job, not CUSUM's")
  }

  test("OLS trend recovers a planted line exactly") {
    // y = 7·x + 300 with x = day offsets (incl. gaps): closed-form
    // sums are exact, so slope/intercept come back as exact doubles
    val anchor = java.time.LocalDate.parse("1992-01-01")
    val xs = Seq(0, 1, 2, 5, 9, 10, 14, 20)
    val df = xs.map { x =>
      ("1-URGENT", java.sql.Date.valueOf(anchor.plusDays(x)),
       7.0 * x + 300.0)
    }.toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val tmp = java.nio.file.Files.createTempDirectory("ols").toString
    df.write.parquet(s"$tmp/orders.parquet")
    val out = GraphQueries.demandTrendOls(spark, tmp)
      .select("n", "slope", "intercept")
      .as[(Long, Double, Double)].head()
    assert(out === ((xs.size.toLong, 7.0, 300.0)))
  }

  test("series correlation is exactly +/-1 on planted linear twins") {
    // priorities A/B/C share days; B = 2·A (r=+1 exactly: every sum,
    // the 4·d² product, and sqrt of a perfect square are exact
    // doubles at these magnitudes), C = 100 − A (r = −1)
    val days = (1 to 12).map(d => java.sql.Date.valueOf(f"2024-01-$d%02d"))
    val a = Seq(3.0, 5.0, 2.0, 8.0, 6.0, 4.0, 7.0, 1.0, 9.0, 2.0, 5.0, 6.0)
    val rows =
      days.zip(a).map { case (d, v) => ("A", d, v) } ++
      days.zip(a).map { case (d, v) => ("B", d, 2.0 * v) } ++
      days.zip(a).map { case (d, v) => ("C", d, 100.0 - v) }
    val tmp = java.nio.file.Files.createTempDirectory("corr").toString
    rows.toDF("o_orderpriority", "o_orderdate", "o_totalprice")
      .write.parquet(s"$tmp/orders.parquet")
    val out = GraphQueries.seriesCorrelation(spark, tmp)
      .select("prio_a", "prio_b", "n_days", "r")
      .as[(String, String, Long, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    assert(out(("A", "B")) === ((12L, 1.0)))
    assert(out(("A", "C")) === ((12L, -1.0)))
    assert(out(("B", "C"))._2 === -1.0)
  }

  test("holtBrown closes most of the EWMA lag on a linear trend") {
    // y_t = t: a plain EWMA lags a trending series forever; DES's
    // level+trend correction must forecast t+h far closer than the
    // smoothed level alone
    val h = 7
    val df = (1 to 40).map(t => ("g", t, t.toDouble)).toDF("grp", "t", "x")
    val des = Temporal.holtBrown(df, Seq("grp"), "t", "x", terms = 8,
        alphaNum = 1, alphaLog2Den = 1, horizon = h)
      .select("t", "s1", "forecast").as[(Long, Double, Double)].collect()
    des.foreach { case (t, s1, fc) =>
      val target = (t + h).toDouble
      assert(math.abs(fc - target) < math.abs(s1 - target) / 4,
        s"t=$t: DES forecast $fc vs EWMA $s1 against $target")
    }
  }
}
