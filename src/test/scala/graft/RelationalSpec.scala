package graft
import graft.queries.RelationalQueries

class RelationalSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q3/q5 broadcast their dimension sides") {
    assert(plan("q3_shipping_priority").contains("BroadcastHashJoin"))
    val p5 = plan("q5_local_volume")
    assert(p5.contains("BroadcastHashJoin"))
  }

  test("q1 aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q1_pricing_summary")
    // partial + final HashAggregate pair around a single exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert("Exchange".r.findAllIn(p).size === 1)
  }

  test("scan_project prunes columns at the parquet scan") {
    val p = plan("scan_project")
    assert(p.contains("o_orderkey") && !p.contains("o_orderdate"))
  }

  test("scan_incremental pushes the range filter to the scan") {
    val p = plan("scan_incremental")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"))
  }

  test("sessionize reuses one shuffle across both windows and the final agg") {
    val p = plan("events_sessionize")
    // one exchange for user_id; windows + groupBy reuse its partitioning
    assert("Exchange".r.findAllIn(p).size === 1, p)
  }

  test("analytics queries return plausible shapes") {
    assert(RelationalQueries.q1PricingSummary(spark, sfDir).count() === 6)
    val q5n = RelationalQueries.q5LocalVolume(spark, sfDir).count()
    assert(q5n >= 1 && q5n <= 5) // ≤5 ASIA nations; sparse at sf0.001
    val topk = RelationalQueries.topkOrdersPerCust(spark, sfDir)
    import org.apache.spark.sql.functions._
    val maxPer = topk.groupBy("o_custkey").count().agg(max("count")).first().getLong(0)
    assert(maxPer <= 3)
  }

  test("q6 pushes all three band predicates to the parquet scan, joins nothing") {
    // the scan's metadata string truncates at 100 chars by default,
    // which would hide the later pushed filters from the assertion
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val p = plan("q6_forecast_revenue")
      assert(!p.contains("Join"), p)
      val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
             pushed.contains("GreaterThanOrEqual(l_discount") &&
             pushed.contains("LessThanOrEqual(l_discount") &&
             pushed.contains("LessThan(l_quantity"), pushed)
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("q4 plans the EXISTS as a semi join, not an aggregate-then-join") {
    val p = plan("q4_priority_exists")
    assert(p.contains("LeftSemi"), p)
  }

  test("q8 market share is consistent: 0 <= share <= 1 and volumes add up") {
    import org.apache.spark.sql.functions._
    val rows = RelationalQueries.q8MarketShare(spark, sfDir)
      .where(col("mkt_share") < 0 || col("mkt_share") > 1 ||
             col("share_volume") > col("total_volume"))
    assert(rows.count() === 0)
  }

  test("q15 returns every supplier tied at the maximum, and only those") {
    import org.apache.spark.sql.functions._
    val top = RelationalQueries.q15TopSupplier(spark, sfDir)
    val revs = top.select("total_revenue").distinct().count()
    assert(revs === 1) // all returned rows share the max revenue
    // recompute independently: the max must match
    val expect = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
      .groupBy("l_suppkey")
      .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6)))").cast("decimal(25,6)")).cast("double").as("r"))
      .agg(max("r")).first().getDouble(0)
    assert(top.first().getAs[Double]("total_revenue") === expect)
  }

  test("q16 deny list really excludes negative-balance suppliers") {
    import org.apache.spark.sql.functions._
    val bad = Tables.supplier(spark, sfDir)
      .where(col("s_acctbal") < 0).select("s_suppkey")
      .collect().map(_.getLong(0)).toSet
    if (bad.nonEmpty) {
      // rebuild the per-group distinct sets WITHOUT the anti join and
      // check every excluded supplier is absent from the gated result
      val withBad = Tables.lineitem(spark, sfDir)
        .join(Tables.part(spark, sfDir),
              col("l_partkey") === col("p_partkey"))
        .where(col("p_brand") =!= "Brand#1" &&
               col("l_suppkey").isin(bad.toSeq: _*))
      assert(withBad.count() > 0) // the deny list actually bites…
      val gated = RelationalQueries.q16SupplierVariety(spark, sfDir)
        .agg(org.apache.spark.sql.functions.sum("supplier_cnt")).first().getLong(0)
      val full = Tables.lineitem(spark, sfDir)
        .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
        .where(col("p_brand") =!= "Brand#1")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("c"))
        .agg(org.apache.spark.sql.functions.sum("c")).first().getLong(0)
      assert(gated < full) // …and the gated counts are strictly smaller
    }
  }

  test("q10/q9 broadcast dims and keep fact joins shuffle-side") {
    for (q <- Seq("q10_returned_items", "q9_profit_by_nation", "q8_market_share")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast join")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian")
    }
  }

  test("q12 counters partition the late lines: high + low = total") {
    import org.apache.spark.sql.functions._
    val out = RelationalQueries.q12LateByClass(spark, sfDir)
    assert(out.count() > 0)
    val total = out.agg(sum(col("high_line_count") + col("low_line_count")))
      .first().getLong(0)
    val expect = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= "1998-01-01" && col("l_shipdate") < "1999-01-01")
      .join(Tables.orders(spark, sfDir),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .count()
    assert(total === expect && expect > 0)
  }

  test("q17 threshold really gates: revenue below the unfiltered brand total") {
    import org.apache.spark.sql.functions._
    val out = RelationalQueries.q17SmallQtyRevenue(spark, sfDir).first().getDouble(0)
    val all = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir).where(col("p_brand") === "Brand#1"),
            col("l_partkey") === col("p_partkey"))
      .agg((sum(col("l_extendedprice").cast("decimal(25,6)")).cast("double")
              / lit(7.0)).as("r"))
      .first().getDouble(0)
    assert(out > 0 && out < all)
  }

  test("q20 winners ship more than half a part's volume; nation semi join gates") {
    import org.apache.spark.sql.functions._
    val out = RelationalQueries.q20DominantSuppliers(spark, sfDir)
    val suppkeys = out.select("s_suppkey").collect().map(_.getLong(0)).toSet
    // every returned supplier sits in the requested nation
    val nation3 = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir).where(col("n_name") === "NATION_3"),
            col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    assert(suppkeys.subsetOf(nation3))
    assert(suppkeys.size < nation3.size) // the share test actually filters
    // and each winner really crosses the 1/2-share line on some part
    val pf = Tables.part(spark, sfDir)
      .where(col("p_name").startsWith("small")).select("p_partkey")
    val shipped = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= "1998-01-01" && col("l_shipdate") < "1999-01-01")
      .join(pf, col("l_partkey") === col("p_partkey"))
    val perSupp = shipped.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(25,6)")).as("sq"))
    val perPart = shipped.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("decimal(25,6)")).as("tq"))
    val winners = perSupp.join(perPart, col("l_partkey") === col("pk"))
      .where(col("sq") * 2 > col("tq"))
      .select("l_suppkey").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(suppkeys === nation3.intersect(winners))
  }

  test("q17/q20 broadcast the filtered part dim — the fact never shuffles for it") {
    for (q <- Seq("q17_small_qty_revenue", "q20_dominant_suppliers")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast join")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian")
    }
  }
  test("basket affinity lift is exact on hand baskets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 4 baskets: {1,2} x3, {1,3}, so N=4, n1=4, n2=3, n3=1,
    // pair (1,2): nab=3, lift = 3*4/(4*3) = 1.0; (1,3): 1*4/(4*1)=1.0
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
                 (12L, 1L), (12L, 2L), (13L, 1L), (13L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val b = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    val pairs = b.select(explode(flatten(transform(col("parts"), (x, i) =>
        transform(slice(col("parts"), i + 2, size(col("parts"))), y =>
          struct(x.as("pa"), y.as("pb")))))).as("p"))
      .groupBy(col("p.pa"), col("p.pb")).agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L, 3L), (1L, 3L, 1L)))
    val out = RelationalQueries.basketAffinity(spark, sfDir)
    val r = out.select("n_ab", "n_a", "n_b", "n_orders", "lift")
      .as[(Long, Long, Long, Long, Double)].collect()
    r.foreach { case (nab, na, nb, n, lift) =>
      assert(lift === (nab * n).toDouble / (na * nb).toDouble)
      assert(nab <= na && nab <= nb && na <= n && nb <= n)
    }
    assert(r.length === 20)
  }
  test("revenue gini: bucketed global rank matches the one-task window form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val out = RelationalQueries.revenueGini(spark, sfDir).collect().head
    val gini = out.getAs[Double]("gini")
    val n = out.getAs[Long]("n_customers")
    // reference: the naive global window the operator exists to avoid
    val per = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("rev"))
      .withColumn("r", row_number().over(
        Window.orderBy(col("rev"), col("o_custkey"))))
    val t = per.agg(count(lit(1)).as("n"), sum(col("rev")).as("s"),
                    sum(col("rev") * col("r")).as("s1")).collect().head
    val (nn, s, s1) = (t.getLong(0), t.getDecimal(1), t.getDecimal(2))
    val ref = (s1.multiply(new java.math.BigDecimal(2))
        .subtract(s.multiply(new java.math.BigDecimal(nn + 1)))).doubleValue() /
      s.multiply(new java.math.BigDecimal(nn)).doubleValue()
    assert(n === nn)
    assert(gini === ref, s"bucketed $gini vs window $ref")
    assert(gini > 0.0 && gini < 1.0)
    val top10 = out.getAs[Double]("top10_share")
    val bot50 = out.getAs[Double]("bottom50_share")
    assert(top10 > 0.1 && top10 < 1.0) // top decile holds > its pro-rata
    assert(bot50 < 0.5 && bot50 > 0.0)
  }

  test("bucketedGlobalCumsum matches the one-task window, incl. log buckets") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // heavy-tailed counts with ties — the vocab_coverage shape
    val counts = (1 to 400).map(i =>
      (s"w$i", math.max(1L, (100000.0 / i / i).toLong))).toDF("word", "n")
    val got = graft.operators.Relational.bucketedGlobalCumsum(
        counts.withColumn("negn", -col("n")),
        valueCol = "negn", tieCol = "word", sumCol = "n",
        bucketCol = -floor(log2(col("n"))), maxBuckets = 128)
      .select(col("word"), col("r"), col("cum"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("r"),
                           r.getAs[Long]("cum"))).sortBy(_._1)
    val w = Window.orderBy(col("n").desc, col("word"))
    val ref = counts
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("word"), col("r"), col("cum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq === ref.toSeq)
  }
}
