package graft

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, RelationalQueries}

class SketchSpec extends SparkSpec {

  test("approx_count_distinct within 10% of exact; approx median within 5% of exact") {
    val approx = RelationalQueries.sketchStats(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n"),
           expr("percentile(o_totalprice, 0.5)").as("med"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (n, med)) =>
      val (an, amed) = approx(k)
      assert(math.abs(an - n).toDouble / n < 0.10, s"$k distinct: $an vs $n")
      assert(math.abs(amed - med) / med < 0.05, s"$k median: $amed vs $med")
    }
  }

  test("HLL sketches are mergeable: union of daily == one-shot estimate") {
    // the property the NDV cube depends on — merging per-day sketches
    // must give the SAME estimate as sketching the month directly
    // (HLL union is lossless over registers)
    val orders = Tables.orders(spark, sfDir)
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    val merged = orders
      .groupBy(col("month"), col("o_orderdate"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      .groupBy(col("month"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val direct = orders.groupBy(col("month"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("est"))
    val m = merged.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val d = direct.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === d)
  }

  test("count-min: never underestimates, exact when collision-free, shard-mergeable") {
    import spark.implicits._
    import graft.operators.CountMin
    val toks = Seq.fill(50)("alpha") ++ Seq.fill(30)("beta") ++
      Seq.fill(7)("gamma") ++ (1 to 40).map(i => s"tail$i")
    val df = toks.map(Tuple1(_)).toDF("word")
    val table = CountMin.buildTable(df, "word", depth = 4, width = 512)
    // bounded table: at most depth*width counters, total mass = depth*N
    assert(table.count() <= 4 * 512)
    assert(table.agg(sum("c")).head.getLong(0) === 4L * toks.length)
    val keys = Seq("alpha", "beta", "gamma", "absent").map(Tuple1(_)).toDF("word")
    val est = CountMin.estimate(table, keys, "word", depth = 4, width = 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("alpha") >= 50 && est("beta") >= 30 && est("gamma") >= 7)
    // 127 tokens into 512 buckets x 4 independent rows: a collision
    // surviving all 4 rows for these keys would need ~ (127/512)^4 luck;
    // with this fixed token set the estimates are exactly the counts
    assert(est("alpha") === 50 && est("beta") === 30 && est("gamma") === 7)
    assert(est("absent") === 0)
    // mergeability: shard tables sum by (row, bucket) to the full table
    val (s1, s2) = toks.splitAt(60)
    val merged = CountMin.buildTable(s1.map(Tuple1(_)).toDF("word"), "word", 4, 512)
      .unionByName(CountMin.buildTable(s2.map(Tuple1(_)).toDF("word"), "word", 4, 512))
      .groupBy("row", "bucket").agg(sum("c").as("c"))
    val fromMerged = CountMin.estimate(merged, keys, "word", 4, 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromMerged === est)
    intercept[IllegalArgumentException](
      CountMin.buildTable(df, "word", depth = 5, width = 512))
  }
  test("sketch inclusion-exclusion recovers a planted vocabulary overlap") {
    import spark.implicits._
    // A = w0..w999, B = w500..w1499: true overlap 500, unions 1500
    val docs = ((0 until 1000).map(i => ("a", s"w$i")) ++
                (500 until 1500).map(i => ("b", s"w$i")))
      .toDF("source", "word")
    val sk = docs.groupBy(col("source"))
      .agg(hll_sketch_agg(col("word")).as("sk"),
           count_distinct(col("word")).as("nd"))
    val est = sk.as("x").join(sk.as("y"), col("x.source") < col("y.source"))
      .select((col("x.nd") + col("y.nd") -
        hll_sketch_estimate(hll_union(col("x.sk"), col("y.sk"))))
        .as("inter"))
      .as[Double].head()
    assert(math.abs(est - 500.0) <= 0.08 * 2000 + 24, s"estimate $est")
    // and the estimate is partitioning-independent (register-max merge)
    val est2 = docs.repartition(13).groupBy(col("source"))
      .agg(hll_sketch_agg(col("word")).as("sk"),
           count_distinct(col("word")).as("nd"))
      .as("x").join(sk.as("y"),
        col("x.source") < col("y.source"))
      .select((col("x.nd") + col("y.nd") -
        hll_sketch_estimate(hll_union(col("x.sk"), col("y.sk"))))
        .as("inter"))
      .as[Double].head()
    assert(est === est2)
  }

  test("source_overlap_approx flags are all green at gate scale") {
    val rows = DedupQueries.sourceOverlapApprox(spark, sfDir).collect()
    assert(rows.length === 190) // C(20,2) source pairs
    assert(rows.forall(_.getAs[Boolean]("approx_ok")))
  }
}
