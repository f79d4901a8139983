package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Skew}
import graft.sources.Lake

class ScaleSpec extends SparkSpec {

  test("star CC resolves a planted 10^4-degree hub and matches the jump loop") {
    import spark.implicits._
    // a crawl-boilerplate shape: one doc near-dup to 10^4 others, plus
    // a 200-node chain so convergence needs real multi-round work, plus
    // an isolated pair. Per-round state in clustersStar flows through
    // partial-agg mins only (no neighbor lists), so the hub's edge mass
    // never has to fit one task's memory.
    val star = (1 to 10000).map(i => (0L, i.toLong))
    val chain = (20000L until 20200L).map(i => (i, i + 1L))
    val pairs = (star ++ chain ++ Seq((30000L, 30001L))).toDF("a", "b")
    val out = Dedup.clustersStar(pairs, "a", "b")
      .as[(Long, Long)].collect().toSet
    // hub component: all 10001 nodes labeled 0
    assert(out.count(_._2 == 0L) === 10001)
    assert(out.filter(_._2 == 20000L).map(_._1) === (20000L to 20200L).toSet)
    assert(out.contains((30001L, 30000L)))
    // same fixpoint as the pointer-jump implementation
    val jump = Dedup.clusters(pairs, "a", "b").as[(Long, Long)].collect().toSet
    assert(out === jump)
  }

  test("clustersAuto routes hub graphs to star, shallow graphs to jump") {
    import spark.implicits._
    // the planted hub reaches the default degree cutoff (10^4) → star
    val star = (1 to 10000).map(i => (0L, i.toLong))
    val chain = (20000L until 20200L).map(i => (i, i + 1L))
    val hubG = (star ++ chain).toDF("a", "b")
    val (outDf, ds) = Decision.capture(Dedup.clustersAuto(hubG, "a", "b"))
    val out = outDf.as[(Long, Long)].collect().toSet
    assert(decision(ds, "cc.route").route === "star")
    assert(out.count(_._2 == 0L) === 10001)
    assert(out.filter(_._2 == 20000L).map(_._1) === (20000L to 20200L).toSet)
    // disjoint dominoes: max degree 1 → the cheaper jump loop
    val shallow = (0L until 100L by 2).map(i => (i, i + 1L)).toDF("a", "b")
    val (out2Df, ds2) = Decision.capture(Dedup.clustersAuto(shallow, "a", "b"))
    val out2 = out2Df.as[(Long, Long)].collect().toSet
    assert(decision(ds2, "cc.route").route === "jump")
    assert(out2 === (0L until 100L).map(i => (i, i - i % 2)).toSet)
    // dense dup-cliques: max degree 39 (far below the hub cutoff) but
    // mean degree 39 ≥ 16 → star, the SCALE100 regime where jump
    // spills on edge mass alone (5 cliques of 40 nodes each)
    val dense = (for { c <- 0 until 5; i <- 0 until 40; j <- i + 1 until 40 }
      yield (c * 100L + i, c * 100L + j)).toDF("a", "b")
    val (out3Df, ds3) = Decision.capture(Dedup.clustersAuto(dense, "a", "b"))
    val out3 = out3Df.as[(Long, Long)].collect().toSet
    assert(decision(ds3, "cc.route").route === "star")
    assert(out3 === (for (c <- 0 until 5; i <- 0 until 40)
      yield (c * 100L + i, c * 100L)).toSet)
  }

  test("salted join returns exactly the plain join's rows") {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val plain = li.join(orders, "o_orderkey")
    val salted = Skew.saltedJoin(li, orders, "o_orderkey", salts = 8)
    assert(salted.count() === plain.count())
    val ps = plain.agg(sum("l_quantity"), sum("o_totalprice")).first()
    val ss = salted.agg(sum("l_quantity"), sum("o_totalprice")).first()
    assert(ps === ss)
  }

  test("AQE skew-join splits a planted hot key at runtime") {
    // 80% of the left side lands on one key: the SMJ partition for it
    // dwarfs the median, and AQE must split it (the mechanism SURVEY §5
    // leans on for unsalted skew at 100 TB). Thresholds are lowered to
    // make a test-sized partition count as skewed.
    val confs = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val previous = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 300000).select(
        when(pmod(col("id"), lit(5)) < 4, lit(42L))
          .otherwise(pmod(col("id"), lit(1000))).as("k"),
        col("id").as("payload"))
      val right = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, "k").agg(sum("payload").as("s"), count(lit(1)).as("n"))
      val row = joined.collect()(0)
      // the join result is still exact
      assert(row.getLong(1) === 300000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("isSkewJoin=true"),
             s"no skew-split in executed plan:\n$plan")
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables join with no exchange on the bucketed key") {
    Lake.writeBucketed(
      Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice"),
      "orders_b", "o_orderkey", 4)
    Lake.writeBucketed(
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "lineitem_b", "o_orderkey", 4)
    val joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
    // disable auto-broadcast so the test exercises the bucketed path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
