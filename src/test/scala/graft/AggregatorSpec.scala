package graft

import org.apache.spark.sql.functions._
import graft.functions.Aggregators
import graft.functions.Aggregators.Scored
import graft.queries.TextQueries

/** Typed TopK aggregator: equals the window top-k on real data while
  * shuffling only k rows per group per map task. */
class AggregatorSpec extends SparkSpec {
  import spark.implicits._

  test("TopKAgg equals window row_number top-k on orders") {
    val k = 5
    val scored = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("grp"),
              col("o_orderkey").as("id"), col("o_totalprice").as("score"))
    val typed = scored.as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => Scored(t._2, t._3))
      .agg(Aggregators.topK(k).toColumn.name("top"))
      .flatMap { case (grp, top) => top.map(s => (grp, s.id, s.score)) }
      .collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("score").desc, col("id"))
    val windowed = scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k).drop("rk")
      .as[(String, Long, Double)].collect().toSet
    assert(typed === windowed)
    assert(typed.nonEmpty)
  }

  test("TopKAgg is order-insensitive (merge associativity on repartition)") {
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("grp"),
              col("o_orderkey").as("id"), col("o_totalprice").as("score"))
      .as[(String, Long, Double)]
    def run(ds: org.apache.spark.sql.Dataset[(String, Long, Double)]) =
      ds.groupByKey(_._1).mapValues(t => Scored(t._2, t._3))
        .agg(Aggregators.topK(3).toColumn.name("top"))
        .collect().toMap
    assert(run(base) === run(base.repartition(17)))
  }

  test("HeavyHittersAgg with capacity >= distinct is exact on real tokens") {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val exact = toks.groupBy("tok").count()
      .as[(String, Long)].collect().toMap
    val hh = toks.as[String]
      .groupByKey(_ => 0)
      .agg(Aggregators.heavyHitters(exact.size + 10).toColumn.name("hh"))
      .collect().head._2
      .map(tc => tc.token -> tc.est).toMap
    assert(hh === exact)
  }

  test("HeavyHittersAgg honors the MG bounds on a lossy skewed stream") {
    // Zipf-ish stream: item i appears ~n/i times; capacity 8 over 100
    // distinct values forces both the reduce decrement path and the
    // merge subtract path. Bounds (Agarwal et al.): estimates never
    // overcount, undercount by at most n/(capacity+1), and every item
    // with true frequency > n/(capacity+1) survives.
    val cap = 8
    val stream = (1 to 100).flatMap(i => Seq.fill(3000 / i)(s"tok$i"))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size
    val agg = Aggregators.heavyHitters(cap)
    // adversarial merge tree: 7 uneven partitions reduced separately,
    // then merged pairwise left-to-right
    val parts = stream.grouped(math.max(1, n / 7)).toSeq
    val summaries = parts.map(_.foldLeft(agg.zero)(agg.reduce))
    val merged = summaries.reduce(agg.merge)
    val err = n.toDouble / (cap + 1)
    assert(merged.size <= cap)
    merged.foreach { case (t, est) =>
      assert(est <= truth(t), s"$t overcounted")
      assert(truth(t) - est <= err, s"$t undercounted past the bound")
    }
    truth.filter(_._2 > err).keys.foreach { t =>
      assert(merged.contains(t), s"guaranteed heavy hitter $t evicted")
    }
  }

  test("heavy_hitters_sound query equals the exact per-lang top-5") {
    val sound = TextQueries.heavyHittersSound(spark, sfDir)
      .as[(String, String, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_est").desc, col("token"))
    val exact = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n_est"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 5).drop("rk")
      .as[(String, String, Long)].collect().toSet
    assert(sound === exact)
    assert(sound.nonEmpty)
  }
}
