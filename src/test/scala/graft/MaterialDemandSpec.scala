package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.MaterialDemand
import graft.queries.RelationalQueries

class MaterialDemandSpec extends SparkSpec {

  test("recipe matches the reference on a hand-computed example") {
    import spark.implicits._
    // README.md:72-82 — cheap: 20g local; medium: 10g local + 10g
    // foreign; expensive: 10g foreign + 10g robusta (per unit demand).
    val pd = Seq(
      ("2023-05-01", 1L, "cheap", 3.0),
      ("2023-05-01", 1L, "medium", 2.0),
      ("2023-05-01", 1L, "expensive", 1.0),
      ("2023-05-02", 2L, "cheap", 5.0)
    ).toDF("date", "shop_id", "product_name", "demand")
      .withColumn("date", to_date(col("date")))

    val out = MaterialDemand.productToMaterial(pd)
      .withColumn("demand_kg", col("demand_kg").cast("double"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getString(2), r.getDouble(3)))

    assert(out.toSet === Set(
      // shop 1 day 1: local = 3*20 + 2*10 = 80g; foreign = 2*10 + 1*10
      // = 30g; robusta = 1*10 = 10g
      ("2023-05-01", 1L, "local_arabica", 0.08),
      ("2023-05-01", 1L, "foreign_arabica", 0.03),
      ("2023-05-01", 1L, "robusta", 0.01),
      ("2023-05-02", 2L, "local_arabica", 0.1),
      ("2023-05-02", 2L, "foreign_arabica", 0.0),
      ("2023-05-02", 2L, "robusta", 0.0)
    ))
  }

  test("flagship runs on testdata and keeps one shuffle") {
    val df = RelationalQueries.pipelineMaterialDemand(spark, sfDir)
    assert(df.count() > 0)
    // exactly one Exchange from the groupBy (the orderBy adds a range
    // repartition for the final sort — that one is presentation-only)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
  }
}
