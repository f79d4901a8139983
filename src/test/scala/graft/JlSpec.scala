package graft

import org.apache.spark.sql.functions._
import graft.queries.DedupQueries

/** The Johnson-Lindenstrauss projection's statistical contract: with
  * ±1 signs, E[p_k²] = ‖v‖² per component, so ‖p‖²/(K·‖v‖²) should
  * concentrate around 1 across the corpus — the property that makes
  * distances in the 8-dim space usable by LSH/IVF. The bit-level
  * contract is the driver oracle (`jl_project`); this spec covers the
  * parts a hash-equality cannot: the projection is genuinely
  * norm-preserving in expectation, linear, and partition-independent. */
class JlSpec extends SparkSpec {
  import spark.implicits._

  private def projected = DedupQueries.jlProject(spark, sfDir)

  test("projection preserves squared norms in expectation (mean ratio near 1)") {
    val pcols = (0 until 8).map(k => col(s"p$k") * col(s"p$k"))
      .reduceLeft(_ + _).as("psq")
    val vsq = expr(
      """aggregate(embedding, 0.0D,
        |  (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"""
        .stripMargin).as("vsq")
    val joined = projected
      .join(Tables.embeddings(spark, sfDir).select(col("vec_id"), vsq),
            "vec_id")
      .withColumn("psq", pcols)
      .select(col("psq") / (lit(8.0) * col("vsq")))
      .as[Double].collect()
    val mean = joined.sum / joined.length
    assert(joined.length === 500)
    // E[ratio] = 1; at n=500 with 8 components the sample mean is well
    // inside ±0.15 unless the sign matrix is broken (constant/biased)
    assert(mean > 0.85 && mean < 1.15, s"mean norm ratio $mean")
  }

  test("projection is deterministic across partitionings") {
    val a = projected.collect().map(_.toSeq).toSet
    val b = DedupQueries.jlProject(spark, sfDir).repartition(13)
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }
}
