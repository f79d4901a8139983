package graft

import org.apache.spark.sql.functions._
import graft.operators.SetJoin
import graft.queries.DedupQueries

/** Exact prefix-filtered Jaccard join (#26b): losslessness vs the
  * all-pairs form, threshold arithmetic, and the no-product plan. */
class SetJoinSpec extends SparkSpec {
  import spark.implicits._

  test("prefix join equals the all-pairs result (lossless recall)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val blocked = SetJoin.prefixJaccardSelfJoin(docs, "doc_id", "text", 9, 10)
      .select("doc_a", "doc_b", "inter")
      .as[(Long, Long, Long)].collect().toSet
    val toks = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("t"))
    val allPairs = toks.as("a")
      .join(toks.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        size(array_intersect(col("a.t"), col("b.t"))).cast("long").as("i"),
        size(col("a.t")).cast("long").as("sa"),
        size(col("b.t")).cast("long").as("sb"))
      .where(col("i") * 10 >= (col("sa") + col("sb") - col("i")) * 9)
      .select("da", "db", "i")
      .as[(Long, Long, Long)].collect().toSet
    assert(blocked === allPairs)
    assert(blocked.nonEmpty, "gate must be non-trivial at sf0.001")
  }

  test("hand check: threshold keeps exactly the pairs at or above tau") {
    // a={w x y z}, b={w x y q}: J=3/5=0.6; c={w x y z v}: J(a,c)=4/5,
    // J(b,c)=3/6=0.5 — tau 3/5 keeps (a,b),(a,c); tau 7/10 only (a,c)
    val docs = Seq((1L, "w x y z"), (2L, "w x y q"), (3L, "w x y z v"))
      .toDF("doc_id", "text")
    val at06 = SetJoin.prefixJaccardSelfJoin(docs, "doc_id", "text", 3, 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(at06 === Set((1L, 2L), (1L, 3L))) // J(2,3)=3/6=0.5 < 0.6
    val at07 = SetJoin.prefixJaccardSelfJoin(docs, "doc_id", "text", 7, 10)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(at07 === Set((1L, 3L, 0.8)))
  }

  test("candidate join is keyed, never a product") {
    val p = DedupQueries.jaccardJoinExact(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }
}
