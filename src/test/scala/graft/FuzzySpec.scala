package graft

import org.apache.spark.sql.functions._
import graft.operators.Fuzzy
import graft.queries.DedupQueries

/** FastSS blocked fuzzy matching (#49a): losslessness vs the all-pairs
  * form, deletion-variant correctness, k=2 depth, and the no-product
  * plan shape. */
class FuzzySpec extends SparkSpec {
  import spark.implicits._

  test("deletion variants enumerate every single-deletion string once") {
    val v = Seq("abc").toDF("s")
      .select(Fuzzy.deletionVariants(col("s"), 1).as("v"))
      .as[Seq[String]].head()
    assert(v.toSet === Set("abc", "bc", "ac", "ab"))
    assert(v.length === 4) // distinct — no duplicate variants
  }

  test("blocked self-join hand check at k=1") {
    val df = Seq((1L, "abc"), (2L, "abd"), (3L, "abcd"), (4L, "xyz"))
      .toDF("id", "name")
    val got = Fuzzy.selfJoin(df, "id", "name", 1)
      .as[(Long, Long, Int)].collect().toSet
    // (abc,abd)=1 substitute, (abc,abcd)=1 insert, (abd,abcd)=1
    // (insert c); xyz matches nothing
    assert(got === Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1)))
  }

  test("k=2 finds distance-2 pairs k=1 cannot") {
    val df = Seq((1L, "abcd"), (2L, "abef")).toDF("id", "name")
    assert(Fuzzy.selfJoin(df, "id", "name", 1).count() === 0)
    val got2 = Fuzzy.selfJoin(df, "id", "name", 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got2 === Set((1L, 2L, 2)))
  }

  test("blocked result equals the all-pairs result (losslessness)") {
    val sup = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"))
    val blocked = Fuzzy.selfJoin(sup, "s_suppkey", "s_name", 1)
      .as[(Long, Long, Int)].collect().toSet
    val allPairs = sup.as("a")
      .join(sup.as("b"), col("a.s_suppkey") < col("b.s_suppkey"))
      .select(col("a.s_suppkey"), col("b.s_suppkey"),
              levenshtein(col("a.s_name"), col("b.s_name")).as("d"))
      .where(col("d") <= 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(blocked === allPairs)
    assert(blocked.nonEmpty, "gate must be non-trivial at sf0.001")
  }

  test("entity resolution merges transitively past the edit threshold") {
    // ed(aaaa,aaab)=1, ed(aaab,aabb)=1, but ed(aaaa,aabb)=2: the
    // closure must still put all three under one representative —
    // exactly what a pairwise-threshold-only impostor cannot do
    val df = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "aabb"), (4L, "zzzz"),
                 (5L, "zzzy")).toDF("id", "name")
    val out = graft.operators.Dedup.clusters(
        Fuzzy.selfJoin(df, "id", "name", 1), "key_a", "key_b")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("blocked plan forms no cartesian/nested-loop product") {
    val p = DedupQueries.fuzzyMatchBlocked(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }
}
