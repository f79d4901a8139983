package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Check, GatedBy, Oracle, Query, Registry}

/** The query registry's shape, checked without a Spark session. */
class QueryRegistrySpec extends AnyFunSuite {

  private val build: (SparkSession, String) => DataFrame = (_, _) => null
  private def q(name: String, check: Check) = Query(name, build, check)

  private def gated = Registry.all.collect { case Query(n, _, GatedBy(ts @ _*)) => n -> ts }.toMap

  test("216 queries: 198 checked by an oracle, 18 gated by oracle twins") {
    assert(Registry.all.size === 216)
    assert(Registry.all.count(_.check.isInstanceOf[Oracle]) === 198)
    assert(gated.size === 18)
    assert(SparkEntry.queries.size === 216)
    assert(SparkEntry.oracleSql.size === 198)
    assert(SparkEntry.oracleSql.keySet ++ gated.keySet === SparkEntry.queries.keySet)
  }

  test("names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("every GatedBy twin is a registered oracle query") {
    for ((n, twins) <- gated; t <- twins)
      assert(SparkEntry.oracleSql.contains(t), s"$n -> $t")
  }

  test("validation rejects a duplicate name and a twin without an oracle") {
    val dup = intercept[IllegalArgumentException](
      Registry.validated(Seq(q("a", Oracle("SELECT 1")), q("a", Oracle("SELECT 2")))))
    assert(dup.getMessage.contains("registered twice: a"))
    val unknown = intercept[IllegalArgumentException](
      Registry.validated(Seq(q("a", GatedBy("b")))))
    assert(unknown.getMessage.contains("a -> b"))
    val notOracle = intercept[IllegalArgumentException](
      Registry.validated(Seq(q("a", GatedBy("b")), q("b", GatedBy("c")), q("c", Oracle("SELECT 1")))))
    assert(notOracle.getMessage.contains("a -> b"))
    assert(!notOracle.getMessage.contains("b -> c"))
    intercept[IllegalArgumentException](GatedBy())
  }

  test("the twins graftbench checks its text ops through") {
    assert(gated("dedup_minhash_pairs") === Seq("dedup_minhash_sound"))
    assert(gated("bpe_encode") === Seq("bpe_encode_sound"))
  }
}
