package graft

import graft.operators.Cdc
import graft.queries.RelationalQueries

class CdcSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def target() = {
    import spark.implicits._
    Seq((1L, 10.0, "O"), (2L, 20.0, "O"), (3L, 30.0, "F"))
      .toDF("order_key", "total_price", "status")
  }

  test("latestPerKey keeps exactly the newest change, ties broken deterministically") {
    import spark.implicits._
    val ch = Seq(
      (1L, 1, "2023-01-01", "U", 11.0),
      (1L, 2, "2023-01-02", "D", 12.0), // newest for key 1
      (2L, 1, "2023-01-05", "U", 21.0),
      (2L, 2, "2023-01-05", "I", 22.0)  // same ts, higher line_no wins
    ).toDF("order_key", "line_no", "last_updated", "op", "new_price")
      .withColumn("last_updated", to_timestamp(col("last_updated")))
    val got = Cdc.latestPerKey(ch, "order_key",
        Seq("last_updated", "line_no", "new_price", "op"))
      .select("order_key", "op").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "D"), (2L, "I")))
  }

  test("latestPerKeyPacked is row-identical to latestPerKey and plans a HashAggregate") {
    // the packed path must change the PLAN (fixed-width buffer →
    // HashAggregate; the struct max_by could only SortAggregate and
    // its partial sorted the whole feed at 1000×), never the rows —
    // asserted on the real sf change feed, which exercises every
    // encode (timestamp µs, int, IEEE double bits, op rank)
    val feed = RelationalQueries.changes(spark, sfDir)
    val generic = Cdc.latestPerKey(feed, "order_key",
      Seq("last_updated", "line_no", "new_price", "op"))
    val packed = RelationalQueries.cdcLatestPerKey(spark, sfDir)
    assert(packed.columns.toSeq === generic.columns.toSeq)
    // names + types must match (nullability may tighten: the decoded
    // op is provably non-null where max_by's struct field is not)
    assert(packed.schema.map(f => (f.name, f.dataType)) ===
           generic.schema.map(f => (f.name, f.dataType)))
    assert(packed.exceptAll(generic).isEmpty && generic.exceptAll(packed).isEmpty)
    packed.collect() // materialize so the executed plan is final
    val plan = packed.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected HashAggregate:\n$plan")
    assert(!plan.contains("SortAggregate"), s"unexpected SortAggregate:\n$plan")
  }

  test("latestPerKeyPacked range guard: out-of-range, negative, and null encodes raise") {
    import spark.implicits._
    def run(rows: Seq[(Long, java.lang.Long)], bits: Int): Unit =
      Cdc.latestPerKeyPacked(
        rows.toDF("k", "v"), "k",
        Seq(Cdc.PackedField("v", bits, c => c, v => v))
      ).collect()
    // the raise may be wrapped in SparkException layers — search the chain
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(e => s"${e.getMessage}").mkString(" | ")
    // in-range: fine
    run(Seq((1L, 3L), (1L, 5L)), 3)
    // overflow 2^bits: the r13 path let the oversized encode bleed into
    // HIGHER fields' bit positions, silently corrupting the
    // lexicographic order (not a clean modulo wrap); now it must fail
    // loudly
    val over = intercept[Exception] { run(Seq((1L, 8L)), 3) }
    assert(msgs(over).contains("out of [0, 2^3)"), s"wrong error: ${msgs(over)}")
    // negative encode breaks lexicographic packing — must fail
    val neg = intercept[Exception] { run(Seq((1L, -1L)), 3) }
    assert(msgs(neg).contains("out of"), s"wrong error: ${msgs(neg)}")
    // null payload: latestPerKey would still rank the row; the packed
    // path's documented contract is to raise instead of silently drop
    val nul = intercept[Exception] {
      run(Seq((1L, null.asInstanceOf[java.lang.Long])), 3)
    }
    assert(msgs(nul).contains("or null"), s"wrong error: ${msgs(nul)}")
  }

  test("mergeApply implements reference MERGE semantics (I/U/D)") {
    import spark.implicits._
    val latest = Seq(
      (1L, "U", 99.0, "NEW"),  // matched U → update
      (2L, "D", 0.0, "NEW"),   // matched D → delete
      (3L, "I", 0.0, "NEW"),   // matched I → keep target row
      (4L, "I", 44.0, "NEW"),  // unmatched I → insert
      (5L, "U", 55.0, "NEW"),  // unmatched U → no-op
      (6L, "D", 66.0, "NEW")   // unmatched D → no-op
    ).toDF("order_key", "op", "total_price", "status")
    val got = Cdc.mergeApply(target(), latest, "order_key")
      .as[(Long, Double, String)].collect().toSet
    assert(got === Set((1L, 99.0, "NEW"), (3L, 30.0, "F"), (4L, 44.0, "NEW")))
  }

  test("shuffle_hash joinHint: identical merge/upsert results, hashed join planned") {
    // the bounded-delta fast path must change the plan, never the rows
    val latest = RelationalQueries.cdcLatestPerKey(spark, sfDir).select(
      col("order_key"), col("op"),
      col("new_price").as("total_price"), lit("NEW").as("status"))
    val tgt = Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("order_key"),
      col("o_totalprice").as("total_price"),
      col("o_orderstatus").as("status"))
    val smj = Cdc.mergeApply(tgt, latest, "order_key")
    val shj = Cdc.mergeApply(tgt, latest, "order_key",
                             joinHint = "shuffle_hash")
    assert(shj.exceptAll(smj).isEmpty && smj.exceptAll(shj).isEmpty)
    assert(shj.queryExecution.executedPlan.toString
             .contains("ShuffledHashJoin"),
           "hint did not produce a shuffled-hash join")
  }

  test("scd2: closes current versions, appends new ones, keeps history") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val target = Seq(
      // key 1: one historical + one current version
      (1L, 10.0, ts("2024-01-01 00:00:00"), Some(ts("2024-02-01 00:00:00")), false),
      (1L, 11.0, ts("2024-02-01 00:00:00"), None, true),
      // key 2: current only, no incoming change
      (2L, 20.0, ts("2024-01-15 00:00:00"), None, true)
    ).toDF("order_key", "total_price", "valid_from", "valid_to", "is_current")
    val changes = Seq(
      (1L, 12.0, ts("2024-03-01 00:00:00")),  // update key 1
      (9L, 90.0, ts("2024-03-02 00:00:00"))   // brand-new key
    ).toDF("order_key", "total_price", "changed_at")

    val out = Cdc.scd2Apply(target, changes, "order_key")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getTimestamp(3)).map(_.toString), r.getBoolean(4))).toSet
    assert(out === Set(
      (1L, 10.0, Some("2024-01-01 00:00:00.0" ).map(_ => "2024-02-01 00:00:00.0"), false), // history untouched
      (1L, 11.0, Some("2024-03-01 00:00:00.0"), false),  // closed at change time
      (1L, 12.0, None, true),                            // new current
      (2L, 20.0, None, true),                            // unchanged current
      (9L, 90.0, None, true)                             // fresh insert
    ))
  }

  test("upsert: conflicts update, non-conflicts insert, rest survive") {
    import spark.implicits._
    val updates = Seq((2L, 222.0, "UPD"), (9L, 999.0, "UPD"))
      .toDF("order_key", "total_price", "status")
    val got = Cdc.upsert(target(), updates, "order_key")
      .as[(Long, Double, String)].collect().toSet
    assert(got === Set(
      (1L, 10.0, "O"), (2L, 222.0, "UPD"), (3L, 30.0, "F"), (9L, 999.0, "UPD")))
  }
}
