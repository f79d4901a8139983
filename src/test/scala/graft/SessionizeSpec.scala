package graft

import java.sql.Date
import org.apache.spark.sql.functions._
import graft.operators.Sessionize
import graft.queries.GraphQueries

/** Gaps-and-islands streaks (#50b): hand-checked island splitting,
  * tie-break determinism, and the one-exchange plan shape (the island
  * groupBy and per-user argmax must ride the window's user
  * partitioning). */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(d: String, h: Int = 12) =
    java.sql.Timestamp.valueOf(s"$d ${"%02d".format(h)}:00:00")

  test("dailyStreaks splits islands exactly at day gaps (hand check)") {
    // user 1: {1,2,3}jan + {6,7}jan → streaks 3 and 2; user 2: one day
    val ev = Seq(
      (1L, ts("2024-01-01")), (1L, ts("2024-01-02")), (1L, ts("2024-01-02", 23)),
      (1L, ts("2024-01-03")), (1L, ts("2024-01-06")), (1L, ts("2024-01-07")),
      (2L, ts("2024-02-10"))).toDF("user_id", "ts")
    val out = Sessionize.dailyStreaks(ev, "user_id", "ts")
      .as[(Long, Long, Long, Long, Date, Date)].collect().toMap2
    assert(out(1L) === ((5L, 2L, 3L,
      Date.valueOf("2024-01-01"), Date.valueOf("2024-01-03"))))
    assert(out(2L) === ((1L, 1L, 1L,
      Date.valueOf("2024-02-10"), Date.valueOf("2024-02-10"))))
  }

  test("equal-length streaks pick the EARLIEST one") {
    val ev = Seq(
      (1L, ts("2024-03-10")), (1L, ts("2024-03-11")),
      (1L, ts("2024-03-20")), (1L, ts("2024-03-21"))).toDF("user_id", "ts")
    val r = Sessionize.dailyStreaks(ev, "user_id", "ts")
      .select("longest_streak", "streak_start")
      .as[(Long, Date)].head()
    assert(r === ((2L, Date.valueOf("2024-03-10"))))
  }

  test("streaks shuffle only the dedup + window; downstream aggs reuse the partitioning") {
    val p = GraphQueries.activityStreaks(spark, sfDir)
      .queryExecution.executedPlan.toString
    // exchange 1: (user, day) distinct — with a map-side partial dedup
    // BEFORE it (raw events collapse grain pre-shuffle); exchange 2:
    // the user window. The island groupBy and per-user argmax must add
    // none on top.
    assert("Exchange".r.findAllIn(p).size === 2, p)
    val firstExchange = p.indexOf("Exchange")
    assert(p.indexOf("HashAggregate", firstExchange) > 0)
    // the pre-shuffle partial dedup exists below the LAST exchange
    val lastExchange = p.lastIndexOf("Exchange")
    assert(p.indexOf("HashAggregate", lastExchange) > 0,
      "raw events must dedup map-side before any shuffle")
  }

  test("interval coverage merges overlaps, counts gaps, finds the longest span") {
    import org.apache.spark.sql.functions._
    // supplier 1: [1,4]+[3,6] merge to [1,6]; [10,11] separate
    val li = Seq(
      (1L, "2024-01-01", 3, 10L), (1L, "2024-01-03", 3, 11L),
      (1L, "2024-01-10", 1, 12L), (2L, "2024-02-01", 2, 13L))
      .toDF("l_suppkey", "ship", "l_linenumber", "l_orderkey")
      .select(col("l_suppkey"), col("ship").cast("timestamp").as("l_shipdate"),
              col("l_linenumber"), col("l_orderkey"))
    val tmp = java.nio.file.Files.createTempDirectory("iv").toString
    li.write.parquet(s"$tmp/lineitem.parquet")
    val out = GraphQueries.intervalCoverage(spark, tmp)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // covered: [Jan1,Jan6]=6 days + [Jan10,Jan11]=2 days = 8
    assert(out(1L) === ((8L, 2L, 3L, 6L)))
    assert(out(2L) === ((3L, 1L, 1L, 3L)))
  }

  private implicit class Tupled(
      rows: Array[(Long, Long, Long, Long, Date, Date)]) {
    def toMap2: Map[Long, (Long, Long, Long, Date, Date)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
  }
}
