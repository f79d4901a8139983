package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Graph-algorithm and temporal (as-of, forecast, series) queries. */
object GraphQueries {

  // ------------------------------- temporal joins (as-of / range)

  /** As-of join: attribute each purchase event to the same user's most
    * recent click at-or-before it (union-sort-window — one shuffle, no
    * explosion; see Temporal.asofJoin). Right side pre-deduped per
    * (user, ts) so the carried payload is deterministic. */
  def asofClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    Temporal.asofJoin(purchases, clicks, "user_id", "purchase_ts", "click_ts")
  }

  private val asofClicksSql =
    """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
      |             MAX(event_id) AS click_id
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts""".stripMargin

  /** Forward as-of (#22q2): each purchase matched to the user's NEXT
    * click at-or-after it — the mirrored frame of asof_clicks, same
    * single-shuffle union-sort-window core. */
  def asofNextClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    Temporal.asofJoinForward(purchases, clicks,
      "user_id", "purchase_ts", "click_ts")
  }

  private val asofNextClickSql =
    """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
      |             MAX(event_id) AS click_id
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.purchase_ts <= c.click_ts""".stripMargin

  /** Range join: orders bucketed into 50k price bands via the binned
    * equi-join (no BroadcastNestedLoopJoin — survives interval tables
    * too big to broadcast). */
  def rangeJoinBands(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark.range(0, 10).select(
      col("id").cast("int").as("band_id"),
      (col("id") * lit(50000.0)).as("lo"),
      ((col("id") + 1) * lit(50000.0)).as("hi"))
    Temporal.binnedRangeJoin(Tables.orders(spark, dir), "o_totalprice",
                             bands, "lo", "hi", 50000.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_orders"),
           Relational.dsum(col("o_totalprice")).as("sum_price"))
  }

  private val rangeJoinBandsSql =
    """SELECT band_id, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_price
      |FROM orders
      |JOIN (SELECT CAST(range AS INT) AS band_id, range*50000.0 AS lo,
      |             (range+1)*50000.0 AS hi FROM range(0,10)) b
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band_id""".stripMargin

  /** Calendar gap-fill + forward-fill: daily shop demand re-gridded to
    * a dense calendar, missing days carrying the last observed value —
    * the time-series prep the reference's forecasting downstream needs.
    * The calendar is broadcast (it's tiny at any horizon); the fill is
    * one window over the existing (shop) partitioning. */
  def gapfillDailyDemand(spark: SparkSession, dir: String): DataFrame = {
    val filtered = Tables.lineitem(spark, dir)
      .where(col("l_suppkey") < 10 &&
             col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-02-01")
    val demand = filtered
      .groupBy(col("l_suppkey").as("shop_id"),
               to_date(col("l_shipdate")).as("day"))
      .agg(Relational.dsum(col("l_quantity")).as("demand"))
    val days = spark.sql(
      """SELECT explode(sequence(DATE'1996-01-01', DATE'1996-01-31',
        |                        INTERVAL 1 DAY)) AS day""".stripMargin)
      .limit(31) // 31 literal dates - declared so the cross join classifies bounded
    // shops from the (column-pruned) filtered scan, not from the
    // aggregated frame — the latter would run the groupBy twice
    val grid = filtered.select(col("l_suppkey").as("shop_id")).distinct()
      .crossJoin(broadcast(days))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shop_id")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(demand, Seq("shop_id", "day"), "left")
      .select(col("shop_id"), col("day"),
              last(col("demand"), ignoreNulls = true).over(w).as("demand_filled"),
              col("demand").isNull.as("was_gap"))
  }

  private val gapfillDailyDemandSql =
    """WITH demand AS (
      |  SELECT l_suppkey AS shop_id, CAST(l_shipdate AS DATE) AS day,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS demand
      |  FROM lineitem
      |  WHERE l_suppkey < 10 AND l_shipdate >= '1996-01-01'
      |    AND l_shipdate < '1996-02-01'
      |  GROUP BY 1, 2),
      |days AS (SELECT CAST(unnest(generate_series(DATE '1996-01-01',
      |  DATE '1996-01-31', INTERVAL 1 DAY)) AS DATE) AS day),
      |grid AS (SELECT s.shop_id, days.day
      |         FROM (SELECT DISTINCT shop_id FROM demand) s CROSS JOIN days)
      |SELECT g.shop_id, g.day,
      |  last_value(d.demand IGNORE NULLS) OVER (PARTITION BY g.shop_id
      |    ORDER BY g.day ROWS UNBOUNDED PRECEDING) AS demand_filled,
      |  d.demand IS NULL AS was_gap
      |FROM grid g LEFT JOIN demand d
      |  ON d.shop_id = g.shop_id AND d.day = g.day""".stripMargin

  /** Interval-union coverage (#22z3): per supplier, merge the
    * overlapping service spans of its lineitems ([ship, ship +
    * linenumber days] — the synthetic schema carries no receipt date,
    * so span length derives from the line number) and report
    * total covered days, merged-span count, and the longest span —
    * the classic overlapping-intervals pattern (machine-utilization /
    * on-the-hook windows), which neither gap-sessionization (fixed
    * gap) nor day-streaks (day grain, adjacency) expresses: intervals
    * here have extent and overlap arbitrarily. One window exchange:
    * sort by (start, end, line id), island = cumulative count of
    * strict coverage breaks (start > running max end over PRECEDING
    * rows), then the same partitioning carries the island groupBy and
    * the per-supplier rollup. All date/integer arithmetic —
    * hash-exact. The order is made TOTAL by the unique line id: the
    * merge RESULT is permutation-invariant over (s, e) ties, but the
    * two window passes (brk, then its cumsum) must see the SAME tie
    * permutation — Spark reuses one sort for both so it's consistent
    * for free, while DuckDB re-sorted between CTEs and mis-labeled
    * islands at 100× (59k rows/supplier, massive tie groups) until
    * the tiebreak pinned it. */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = Tables.lineitem(spark, dir)
      .where(col("l_suppkey") < 100)
      .select(col("l_suppkey").as("supp"),
              col("l_shipdate").cast("date").as("s"),
              date_add(col("l_shipdate").cast("date"),
                       col("l_linenumber")).as("e"),
              (col("l_orderkey") * 8 + col("l_linenumber")).as("lid"))
    val w = Window.partitionBy(col("supp"))
      .orderBy(col("s"), col("e"), col("lid"))
    val prevMax = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val marked = iv
      .withColumn("brk",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = marked.groupBy(col("supp"), col("island"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("ee"),
           count(lit(1)).as("n_iv"))
    spans.groupBy(col("supp"))
      .agg(sum(datediff(col("ee"), col("ss")) + 1).as("covered_days"),
           count(lit(1)).as("n_spans"),
           sum(col("n_iv")).as("n_intervals"),
           max((datediff(col("ee"), col("ss")) + 1).cast("long"))
             .as("longest_span_days"))
  }

  private val intervalCoverageSql =
    """WITH iv AS (
      |  SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS s,
      |         CAST(l_shipdate AS DATE) + CAST(l_linenumber AS INT) AS e,
      |         l_orderkey * 8 + l_linenumber AS lid
      |  FROM lineitem WHERE l_suppkey < 100),
      |m AS (SELECT supp, s, e, lid,
      |        CASE WHEN MAX(e) OVER (PARTITION BY supp ORDER BY s, e, lid
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |               IS NULL
      |          OR s > MAX(e) OVER (PARTITION BY supp ORDER BY s, e, lid
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |        THEN 1 ELSE 0 END AS brk
      |      FROM iv),
      |isl AS (SELECT supp, s, e,
      |          SUM(brk) OVER (PARTITION BY supp ORDER BY s, e, lid
      |            ROWS UNBOUNDED PRECEDING) AS island
      |        FROM m),
      |spans AS (SELECT supp, island, MIN(s) AS ss, MAX(e) AS ee,
      |            COUNT(*) AS n_iv
      |          FROM isl GROUP BY 1, 2)
      |SELECT supp,
      |  CAST(SUM(datediff('day', ss, ee) + 1) AS BIGINT) AS covered_days,
      |  COUNT(*) AS n_spans,
      |  CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
      |  CAST(MAX(datediff('day', ss, ee) + 1) AS BIGINT)
      |    AS longest_span_days
      |FROM spans GROUP BY 1""".stripMargin

  /** Per-group OLS demand trend (#54d): closed-form least squares
    * over the daily series — slope/intercept per priority, the
    * MODEL-BASED trend estimate beside Holt's smoothing-based one
    * (#54b): OLS weights all history equally and is the regression
    * every dashboard fits; DES tracks drift adaptively. Exactness:
    * x = integer day offset from a fixed anchor, y decimal → Σx, Σx²,
    * Σxy, Σy, n are ALL exact (integer×decimal products); slope =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is ONE division of two exactly-cast
    * operands, and the intercept tree reuses the already-rounded
    * slope in a fixed expression — bit-stable on both engines. One
    * partial-agg shuffle, 5 output rows. */
  def demandTrendOls(spark: SparkSession, dir: String): DataFrame = {
    val anchor = to_date(lit("1992-01-01"))
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("y"))
      .withColumn("x", datediff(col("day"), anchor).cast("long"))
    // widths chosen so every product stays under BOTH engines'
    // 38-digit decimal cap with room to spare (values bounded by the
    // series magnitudes, asserted in the docstring arithmetic)
    val agg = daily.groupBy(col("prio")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y")).cast("decimal(25,6)").as("sy"),
      sum(col("y") * col("x")).cast("decimal(25,6)").as("sxy"))
    val num = (col("n").cast("decimal(10,0)") * col("sxy") -
      col("sx").cast("decimal(10,0)") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    agg.withColumn("slope", num / den)
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double"))
      .select(col("prio"), col("n"), col("slope"), col("intercept"))
  }

  private val demandTrendOlsSql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio, o_orderdate AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS y
      |  FROM orders GROUP BY 1, 2),
      |d2 AS (SELECT prio, y,
      |         CAST(datediff('day', DATE '1992-01-01', CAST(day AS DATE))
      |              AS BIGINT) AS x
      |       FROM daily),
      |a AS (SELECT prio, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx,
      |        CAST(SUM(y) AS DECIMAL(25,6)) AS sy,
      |        CAST(SUM(y * x) AS DECIMAL(25,6)) AS sxy
      |      FROM d2 GROUP BY 1),
      |b AS (SELECT prio, n,
      |        CAST(CAST(CAST(n AS DECIMAL(10,0)) * sxy
      |                  - CAST(sx AS DECIMAL(10,0)) * sy
      |                  AS VARCHAR) AS DOUBLE)
      |          / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
      |        CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
      |        CAST(sx AS DOUBLE) AS sxd
      |      FROM a)
      |SELECT prio, n, slope,
      |  (syd - slope * sxd) / CAST(n AS DOUBLE) AS intercept
      |FROM b""".stripMargin

  /** Consecutive-active-day streaks per user (#50b): the
    * gaps-and-islands pattern over event days — see
    * [[Sessionize.dailyStreaks]]. Two exchanges end to end — the
    * map-side-combined day-grain dedup, then the user window; the
    * island groupBy and per-user argmax reuse the window's
    * partitioning. All-integer/date arithmetic, longest-streak ties
    * broken (length DESC, start ASC). */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame =
    Sessionize.dailyStreaks(Tables.events(spark, dir), "user_id", "ts")

  private val activityStreaksSql =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |n AS (SELECT user_id, day,
      |        day - CAST(row_number() OVER (PARTITION BY user_id
      |                                      ORDER BY day) AS INT) AS anchor
      |      FROM active),
      |i AS (SELECT user_id, anchor, COUNT(*) AS len,
      |        MIN(day) AS st, MAX(day) AS en
      |      FROM n GROUP BY 1, 2),
      |r AS (SELECT user_id, len, st, en,
      |        CAST(SUM(len) OVER (PARTITION BY user_id) AS BIGINT)
      |          AS n_active_days,
      |        CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
      |          AS n_streaks,
      |        row_number() OVER (PARTITION BY user_id
      |                           ORDER BY len DESC, st) AS rk
      |      FROM i)
      |SELECT user_id, n_active_days, n_streaks, len AS longest_streak,
      |       st AS streak_start, en AS streak_end
      |FROM r WHERE rk = 1""".stripMargin

  // ------------------------------------------------------- #52 link rank

  /** PageRank driver gate (#52): the production Rank.pageRank loop on
    * a PLANTED graph whose arithmetic stays exact in double — the
    * simhash_sound pattern. Nodes are doc_id < 256; every node emits
    * exactly two edges, (2i+1) mod 256 and (4i+2) mod 256, so
    * out-degree is exactly 2 (contributions are rank/2 — dyadic) while
    * in-degree varies 0/2/4 (odd targets, ≡2 mod 4 targets, rest).
    * With damping 3/4, every intermediate is a dyadic rational with a
    * few bits of denominator: sums are EXACT regardless of
    * accumulation order, so Spark's distributed aggregation and
    * DuckDB's unrolled iteration produce bit-identical doubles and
    * the gate hash-matches — on a graph irregular enough that any
    * mis-keyed join or lost dangling node shows up immediately. */
  def pagerankSound(spark: SparkSession, dir: String): DataFrame = {
    val n = 256
    val edges = Tables.documents(spark, dir)
      .where(col("doc_id") < n).select(col("doc_id"))
      .select(explode(array(
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 2 + 1) % n).as("dst")),
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 4 + 2) % n).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    Rank.pageRank(edges, "src", "dst", iters = 3, damping = 0.75)
      .select(col("node"), col("pr"))
  }

  private val pagerankSoundSql =
    """WITH nn AS (SELECT doc_id AS i FROM documents WHERE doc_id < 256),
      |e AS (SELECT i AS src, (2*i+1) % 256 AS dst FROM nn
      |      UNION ALL SELECT i, (4*i+2) % 256 FROM nn),
      |v AS (SELECT DISTINCT node FROM
      |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      |d AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
      |r0 AS (SELECT node, CAST(1 AS DOUBLE) AS pr FROM v),
      |r1 AS (SELECT v.node,
      |         0.25e0 + 0.75e0 * COALESCE(SUM(r0.pr / d.outdeg),
      |                                    CAST(0 AS DOUBLE)) AS pr
      |       FROM v LEFT JOIN e ON e.dst = v.node
      |              LEFT JOIN d ON d.src = e.src
      |              LEFT JOIN r0 ON r0.node = e.src
      |       GROUP BY v.node),
      |r2 AS (SELECT v.node,
      |         0.25e0 + 0.75e0 * COALESCE(SUM(r1.pr / d.outdeg),
      |                                    CAST(0 AS DOUBLE)) AS pr
      |       FROM v LEFT JOIN e ON e.dst = v.node
      |              LEFT JOIN d ON d.src = e.src
      |              LEFT JOIN r1 ON r1.node = e.src
      |       GROUP BY v.node),
      |r3 AS (SELECT v.node,
      |         0.25e0 + 0.75e0 * COALESCE(SUM(r2.pr / d.outdeg),
      |                                    CAST(0 AS DOUBLE)) AS pr
      |       FROM v LEFT JOIN e ON e.dst = v.node
      |              LEFT JOIN d ON d.src = e.src
      |              LEFT JOIN r2 ON r2.node = e.src
      |       GROUP BY v.node)
      |SELECT node, pr FROM r3""".stripMargin

  /** Personalized-PageRank driver gate (#52b): the production
    * [[Rank.personalizedPageRank]] loop on the SAME planted 256-node
    * graph as [[pagerankSound]] (out-degree exactly 2 → contributions
    * rank/2, dyadic), restarting onto the 16-seed set doc_id ≡ 0
    * (mod 16). With damping 3/4 and a {0,1} seed indicator, every
    * intermediate stays a short dyadic rational, so the distributed
    * aggregation and DuckDB's 3 unrolled rounds are bit-identical —
    * including exact 0.0 for nodes the seeds cannot reach in 3 hops,
    * which is precisely the locality the personalized form exists to
    * express (and a global-rank impostor would fail instantly: it
    * scores every node positive). */
  def pprSound(spark: SparkSession, dir: String): DataFrame = {
    val n = 256
    val docs = Tables.documents(spark, dir).where(col("doc_id") < n)
    val edges = docs.select(col("doc_id"))
      .select(explode(array(
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 2 + 1) % n).as("dst")),
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 4 + 2) % n).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val seeds = docs.where(col("doc_id") % 16 === 0).select(col("doc_id"))
    Rank.personalizedPageRank(edges, "src", "dst", seeds, "doc_id",
        iters = 3, damping = 0.75)
      .select(col("node"), col("pr"))
  }

  private val pprSoundSql =
    """WITH nn AS (SELECT doc_id AS i FROM documents WHERE doc_id < 256),
      |e AS (SELECT i AS src, (2*i+1) % 256 AS dst FROM nn
      |      UNION ALL SELECT i, (4*i+2) % 256 FROM nn),
      |v AS (SELECT node,
      |        CASE WHEN node % 16 = 0 THEN CAST(1 AS DOUBLE)
      |             ELSE CAST(0 AS DOUBLE) END AS seed
      |      FROM (SELECT DISTINCT node FROM
      |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))),
      |d AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
      |r0 AS (SELECT node, seed AS pr FROM v),
      |r1 AS (SELECT v.node, v.seed,
      |         0.25e0 * v.seed + 0.75e0 * COALESCE(SUM(r0.pr / d.outdeg),
      |                                             CAST(0 AS DOUBLE)) AS pr
      |       FROM v LEFT JOIN e ON e.dst = v.node
      |              LEFT JOIN d ON d.src = e.src
      |              LEFT JOIN r0 ON r0.node = e.src
      |       GROUP BY v.node, v.seed),
      |r2 AS (SELECT v.node, v.seed,
      |         0.25e0 * v.seed + 0.75e0 * COALESCE(SUM(r1.pr / d.outdeg),
      |                                             CAST(0 AS DOUBLE)) AS pr
      |       FROM v LEFT JOIN e ON e.dst = v.node
      |              LEFT JOIN d ON d.src = e.src
      |              LEFT JOIN r1 ON r1.node = e.src
      |       GROUP BY v.node, v.seed),
      |r3 AS (SELECT v.node,
      |         0.25e0 * v.seed + 0.75e0 * COALESCE(SUM(r2.pr / d.outdeg),
      |                                             CAST(0 AS DOUBLE)) AS pr
      |       FROM v LEFT JOIN e ON e.dst = v.node
      |              LEFT JOIN d ON d.src = e.src
      |              LEFT JOIN r2 ON r2.node = e.src
      |       GROUP BY v.node, v.seed)
      |SELECT node, pr FROM r3""".stripMargin

  /** HITS driver gate (#52c): the production [[Rank.hits]] loop on the
    * planted 256-node graph. Unnormalized integer HITS — every
    * intermediate an exact long (auth = in-mass of hubs, hub =
    * out-mass of fresh auths, textbook update order), so DuckDB's 3
    * unrolled rounds match bit-for-bit with no float surface at all.
    * The graph's in-degrees split 0/2/4, so auth and hub genuinely
    * diverge — a blended-rank impostor cannot fake both columns. */
  def hitsSound(spark: SparkSession, dir: String): DataFrame = {
    val n = 256
    val edges = Tables.documents(spark, dir)
      .where(col("doc_id") < n).select(col("doc_id"))
      .select(explode(array(
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 2 + 1) % n).as("dst")),
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 4 + 2) % n).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    Rank.hits(edges, "src", "dst", iters = 3)
  }

  private val hitsSoundSql = {
    def authRound(prev: String, out: String) =
      s"""$out AS (SELECT v.node,
         |  COALESCE(CAST(SUM($prev.hub) AS BIGINT), 0) AS auth
         |FROM v LEFT JOIN e ON e.dst = v.node
         |       LEFT JOIN $prev ON $prev.node = e.src
         |GROUP BY v.node)""".stripMargin
    def hubRound(auths: String, out: String) =
      s"""$out AS (SELECT v.node,
         |  COALESCE(CAST(SUM($auths.auth) AS BIGINT), 0) AS hub
         |FROM v LEFT JOIN e ON e.src = v.node
         |       LEFT JOIN $auths ON $auths.node = e.dst
         |GROUP BY v.node)""".stripMargin
    s"""WITH nn AS (SELECT doc_id AS i FROM documents WHERE doc_id < 256),
       |e AS (SELECT i AS src, (2*i+1) % 256 AS dst FROM nn
       |      UNION ALL SELECT i, (4*i+2) % 256 FROM nn),
       |v AS (SELECT DISTINCT node FROM
       |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM v),
       |${authRound("h0", "a1")},
       |${hubRound("a1", "h1")},
       |${authRound("h1", "a2")},
       |${hubRound("a2", "h2")},
       |${authRound("h2", "a3")},
       |${hubRound("a3", "h3")}
       |SELECT a3.node, a3.auth, h3.hub
       |FROM a3 JOIN h3 ON h3.node = a3.node""".stripMargin
  }

  /** Multi-source BFS driver gate (#52d): [[Graph.bfsDistances]] from
    * the 16-seed set over the planted graph, 3 relaxation rounds —
    * all-integer and monotone, so the oracle unrolls exactly and
    * convergence timing cannot matter. Nodes the seeds cannot reach
    * in 3 hops are ABSENT on both sides (the 100 TB contract: the
    * unreachable set is the corpus, not a result). */
  def bfsSound(spark: SparkSession, dir: String): DataFrame = {
    val n = 256
    val docs = Tables.documents(spark, dir).where(col("doc_id") < n)
    val edges = docs.select(col("doc_id"))
      .select(explode(array(
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 2 + 1) % n).as("dst")),
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 4 + 2) % n).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val seeds = docs.where(col("doc_id") % 16 === 0).select(col("doc_id"))
    Graph.bfsDistances(edges, "src", "dst", seeds, "doc_id", maxIters = 3)
  }

  private val bfsSoundSql = {
    def round(prev: String, out: String) =
      s"""$out AS (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT node, dist FROM $prev
         |  UNION ALL
         |  SELECT e.dst, $prev.dist + 1 FROM e
         |    JOIN $prev ON $prev.node = e.src) t
         |GROUP BY node)""".stripMargin
    s"""WITH nn AS (SELECT doc_id AS i FROM documents WHERE doc_id < 256),
       |e AS (SELECT i AS src, (2*i+1) % 256 AS dst FROM nn
       |      UNION ALL SELECT i, (4*i+2) % 256 FROM nn),
       |d0 AS (SELECT i AS node, CAST(0 AS BIGINT) AS dist FROM nn
       |       WHERE i % 16 = 0),
       |${round("d0", "d1")},
       |${round("d1", "d2")},
       |${round("d2", "d3")}
       |SELECT node, dist FROM d3""".stripMargin
  }

  /** Weighted SSSP driver gate (#52e): [[Graph.ssspDistances]] with
    * integer weights w = 1 + (src mod 3) over the planted graph —
    * Bellman-Ford's round-k invariant makes the 3-round unroll exact,
    * and the weighted relaxation genuinely reorders reachability vs
    * [[bfsSound]] (a 2-hop path can now be cheaper than a 1-hop one),
    * so a hop-count impostor fails. */
  def ssspSound(spark: SparkSession, dir: String): DataFrame = {
    val n = 256
    val docs = Tables.documents(spark, dir).where(col("doc_id") < n)
    val edges = docs.select(col("doc_id"))
      .select(explode(array(
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 2 + 1) % n).as("dst")),
        struct(col("doc_id").as("src"),
               ((col("doc_id") * 4 + 2) % n).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
              (col("e.src") % 3 + 1).as("w"))
    val seeds = docs.where(col("doc_id") % 16 === 0).select(col("doc_id"))
    Graph.ssspDistances(edges, "src", "dst", "w", seeds, "doc_id",
                        maxIters = 3)
  }

  private val ssspSoundSql = {
    def round(prev: String, out: String) =
      s"""$out AS (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT node, dist FROM $prev
         |  UNION ALL
         |  SELECT e.dst, $prev.dist + e.w FROM e
         |    JOIN $prev ON $prev.node = e.src) t
         |GROUP BY node)""".stripMargin
    s"""WITH nn AS (SELECT doc_id AS i FROM documents WHERE doc_id < 256),
       |e AS (SELECT i AS src, (2*i+1) % 256 AS dst, i % 3 + 1 AS w FROM nn
       |      UNION ALL SELECT i, (4*i+2) % 256, i % 3 + 1 FROM nn),
       |d0 AS (SELECT i AS node, CAST(0 AS BIGINT) AS dist FROM nn
       |       WHERE i % 16 = 0),
       |${round("d0", "d1")},
       |${round("d1", "d2")},
       |${round("d2", "d3")}
       |SELECT node, dist FROM d3""".stripMargin
  }

  /** k-core driver gate (#53a): the production [[Graph.kcore]] peel on
    * a planted gadget graph — 16 blocks of [K8 core + 3-node cascade
    * chain] keyed by doc_id (role = id mod 11, block = id div 11).
    * Chain node c1 has degree 3 (peels in round 1), c2 and c3 each
    * start at degree 4 and lose a neighbor per round, so k=4 peels
    * c1→c2→c3 over THREE rounds — a cascade a one-round degree filter
    * cannot fake — and the K8 cores (degree ≥ 7) survive as the
    * provably NONEMPTY fixpoint, reached exactly at the gate's 4-round
    * budget. All arithmetic is integer counts, so the gate is
    * hash-exact; peeling is monotone, so the engine's
    * converge-or-stop-at-4 result equals the oracle's fixed 4 unrolled
    * rounds either way (GraphSpec proves the per-round survivor counts
    * 160→144→128→128 and fixpoint within budget). */
  def kcoreSound(spark: SparkSession, dir: String): DataFrame = {
    val r = col("doc_id") % 11
    val base = col("doc_id") - r
    val core = when(r < 7,
        transform(sequence(r + lit(1L), lit(7L)), s => base + s))
      .otherwise(array().cast("array<bigint>"))
    val attach = when(r === 8, array(base + 9, base + 0, base + 1))
      .when(r === 9, array(base + 10, base + 2, base + 3))
      .when(r === 10, array(base + 4, base + 5, base + 6))
      .otherwise(array().cast("array<bigint>"))
    val raw = Tables.documents(spark, dir)
      .where(col("doc_id") < 176)
      .select(col("doc_id").as("src"),
        explode(concat(core, attach)).as("dst"))
    Graph.kcore(Graph.canonicalEdges(raw, "src", "dst"),
      k = 4, maxIters = 4)
  }

  private val kcoreSoundSql =
    """WITH nn AS (SELECT doc_id AS i, doc_id % 11 AS r,
      |      doc_id - (doc_id % 11) AS base
      |    FROM documents WHERE doc_id < 176),
      |raw AS (
      |  SELECT i AS a, base + s AS b
      |  FROM nn CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS s) t
      |  WHERE r < 8 AND s > r
      |  UNION ALL SELECT i, base + 9 FROM nn WHERE r = 8
      |  UNION ALL SELECT i, base + 0 FROM nn WHERE r = 8
      |  UNION ALL SELECT i, base + 1 FROM nn WHERE r = 8
      |  UNION ALL SELECT i, base + 10 FROM nn WHERE r = 9
      |  UNION ALL SELECT i, base + 2 FROM nn WHERE r = 9
      |  UNION ALL SELECT i, base + 3 FROM nn WHERE r = 9
      |  UNION ALL SELECT i, base + 4 FROM nn WHERE r = 10
      |  UNION ALL SELECT i, base + 5 FROM nn WHERE r = 10
      |  UNION ALL SELECT i, base + 6 FROM nn WHERE r = 10),
      |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |      FROM raw WHERE a <> b),
      |s AS (SELECT u AS node, v AS peer FROM e
      |      UNION ALL SELECT v, u FROM e),
      |a0 AS (SELECT DISTINCT node FROM s),
      |d1 AS (SELECT s.node, COUNT(*) AS deg FROM s
      |       JOIN a0 x ON s.node = x.node JOIN a0 y ON s.peer = y.node
      |       GROUP BY 1 HAVING COUNT(*) >= 4),
      |d2 AS (SELECT s.node, COUNT(*) AS deg FROM s
      |       JOIN d1 x ON s.node = x.node JOIN d1 y ON s.peer = y.node
      |       GROUP BY 1 HAVING COUNT(*) >= 4),
      |d3 AS (SELECT s.node, COUNT(*) AS deg FROM s
      |       JOIN d2 x ON s.node = x.node JOIN d2 y ON s.peer = y.node
      |       GROUP BY 1 HAVING COUNT(*) >= 4),
      |d4 AS (SELECT s.node, COUNT(*) AS deg FROM s
      |       JOIN d3 x ON s.node = x.node JOIN d3 y ON s.peer = y.node
      |       GROUP BY 1 HAVING COUNT(*) >= 4)
      |SELECT node, deg FROM d4""".stripMargin

  /** k-truss driver gate (#53b): the production [[Graph.ktruss]] edge
    * peel on a planted gadget — 16 blocks of [K5 core + triangle-path
    * tail] keyed by doc_id (role = id mod 10, block = id div 10). The
    * tail's outer edges sit in one triangle each (support 1, peel
    * round 1 at k=4); the two inner edges (6,7),(7,8) start at support
    * 2 and lose BOTH their triangles to round 1's peel, so they die in
    * round 2 — a genuine support cascade a single support filter
    * cannot fake — and the K5 cores (every edge in 3 triangles)
    * survive as the nonempty fixpoint, confirmed in round 3 (the
    * gate's budget). Support counts are integers, so the gate is
    * hash-exact; support peeling is monotone, so engine-converged ==
    * oracle's fixed 3 unrolled rounds either way. */
  def ktrussSound(spark: SparkSession, dir: String): DataFrame = {
    val r = col("doc_id") % 10
    val base = col("doc_id") - r
    val core = when(r < 4,
        transform(sequence(r + lit(1L), lit(4L)), s => base + s))
      .otherwise(array().cast("array<bigint>"))
    val tail = when(r === 5, array(base + 6, base + 7))
      .when(r === 6, array(base + 7, base + 8))
      .when(r === 7, array(base + 8, base + 9))
      .when(r === 8, array(base + 9))
      .otherwise(array().cast("array<bigint>"))
    val raw = Tables.documents(spark, dir)
      .where(col("doc_id") < 160)
      .select(col("doc_id").as("src"),
        explode(concat(core, tail)).as("dst"))
    Graph.ktruss(Graph.canonicalEdges(raw, "src", "dst"),
      k = 4, maxIters = 3)
  }

  private val ktrussSoundSql =
    """WITH nn AS (SELECT doc_id AS i, doc_id % 10 AS r,
      |      doc_id - (doc_id % 10) AS base
      |    FROM documents WHERE doc_id < 160),
      |raw AS (
      |  SELECT i AS a, base + s AS b
      |  FROM nn CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS s) t
      |  WHERE r < 4 AND s > r
      |  UNION ALL SELECT i, base + 6 FROM nn WHERE r = 5
      |  UNION ALL SELECT i, base + 7 FROM nn WHERE r = 5
      |  UNION ALL SELECT i, base + 7 FROM nn WHERE r = 6
      |  UNION ALL SELECT i, base + 8 FROM nn WHERE r = 6
      |  UNION ALL SELECT i, base + 8 FROM nn WHERE r = 7
      |  UNION ALL SELECT i, base + 9 FROM nn WHERE r = 7
      |  UNION ALL SELECT i, base + 9 FROM nn WHERE r = 8),
      |e0 AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |       FROM raw WHERE a <> b),
      |t0 AS (SELECT x.u AS a, x.v AS b, y.v AS c FROM e0 x
      |       JOIN e0 y ON x.u = y.u AND x.v < y.v
      |       JOIN e0 z ON z.u = x.v AND z.v = y.v),
      |s0 AS (SELECT u, v, COUNT(*) AS sup FROM (
      |         SELECT a AS u, b AS v FROM t0
      |         UNION ALL SELECT a, c FROM t0
      |         UNION ALL SELECT b, c FROM t0) q0 GROUP BY 1, 2),
      |e1 AS (SELECT e.u, e.v FROM e0 e
      |       JOIN s0 s ON e.u = s.u AND e.v = s.v WHERE s.sup >= 2),
      |t1 AS (SELECT x.u AS a, x.v AS b, y.v AS c FROM e1 x
      |       JOIN e1 y ON x.u = y.u AND x.v < y.v
      |       JOIN e1 z ON z.u = x.v AND z.v = y.v),
      |s1 AS (SELECT u, v, COUNT(*) AS sup FROM (
      |         SELECT a AS u, b AS v FROM t1
      |         UNION ALL SELECT a, c FROM t1
      |         UNION ALL SELECT b, c FROM t1) q1 GROUP BY 1, 2),
      |e2 AS (SELECT e.u, e.v FROM e1 e
      |       JOIN s1 s ON e.u = s.u AND e.v = s.v WHERE s.sup >= 2),
      |t2 AS (SELECT x.u AS a, x.v AS b, y.v AS c FROM e2 x
      |       JOIN e2 y ON x.u = y.u AND x.v < y.v
      |       JOIN e2 z ON z.u = x.v AND z.v = y.v),
      |s2 AS (SELECT u, v, COUNT(*) AS sup FROM (
      |         SELECT a AS u, b AS v FROM t2
      |         UNION ALL SELECT a, c FROM t2
      |         UNION ALL SELECT b, c FROM t2) q2 GROUP BY 1, 2)
      |SELECT u, v, sup AS support FROM s2 WHERE sup >= 2""".stripMargin

  /** Label-propagation sound gate (#52a): synchronous LPA with
    * min-label ties is fully deterministic integer work, so the
    * oracle unrolls 3 rounds exactly (the pagerank_sound discipline).
    * Graph: a mod-8 ring family over 240 nodes — every round is
    * nothing but mode-with-ties resolution, the part worth gating. */
  def lpaSound(spark: SparkSession, dir: String): DataFrame = {
    val n = 240
    val pairs = Tables.documents(spark, dir)
      .where(col("doc_id") < n)
      .select(col("doc_id").as("a"), ((col("doc_id") + 8) % n).as("b"))
    Rank.labelPropagation(pairs, "a", "b", iters = 3)
  }

  private val lpaSoundSql = {
    def round(prev: String, cur: String) =
      s"""c$cur AS (SELECT e.dst, l$prev.label, COUNT(*) AS c
         |  FROM e JOIN l$prev ON l$prev.node = e.src GROUP BY 1, 2),
         |w$cur AS (SELECT dst, label FROM (
         |    SELECT dst, label,
         |      row_number() OVER (PARTITION BY dst
         |                         ORDER BY c DESC, label) AS rk
         |    FROM c$cur) WHERE rk = 1),
         |l$cur AS (SELECT v.node, COALESCE(w$cur.label, v.node) AS label
         |          FROM v LEFT JOIN w$cur ON w$cur.dst = v.node)"""
        .stripMargin
    s"""WITH nn AS (SELECT doc_id AS i FROM documents WHERE doc_id < 240),
       |e0 AS (SELECT i AS src, (i + 8) % 240 AS dst FROM nn),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |v AS (SELECT DISTINCT src AS node FROM e),
       |l0 AS (SELECT node, node AS label FROM v),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")}
       |SELECT node, label FROM l3""".stripMargin
  }

  /** CUSUM change detection (#56b): Page's cumulative-sum statistic
    * over the daily demand series — the SUSTAINED-shift detector the
    * MAD gate (#56) cannot express (MAD flags single spikes; CUSUM
    * accumulates small persistent drift until it crosses). Exactness
    * by algebra instead of recursion: S_t = max(0, S_{t−1} + x_t − μ)
    * has the closed form C_t − min_{j≤t} C_j with C the running sum
    * of (x − μ), and multiplying through by n clears the mean:
    * D_t = n·R_t − t·S (R = running demand sum, S = total, all exact
    * DECIMAL — decimal window sums are exact under ANY accumulation
    * association, so even a segment-tree window implementation
    * agrees), M_t = running min of D, alert iff D_t − M_t > 30·S
    * (⟺ CUSUM excess > thirty mean-days — sized so the series'
    * random-walk excursions mostly stay under it and only sustained
    * drifts cross: ~10% of days alert, in four of five priorities,
    * measured; at h = 1·S the gate alerted on 92% of days, a siren
    * not a detector). Zero float ops before the
    * output casts. One window exchange (both windows + row_number
    * share it) + a 5-row broadcast of totals. */
  def cusumAlerts(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("x"))
    Temporal.cusum(daily, Seq("prio"), "day", "x", hMultiple = 30)
  }

  private val cusumAlertsSql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio, o_orderdate AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS x
      |  FROM orders GROUP BY 1, 2),
      |tot AS (SELECT prio, CAST(SUM(x) AS DECIMAL(25,6)) AS s,
      |          COUNT(*) AS n
      |        FROM daily GROUP BY 1),
      |w AS (SELECT d.prio, d.day, d.x, t.s,
      |        CAST(row_number() OVER win AS DECIMAL(10,0)) AS rn,
      |        CAST(t.n AS DECIMAL(10,0)) AS nn,
      |        CAST(SUM(d.x) OVER (win ROWS UNBOUNDED PRECEDING)
      |             AS DECIMAL(25,6)) AS r
      |      FROM daily d JOIN tot t ON t.prio = d.prio
      |      WINDOW win AS (PARTITION BY d.prio ORDER BY d.day)),
      |dd AS (SELECT prio, day, x, s, nn * r - rn * s AS d
      |       FROM w),
      |mm AS (SELECT prio, day, x, s, d,
      |         MIN(d) OVER (PARTITION BY prio ORDER BY day
      |                      ROWS UNBOUNDED PRECEDING) AS m
      |       FROM dd)
      |SELECT prio, day,
      |  CAST(CAST(x AS VARCHAR) AS DOUBLE) AS demand,
      |  CAST(CAST(d - m AS VARCHAR) AS DOUBLE) AS excess_total,
      |  CAST(CAST(s * 30 AS VARCHAR) AS DOUBLE) AS threshold_total
      |FROM mm WHERE d - m > s * 30""".stripMargin

  /** Cross-series Pearson correlation (#54e): the co-movement matrix
    * over the five priorities' daily demand series — which demand
    * streams rise and fall together (shared seasonality/shocks), the
    * question trend (#54d) and smoothing (#54b) ask per-series and
    * cannot answer jointly. Exactness: the series becomes integer
    * CENTS (decimal→×100→integer, exact; r is scale-invariant so
    * cents cancel), and the whole closed form runs in exact integers
    * — Spark in decimal(38,0) (every value here < 1e38), DuckDB in
    * HUGEINT — so num and den are the SAME exact integers on both
    * engines; the final r = num/sqrt(den_a·den_b) is one division,
    * one multiply, and an IEEE-correctly-rounded sqrt over doubles
    * cast from those integers (nearest-even on both). One day-keyed
    * self-join of 5 tiny series + a 10-row agg. */
  def seriesCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
             .cast("decimal(19,0)").as("y"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.day") === col("b.day") && col("a.prio") < col("b.prio"))
      .select(col("a.prio").as("prio_a"), col("b.prio").as("prio_b"),
              col("a.y").as("x"), col("b.y").as("y"))
    val agg = pairs.groupBy(col("prio_a"), col("prio_b")).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"),
      sum(col("y") * col("y")).cast("decimal(38,0)").as("syy"),
      sum(col("x") * col("y")).cast("decimal(38,0)").as("sxy"))
    agg.select(col("prio_a"), col("prio_b"),
      col("n").cast("long").as("n_days"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
             (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
        .as("r"))
  }

  private val seriesCorrelationSql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio, o_orderdate AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |         AS HUGEINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |p AS (SELECT a.prio AS prio_a, b.prio AS prio_b,
      |        a.y AS x, b.y AS y
      |      FROM daily a JOIN daily b
      |        ON a.day = b.day AND a.prio < b.prio),
      |agg AS (SELECT prio_a, prio_b,
      |    CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM p GROUP BY 1, 2)
      |SELECT prio_a, prio_b, CAST(n AS BIGINT) AS n_days,
      |  CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      |    / sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
      |         * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS r
      |FROM agg""".stripMargin

  /** Forecast backtest (#63): naive vs seasonal-naive baselines over
    * the daily demand series the EWMA smoother feeds, scored by
    * WMAPE and signed bias per priority — the rolling-origin
    * evaluation a demand-forecasting warehouse (the reference's
    * stated consumer) runs before trusting any model. All-decimal
    * until the single final division — see [[Temporal.backtest]]. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("demand"))
    Temporal.backtest(daily, Seq("prio"), "day", "demand")
  }

  private val forecastBacktestSql =
    """WITH daily AS (SELECT o_orderpriority AS prio, o_orderdate AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS demand
      |  FROM orders GROUP BY 1, 2),
      |lagged AS (SELECT prio, demand,
      |    lag(demand, 1) OVER w AS f_naive,
      |    lag(demand, 7) OVER w AS f_seasonal
      |  FROM daily WINDOW w AS (PARTITION BY prio ORDER BY day)),
      |ev AS (SELECT * FROM lagged WHERE f_seasonal IS NOT NULL),
      |long AS (SELECT prio, 'naive' AS method, demand, f_naive AS f FROM ev
      |  UNION ALL
      |  SELECT prio, 'seasonal_naive', demand, f_seasonal FROM ev)
      |SELECT prio, method,
      |  CAST(CAST(SUM(abs(demand - f)) AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(SUM(demand) AS VARCHAR) AS DOUBLE) AS wmape,
      |  CAST(CAST(SUM(f - demand) AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(SUM(demand) AS VARCHAR) AS DOUBLE) AS bias,
      |  COUNT(*) AS n_points
      |FROM long GROUP BY 1, 2""".stripMargin

  /** Robust (MAD-based) anomaly detection (#56) on the daily demand
    * series: flag days whose demand deviates from the per-priority
    * MEDIAN by more than k × the median absolute deviation. Median +
    * MAD resist the contamination that makes mean/stddev gates miss
    * exactly the outliers they hunt (one 100× spike inflates a stddev
    * threshold past its siblings). Both statistics use the exact
    * LOWER-median (rank (n+1) DIV 2 under a total order) — a single
    * data value passed through untouched, so no averaging/rounding
    * and the DuckDB twin is hash-exact; the deviation and the k·MAD
    * compare are single IEEE ops on bit-stable doubles.
    *
    * Scale: the same shape as the exact-percentile family (#22y) —
    * two per-group window sorts over the PRE-AGGREGATED daily series
    * (groups × days rows, not fact rows), and the two one-row-per-
    * group statistics tables broadcast back. The raw fact table is
    * touched once, by the groupBy. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg(Relational.dsum(col("o_totalprice")).as("demand"))
    def lowerMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = W.partitionBy(col("prio")).orderBy(col(valueCol), col("day"))
      val wAll = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      df.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wAll))
        .where(col("__rn") === expr("(__n + 1) DIV 2"))
        .select(col("prio").as("__mprio"), col(valueCol).as(outCol))
    }
    val med = lowerMedian(daily, "demand", "med")
    val dev = daily.join(broadcast(med), col("prio") === col("__mprio"))
      .drop("__mprio")
      .withColumn("dev", abs(col("demand") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(broadcast(mad), col("prio") === col("__mprio"))
      .drop("__mprio")
      .where(col("dev") > lit(5) * col("mad"))
      .select(col("prio"), col("day"), col("demand"), col("med"), col("mad"))
  }

  private val anomalyMadSql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio, o_orderdate AS day,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS demand
      |  FROM orders GROUP BY 1, 2),
      |r1 AS (SELECT prio, demand,
      |  row_number() OVER (PARTITION BY prio ORDER BY demand, day) AS rn,
      |  COUNT(*) OVER (PARTITION BY prio) AS n FROM daily),
      |med AS (SELECT prio, demand AS med FROM r1 WHERE rn = (n+1)//2),
      |dev AS (SELECT d.prio, d.day, d.demand, m.med,
      |  abs(d.demand - m.med) AS dev FROM daily d JOIN med m USING (prio)),
      |r2 AS (SELECT prio, dev,
      |  row_number() OVER (PARTITION BY prio ORDER BY dev, day) AS rn,
      |  COUNT(*) OVER (PARTITION BY prio) AS n FROM dev),
      |mad AS (SELECT prio, dev AS mad FROM r2 WHERE rn = (n+1)//2)
      |SELECT d.prio, d.day, d.demand, d.med, a.mad
      |FROM dev d JOIN mad a USING (prio)
      |WHERE d.dev > 5 * a.mad""".stripMargin

  // ------------------------------------- #53-55 graph/temporal/winnow

  /** Triangle counts (#53) on the supplier co-occurrence kNN graph:
    * nodes are suppliers; each keeps its 20 strongest co-occurrence
    * edges (union over endpoints). The top-k construction — not an
    * absolute weight cut — is what keeps this scale-stable: measured
    * at 10×, a fixed `w ≥ 5` cut saturated the 1000-node graph toward
    * complete (453k edges, ~C(1000,3)-scale triangle mass, 70 s) while
    * the kNN graph stays nodes·k edges at any volume. Degree-oriented
    * wedge counting — see [[Graph]] for the hub-proofness argument. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    // bounded gate corpus (the wordpiece/containment rule): ScaleN
    // shifts orderkeys in 1M strides, so < 1M covers the ENTIRE table
    // at every driver SF (sf0.01 max 14999, sf0.1 max 149999) and
    // selects the first full copy at the 100x derived set — where the
    // DuckDB twin's co-occurrence self-join previously spilled ~70 GB
    // and died unbounded. The unbounded engine path stays probed by
    // Scale100/Scale1000.
    // co-occurrence via Graph.coOccurrencePairs (r13): the r8-r12
    // collect_set + in-row expansion planned as ObjectHashAggregate,
    // whose sort fallback (128-key threshold) sorts the whole fact
    // side once group cardinality is corpus-scale — 355 s / 82+20 GB
    // spill vs 126 s for the distinct+self-join shape at the 1000×
    // tier (see the operator's scaladoc for the measured A/B)
    val weighted = Graph.coOccurrencePairs(
      Tables.lineitem(spark, dir).where(col("l_orderkey") < 1000000),
      "l_orderkey", "l_suppkey")
    Graph.triangleCounts(Graph.topKEdges(weighted, 20))
  }

  private val triangleCountsSql =
    """WITH p AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      |           WHERE l_orderkey < 1000000),
      |cw AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
      |       FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
      |                        AND a.l_suppkey < b.l_suppkey
      |       GROUP BY 1, 2),
      |d AS (SELECT u AS node, v AS nbr, w FROM cw
      |      UNION ALL SELECT v, u, w FROM cw),
      |r AS (SELECT node, nbr,
      |        row_number() OVER (PARTITION BY node
      |                           ORDER BY w DESC, nbr) AS rk
      |      FROM d),
      |e AS (SELECT DISTINCT least(node, nbr) AS u, greatest(node, nbr) AS v
      |      FROM r WHERE rk <= 20),
      |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |      FROM e e1 JOIN e e2 ON e2.u = e1.v
      |                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT node, COUNT(*) AS n_triangles
      |FROM (SELECT a AS node FROM t UNION ALL SELECT b FROM t
      |      UNION ALL SELECT c FROM t) s
      |GROUP BY node""".stripMargin

  /** EWMA demand smoothing (#54): daily order volume per priority
    * through the bit-reproducible dyadic EWMA — see [[Temporal.ewma]]
    * for the exactness argument. */
  def ewmaDailyDemand(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg(Relational.dsum(col("o_totalprice")).as("demand"))
    Temporal.ewma(daily, Seq("prio"), "day", "demand", terms = 10)
  }

  private val ewmaDailyDemandSql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio, o_orderdate AS day,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS demand
      |  FROM orders GROUP BY 1, 2)
      |SELECT prio, day, demand, ewma FROM (
      |  SELECT prio, day, demand,
      |    (demand * 0.5 + lag(demand, 1) OVER w * 0.25
      |     + lag(demand, 2) OVER w * 0.125
      |     + lag(demand, 3) OVER w * 0.0625
      |     + lag(demand, 4) OVER w * 0.03125
      |     + lag(demand, 5) OVER w * 0.015625
      |     + lag(demand, 6) OVER w * 0.0078125
      |     + lag(demand, 7) OVER w * 0.00390625
      |     + lag(demand, 8) OVER w * 0.001953125
      |     + lag(demand, 9) OVER w * 0.0009765625) / 0.9990234375 AS ewma,
      |    row_number() OVER w AS rn
      |  FROM daily
      |  WINDOW w AS (PARTITION BY prio ORDER BY day)) t
      |WHERE rn >= 10""".stripMargin

  /** Tuned-α EWMA (#54a): the same daily series smoothed at α = 3/8 —
    * the dyadic generalization a real forecaster needs. Weights stay
    * exact doubles ([[Temporal.dyadicWeights]]), so the DuckDB oracle
    * (whose weight literals are generated from the SAME exact
    * integers, printed as finite decimals) is hash-exact, not
    * approximately equal. */
  def ewmaDailyDemandTuned(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg(Relational.dsum(col("o_totalprice")).as("demand"))
    Temporal.ewma(daily, Seq("prio"), "day", "demand", terms = 10,
                  alphaNum = 3, alphaLog2Den = 3)
  }

  /** DuckDB twin of the dyadic EWMA: every weight m/2^e is emitted as
    * `m::DOUBLE / 2^e::DOUBLE` — both integers are ≤2⁵³ so their
    * doubles are exact, and dividing by a power of two is an exact
    * exponent shift, so the weight double is bit-identical to
    * [[Temporal.dyadicWeights]]'. (A long decimal literal would NOT
    * be safe: DuckDB types it DECIMAL with a >64-bit scaled integer,
    * and that int128→double conversion double-rounds — measured 1-ulp
    * drift at weight 6 of α=3/8.) */
  private def ewmaSql(alphaNum: Int, alphaLog2Den: Int, terms: Int): String = {
    def exactRatio(num: BigInt, log2den: Int): String = {
      require(num.bitLength <= 53 && log2den <= 62)
      s"(${num}::DOUBLE / ${BigInt(1) << log2den}::DOUBLE)"
    }
    val q = (BigInt(1) << alphaLog2Den) - alphaNum
    val ws = (0 until terms).map { i =>
      exactRatio(BigInt(alphaNum) * q.pow(i), alphaLog2Den * (i + 1))
    }
    val norm = exactRatio(
      (BigInt(1) << (alphaLog2Den * terms)) - q.pow(terms),
      alphaLog2Den * terms)
    val sum = ws.zipWithIndex.map {
      case (w, 0) => s"demand * $w"
      case (w, i) => s"lag(demand, $i) OVER w * $w"
    }.mkString("\n     + ")
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS prio, o_orderdate AS day,
       |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS demand
       |  FROM orders GROUP BY 1, 2)
       |SELECT prio, day, demand, ewma FROM (
       |  SELECT prio, day, demand,
       |    ($sum) / $norm AS ewma,
       |    row_number() OVER w AS rn
       |  FROM daily
       |  WINDOW w AS (PARTITION BY prio ORDER BY day)) t
       |WHERE rn >= $terms""".stripMargin
  }

  private val ewmaDailyDemandTunedSql = ewmaSql(3, 3, 10)

  /** Holt/Brown trend forecast (#54b): double exponential smoothing of
    * the same daily demand series at α = 3/8 — [[Temporal.holtBrown]]:
    * s1 = EWMA(y), s2 = EWMA(s1), level = 2·s1 − s2, trend =
    * α/(1−α)·(s1 − s2), 7-day-ahead forecast. Every step past the two
    * exact-dyadic EWMA passes is a single IEEE op (one exact-integer
    * division for the ratio), so the oracle is hash-exact like the
    * EWMA gates it builds on. */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg(Relational.dsum(col("o_totalprice")).as("demand"))
    Temporal.holtBrown(daily, Seq("prio"), "day", "demand", terms = 8,
      alphaNum = 3, alphaLog2Den = 3, horizon = 7)
  }

  /** DuckDB twin of [[Temporal.holtBrown]]: two nested EWMA window
    * passes with [[ewmaSql]]'s exact `m::DOUBLE/2^e::DOUBLE` weight
    * ratios, then the identical level/trend/forecast expression trees
    * (2·s1 exact shift; the α/(1−α) ratio as one division of two exact
    * integers). */
  private def holtSql(alphaNum: Int, alphaLog2Den: Int, terms: Int,
                      horizon: Int): String = {
    def exactRatio(num: BigInt, log2den: Int): String = {
      require(num.bitLength <= 53 && log2den <= 62)
      s"(${num}::DOUBLE / ${BigInt(1) << log2den}::DOUBLE)"
    }
    val q = (BigInt(1) << alphaLog2Den) - alphaNum
    val ws = (0 until terms).map { i =>
      exactRatio(BigInt(alphaNum) * q.pow(i), alphaLog2Den * (i + 1))
    }
    val norm = exactRatio(
      (BigInt(1) << (alphaLog2Den * terms)) - q.pow(terms),
      alphaLog2Den * terms)
    def pass(v: String) = ws.zipWithIndex.map {
      case (w, 0) => s"$v * $w"
      case (w, i) => s"lag($v, $i) OVER w * $w"
    }.mkString("\n     + ")
    val den = (BigInt(1) << alphaLog2Den) - alphaNum
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS prio, o_orderdate AS day,
       |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS demand
       |  FROM orders GROUP BY 1, 2),
       |p1 AS (
       |  SELECT prio, day, demand,
       |    (${pass("demand")}) / $norm AS s1,
       |    row_number() OVER w AS rn
       |  FROM daily
       |  WINDOW w AS (PARTITION BY prio ORDER BY day)),
       |f1 AS (SELECT prio, day, demand, s1 FROM p1 WHERE rn >= $terms),
       |p2 AS (
       |  SELECT prio, day, demand, s1,
       |    (${pass("s1")}) / $norm AS s2,
       |    row_number() OVER w AS rn
       |  FROM f1
       |  WINDOW w AS (PARTITION BY prio ORDER BY day)),
       |f2 AS (SELECT prio, day, demand, s1, s2 FROM p2 WHERE rn >= $terms),
       |g AS (SELECT prio, day, demand, s1, s2,
       |        2::DOUBLE * s1 - s2 AS level,
       |        (s1 - s2) * (${alphaNum}::DOUBLE / ${den}::DOUBLE) AS trend
       |      FROM f2)
       |SELECT prio, day, demand, s1, s2, level, trend,
       |       level + ${horizon}::DOUBLE * trend AS forecast
       |FROM g""".stripMargin
  }

  private val holtForecastSql = holtSql(3, 3, 8, 7)

  /** Classical seasonal decomposition (#54c): weekly additive
    * decomposition of the daily demand series — see
    * [[Temporal.seasonalDecompose]]. The series stays DECIMAL through
    * the moving sum and the per-position detrended sums (exact at any
    * order); only three single-IEEE-op double steps close the query,
    * so the DuckDB twin is hash-exact. */
  def seasonalDecomposeQ(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("demand_dec"))
    Temporal.seasonalDecompose(daily, Seq("prio"), "day", "demand_dec",
                               period = 7)
  }

  private val seasonalDecomposeSql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS prio, o_orderdate AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS demand_dec
      |  FROM orders GROUP BY 1, 2),
      |b AS (SELECT prio, day, demand_dec,
      |        SUM(demand_dec) OVER w AS movsum,
      |        COUNT(*) OVER w AS nf
      |      FROM daily
      |      WINDOW w AS (PARTITION BY prio ORDER BY day
      |                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |f AS (SELECT prio, day, demand_dec, movsum,
      |        7 * demand_dec - movsum AS detr,
      |        ((datediff('day', DATE '1970-01-05', CAST(day AS DATE)) % 7)
      |         + 7) % 7 AS pos
      |      FROM b WHERE nf = 7),
      |s AS (SELECT prio, pos,
      |        CAST(CAST(SUM(detr) AS VARCHAR) AS DOUBLE)
      |          / (7.0e0 * COUNT(*)) AS seasonal
      |      FROM f GROUP BY 1, 2)
      |SELECT f.prio, f.day,
      |  CAST(CAST(f.demand_dec AS VARCHAR) AS DOUBLE) AS value,
      |  CAST(CAST(f.movsum AS VARCHAR) AS DOUBLE) / 7.0e0 AS trend,
      |  s.seasonal,
      |  CAST(CAST(f.demand_dec AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(f.movsum AS VARCHAR) AS DOUBLE) / 7.0e0
      |    - s.seasonal AS resid
      |FROM f JOIN s ON s.prio = f.prio AND s.pos = f.pos""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Seq[Query] = Seq(
    Query("asof_clicks", asofClicks, Oracle(asofClicksSql)),
    Query("asof_next_click", asofNextClick, Oracle(asofNextClickSql)),
    Query("range_join_bands", rangeJoinBands, Oracle(rangeJoinBandsSql)),
    Query("forecast_backtest", forecastBacktest, Oracle(forecastBacktestSql)),
    Query("lpa_sound", lpaSound, Oracle(lpaSoundSql)),
    Query("gapfill_daily_demand", gapfillDailyDemand, Oracle(gapfillDailyDemandSql)),
    Query("pagerank_sound", pagerankSound, Oracle(pagerankSoundSql)),
    Query("ppr_sound", pprSound, Oracle(pprSoundSql)),
    Query("hits_sound", hitsSound, Oracle(hitsSoundSql)),
    Query("bfs_sound", bfsSound, Oracle(bfsSoundSql)),
    Query("activity_streaks", activityStreaks, Oracle(activityStreaksSql)),
    Query("kcore_sound", kcoreSound, Oracle(kcoreSoundSql)),
    Query("ktruss_sound", ktrussSound, Oracle(ktrussSoundSql)),
    Query("holt_forecast", holtForecast, Oracle(holtForecastSql)),
    Query("seasonal_decompose", seasonalDecomposeQ, Oracle(seasonalDecomposeSql)),
    Query("sssp_sound", ssspSound, Oracle(ssspSoundSql)),
    Query("cusum_alerts", cusumAlerts, Oracle(cusumAlertsSql)),
    Query("interval_coverage", intervalCoverage, Oracle(intervalCoverageSql)),
    Query("demand_trend_ols", demandTrendOls, Oracle(demandTrendOlsSql)),
    Query("series_correlation", seriesCorrelation, Oracle(seriesCorrelationSql)),
    Query("anomaly_mad", anomalyMad, Oracle(anomalyMadSql)),
    Query("triangle_counts", triangleCounts, Oracle(triangleCountsSql)),
    Query("ewma_daily_demand", ewmaDailyDemand, Oracle(ewmaDailyDemandSql)),
    Query("ewma_daily_demand_tuned", ewmaDailyDemandTuned, Oracle(ewmaDailyDemandTunedSql))
  )
}
