package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Relational, ETL, CDC, analytics and TPC-H-shaped queries. */
object RelationalQueries {

  /** The reference's `table_product_demand` mapped onto lineitem
    * (SURVEY.md §3): shop←l_suppkey, date←l_shipdate, product←
    * l_returnflag (A→cheap, N→medium, R→expensive), demand←l_quantity.
    */
  def productDemand(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      to_date(col("l_shipdate")).as("date"),
      col("l_suppkey").as("shop_id"),
      when(col("l_returnflag") === "A", "cheap")
        .when(col("l_returnflag") === "N", "medium")
        .otherwise("expensive").as("product_name"),
      col("l_quantity").as("demand"))

  /** Same mapping as SQL, shared by every oracle below. */
  private val productDemandSql =
    """SELECT CAST(l_shipdate AS DATE) AS date, l_suppkey AS shop_id,
      |  CASE l_returnflag WHEN 'A' THEN 'cheap' WHEN 'N' THEN 'medium'
      |       ELSE 'expensive' END AS product_name,
      |  l_quantity AS demand
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- #7
  def pipelineMaterialDemand(spark: SparkSession, dir: String): DataFrame = {
    val mat = MaterialDemand.productToMaterial(productDemand(spark, dir))
    mat.withColumn("demand_kg", col("demand_kg").cast("double"))
  }

  private val pipelineMaterialDemandSql =
    s"""WITH product_demand AS ($productDemandSql),
       |mat AS (
       |  SELECT date, shop_id,
       |    CAST(CASE product_name WHEN 'cheap' THEN 20*demand
       |         WHEN 'medium' THEN 10*demand ELSE 0 END AS DECIMAL(20,4)) AS local_arabica,
       |    CAST(CASE product_name WHEN 'cheap' THEN 0
       |         ELSE 10*demand END AS DECIMAL(20,4)) AS foreign_arabica,
       |    CAST(CASE product_name WHEN 'expensive' THEN 10*demand
       |         ELSE 0 END AS DECIMAL(20,4)) AS robusta
       |  FROM product_demand),
       |agg AS (
       |  SELECT date, shop_id, SUM(local_arabica) AS local_arabica,
       |         SUM(foreign_arabica) AS foreign_arabica, SUM(robusta) AS robusta
       |  FROM mat GROUP BY date, shop_id)
       |SELECT date, shop_id, raw_material, CAST(demand_g AS DOUBLE)/1000 AS demand_kg
       |FROM (
       |  SELECT date, shop_id, 'foreign_arabica' AS raw_material, foreign_arabica AS demand_g FROM agg
       |  UNION ALL SELECT date, shop_id, 'local_arabica', local_arabica FROM agg
       |  UNION ALL SELECT date, shop_id, 'robusta', robusta FROM agg) u
       |ORDER BY date, shop_id, raw_material""".stripMargin

  // ---------------------------------------------------------------- #1
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private val scanProjectSql =
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"

  // ---------------------------------------------------------------- #2
  def scanIncremental(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-02-01")
      .select(col("l_orderkey"), col("l_linenumber"),
              to_date(col("l_shipdate")).as("ship_date"), col("l_quantity"))

  private val scanIncrementalSql =
    """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date, l_quantity
      |FROM lineitem
      |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-02-01'""".stripMargin

  // ---------------------------------------------------------------- #3
  def deriveRecipe(spark: SparkSession, dir: String): DataFrame =
    productDemand(spark, dir).select(
      col("date"), col("shop_id"), col("product_name"),
      when(col("product_name") === "cheap", col("demand") * 20)
        .when(col("product_name") === "medium", col("demand") * 10)
        .otherwise(lit(0.0)).as("local_arabica"),
      when(col("product_name") === "cheap", lit(0.0))
        .otherwise(col("demand") * 10).as("foreign_arabica"),
      when(col("product_name") === "expensive", col("demand") * 10)
        .otherwise(lit(0.0)).as("robusta"))

  private val deriveRecipeSql =
    s"""WITH product_demand AS ($productDemandSql)
       |SELECT date, shop_id, product_name,
       |  CASE product_name WHEN 'cheap' THEN 20*demand
       |       WHEN 'medium' THEN 10*demand ELSE 0 END AS local_arabica,
       |  CASE product_name WHEN 'cheap' THEN 0 ELSE 10*demand END AS foreign_arabica,
       |  CASE product_name WHEN 'expensive' THEN 10*demand ELSE 0 END AS robusta
       |FROM product_demand""".stripMargin

  // ---------------------------------------------------------------- #4
  def aggGroupbySum(spark: SparkSession, dir: String): DataFrame =
    productDemand(spark, dir)
      .groupBy(col("date"), col("shop_id"))
      .agg(sum(col("demand").cast("decimal(20,4)")).cast("double").as("demand_sum"),
           count(lit(1)).as("n_rows"))

  private val aggGroupbySumSql =
    s"""WITH product_demand AS ($productDemandSql)
       |SELECT date, shop_id,
       |  CAST(CAST(SUM(CAST(demand AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS demand_sum,
       |  COUNT(*) AS n_rows
       |FROM product_demand GROUP BY date, shop_id""".stripMargin

  // ---------------------------------------------------------------- #5
  def unpivotMelt(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_acctbal"),
              col("s_nationkey").cast("double").as("nation_key_d"))
      .unpivot(Array(col("s_suppkey")),
               Array(col("s_acctbal"), col("nation_key_d")),
               "measure", "value")

  private val unpivotMeltSql =
    """SELECT s_suppkey, 's_acctbal' AS measure, s_acctbal AS value FROM supplier
      |UNION ALL
      |SELECT s_suppkey, 'nation_key_d', CAST(s_nationkey AS DOUBLE) FROM supplier""".stripMargin

  // ------------------------------------------------------- CDC (#9-11)

  /** CDC change feed mapped onto lineitem: key←l_orderkey, op←
    * l_returnflag (N→I, A→U, R→D), last_updated←l_shipdate, tiebreak←
    * l_linenumber, payload←l_extendedprice. */
  def changes(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("order_key"),
      col("l_linenumber").as("line_no"),
      col("l_shipdate").as("last_updated"),
      when(col("l_returnflag") === "N", "I")
        .when(col("l_returnflag") === "A", "U")
        .otherwise("D").as("op"),
      col("l_extendedprice").as("new_price"))

  private val changesSql =
    """SELECT l_orderkey AS order_key, l_linenumber AS line_no,
      |  l_shipdate AS last_updated,
      |  CASE l_returnflag WHEN 'N' THEN 'I' WHEN 'A' THEN 'U' ELSE 'D' END AS op,
      |  l_extendedprice AS new_price
      |FROM lineitem""".stripMargin

  private val latestSql =
    s"""changes AS ($changesSql),
       |latest AS (
       |  SELECT order_key, line_no, last_updated, op, new_price FROM (
       |    SELECT *, row_number() OVER (PARTITION BY order_key
       |      ORDER BY last_updated DESC, line_no DESC, new_price DESC, op DESC) AS rn
       |    FROM changes) WHERE rn = 1)""".stripMargin

  private def cdcTarget(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey").as("order_key"),
      col("o_totalprice").as("total_price"),
      col("o_orderstatus").as("status"))

  private val cdcTargetSql =
    """target AS (SELECT o_orderkey AS order_key, o_totalprice AS total_price,
      |  o_orderstatus AS status FROM orders)""".stripMargin

  /** Latest change per key through the PACKED fixed-width path
    * ([[Cdc.latestPerKeyPacked]]): the generic max_by form's struct
    * buffer forces a SortAggregate whose partial sorts the whole feed
    * (58.5 GB spill at the 1000× 600M-row feed — SCALE1000.md r13);
    * packing (last_updated, line_no, new_price, op) into one
    * DECIMAL(38,0) — µs(57 bits: unix_micros to year ~6532, vs the
    * r13 50-bit budget that silently capped at 2005) · line_no(4) ·
    * IEEE-bits(63) · op-rank(2), 126 total — keeps the same
    * lexicographic order and plans as a zero-sort HashAggregate.
    * Every encode is exactly invertible, so the result is
    * bit-identical to the max_by form (CdcSpec pins it); out-of-range
    * or null encodes now raise at runtime (r14 guard). */
  def cdcLatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    Cdc.latestPerKeyPacked(changes(spark, dir), "order_key", Seq(
      // the feed's timestamp is NTZ (parquet); the NTZ⇄LTZ casts are
      // exact monotone inverses under the engine's pinned DST-free
      // UTC session (SparkEntry/Bench/Verify all set it)
      Cdc.PackedField("last_updated", 57,
        c => unix_micros(c.cast("timestamp")),
        v => timestamp_micros(v).cast("timestamp_ntz")),
      Cdc.PackedField("line_no", 4,
        c => c.cast("long"), v => v.cast("int")),
      Cdc.doubleField("new_price"), // NaN-loud; see PackedEncodingSpec
      Cdc.PackedField("op", 2,
        c => when(c === "D", 0L).when(c === "I", 1L).otherwise(2L),
        v => element_at(array(lit("D"), lit("I"), lit("U")),
                        (v + 1).cast("int")))))
  }

  private val cdcLatestPerKeySql =
    s"WITH $latestSql SELECT * FROM latest"

  def cdcMergeApply(spark: SparkSession, dir: String): DataFrame = {
    val latest = cdcLatestPerKey(spark, dir).select(
      col("order_key"), col("op"),
      col("new_price").as("total_price"), lit("NEW").as("status"))
    Cdc.mergeApply(cdcTarget(spark, dir), latest, "order_key")
  }

  private val cdcMergeApplySql =
    s"""WITH $latestSql,
       |cdc AS (SELECT order_key, op, new_price AS total_price, 'NEW' AS status FROM latest),
       |$cdcTargetSql
       |SELECT coalesce(t.order_key, c.order_key) AS order_key,
       |  CASE WHEN t.order_key IS NOT NULL AND c.order_key IS NOT NULL AND c.op = 'U'
       |         THEN c.total_price
       |       WHEN t.order_key IS NULL THEN c.total_price
       |       ELSE t.total_price END AS total_price,
       |  CASE WHEN t.order_key IS NOT NULL AND c.order_key IS NOT NULL AND c.op = 'U'
       |         THEN c.status
       |       WHEN t.order_key IS NULL THEN c.status
       |       ELSE t.status END AS status
       |FROM target t FULL JOIN cdc c ON t.order_key = c.order_key
       |WHERE c.order_key IS NULL
       |   OR (t.order_key IS NOT NULL AND c.op IN ('U','I'))
       |   OR (t.order_key IS NULL AND c.op = 'I')""".stripMargin

  def upsertOnConflict(spark: SparkSession, dir: String): DataFrame = {
    val updates = cdcLatestPerKey(spark, dir).where(col("op") === "U").select(
      col("order_key"), col("new_price").as("total_price"),
      lit("UPD").as("status"))
    Cdc.upsert(cdcTarget(spark, dir), updates, "order_key")
  }

  private val upsertOnConflictSql =
    s"""WITH $latestSql,
       |updates AS (SELECT order_key, new_price AS total_price, 'UPD' AS status
       |  FROM latest WHERE op = 'U'),
       |$cdcTargetSql
       |SELECT coalesce(u.order_key, t.order_key) AS order_key,
       |  CASE WHEN u.order_key IS NOT NULL THEN u.total_price ELSE t.total_price END AS total_price,
       |  CASE WHEN u.order_key IS NOT NULL THEN u.status ELSE t.status END AS status
       |FROM target t FULL JOIN updates u ON t.order_key = u.order_key""".stripMargin

  // ------------------------------------------------------------- SCD2
  def scd2Dimension(spark: SparkSession, dir: String): DataFrame = {
    val target = Tables.orders(spark, dir).select(
      col("o_orderkey").as("order_key"),
      col("o_totalprice").as("total_price"),
      col("o_orderdate").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"),
      lit(true).as("is_current"))
    val updates = cdcLatestPerKey(spark, dir).where(col("op") === "U").select(
      col("order_key"), col("new_price").as("total_price"),
      col("last_updated").as("changed_at"))
    Cdc.scd2Apply(target, updates, "order_key")
  }

  private val scd2DimensionSql =
    s"""WITH $latestSql,
       |updates AS (SELECT order_key, new_price AS total_price,
       |  last_updated AS changed_at FROM latest WHERE op = 'U'),
       |target AS (SELECT o_orderkey AS order_key, o_totalprice AS total_price,
       |  o_orderdate AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
       |  TRUE AS is_current FROM orders),
       |closed AS (SELECT t.order_key, t.total_price, t.valid_from,
       |  CASE WHEN u.order_key IS NOT NULL THEN u.changed_at ELSE t.valid_to END AS valid_to,
       |  u.order_key IS NULL AS is_current
       |  FROM target t LEFT JOIN updates u ON t.order_key = u.order_key),
       |fresh AS (SELECT order_key, total_price, changed_at AS valid_from,
       |  CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current FROM updates)
       |SELECT * FROM closed UNION ALL SELECT * FROM fresh""".stripMargin

  // ---------------------------------------------------------------- #8
  /** Year/month lake-layout summary (the write itself is spec-tested in
    * SourcesSpec — queries must stay read-only for Verify). */
  def partitionLayout(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("year"),
               month(col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
           sum(col("o_totalprice").cast("decimal(20,4)"))
             .cast("double").as("total_price"))

  private val partitionLayoutSql =
    """SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM orders GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------ analytics (#16-22)

  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Relational.pricingSummary(Tables.lineitem(spark, dir), "2001-09-01")

  private val q1PricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) * (1 + CAST(l_tax AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame =
    Relational.shippingPriority(
      Tables.customer(spark, dir), Tables.orders(spark, dir),
      Tables.lineitem(spark, dir), "BUILDING", "1998-01-01", "1997-01-01")

  private val q3ShippingPrioritySql =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < '1998-01-01' AND l_shipdate > '1997-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin

  def q5LocalVolume(spark: SparkSession, dir: String): DataFrame =
    Relational.localSupplierVolume(
      Tables.region(spark, dir), Tables.nation(spark, dir),
      Tables.customer(spark, dir), Tables.supplier(spark, dir),
      Tables.orders(spark, dir), Tables.lineitem(spark, dir),
      "ASIA", "1996-01-01", "1997-01-01")

  private val q5LocalVolumeSql =
    """SELECT n_name,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
      |GROUP BY n_name""".stripMargin

  def topkOrdersPerCust(spark: SparkSession, dir: String): DataFrame =
    Relational.topKPerGroup(
      Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").desc), 3)

  private val topkOrdersPerCustSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
      |  FROM orders) t WHERE rk <= 3""".stripMargin

  def ordersWoLineitems(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
            col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"))

  private val ordersWoLineitemsSql =
    """SELECT o_orderkey, o_totalprice FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""".stripMargin

  def rollupVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).as("y"),
              col("o_orderpriority").as("prio"), col("o_totalprice"))
      .rollup(col("y"), col("prio"))
      .agg(count(lit(1)).as("n_orders"),
           Relational.dsum(col("o_totalprice")).as("total_price"),
           grouping(col("y")).as("gy"), grouping(col("prio")).as("gp"))
      .select(
        when(col("gy") === 1, lit(-1)).otherwise(col("y")).as("year"),
        when(col("gp") === 1, lit("ALL")).otherwise(col("prio")).as("priority"),
        col("n_orders"), col("total_price"))

  private val rollupVolumeSql =
    """SELECT
      |  CASE WHEN GROUPING(y) = 1 THEN -1 ELSE y END AS year,
      |  CASE WHEN GROUPING(prio) = 1 THEN 'ALL' ELSE prio END AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM (SELECT year(o_orderdate) AS y, o_orderpriority AS prio, o_totalprice
      |      FROM orders) t
      |GROUP BY ROLLUP(y, prio)""".stripMargin

  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    Sessionize.timeBucketed(Tables.events(spark, dir), "hour")

  private val eventsHourlySql =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1, 2""".stripMargin

  def eventsSessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.gapSessions(Tables.events(spark, dir), 30)

  private val eventsSessionizeSql =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |g AS (SELECT user_id, event_id, ts,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |        OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |             + INTERVAL 30 MINUTE
      |       THEN 1 ELSE 0 END AS is_new FROM e),
      |s AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM g)
      |SELECT user_id, session_no, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM s GROUP BY user_id, session_no""".stripMargin

  /** Consecutive-duplicate event compaction (#22w): keep an event only
    * when its type CHANGES from the user's previous event — the
    * telemetry/state-stream compaction that turns a chatty sensor feed
    * into its change log (the streaming analogue of CDC latest-per-key,
    * but keeping every transition, not just the last). One shuffle on
    * user_id for the lag window; deterministic (ts, event_id) order so
    * engines agree on ties. */
  def eventsCompactChanges(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull ||
             col("prev_type") =!= col("event_type"))
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  private val eventsCompactChangesSql =
    """WITH x AS (SELECT event_id, user_id, event_type,
      |  lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      |FROM events)
      |SELECT event_id, user_id, event_type FROM x
      |WHERE prev_type IS NULL OR prev_type <> event_type""".stripMargin

  /** Event transition matrix (#22x): counts of consecutive
    * (prev_type → event_type) pairs per user stream — the Markov /
    * funnel-edge profile product analytics reads. One lag window on
    * user_id + one small groupBy. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  private val eventTransitionsSql =
    """WITH x AS (SELECT event_type,
      |  lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      |FROM events)
      |SELECT prev_type, event_type, COUNT(*) AS n FROM x
      |WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Exact per-group tail percentiles (#22y): nearest-rank p50/p90/p99
    * of event value per type — median_price generalized to groups and
    * tails (the latency-SLO shape). Engine-portable by construction:
    * nearest-rank picks an ACTUAL row value at rank ⌈p·n⌉ under a
    * tie-broken total order, so there is no interpolation for engines
    * to disagree on. One window sort per type + one conditional agg.
    * Scale: per-type sort; at 100 TB swap to `percentile_approx`
    * (sketch_sound gates that path's error bounds). */
  def valuePercentilesByType(spark: SparkSession, dir: String): DataFrame = {
    val wo = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    def pick(p: Double) =
      max(when(col("rn") === ceil(lit(p) * col("n")), col("value")))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(wo))
      .withColumn("n", count(lit(1)).over(wa))
      .groupBy(col("event_type"))
      .agg(pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
  }

  private val valuePercentilesByTypeSql =
    """WITH x AS (SELECT event_type, value,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n
      |FROM events)
      |SELECT event_type,
      |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
      |  MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
      |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
      |FROM x GROUP BY 1""".stripMargin

  /** Retention cohort matrix (#22z): users grouped by first-seen week,
    * counted per week-offset they return in — the activation/retention
    * grid. ONE corpus-sized shuffle: the per-user groupBy collects
    * min-date + the distinct active-day set (bounded by calendar span,
    * not event count — partial_collect_set dedups map-side), offsets
    * derive from that set per user with array HOFs, and the final
    * (cohort, offset) agg is cohort-matrix-sized. The naive window +
    * 3-column distinct formulation shuffles the corpus twice. Week
    * truncation is ISO-Monday in both engines; offsets are
    * non-negative day-diffs, where floor and truncated /7 agree. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("first_d"), collect_set(col("d")).as("days"))
      .select(date_trunc("week", col("first_d")).cast("date").as("cohort_week"),
        explode(array_distinct(transform(col("days"),
          d => floor(datediff(d, col("first_d")) / lit(7)).cast("long"))))
          .as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))

  private val retentionCohortsSql =
    """WITH f AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  min(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id) AS first_ts
      |  FROM events),
      |x AS (SELECT DISTINCT
      |  CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
      |  date_diff('day', CAST(first_ts AS DATE), CAST(ts AS DATE)) // 7 AS week_offset,
      |  user_id FROM f)
      |SELECT cohort_week, week_offset, COUNT(*) AS n_users
      |FROM x GROUP BY 1, 2""".stripMargin

  /** Winsorize / outlier clipping (#22y2): cap each event's value at
    * its type's exact p99 — the pre-training numeric cleanup that
    * tames heavy tails without dropping rows. Composes the
    * nearest-rank percentile machinery (`value_percentiles_by_type`),
    * so the threshold is an ACTUAL data value and every comparison is
    * exact; the ≤20-row threshold table broadcasts back onto the fact
    * scan as a per-row projection. */
  def clipOutliers(spark: SparkSession, dir: String): DataFrame = {
    val p99 = valuePercentilesByType(spark, dir)
      .select(col("event_type"), col("p99"))
    Tables.events(spark, dir)
      .join(broadcast(p99), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        least(col("value"), col("p99")).as("value_clipped"),
        (col("value") > col("p99")).as("clipped"))
  }

  private val clipOutliersSql =
    """WITH x AS (SELECT event_type, value,
      |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n
      |FROM events),
      |t AS (SELECT event_type,
      |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
      |FROM x GROUP BY 1)
      |SELECT event_id, event_type, value,
      |  least(value, p99) AS value_clipped, value > p99 AS clipped
      |FROM events JOIN t USING (event_type)""".stripMargin

  /** Sketch driver gate (#29b): the approximate aggregates are checked
    * against exact values computed in the same query — the emitted
    * tolerance flags (and the exact NDV) are deterministic, so the
    * oracle recomputes the exact side and expects TRUE. A sketch
    * regression (NDV error > 10%, or median outside the exact p40–p60
    * band) flips a flag and fails the hash gate. */
  def sketchSound(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"),
           // rsd 0.02 with a 0.10 gate ≈ 5σ headroom — the default
           // 0.05 sketch trips a 5% tolerance at ~1σ on small groups
           approx_count_distinct(col("o_custkey"), 0.02).as("approx"),
           percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("amed"),
           expr("percentile(o_totalprice, 0.4)").as("p40"),
           expr("percentile(o_totalprice, 0.6)").as("p60"))
      .select(col("o_orderpriority"), col("n_exact"),
        (abs(col("approx") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.10).as("ndv_ok"),
        (col("amed") >= col("p40") && col("amed") <= col("p60")).as("median_ok"))

  private val sketchSoundSql =
    """SELECT o_orderpriority,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
      |  TRUE AS ndv_ok, TRUE AS median_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------- JSON + LIKE-filter queries

  /** Semi-structured extraction: the events feed carries a JSON props
    * column; parse server-side, no UDF. */
  def eventsJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("k")).as("k_sum"),
           max(col("k")).as("k_max"))

  private val eventsJsonExtractSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
      |FROM events GROUP BY event_type""".stripMargin

  /** TPC-H Q14-style conditional aggregate over a LIKE-filtered
    * broadcast-joined dim. */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(Relational.dsum(Relational.discPriceDec).as("revenue"),
           count(lit(1)).as("n_items"))

  private val promoRevenueSql =
    """SELECT p_type,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
      |GROUP BY p_type""".stripMargin

  // --------------------------------------- SQL interface + more windows

  /** The reference's own SQL (unused_pipeline_sourcecode.py:37-99
    * `table_demand_sql`) run VERBATIM (modulo table mapping) through
    * spark.sql over a temp view — the engine speaks the reference's
    * dialect directly. */
  def sqlMaterialDemand(spark: SparkSession, dir: String): DataFrame = {
    productDemand(spark, dir).createOrReplaceTempView("product_demand_v")
    spark.sql(
      """WITH raw_material AS (
        |  SELECT shop_id, date,
        |    CASE WHEN product_name = 'cheap' THEN CAST(demand AS DECIMAL(20,4)) * 20
        |         WHEN product_name = 'medium' THEN CAST(demand AS DECIMAL(20,4)) * 10
        |         ELSE 0 END AS local_arabica,
        |    CASE WHEN product_name = 'cheap' THEN 0
        |         WHEN product_name = 'medium' THEN CAST(demand AS DECIMAL(20,4)) * 10
        |         ELSE CAST(demand AS DECIMAL(20,4)) * 10 END AS foreign_arabica,
        |    CASE WHEN product_name = 'cheap' THEN 0
        |         WHEN product_name = 'medium' THEN 0
        |         ELSE CAST(demand AS DECIMAL(20,4)) * 10 END AS robusta
        |  FROM product_demand_v)
        |SELECT date, shop_id, material_name,
        |  CAST(SUM(quantity) AS DOUBLE) AS quantity_g
        |FROM (
        |  SELECT shop_id, date, 'local_arabica' AS material_name, local_arabica AS quantity FROM raw_material
        |  UNION ALL
        |  SELECT shop_id, date, 'foreign_arabica', foreign_arabica FROM raw_material
        |  UNION ALL
        |  SELECT shop_id, date, 'robusta', robusta FROM raw_material) AS unpivoted
        |GROUP BY date, shop_id, material_name
        |ORDER BY date, shop_id, material_name""".stripMargin)
  }

  private val sqlMaterialDemandSql =
    s"""WITH product_demand AS ($productDemandSql),
       |raw_material AS (
       |  SELECT shop_id, date,
       |    CASE WHEN product_name = 'cheap' THEN CAST(demand AS DECIMAL(20,4)) * 20
       |         WHEN product_name = 'medium' THEN CAST(demand AS DECIMAL(20,4)) * 10
       |         ELSE 0 END AS local_arabica,
       |    CASE WHEN product_name = 'cheap' THEN 0
       |         WHEN product_name = 'medium' THEN CAST(demand AS DECIMAL(20,4)) * 10
       |         ELSE CAST(demand AS DECIMAL(20,4)) * 10 END AS foreign_arabica,
       |    CASE WHEN product_name = 'cheap' THEN 0
       |         WHEN product_name = 'medium' THEN 0
       |         ELSE CAST(demand AS DECIMAL(20,4)) * 10 END AS robusta
       |  FROM product_demand)
       |SELECT date, shop_id, material_name,
       |  CAST(CAST(SUM(quantity) AS VARCHAR) AS DOUBLE) AS quantity_g
       |FROM (
       |  SELECT shop_id, date, 'local_arabica' AS material_name, local_arabica AS quantity FROM raw_material
       |  UNION ALL
       |  SELECT shop_id, date, 'foreign_arabica', foreign_arabica FROM raw_material
       |  UNION ALL
       |  SELECT shop_id, date, 'robusta', robusta FROM raw_material) AS unpivoted
       |GROUP BY date, shop_id, material_name""".stripMargin

  /** Exact distinct-count aggregation. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
           count(lit(1)).as("n_orders"))

  private val distinctAggSql =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** HAVING-style post-aggregation filter (Q18 shape): big spenders. */
  def havingBigSpenders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(Relational.dsum(col("o_totalprice")).as("total_spend"),
           count(lit(1)).as("n_orders"))
      .where(col("total_spend") > 1000000.0)

  private val havingBigSpendersSql =
    """SELECT o_custkey,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_spend,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey
      |HAVING CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) > 1000000.0""".stripMargin

  /** Running total per customer (ROWS frame, value-total ordering). */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
              to_date(col("o_orderdate")).as("order_date"),
              sum(col("o_totalprice").cast("decimal(25,6)")).over(w)
                .cast("double").as("running_spend"))
  }

  private val runningTotalSql =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_spend
      |FROM orders""".stripMargin

  /** Pivot long→wide — the inverse of the reference's melt (README
    * L229): material rows back to one column per material. */
  def pivotMaterial(spark: SparkSession, dir: String): DataFrame =
    // unsorted pipeline: the pivot re-aggregates, so the flagship's
    // output ORDER BY would be a full range exchange thrown away by
    // the next hash exchange — wasted work at any scale
    MaterialDemand.productToMaterial(productDemand(spark, dir),
        sorted = false)
      .withColumn("demand_kg", col("demand_kg").cast("double"))
      .groupBy(col("date"), col("shop_id"))
      .pivot("raw_material",
        Seq("local_arabica", "foreign_arabica", "robusta"))
      .agg(first(col("demand_kg")))

  private val pivotMaterialSql =
    s"""WITH long AS ($pipelineMaterialDemandSql)
       |SELECT date, shop_id,
       |  MAX(CASE WHEN raw_material = 'local_arabica' THEN demand_kg END) AS local_arabica,
       |  MAX(CASE WHEN raw_material = 'foreign_arabica' THEN demand_kg END) AS foreign_arabica,
       |  MAX(CASE WHEN raw_material = 'robusta' THEN demand_kg END) AS robusta
       |FROM long GROUP BY date, shop_id""".stripMargin

  /** Set operations: suppliers in ASIA minus those with open orders —
    * EXCEPT/INTERSECT surface. */
  def setOpsSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val asian = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select(col("s_suppkey"))
    val withOpen = Tables.lineitem(spark, dir)
      .where(col("l_linestatus") === "O")
      .select(col("l_suppkey").as("s_suppkey")).distinct()
    asian.exceptAll(asian.intersect(withOpen))
  }

  private val setOpsSuppliersSql =
    """WITH asian AS (
      |  SELECT s_suppkey FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'),
      |with_open AS (SELECT DISTINCT l_suppkey AS s_suppkey FROM lineitem
      |  WHERE l_linestatus = 'O')
      |SELECT s_suppkey FROM asian
      |EXCEPT SELECT s_suppkey FROM (
      |  SELECT s_suppkey FROM asian INTERSECT SELECT s_suppkey FROM with_open) t""".stripMargin

  /** Bloom-pruned semi join: lineitem revenue for urgent orders. The
    * bloom sketch drops non-matching fact rows at the scan stage and
    * the exact semi join removes the false positives, so the oracle is
    * the plain IN-subquery semi join — results identical, volume into
    * the shuffle ~30× smaller (1/5 of orders are urgent; fpp 3%). */
  def bloomSemiJoinUrgent(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    Prune.bloomSemiJoin(Tables.lineitem(spark, dir), "l_orderkey",
        urgent, "o_orderkey") // expectedKeys self-sizes from a dim count
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
           sum(col("l_extendedprice").cast("decimal(25,6)"))
             .cast("double").as("revenue"))
  }

  private val bloomSemiJoinUrgentSql =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN
      |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q7-style: trade volume between two nations by year — two
    * independent dim paths (supplier→nation, customer→nation) onto the
    * same fact rows, both broadcast. */
  def q7NationTrade(spark: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("s_nkey"))
      .join(n2, col("c_nationkey") === col("c_nkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).as("ship_year"))
      .agg(Relational.dsum(Relational.discPriceDec).as("volume"))
  }

  private val q7NationTradeSql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  year(l_shipdate) AS ship_year,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS volume
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name <> n2.n_name
      |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin

  /** Customers spending above twice their priority group's average —
    * a group aggregate compared against row values (correlated-agg
    * shape without a self-join). */
  def aboveGroupAvg(spark: SparkSession, dir: String): DataFrame = {
    // Keep the per-customer sum DECIMAL through the group average so it
    // is order-independent (a double running sum can differ from DuckDB
    // by 1 ULP and flip rows near the spend > 2*avg boundary); the
    // single double division at the end is IEEE-deterministic.
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("sdec"))
    // group average via a 5-row agg + broadcast join back, NOT a
    // partitionBy(o_orderpriority) window: the window form funnels the
    // whole table into |priorities| = 5 tasks (unbounded skew at
    // scale), while the agg is partial map-side and the join back is a
    // broadcast. Exchange reuse covers `spend` appearing twice —
    // identical shuffle, shuffled once. Same DECIMAL sum → one double
    // division, so values are bit-identical to the window form.
    val avgs = spend.groupBy(col("o_orderpriority"))
      .agg((sum(col("sdec")).cast("double") / count(lit(1))).as("grp_avg"))
    spend.join(broadcast(avgs), "o_orderpriority")
      .withColumn("spend", col("sdec").cast("double"))
      .where(col("spend") > col("grp_avg") * 2)
      .select(col("o_custkey"), col("o_orderpriority"), col("spend"))
  }

  private val aboveGroupAvgSql =
    """WITH spend AS (
      |  SELECT o_custkey, o_orderpriority,
      |    SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS sdec
      |  FROM orders GROUP BY o_custkey, o_orderpriority)
      |SELECT o_custkey, o_orderpriority, CAST(sdec AS DOUBLE) AS spend FROM (
      |  SELECT *, CAST(CAST(SUM(sdec) OVER (PARTITION BY o_orderpriority) AS VARCHAR) AS DOUBLE)
      |            / COUNT(*) OVER (PARTITION BY o_orderpriority) AS grp_avg
      |  FROM spend) t
      |WHERE CAST(sdec AS DOUBLE) > grp_avg * 2""".stripMargin

  /** Time-RANGE window frame: 7-day trailing revenue per customer —
    * the frame is bounded by event-time distance, not row count. */
  def rolling7dRevenue(spark: SparkSession, dir: String): DataFrame = {
    val days = 7 * 86400L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-days, 0)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
              to_date(col("o_orderdate")).as("order_date"),
              sum(col("o_totalprice").cast("decimal(25,6)")).over(w)
                .cast("double").as("trailing_7d_spend"))
  }

  private val rolling7dRevenueSql =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
      |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
      |    AS trailing_7d_spend
      |FROM orders""".stripMargin

  /** Schema'd JSON parsing (from_json → struct), not just string-path
    * extraction. */
  def eventsJsonStruct(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(spark, dir)
      .select(col("event_id"),
              from_json(col("props"), schema).getField("k").as("k"))
      .where(col("k") > 50)
  }

  private val eventsJsonStructSql =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50""".stripMargin

  /** Sketch aggregates (HLL distinct, quantile sketch) — approximate
    * by design → rows-only check; SketchSpec bounds the error vs exact. */
  def sketchStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey")).as("approx_customers"),
           percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))
             .as("median_price"))

  // ----------------------------------- window-function extensions

  /** ntile / percent_rank / cume_dist over per-priority spend ranking.
    * Ordering is value-total (spend, custkey) so rank stats are
    * deterministic; both rank ratios are single double divisions. */
  def windowRankStats(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(Relational.dsum(col("o_totalprice")).as("spend"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("spend"), col("o_custkey"))
    spend.select(col("o_custkey"), col("o_orderpriority"), col("spend"),
      ntile(10).over(w).as("decile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  private val windowRankStatsSql =
    """WITH spend AS (
      |  SELECT o_custkey, o_orderpriority,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS spend
      |  FROM orders GROUP BY o_custkey, o_orderpriority)
      |SELECT o_custkey, o_orderpriority, spend,
      |  CAST(ntile(10) OVER w AS INT) AS decile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM spend
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY spend, o_custkey)""".stripMargin

  /** lead/lag: per-customer days since the previous order and the next
    * order's key — one shuffle, both offsets over the same sort. */
  def orderGapDays(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("order_date"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
              to_date(col("o_orderdate")).as("order_date"))
      .withColumn("gap_days", datediff(col("order_date"),
                                       lag(col("order_date"), 1).over(w)))
      .withColumn("next_orderkey", lead(col("o_orderkey"), 1).over(w))
  }

  private val orderGapDaysSql =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |             CAST(o_orderdate AS DATE) AS order_date FROM orders)
      |SELECT o_custkey, o_orderkey, order_date,
      |  CAST(datediff('day', lag(order_date) OVER w, order_date) AS INT) AS gap_days,
      |  lead(o_orderkey) OVER w AS next_orderkey
      |FROM o
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY order_date, o_orderkey)""".stripMargin

  /** CUBE aggregate — all four grouping combinations of (year,
    * priority) in one pass (partial aggs; mirrors rollup_volume). */
  def cubeVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).as("y"),
              col("o_orderpriority").as("prio"), col("o_totalprice"))
      .cube(col("y"), col("prio"))
      .agg(count(lit(1)).as("n_orders"),
           Relational.dsum(col("o_totalprice")).as("total_price"),
           grouping(col("y")).as("gy"), grouping(col("prio")).as("gp"))
      .select(
        when(col("gy") === 1, lit(-1)).otherwise(col("y")).as("order_year"),
        when(col("gp") === 1, "ALL").otherwise(col("prio")).as("priority"),
        col("n_orders"), col("total_price"))

  private val cubeVolumeSql =
    """SELECT
      |  CAST(CASE WHEN GROUPING(y) = 1 THEN -1 ELSE y END AS INT) AS order_year,
      |  CASE WHEN GROUPING(prio) = 1 THEN 'ALL' ELSE prio END AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM (SELECT year(o_orderdate) AS y, o_orderpriority AS prio, o_totalprice
      |      FROM orders) t
      |GROUP BY CUBE(y, prio)""".stripMargin

  /** Exact median via the middle-rows window formulation — unlike
    * interpolated percentile built-ins (whose lerp formula differs
    * between engines), averaging the ≤2 middle rows through DECIMAL is
    * bit-deterministic. One shuffle; the scalable exact-median shape. */
  def medianPrice(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    // full-frame count shares w's partitioning AND ordering, so both
    // window functions run in ONE sorted pass (a separate unordered
    // window spec would add a second WindowExec over the same shuffle)
    val wAll = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .where(col("rn") === expr("(n + 1) DIV 2") || col("rn") === expr("(n + 2) DIV 2"))
      .groupBy(col("o_orderpriority"))
      .agg((sum(col("o_totalprice").cast("decimal(25,6)")).cast("double")
              / count(lit(1))).as("median_price"))
  }

  private val medianPriceSql =
    """WITH r AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / COUNT(*)
      |    AS median_price
      |FROM r WHERE rn = (n+1)//2 OR rn = (n+2)//2
      |GROUP BY o_orderpriority""".stripMargin

  /** Modal-value profiling (#46c): the most frequent categorical value
    * per group with a deterministic tie-break — the categorical
    * sibling of [[profileColumns]]' NDV rows (mode is what categorical
    * imputation and drift dashboards read). One partial-agg shuffle to
    * (source, lang) counts, then an argmax via min_by over
    * (−count, value) — no window, no second sort of the corpus; the
    * negated-count struct ordering is exactly (count DESC, value ASC),
    * deterministic through ties. */
  def modePerGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(
        min_by(struct(col("lang"), col("cnt")),
               struct(-col("cnt"), col("lang"))).as("m"),
        sum(col("cnt")).as("n_docs"))
      .select(col("source"), col("m.lang").as("modal_lang"),
              col("m.cnt").as("modal_count"), col("n_docs"))

  private val modePerGroupSql =
    """WITH c AS (SELECT source, lang, COUNT(*) AS cnt
      |           FROM documents GROUP BY 1, 2),
      |r AS (SELECT source, lang, cnt,
      |        CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
      |        row_number() OVER (PARTITION BY source
      |                           ORDER BY cnt DESC, lang) AS rk
      |      FROM c)
      |SELECT source, lang AS modal_lang, cnt AS modal_count, n_docs
      |FROM r WHERE rk = 1""".stripMargin

  /** Column profiling: null count + exact NDV per column in ONE scan
    * (the distincts share a single expand — not one scan per column),
    * unpivoted to a (column, metric) long table. Full-scan by nature;
    * at 100 TB swap exact NDV for approx_count_distinct. */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_suppkey", "l_returnflag",
                   "l_shipdate", "l_quantity", "l_extendedprice")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
    val allAggs = count(lit(1)).as("n_rows") +: aggs
    val one = Tables.lineitem(spark, dir)
      .agg(allAggs.head, allAggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', n_rows - nn_$c, nd_$c").mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct)")
  }

  private val profileColumnsSql =
    """WITH s AS (SELECT COUNT(*) AS n,
      |  COUNT(l_orderkey) AS nn1, COUNT(DISTINCT l_orderkey) AS nd1,
      |  COUNT(l_suppkey) AS nn2, COUNT(DISTINCT l_suppkey) AS nd2,
      |  COUNT(l_returnflag) AS nn3, COUNT(DISTINCT l_returnflag) AS nd3,
      |  COUNT(l_shipdate) AS nn4, COUNT(DISTINCT l_shipdate) AS nd4,
      |  COUNT(l_quantity) AS nn5, COUNT(DISTINCT l_quantity) AS nd5,
      |  COUNT(l_extendedprice) AS nn6, COUNT(DISTINCT l_extendedprice) AS nd6
      |  FROM lineitem)
      |SELECT 'l_orderkey' AS col_name, n - nn1 AS n_nulls, nd1 AS n_distinct FROM s
      |UNION ALL SELECT 'l_suppkey', n - nn2, nd2 FROM s
      |UNION ALL SELECT 'l_returnflag', n - nn3, nd3 FROM s
      |UNION ALL SELECT 'l_shipdate', n - nn4, nd4 FROM s
      |UNION ALL SELECT 'l_quantity', n - nn5, nd5 FROM s
      |UNION ALL SELECT 'l_extendedprice', n - nn6, nd6 FROM s""".stripMargin

  /** Approx-NDV profile gate (#46a): the 100 TB swap profile_columns'
    * doc promises — HLL++ `approx_count_distinct` instead of the exact
    * expand — with the error bound regression-gated the recall-gate
    * way. Each row carries the EXACT NDV (oracle recomputes it) plus a
    * flag that the approx estimate landed within 4×rsd or ±8 absolute
    * (HLL++ is exact in sparse mode, so small NDVs need the absolute
    * slack, large ones the relative one; rsd=0.05 → ±20%). HLL merge
    * is register-wise max — commutative and associative — so the
    * estimate and therefore the flag are deterministic under any
    * partitioning. The exact NDVs here are the GATE'S price, not the
    * production plan: a profiling run at scale issues only the approx
    * aggs and skips the expand entirely. */
  def profileColumnsApprox(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_suppkey", "l_returnflag",
                   "l_shipdate", "l_quantity", "l_extendedprice")
    val rsd = 0.05
    val li = Tables.lineitem(spark, dir)
    // exact and approx in SEPARATE aggregations: a single agg mixing
    // six DISTINCT columns with HLL aggs runs the HLL update on every
    // expand branch — 6× the sketch work (measured 4.9 s vs 2.9 s
    // split at sf0.1). Split, the approx side is one expand-free scan
    // (the actual production plan) and the exact side is
    // profile_columns' expand, paid only because the gate compares.
    val exactAggs = cols.map(c => countDistinct(col(c)).as(s"nd_$c"))
    val approxAggs = cols.map(c => approx_count_distinct(col(c), rsd).as(s"ad_$c"))
    val one = li.agg(exactAggs.head, exactAggs.tail: _*)
      .crossJoin(li.agg(approxAggs.head, approxAggs.tail: _*))
    val stackArgs = cols.map(c =>
      s"'$c', nd_$c, abs(ad_$c - nd_$c) <= greatest(cast(${4 * rsd} * nd_$c as bigint), 8)")
      .mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS (col_name, n_distinct, approx_ok)")
  }

  private val profileColumnsApproxSql =
    """WITH s AS (SELECT
      |  COUNT(DISTINCT l_orderkey) AS nd1, COUNT(DISTINCT l_suppkey) AS nd2,
      |  COUNT(DISTINCT l_returnflag) AS nd3, COUNT(DISTINCT l_shipdate) AS nd4,
      |  COUNT(DISTINCT l_quantity) AS nd5, COUNT(DISTINCT l_extendedprice) AS nd6
      |  FROM lineitem)
      |SELECT 'l_orderkey' AS col_name, nd1 AS n_distinct, TRUE AS approx_ok FROM s
      |UNION ALL SELECT 'l_suppkey', nd2, TRUE FROM s
      |UNION ALL SELECT 'l_returnflag', nd3, TRUE FROM s
      |UNION ALL SELECT 'l_shipdate', nd4, TRUE FROM s
      |UNION ALL SELECT 'l_quantity', nd5, TRUE FROM s
      |UNION ALL SELECT 'l_extendedprice', nd6, TRUE FROM s""".stripMargin

  /** Data-quality gate: referential + row-level + key-uniqueness checks
    * as one report. Row-level predicates fuse into a single scan's
    * conditional aggs; the FK check is a broadcast-friendly anti join;
    * the PK check is one groupBy. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val rowLevel = li.agg(
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("neg_qty"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_key"),
      sum(when(col("l_shipdate") < "1995-01-01" ||
               col("l_shipdate") >= "2002-01-01", 1L).otherwise(0L)).as("bad_date"))
      .selectExpr("stack(3, 'negative_quantity', neg_qty, " +
        "'null_orderkey', null_key, 'shipdate_out_of_range', bad_date) " +
        "AS (check_name, n_violations)")
    val orphans = li.join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("orphan_lineitems").as("check_name"), col("n_violations"))
    val dupPk = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c")).where(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_violations"))
      .select(lit("duplicate_lineitem_pk").as("check_name"), col("n_violations"))
    rowLevel.unionByName(orphans).unionByName(dupPk)
  }

  private val dqChecksSql =
    """WITH r AS (SELECT
      |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_qty,
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key,
      |    CAST(SUM(CASE WHEN l_shipdate < '1995-01-01'
      |               OR l_shipdate >= '2002-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS bad_date
      |  FROM lineitem)
      |SELECT 'negative_quantity' AS check_name, neg_qty AS n_violations FROM r
      |UNION ALL SELECT 'null_orderkey', null_key FROM r
      |UNION ALL SELECT 'shipdate_out_of_range', bad_date FROM r
      |UNION ALL SELECT 'orphan_lineitems',
      |  (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
      |   ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
      |UNION ALL SELECT 'duplicate_lineitem_pk',
      |  (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
      |    (SELECT COUNT(*) AS c FROM lineitem
      |     GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) d)""".stripMargin

  /** Multi-step ordered funnel (#50d): view → click → purchase, each
    * step STRICTLY after the previous and within 24 h of it, anchored
    * at the user's FIRST qualifying event per step (the deterministic
    * convention — "first touch"). Three type-filtered passes (each
    * filter reaches the scan), two user-keyed joins of user-grain
    * aggregates; all comparisons are exact timestamp arithmetic, so
    * the census is oracle-exact. Where [[funnelConversion]] scores a
    * single attribution edge, this reports the classic step-census
    * marketers read: how many users survive each stage. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val day = expr("INTERVAL 24 HOURS")
    val t1 = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.where(col("event_type") === "click")
      .join(t1, "user_id")
      .where(col("ts") > col("t1") && col("ts") <= col("t1") + day)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.where(col("event_type") === "purchase")
      .join(t2, "user_id")
      .where(col("ts") > col("t2") && col("ts") <= col("t2") + day)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    t1.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("step"), col("n_users"))
      .unionAll(t2.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("step"), col("n_users")))
      .unionAll(t3.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("step"), col("n_users")))
  }

  private val funnelStepsSql =
    """WITH t1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN t1 ON t1.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > t1.t1
      |    AND e.ts <= t1.t1 + INTERVAL 24 HOURS
      |  GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN t2 ON t2.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      |    AND e.ts <= t2.t2 + INTERVAL 24 HOURS
      |  GROUP BY 1)
      |SELECT '1_view' AS step, COUNT(*) AS n_users FROM t1
      |UNION ALL SELECT '2_click', COUNT(*) FROM t2
      |UNION ALL SELECT '3_purchase', COUNT(*) FROM t3""".stripMargin

  /** Funnel conversion: each purchase attributed to the user's most
    * recent view (as-of join), converted iff that view is within the
    * preceding hour — per-user purchase/conversion counts. Same
    * single-shuffle asofJoin core as asof_clicks, composed into an
    * attribution aggregate. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts").as("view_ts"))
      .agg(max(col("event_id")).as("view_id"))
    Temporal.asofJoin(purchases, views, "user_id", "purchase_ts", "view_ts")
      .withColumn("converted",
        col("view_ts").isNotNull &&
          col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
           sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
  }

  private val funnelConversionSql =
    """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts,
      |             MAX(event_id) AS view_id
      |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT p.user_id, COUNT(*) AS n_purchases,
      |  CAST(SUM(CASE WHEN v.view_ts IS NOT NULL
      |             AND v.view_ts >= p.purchase_ts - INTERVAL 1 HOUR
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.purchase_ts >= v.view_ts
      |GROUP BY p.user_id""".stripMargin

  // ------------------------------------------------------- #17a (Q2 shape)

  /** Min-cost supplier per part (TPC-H Q2's argmin-with-rejoin shape,
    * partsupp stood in by lineitem offers): per part the minimum offer
    * price, re-joined to recover WHICH supplier attains it (min suppkey
    * breaks price ties deterministically). The min-agg and the rejoin
    * shuffle on the SAME key (l_partkey) so AQE reuses the exchange;
    * part/supplier dims broadcast. Scale shape: two partial-agg
    * shuffles on the fact, zero fact-fact joins. */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val offers = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val minPrice = offers.groupBy(col("l_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    val winner = offers.join(minPrice, Seq("l_partkey"))
      .where(col("l_extendedprice") === col("min_price"))
      .groupBy(col("l_partkey"), col("min_price"))
      .agg(min(col("l_suppkey")).as("s_suppkey"))
    winner
      .join(broadcast(Tables.part(spark, dir)
        .where(col("p_size") <= 10)
        .select(col("p_partkey"), col("p_name"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))), Seq("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
              col("s_name"), col("min_price"))
  }

  private val minCostSupplierSql =
    """WITH m AS (SELECT l_partkey, MIN(l_extendedprice) AS min_price
      |           FROM lineitem GROUP BY 1),
      |w AS (SELECT l.l_partkey, m.min_price, MIN(l.l_suppkey) AS s_suppkey
      |      FROM lineitem l JOIN m ON l.l_partkey = m.l_partkey
      |       AND l.l_extendedprice = m.min_price
      |      GROUP BY 1, 2)
      |SELECT p.p_partkey, p.p_name, w.s_suppkey, s.s_name, w.min_price
      |FROM w JOIN part p ON w.l_partkey = p.p_partkey
      |       JOIN supplier s ON w.s_suppkey = s.s_suppkey
      |WHERE p.p_size <= 10""".stripMargin

  // ------------------------------------------------------- #17b (Q11 shape)

  /** Important parts (TPC-H Q11's global-scalar HAVING shape): parts
    * whose shipped volume exceeds 1.5× the per-part average — the
    * threshold is a GLOBAL aggregate of the grouped result, broadcast
    * back as a single-row cross join. The filter arithmetic stays in
    * BIGINT (quantities are integral) so the gate is exact at any
    * scale: vol·n_parts·2 > tot·3 ⟺ vol > 1.5·avg, no division, no
    * float threshold. Revenue rides along via the decimal-sum recipe
    * but does not drive the filter. */
  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    val vol = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("bigint")).as("part_qty"),
           Relational.dsum(Relational.discPriceDec).as("part_value"))
    val tot = vol.agg(sum(col("part_qty")).as("tot_qty"),
                      count(lit(1)).as("n_parts"))
    vol.crossJoin(broadcast(tot))
      .where(col("part_qty") * col("n_parts") * 2 > col("tot_qty") * 3)
      .select(col("l_partkey"), col("part_qty"), col("part_value"))
  }

  private val importantPartsSql =
    """WITH v AS (SELECT l_partkey,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS part_qty,
      |    CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6))
      |      * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6)))
      |      AS VARCHAR) AS DOUBLE) AS part_value
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(SUM(part_qty) AS BIGINT) AS tot_qty,
      |             COUNT(*) AS n_parts FROM v)
      |SELECT l_partkey, part_qty, part_value
      |FROM v, t WHERE part_qty * n_parts * 2 > tot_qty * 3""".stripMargin

  // ------------------------------------------------------- #17c (Q13 shape)

  /** Order-count distribution (TPC-H Q13): how many customers placed
    * exactly k orders, INCLUDING k=0. Orders pre-aggregate to one row
    * per custkey BEFORE the customer join (the join carries |customer|
    * rows, not |orders| — the formulation that survives a 100 TB
    * orders table), then a left join + coalesce(0) + histogram. */
  def orderCountDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
  }

  private val orderCountDistributionSql =
    """WITH pc AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
      |SELECT COALESCE(pc.n, 0) AS n_orders, COUNT(*) AS n_customers
      |FROM customer c LEFT JOIN pc ON c.c_custkey = pc.o_custkey
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- #17d (Q22 shape)

  /** Idle rich customers (TPC-H Q22's shape): customers whose balance
    * beats the average AND who never placed an URGENT order, counted
    * per nation. Three scale-bearing pieces: the global-average
    * threshold is a broadcast single-row cross join compared in exact
    * integer cents (bal_cents·n > sum_cents — no division, no float
    * threshold), the "never urgent" test is a LEFT ANTI join against
    * the pre-filtered orders side, and the nation dim broadcasts.
    * Balances are 2-decimal so round(bal·100) is exact in both
    * engines. */
  def idleRichCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
              round(col("c_acctbal") * 100).cast("bigint").as("bal_cents"))
    val avg = cust.agg(sum(col("bal_cents")).as("sum_cents"),
                       count(lit(1)).as("n_cust"))
    val rich = cust.crossJoin(broadcast(avg))
      .where(col("bal_cents") * col("n_cust") > col("sum_cents"))
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    rich.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
           (sum(col("bal_cents")) / 100.0).as("total_acctbal"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_customers"),
              col("total_acctbal"))
  }

  private val idleRichCustomersSql =
    """WITH c AS (SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |  FROM customer),
      |a AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_cents,
      |             COUNT(*) AS n_cust FROM c),
      |r AS (SELECT c.* FROM c, a WHERE bal_cents * n_cust > sum_cents),
      |i AS (SELECT * FROM r WHERE NOT EXISTS
      |        (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
      |           AND o.o_orderpriority = '1-URGENT'))
      |SELECT n.n_name AS nation, COUNT(*) AS n_customers,
      |  CAST(SUM(bal_cents) AS BIGINT) / 100.0 AS total_acctbal
      |FROM i JOIN nation n ON i.c_nationkey = n.n_nationkey
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- #20a

  /** GROUPING SETS — the irregular cousin of rollup/cube (#20/#22u):
    * (year,prio), (year), (prio) but NOT the grand total, which neither
    * rollup nor cube can express without a post-filter. Same expand-
    * based single-shuffle plan; same decimal-sum recipe as
    * rollup_volume. */
  def groupingSetsVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).as("y"),
              col("o_orderpriority").as("prio"), col("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("y"), col("prio")), Seq(col("y")), Seq(col("prio"))),
        col("y"), col("prio"))
      .agg(count(lit(1)).as("n_orders"),
           Relational.dsum(col("o_totalprice")).as("total_price"),
           grouping(col("y")).as("gy"), grouping(col("prio")).as("gp"))
      .select(
        when(col("gy") === 1, lit(-1)).otherwise(col("y")).as("year"),
        when(col("gp") === 1, lit("ALL")).otherwise(col("prio")).as("priority"),
        col("n_orders"), col("total_price"))

  private val groupingSetsVolumeSql =
    """SELECT
      |  CASE WHEN GROUPING(y) = 1 THEN -1 ELSE y END AS year,
      |  CASE WHEN GROUPING(prio) = 1 THEN 'ALL' ELSE prio END AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM (SELECT year(o_orderdate) AS y, o_orderpriority AS prio, o_totalprice
      |      FROM orders) t
      |GROUP BY GROUPING SETS ((y, prio), (y), (prio))""".stripMargin

  // ------------------------------------------------------- #17e (Q21 shape)

  /** Blame the uniquely-late shipper (TPC-H Q21's correlated
    * EXISTS + NOT-EXISTS shape, receiptdate stood in by shipdate):
    * suppliers who shipped LAST in a multi-supplier order, with no
    * co-supplier tied at the max. The two correlated subqueries
    * decorrelate into WINDOW functions over the per-(order, supplier)
    * aggregate — EXISTS(other supplier) becomes count(*) over the
    * order partition >= 2, NOT EXISTS(other equally-late) becomes
    * "exactly one row attains the partition max". Both windows share
    * the l_orderkey partitioning, so the whole query is ONE lineitem
    * scan, one (orderkey, suppkey) partial agg, one orderkey exchange
    * feeding two chained window passes, and a tiny suppkey rollup —
    * vs the naive self-join formulation that rescans the fact table
    * once per subquery. This is how a correlated EXISTS survives a
    * 100 TB fact table: it never runs per-row, and it never rescans. */
  def lateShippers(spark: SparkSession, dir: String): DataFrame = {
    val byOrder =
      org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
    val os = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("supp_last"))
      .withColumn("order_last", max(col("supp_last")).over(byOrder))
      .withColumn("n_supps", count(lit(1)).over(byOrder))
      // second pass over the SAME partitioning — planned without a
      // new exchange; counts the rows tied at the order max
      .withColumn("n_late",
        sum(when(col("supp_last") === col("order_last"), 1L).otherwise(0L))
          .over(byOrder))
    os.where(col("n_supps") >= 2 && col("supp_last") === col("order_last") &&
             col("n_late") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_blamed"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_blamed"))
  }

  private val lateShippersSql =
    """WITH os AS (SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last
      |            FROM lineitem GROUP BY 1, 2),
      |o AS (SELECT l_orderkey, MAX(supp_last) AS order_last,
      |             COUNT(*) AS n_supps FROM os GROUP BY 1),
      |att AS (SELECT os.l_orderkey, COUNT(*) AS n_late
      |        FROM os JOIN o USING (l_orderkey)
      |        WHERE supp_last = order_last GROUP BY 1),
      |b AS (SELECT os.l_suppkey
      |      FROM os JOIN o USING (l_orderkey) JOIN att USING (l_orderkey)
      |      WHERE o.n_supps >= 2 AND os.supp_last = o.order_last
      |        AND att.n_late = 1)
      |SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_blamed
      |FROM b JOIN supplier s ON b.l_suppkey = s.s_suppkey
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------- #17f (Q19 shape)

  /** Disjunctive multi-attribute predicate (TPC-H Q19's OR-of-ANDs):
    * revenue from three brand/type/size/quantity bands. The OR spans
    * both tables, so no single conjunct is a join-side filter — but
    * Catalyst derives the per-table residuals (brand/type/size on
    * part, quantity on lineitem) and pushes THOSE to the scans, then
    * re-applies the full disjunction after the broadcast join. The
    * scan-level prune is what matters at 100 TB: the fact side reads
    * only quantity-banded rows, not everything. */
  def q19BandRevenue(spark: SparkSession, dir: String): DataFrame = {
    val band1 = col("p_brand") === "Brand#13" && col("p_type") === "ECONOMY" &&
      col("p_size").between(1, 15) && col("l_quantity").between(5, 25)
    val band2 = col("p_brand") === "Brand#19" && col("p_type") === "PROMO" &&
      col("p_size").between(5, 25) && col("l_quantity").between(10, 40)
    val band3 = col("p_brand") === "Brand#5" && col("p_type") === "STANDARD" &&
      col("p_size").between(1, 10) && col("l_quantity").between(1, 30)
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
            col("l_partkey") === col("p_partkey"))
      .where(band1 || band2 || band3)
      .agg(Relational.dsum(Relational.discPriceDec).as("revenue"),
           count(lit(1)).as("n_items"))
  }

  private val q19BandRevenueSql =
    """SELECT
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#13' AND p_type = 'ECONOMY'
      |       AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 5 AND 25)
      |   OR (p_brand = 'Brand#19' AND p_type = 'PROMO'
      |       AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 10 AND 40)
      |   OR (p_brand = 'Brand#5' AND p_type = 'STANDARD'
      |       AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 30)""".stripMargin

  // ----------------------------------------------- #17g-17m TPC-H shapes

  /** Q4 shape (#17g): EXISTS-driven priority census. */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame =
    Relational.lateExistsByPriority(
      Tables.orders(spark, dir), Tables.lineitem(spark, dir),
      "1998-07-01", "1998-10-01", 60)

  private val q4PriorityExistsSql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= '1998-07-01' AND o_orderdate < '1998-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** Q6 shape (#17h): scan-only banded forecast revenue — every
    * predicate reaches the parquet scan (PlanSpec pins PushedFilters). */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Relational.forecastRevenue(Tables.lineitem(spark, dir),
      "1996-01-01", "1997-01-01", 0.04, 0.06, 24.0)

  private val q6ForecastRevenueSql =
    """SELECT
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * CAST(l_discount AS DECIMAL(7,6)) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin

  /** Q8 shape (#17i): two-conditional-sum market share by year. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame =
    Relational.marketShare(
      Tables.region(spark, dir), Tables.nation(spark, dir),
      Tables.customer(spark, dir), Tables.supplier(spark, dir),
      Tables.orders(spark, dir), Tables.lineitem(spark, dir),
      Tables.part(spark, dir),
      "EUROPE", "ECONOMY", "NATION_13", "1996-01-01", "1998-01-01")

  private val q8MarketShareSql =
    """WITH vol AS (
      |  SELECT year(o_orderdate) AS o_year,
      |    CAST(CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_13'
      |      THEN CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6)))
      |      ELSE 0 END AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS share_volume,
      |    CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_volume
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
      |  GROUP BY 1)
      |SELECT o_year, share_volume, total_volume,
      |  share_volume / total_volume AS mkt_share
      |FROM vol""".stripMargin

  /** Q9 shape (#17j): profit by supplier nation and year (unit cost
    * proxied at 10% of retail — no partsupp in the schema). */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame =
    Relational.profitByNation(
      Tables.nation(spark, dir), Tables.supplier(spark, dir),
      Tables.orders(spark, dir), Tables.lineitem(spark, dir),
      Tables.part(spark, dir), "PROMO", new java.math.BigDecimal("0.10"))

  private val q9ProfitByNationSql =
    """SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |  CAST(CAST(SUM(CAST(
      |    CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6)))
      |    - CAST(p_retailprice AS DECIMAL(13,6)) * CAST(l_quantity AS DECIMAL(13,6)) * CAST(0.10 AS DECIMAL(7,6))
      |  AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** Q10 shape (#17k): top-20 customers by returned-line revenue in a
    * quarter; value-total ordering keeps the cut deterministic. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame =
    Relational.returnedItemLosses(
      Tables.nation(spark, dir), Tables.customer(spark, dir),
      Tables.orders(spark, dir), Tables.lineitem(spark, dir),
      "1997-10-01", "1998-01-01", 20)

  private val q10ReturnedItemsSql =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= '1997-10-01' AND o_orderdate < '1998-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Q15 shape (#17l): argmax-vs-global-scalar — supplier(s) at the
    * quarterly revenue maximum, ties kept. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame =
    Relational.topRevenueSupplier(
      Tables.supplier(spark, dir), Tables.lineitem(spark, dir),
      "1996-01-01", "1996-04-01")

  private val q15TopSupplierSql =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(13,6)) * (1 - CAST(l_discount AS DECIMAL(7,6))) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin

  /** Q16 shape (#17m): supplier variety per (brand, type, size) with a
    * NOT-IN deny list (negative balance ≙ complaints). */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame =
    Relational.supplierVariety(
      Tables.supplier(spark, dir), Tables.lineitem(spark, dir),
      Tables.part(spark, dir), "Brand#1")

  private val q16SupplierVarietySql =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  /** Skew report (#22h2): the measurement that picks plain vs AQE vs
    * salted join plans — see [[Skew.report]]. */
  def skewReport(spark: SparkSession, dir: String): DataFrame =
    Skew.report(Tables.lineitem(spark, dir), "l_suppkey", k = 10)

  private val skewReportSql =
    """WITH c AS (SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
      |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows FROM c),
      |r AS (SELECT l_suppkey, n,
      |        CAST(row_number() OVER (ORDER BY n DESC, l_suppkey) AS INT) AS rk
      |      FROM c)
      |SELECT rk, l_suppkey, n, s.n_keys,
      |  CAST(n AS DOUBLE) * CAST(s.n_keys AS DOUBLE)
      |    / CAST(s.n_rows AS DOUBLE) AS x_mean
      |FROM r, s WHERE rk <= 10""".stripMargin

  /** Mergeable NDV cube (#29j): per-DAY HLL sketches of the customer
    * key, merged to per-month distinct counts WITHOUT rescanning the
    * fact table — the pre-aggregated distinct-count cube a 100 TB
    * warehouse stores so any date-range NDV is a sketch union over
    * the index, not a fact scan (`approx_count_distinct` alone can't
    * do this: its per-group results don't compose across groups;
    * sketches do). Gate: the in-query tolerance flag (sketch_sound
    * pattern) — the merged estimate must land within 5% of the exact
    * month NDV, which the oracle recomputes exactly. */
  def ndvCube(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val daily = orders
      .groupBy(col("o_orderdate").as("day"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    val monthly = daily
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    exact.join(monthly, Seq("month"))
      .select(col("month"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact") * lit(0.05)).as("est_ok"))
  }

  private val ndvCubeSql =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  COUNT(DISTINCT o_custkey) AS n_exact, true AS est_ok
      |FROM orders GROUP BY 1""".stripMargin

  /** Revenue concentration (#20b): exact Gini coefficient and
    * Lorenz-tail shares over per-customer revenue. The scale problem
    * is the GLOBAL rank — a bare global row_number funnels every
    * customer through one task, so ranks come from the bucketed
    * two-pass scheme instead: fixed-width revenue buckets (the
    * quantile-cube bin discipline), per-bucket counts → cumulative
    * offsets (bucket-table-sized, broadcast), within-bucket
    * row_number + offset = exact global rank with only
    * bucket-parallel windows. Revenue stays DECIMAL through Σx and
    * Σ rank·x (long×decimal is exact); Gini
    * = (2·S1 − (n+1)·S)/(n·S) and each share are ONE division of
    * exactly-cast operands. Ranks tie-break (rev, custkey) — total
    * order, so both engines agree bit-for-bit. */
  def revenueGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("rev"))
    val ranked = Relational.bucketedGlobalRank(per, "rev", "o_custkey",
                                               bucketWidth = 50000)
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("rev")).as("s"),
                         sum(col("rev") * col("r")).as("s1"))
    val deciles = ranked.crossJoin(broadcast(tot.select(col("n"))))
      .withColumn("dec", expr("(10 * r + n - 1) div n"))
      .agg(sum(when(col("dec") === 10, col("rev"))
                 .otherwise(lit(0).cast("decimal(25,6)"))).as("top10"),
           sum(when(col("dec") <= 5, col("rev"))
                 .otherwise(lit(0).cast("decimal(25,6)"))).as("bot50"))
    tot.crossJoin(deciles)
      .select(col("n").as("n_customers"),
        col("s").cast("double").as("total_revenue"),
        ((lit(2) * col("s1") - (col("n") + 1) * col("s")).cast("double") /
          (col("n") * col("s")).cast("double")).as("gini"),
        (col("top10").cast("double") / col("s").cast("double"))
          .as("top10_share"),
        (col("bot50").cast("double") / col("s").cast("double"))
          .as("bottom50_share"))
  }

  private val revenueGiniSql =
    """WITH per AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
      |  FROM orders GROUP BY 1),
      |r AS (SELECT o_custkey, rev,
      |        row_number() OVER (ORDER BY rev, o_custkey) AS rk
      |      FROM per),
      |t AS (SELECT COUNT(*) AS n, SUM(rev) AS s, SUM(rev * rk) AS s1
      |      FROM r),
      |d AS (SELECT r.rev, (10 * r.rk + t.n - 1) // t.n AS dec
      |      FROM r, t),
      |dd AS (SELECT
      |    SUM(CASE WHEN dec = 10 THEN rev ELSE 0 END) AS top10,
      |    SUM(CASE WHEN dec <= 5 THEN rev ELSE 0 END) AS bot50
      |  FROM d)
      |SELECT t.n AS n_customers,
      |  CAST(CAST(t.s AS VARCHAR) AS DOUBLE) AS total_revenue,
      |  CAST(CAST(2 * t.s1 - (t.n + 1) * t.s AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(t.n * t.s AS VARCHAR) AS DOUBLE) AS gini,
      |  CAST(CAST(dd.top10 AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(t.s AS VARCHAR) AS DOUBLE) AS top10_share,
      |  CAST(CAST(dd.bot50 AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(t.s AS VARCHAR) AS DOUBLE) AS bottom50_share
      |FROM t, dd""".stripMargin

  /** Exact equi-depth binning (#46f): discretize order value into 10
    * equal-frequency bins — the feature-pipeline quantile transform
    * (equal-WIDTH histograms starve under skew; equi-depth bins carry
    * the same row mass by construction). Built on
    * [[Relational.bucketedGlobalRank]] at FACT grain: exact global
    * rank without a one-task window, bin = ⌈10·r/n⌉ in pure integer
    * arithmetic, per-bin bounds are exact data values (nearest-rank
    * discipline — no interpolation, nothing to drift). */
  def equiDepthBins(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice").as("v"))
    val n = v.agg(count(lit(1)).as("n"))
    Relational.bucketedGlobalRank(v, "v", "o_orderkey", bucketWidth = 50000)
      .crossJoin(broadcast(n))
      .withColumn("bin", expr("(10 * r + n - 1) div n"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
           min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  private val equiDepthBinsSql =
    """WITH r AS (
      |  SELECT o_totalprice AS v,
      |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM orders)
      |SELECT (10 * rn + n - 1) // n AS bin, COUNT(*) AS n_rows,
      |  MIN(v) AS lo, MAX(v) AS hi
      |FROM r GROUP BY 1""".stripMargin

  /** Market-basket affinity (#17q): parts bought together with exact
    * lift — the transaction-grain sibling of the text PMI gate (#38c).
    * Per-order part pairs come from the sorted-set slice explode (the
    * triangle graph's co-occurrence machinery) so each unordered pair
    * counts once; support counts and the basket total are exact
    * integers, lift = (nab·N)/(na·nb) is ONE division of two exact
    * ≤53-bit products. Top 20 by (nab DESC, pair) via
    * limit-after-sort — TakeOrdered map-side heads, no global window
    * funnel (vocab_top_words precedent). */
  def basketAffinity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val baskets = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .localCheckpoint(true) // feeds pair explode + per-part supports
    val nOrders = baskets.select(count(lit(1)).as("n_orders"))
    val partSup = baskets
      .select(explode(col("parts")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("sup"))
    // r19 batch 3 (guide §1.2 step 2): native flat pair loop — same
    // pairs in the same order as the nested transform/slice HOF it
    // replaces (ExpressionSpec pins value-identity), minus two
    // interpreted lambda layers and a slice copy per element.
    val pairSup = baskets
      .select(explode(graft.functions.GraftFunctions.orderedPairs(
        col("parts"))).as("p"))
      .groupBy(col("p.pa").as("part_a"), col("p.pb").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
    val top = pairSup
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b")).limit(20)
    top
      .join(partSup.withColumnRenamed("part", "part_a")
                   .withColumnRenamed("sup", "n_a"), "part_a")
      .join(partSup.withColumnRenamed("part", "part_b")
                   .withColumnRenamed("sup", "n_b"), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"),
              col("n_a"), col("n_b"), col("n_orders"),
              ((col("n_ab") * col("n_orders")).cast("double") /
                (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  private val basketAffinitySql =
    """WITH b AS (
      |  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_orders FROM b),
      |u AS (SELECT l_orderkey, unnest(parts) AS part FROM b),
      |ps AS (SELECT part, COUNT(*) AS sup FROM u GROUP BY 1),
      |pp AS (SELECT x.part AS part_a, y.part AS part_b, COUNT(*) AS n_ab
      |       FROM u x JOIN u y
      |         ON x.l_orderkey = y.l_orderkey AND x.part < y.part
      |       GROUP BY 1, 2),
      |top AS (SELECT part_a, part_b, n_ab FROM pp
      |        ORDER BY n_ab DESC, part_a, part_b LIMIT 20)
      |SELECT t.part_a, t.part_b, t.n_ab, a.sup AS n_a, b2.sup AS n_b,
      |  n.n_orders,
      |  CAST(t.n_ab * n.n_orders AS DOUBLE)
      |    / CAST(a.sup * b2.sup AS DOUBLE) AS lift
      |FROM top t
      |JOIN ps a ON a.part = t.part_a
      |JOIN ps b2 ON b2.part = t.part_b
      |CROSS JOIN n""".stripMargin

  /** Mergeable quantile cube (#29j2): per-DAY fixed-bin histograms of
    * order value, merged to per-month quantile estimates WITHOUT
    * rescanning the fact table — the quantile sibling of [[ndvCube]]
    * (`percentile_approx` results can't compose across groups;
    * integer bin counts can, by plain addition). The daily (day, bin,
    * count) table IS the stored index at 100 TB: any date-range
    * quantile is an integer sum over it plus one cumulative pick. 64
    * exact-integer-width bins over [0, 600000); the estimate is the
    * LOWER EDGE of the first bin whose cumulative count reaches the
    * nearest-rank target, so every emitted number is integer/rational
    * arithmetic both engines reproduce bit-for-bit. The `ok` flags are
    * invariants, not tolerances: the rank-target row lives IN the
    * picked bin, so |edge − exact| < width by construction — a false
    * flag means the cube arithmetic broke. Exact per-month
    * nearest-rank percentiles ride along (the 22y machinery), so the
    * gate also pins the estimate against the truth it approximates. */
  def quantileCube(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = 64
    val width = 9375L // 600000 / 64 — integer bin edges
    val orders = Tables.orders(spark, dir)
    val bin = least(greatest(floor(col("o_totalprice") / lit(width.toDouble)),
      lit(0.0)), lit((nb - 1).toDouble)).cast("int")
    val daily = orders
      .groupBy(col("o_orderdate").as("day"), bin.as("bin"))
      // the stored per-day cube; mx rides along (merges by max) so the
      // bin-range assumption [0, 600000) is CHECKED, not assumed — see
      // range_ok below
      .agg(count(lit(1)).as("n"), max(col("o_totalprice")).as("mx"))
    val monthly = daily
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"), col("bin"))
      .agg(sum(col("n")).as("n"), // <- the merge: integer addition
           max(col("mx")).as("mx"))
    val wcum = Window.partitionBy(col("month")).orderBy(col("bin"))
    val wall = Window.partitionBy(col("month"))
    val cum = monthly
      .withColumn("cum", sum(col("n")).over(wcum))
      .withColumn("total", sum(col("n")).over(wall))
    def est(p: Double) =
      (min(when(col("cum") >= ceil(lit(p) * col("total")), col("bin")))
        * lit(width)).cast("double")
    // range_ok pins the documented invariant: the '|edge - exact| <
    // width by construction' claim for the ok flags only holds while
    // every value lands strictly inside [0, 600000) — a value >=
    // 600000 clamps into bin 63 and could push the edge further than
    // one width from the exact rank row. Emitting the guard makes an
    // out-of-range corpus a visible false, not a silently broken
    // invariant.
    val ests = cum.groupBy(col("month"))
      .agg(est(0.5).as("p50_est"), est(0.95).as("p95_est"),
           (max(col("mx")) < lit((nb * width).toDouble)).as("range_ok"))
    val wo = Window.partitionBy(col("month"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wn = Window.partitionBy(col("month"))
    def pick(p: Double) =
      max(when(col("rn") === ceil(lit(p) * col("n")), col("o_totalprice")))
    val exact = orders
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .withColumn("rn", row_number().over(wo))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("month"))
      .agg(pick(0.5).as("p50_exact"), pick(0.95).as("p95_exact"))
    ests.join(exact, Seq("month"))
      .select(col("month"), col("p50_est"), col("p95_est"),
        col("p50_exact"), col("p95_exact"),
        (abs(col("p50_est") - col("p50_exact")) < lit(width.toDouble))
          .as("p50_ok"),
        (abs(col("p95_est") - col("p95_exact")) < lit(width.toDouble))
          .as("p95_ok"),
        col("range_ok"))
  }

  private val quantileCubeSql =
    """WITH b AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, o_totalprice,
      |    CAST(least(greatest(floor(o_totalprice / 9375.0), 0.0), 63.0) AS INTEGER) AS bin
      |  FROM orders),
      |m AS (SELECT month, bin, COUNT(*) AS n, MAX(o_totalprice) AS mx
      |  FROM b GROUP BY 1, 2),
      |c AS (SELECT month, bin, n, mx,
      |    SUM(n) OVER (PARTITION BY month ORDER BY bin) AS cum,
      |    SUM(n) OVER (PARTITION BY month) AS total
      |  FROM m),
      |e AS (SELECT month,
      |    CAST(MIN(CASE WHEN cum >= ceil(0.5 * total) THEN bin END) * 9375 AS DOUBLE) AS p50_est,
      |    CAST(MIN(CASE WHEN cum >= ceil(0.95 * total) THEN bin END) * 9375 AS DOUBLE) AS p95_est,
      |    MAX(mx) < 600000.0 AS range_ok
      |  FROM c GROUP BY 1),
      |x AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, o_totalprice,
      |    row_number() OVER (PARTITION BY strftime(o_orderdate, '%Y-%m')
      |      ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY strftime(o_orderdate, '%Y-%m')) AS n
      |  FROM orders),
      |ex AS (SELECT month,
      |    MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN o_totalprice END) AS p50_exact,
      |    MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN o_totalprice END) AS p95_exact
      |  FROM x GROUP BY 1)
      |SELECT e.month, p50_est, p95_est, p50_exact, p95_exact,
      |  abs(p50_est - p50_exact) < 9375.0 AS p50_ok,
      |  abs(p95_est - p95_exact) < 9375.0 AS p95_ok,
      |  range_ok
      |FROM e JOIN ex ON e.month = ex.month""".stripMargin

  /** Q12 dual conditional census (#17n) — see
    * [[Relational.lateLinesByPriorityClass]]. */
  def q12LateByClass(spark: SparkSession, dir: String): DataFrame =
    Relational.lateLinesByPriorityClass(
      Tables.orders(spark, dir), Tables.lineitem(spark, dir),
      "1998-01-01", "1999-01-01", 60)

  private val q12LateByClassSql =
    """SELECT l_returnflag AS line_class,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '1999-01-01'
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY 1""".stripMargin

  /** Q17 small-quantity revenue (#17o) — see
    * [[Relational.smallQuantityRevenue]]. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame =
    Relational.smallQuantityRevenue(
      Tables.part(spark, dir), Tables.lineitem(spark, dir), "Brand#1")

  private val q17SmallQtyRevenueSql =
    """WITH branded AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#1'),
      |thresh AS (
      |  SELECT l_partkey AS t_partkey,
      |    (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
      |     / COUNT(*)) * 0.2 AS qty_thresh
      |  FROM branded GROUP BY 1)
      |SELECT
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
      |    / 7.0 AS avg_yearly
      |FROM branded JOIN thresh ON l_partkey = t_partkey
      |WHERE l_quantity < qty_thresh""".stripMargin

  /** Q20 dominant suppliers (#17p) — see
    * [[Relational.dominantSuppliers]]. */
  def q20DominantSuppliers(spark: SparkSession, dir: String): DataFrame =
    Relational.dominantSuppliers(
      Tables.nation(spark, dir), Tables.supplier(spark, dir),
      Tables.part(spark, dir), Tables.lineitem(spark, dir),
      "small", "NATION_3", "1998-01-01", "1999-01-01", 1, 2)

  private val q20DominantSuppliersSql =
    """WITH pf AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
      |sh AS (SELECT l_partkey, l_suppkey,
      |         SUM(CAST(l_quantity AS DECIMAL(25,6))) AS supp_qty
      |       FROM lineitem JOIN pf ON l_partkey = p_partkey
      |       WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '1999-01-01'
      |       GROUP BY 1, 2),
      |pt AS (SELECT l_partkey AS q_partkey, SUM(supp_qty) AS part_qty
      |       FROM sh GROUP BY 1)
      |SELECT s_suppkey, s_name FROM supplier
      |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
      |                      WHERE n_name = 'NATION_3')
      |  AND s_suppkey IN (SELECT l_suppkey FROM sh
      |                    JOIN pt ON l_partkey = q_partkey
      |                    WHERE supp_qty * 2 > part_qty * 1)""".stripMargin

  // ------------------------------ count-min sketch (#38e)

  /** Count-min point estimates vs exact counts (#38e): sketch the full
    * token stream into a 4×512 counter table (ONE bounded partial-agg
    * shuffle), then probe the 20 most frequent words and report exact
    * vs estimate. CM is a deterministic function of the data (md5-slice
    * hash rows), so DuckDB recomputes table, probe, AND min exactly —
    * including the never-underestimates invariant the last column
    * asserts. */
  def cmSketchCounts(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
    val table = CountMin.buildTable(toks, "word", depth = 4, width = 512)
    val exact = toks.groupBy(col("word")).agg(count(lit(1)).as("n_exact"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_exact").desc, col("word"))
    val top = exact.orderBy(col("n_exact").desc, col("word")).limit(20)
      .withColumn("rank", row_number().over(w))
    CountMin.estimate(table, top, "word", depth = 4, width = 512)
      .join(top, "word")
      .select(col("rank"), col("word"), col("n_exact"), col("cm_estimate"),
        (col("cm_estimate") >= col("n_exact")).as("never_underestimates"))
  }

  private val cmSketchCountsSql =
    """WITH toks AS (SELECT t.w AS word
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      |  WHERE length(t.w) > 0),
      |bkt AS (SELECT word, r.r AS row,
      |    CAST(((strpos('0123456789abcdef', substr(md5(word), r.r*8 + 1, 1)) - 1) * 4096
      |      + (strpos('0123456789abcdef', substr(md5(word), r.r*8 + 2, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substr(md5(word), r.r*8 + 3, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(md5(word), r.r*8 + 4, 1)) - 1)) % 512 AS INTEGER) AS bucket
      |  FROM toks, UNNEST([0, 1, 2, 3]) AS r(r)),
      |cm AS (SELECT row, bucket, COUNT(*) AS c FROM bkt GROUP BY 1, 2),
      |exact AS (SELECT word, COUNT(*) AS n_exact FROM toks GROUP BY 1),
      |top AS (SELECT word, n_exact,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_exact DESC, word) AS INTEGER) AS rank
      |  FROM exact ORDER BY n_exact DESC, word LIMIT 20),
      |probe AS (SELECT t.word, r.r AS row,
      |    CAST(((strpos('0123456789abcdef', substr(md5(t.word), r.r*8 + 1, 1)) - 1) * 4096
      |      + (strpos('0123456789abcdef', substr(md5(t.word), r.r*8 + 2, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substr(md5(t.word), r.r*8 + 3, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(md5(t.word), r.r*8 + 4, 1)) - 1)) % 512 AS INTEGER) AS bucket
      |  FROM top t, UNNEST([0, 1, 2, 3]) AS r(r)),
      |est AS (SELECT p.word, MIN(COALESCE(cm.c, 0)) AS cm_estimate
      |  FROM probe p LEFT JOIN cm ON p.row = cm.row AND p.bucket = cm.bucket
      |  GROUP BY 1)
      |SELECT t.rank, t.word, t.n_exact, e.cm_estimate,
      |  e.cm_estimate >= t.n_exact AS never_underestimates
      |FROM est e JOIN top t ON e.word = t.word""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Seq[Query] = Seq(
    Query("pipeline_material_demand", pipelineMaterialDemand, Oracle(pipelineMaterialDemandSql)),
    Query("scan_project", scanProject, Oracle(scanProjectSql)),
    Query("scan_incremental", scanIncremental, Oracle(scanIncrementalSql)),
    Query("derive_recipe", deriveRecipe, Oracle(deriveRecipeSql)),
    Query("agg_groupby_sum", aggGroupbySum, Oracle(aggGroupbySumSql)),
    Query("unpivot_melt", unpivotMelt, Oracle(unpivotMeltSql)),
    Query("cdc_latest_per_key", cdcLatestPerKey, Oracle(cdcLatestPerKeySql)),
    Query("cdc_merge_apply", cdcMergeApply, Oracle(cdcMergeApplySql)),
    Query("upsert_on_conflict", upsertOnConflict, Oracle(upsertOnConflictSql)),
    Query("partition_layout", partitionLayout, Oracle(partitionLayoutSql)),
    Query("q1_pricing_summary", q1PricingSummary, Oracle(q1PricingSummarySql)),
    Query("q3_shipping_priority", q3ShippingPriority, Oracle(q3ShippingPrioritySql)),
    Query("q5_local_volume", q5LocalVolume, Oracle(q5LocalVolumeSql)),
    Query("topk_orders_per_cust", topkOrdersPerCust, Oracle(topkOrdersPerCustSql)),
    Query("orders_wo_lineitems", ordersWoLineitems, Oracle(ordersWoLineitemsSql)),
    Query("rollup_volume", rollupVolume, Oracle(rollupVolumeSql)),
    Query("events_hourly", eventsHourly, Oracle(eventsHourlySql)),
    Query("events_sessionize", eventsSessionize, Oracle(eventsSessionizeSql)),
    Query("events_json_extract", eventsJsonExtract, Oracle(eventsJsonExtractSql)),
    Query("promo_revenue", promoRevenue, Oracle(promoRevenueSql)),
    Query("sql_material_demand", sqlMaterialDemand, Oracle(sqlMaterialDemandSql)),
    Query("distinct_agg", distinctAgg, Oracle(distinctAggSql)),
    Query("having_big_spenders", havingBigSpenders, Oracle(havingBigSpendersSql)),
    Query("running_total", runningTotal, Oracle(runningTotalSql)),
    Query("sketch_stats", sketchStats, GatedBy("sketch_sound")),
    Query("sketch_sound", sketchSound, Oracle(sketchSoundSql)),
    Query("pivot_material", pivotMaterial, Oracle(pivotMaterialSql)),
    Query("setops_suppliers", setOpsSuppliers, Oracle(setOpsSuppliersSql)),
    Query("bloom_semi_join", bloomSemiJoinUrgent, Oracle(bloomSemiJoinUrgentSql)),
    Query("scd2_dimension", scd2Dimension, Oracle(scd2DimensionSql)),
    Query("rolling_7d_revenue", rolling7dRevenue, Oracle(rolling7dRevenueSql)),
    Query("events_json_struct", eventsJsonStruct, Oracle(eventsJsonStructSql)),
    Query("q7_nation_trade", q7NationTrade, Oracle(q7NationTradeSql)),
    Query("above_group_avg", aboveGroupAvg, Oracle(aboveGroupAvgSql)),
    Query("window_rank_stats", windowRankStats, Oracle(windowRankStatsSql)),
    Query("order_gap_days", orderGapDays, Oracle(orderGapDaysSql)),
    Query("cube_volume", cubeVolume, Oracle(cubeVolumeSql)),
    Query("median_price", medianPrice, Oracle(medianPriceSql)),
    Query("events_compact_changes", eventsCompactChanges, Oracle(eventsCompactChangesSql)),
    Query("event_transitions", eventTransitions, Oracle(eventTransitionsSql)),
    Query("retention_cohorts", retentionCohorts, Oracle(retentionCohortsSql)),
    Query("value_percentiles_by_type", valuePercentilesByType, Oracle(valuePercentilesByTypeSql)),
    Query("clip_outliers", clipOutliers, Oracle(clipOutliersSql)),
    Query("ndv_cube", ndvCube, Oracle(ndvCubeSql)),
    Query("quantile_cube", quantileCube, Oracle(quantileCubeSql)),
    Query("skew_report", skewReport, Oracle(skewReportSql)),
    Query("cm_sketch_counts", cmSketchCounts, Oracle(cmSketchCountsSql)),
    Query("profile_columns_approx", profileColumnsApprox, Oracle(profileColumnsApproxSql)),
    Query("profile_columns", profileColumns, Oracle(profileColumnsSql)),
    Query("dq_checks", dqChecks, Oracle(dqChecksSql)),
    Query("funnel_conversion", funnelConversion, Oracle(funnelConversionSql)),
    Query("min_cost_supplier", minCostSupplier, Oracle(minCostSupplierSql)),
    Query("important_parts", importantParts, Oracle(importantPartsSql)),
    Query("order_count_distribution", orderCountDistribution, Oracle(orderCountDistributionSql)),
    Query("idle_rich_customers", idleRichCustomers, Oracle(idleRichCustomersSql)),
    Query("grouping_sets_volume", groupingSetsVolume, Oracle(groupingSetsVolumeSql)),
    Query("late_shippers", lateShippers, Oracle(lateShippersSql)),
    Query("basket_affinity", basketAffinity, Oracle(basketAffinitySql)),
    Query("revenue_gini", revenueGini, Oracle(revenueGiniSql)),
    Query("funnel_steps", funnelSteps, Oracle(funnelStepsSql)),
    Query("equi_depth_bins", equiDepthBins, Oracle(equiDepthBinsSql)),
    Query("mode_per_group", modePerGroup, Oracle(modePerGroupSql)),
    Query("q19_band_revenue", q19BandRevenue, Oracle(q19BandRevenueSql)),
    Query("q4_priority_exists", q4PriorityExists, Oracle(q4PriorityExistsSql)),
    Query("q6_forecast_revenue", q6ForecastRevenue, Oracle(q6ForecastRevenueSql)),
    Query("q8_market_share", q8MarketShare, Oracle(q8MarketShareSql)),
    Query("q9_profit_by_nation", q9ProfitByNation, Oracle(q9ProfitByNationSql)),
    Query("q10_returned_items", q10ReturnedItems, Oracle(q10ReturnedItemsSql)),
    Query("q15_top_supplier", q15TopSupplier, Oracle(q15TopSupplierSql)),
    Query("q16_supplier_variety", q16SupplierVariety, Oracle(q16SupplierVarietySql)),
    Query("q12_late_by_class", q12LateByClass, Oracle(q12LateByClassSql)),
    Query("q17_small_qty_revenue", q17SmallQtyRevenue, Oracle(q17SmallQtyRevenueSql)),
    Query("q20_dominant_suppliers", q20DominantSuppliers, Oracle(q20DominantSuppliersSql))
  )
}
