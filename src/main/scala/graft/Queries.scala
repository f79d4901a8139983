package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.TextFunctions

/** Registry of every operator's runnable query + its DuckDB oracle.
  *
  * Conventions (hash-stability against the driver's DuckDB compare):
  *  - identical column names on both sides;
  *  - additive float aggs go through DECIMAL (order-independent sums)
  *    and are cast to DOUBLE at the end (both engines produce the same
  *    IEEE double from the same exact decimal);
  *  - timestamps → DATE where the op is date-grained.
  */
object Queries {

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

  /** BM25 keyword retrieval (#39a): top-10 docs for a literal query
    * term set — the retrieval step of curation workflows (find docs
    * like the benchmark, audit a topic's coverage). tf and df from one
    * explode each (df is |terms| rows → broadcast); the score keeps
    * BM25's tf-saturation and length normalization but swaps ln-idf
    * for the rational (N - df + 0.5)/(df + 0.5) — tfidf_top_term
    * precedent: transcendental functions differ across engines in the
    * last ulp, rational arithmetic does not, and the ranking is
    * preserved (the surrogate is a monotone transform of Robertson
    * idf). Only docs containing ≥1 term reach the final top-k window. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25DirectTopK(Tables.documents(spark, dir),
      Seq("spark", "window", "merge"), 10)

  /** Direct (index-free) BM25 top-k over (doc_id, text) rows — the
    * computation [[bm25Search]] registers, reusable as the
    * independent recompute other gates verify index probes against. */
  private[graft] def bm25DirectTopK(docsText: DataFrame, terms: Seq[String],
                                    k: Int): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val docs = docsText.select(col("doc_id"),
      split(TextFunctions.normalize(col("text")), " ").as("toks"))
    // avgdl as exact-integer sum / count, NOT avg(): an engine's AVG
    // may accumulate incrementally and land one ulp off sum/count;
    // the integer token-count sum is exact at any scale, so this
    // division is the same double everywhere
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(size(col("toks"))).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    val toks = docs.select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .where(col("term").isInCollection(terms))
    val df = toks.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perTerm = toks.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(df), "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("s", col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) *
          (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    // per-term scores summed in FIXED term order via pivot — a float
    // sum whose addition order no engine or partitioning can change,
    // so the score (and therefore the ranking) is bit-exact without
    // routing messy doubles through a tie-prone decimal cast
    val scored = perTerm.groupBy(col("doc_id"))
      .pivot("term", terms).agg(first(col("s")))
      .select(col("doc_id"),
        terms.map(t => coalesce(col(t), lit(0.0)))
          .reduceLeft(_ + _).as("score"))
    // limit BEFORE the window (vocab_top_words discipline): matched
    // docs are corpus-scale on common terms, and a bare global window
    // would funnel them through ONE task; TakeOrdered's map-side heads
    // do the top-k in parallel and the window then only numbers the
    // 10 survivors. Total order (score DESC, doc_id) → identical rows.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  private val bm25SearchSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |st AS (SELECT COUNT(*) AS n_docs,
      |       CAST(SUM(len(toks)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM d),
      |tk AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
      |ft AS (SELECT * FROM tk WHERE term IN ('spark', 'window', 'merge')),
      |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM ft GROUP BY 1),
      |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM ft GROUP BY 1, 2, 3),
      |s AS (SELECT doc_id, term,
      |    -- e0 suffixes force DOUBLE literals: DuckDB parses bare 2.2
      |    -- as DECIMAL and keeps tf*2.2 exact, which lands one ulp off
      |    -- Spark's long*double at the final rounding
      |    ((CAST(n_docs AS DOUBLE) - df + 0.5e0) / (CAST(df AS DOUBLE) + 0.5e0))
      |    * (tf * 2.2e0)
      |    / (tf + 1.2e0 * (0.25e0 + 0.75e0 * CAST(dl AS DOUBLE) / avgdl)) AS sc
      |  FROM tf JOIN df USING (term), st),
      |p AS (SELECT doc_id,
      |    COALESCE(MAX(CASE WHEN term = 'spark' THEN sc END), 0.0e0)
      |  + COALESCE(MAX(CASE WHEN term = 'window' THEN sc END), 0.0e0)
      |  + COALESCE(MAX(CASE WHEN term = 'merge' THEN sc END), 0.0e0) AS score
      |  FROM s GROUP BY doc_id)
      |SELECT doc_id, score,
      |  row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      |FROM p QUALIFY rk <= 10""".stripMargin

  /** Hybrid retrieval via reciprocal-rank fusion (#39b): the lexical
    * BM25 top-10 and a dense cosine top-20 (query = doc 0's embedding
    * against the aligned embedding table), fused by
    * [[Similarity.rrfFuse]] — score(d) = 1/(60+rk_bm25) +
    * 1/(60+rk_dense), absent-list contributions 0, fixed addition
    * order. Rank reciprocals are rational (integer + integer → one
    * IEEE division), so the fused score itself hash-matches; the
    * heavy work happened in the retrievers and the fusion joins only
    * top-k heads. This is the retrieval front-end of RAG-style data
    * curation: lexical recall ∪ semantic recall, no score
    * calibration needed across the two. */
  def hybridSearchRrf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dense = Similarity.bruteForceTopK(
        graft.plans.Bounds.declare(
          emb.where(col("vec_id") === 0), 1, "rrf dense query: vec_id=0 unique"), emb, 20)
      .select(col("neighbor_id").as("doc_id"), col("rk"))
    val lexical = bm25Search(spark, dir).select(col("doc_id"), col("rk"))
    Similarity.rrfFuse(Seq(lexical, dense), "doc_id", "rk",
      kRrf = 60, topK = 10)
  }

  private val hybridSearchRrfSql =
    s"""WITH bm AS ($bm25SearchSql),
       |dense AS (
       |  SELECT neighbor_id AS doc_id, rk FROM (
       |    SELECT c.vec_id AS neighbor_id,
       |      row_number() OVER (
       |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
       |                 c.vec_id) AS rk
       |    FROM embeddings q, embeddings c WHERE q.vec_id = 0) t
       |  WHERE rk <= 20),
       |f AS (SELECT COALESCE(bm.doc_id, dense.doc_id) AS doc_id,
       |    COALESCE(1.0e0 / (60 + bm.rk), 0.0e0)
       |  + COALESCE(1.0e0 / (60 + dense.rk), 0.0e0) AS rrf_score
       |  FROM bm FULL OUTER JOIN dense ON bm.doc_id = dense.doc_id)
       |SELECT doc_id, rrf_score,
       |  row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rk
       |FROM f QUALIFY rk <= 10""".stripMargin

  // ------------------------------------------- text analysis (#30-33)

  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).as("n_ws_tokens"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  private val textTokenCountSql =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens
      |FROM documents""".stripMargin

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))

  private val textLangIdSql =
    """SELECT doc_id,
      |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
      |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_es >= s_fr THEN 'es'
      |       ELSE 'fr' END AS lang_pred
      |FROM (SELECT doc_id, text,
      |  len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS s_en,
      |  len(regexp_extract_all(lower(text), '\b(der|und|die|das|ist)\b')) AS s_de,
      |  len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
      |  len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr
      |FROM documents) t""".stripMargin

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
      TextFunctions.qualityScore(col("text")).as("quality"))

  private val textQualitySql =
    """SELECT doc_id, alpha_ratio, punct_ratio, stopword_ratio,
      |  alpha_ratio * 0.5 + stopword_ratio * 0.3 + (1.0 - punct_ratio) * 0.2 AS quality
      |FROM (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS stopword_ratio
      |FROM documents) t""".stripMargin

  /** Language-ID confusion matrix (#30a): predicted vs labeled lang
    * counts — the eval grid for the heuristic classifier (row 30), run
    * as a query so classifier drift shows up in the correctness gate,
    * not just in aggregate accuracy. One scan + a tiny groupBy. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  private val langConfusionSql =
    """WITH p AS (SELECT lang,
      |  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
      |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_es >= s_fr THEN 'es'
      |       ELSE 'fr' END AS lang_pred
      |FROM (SELECT lang, text,
      |  len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS s_en,
      |  len(regexp_extract_all(lower(text), '\b(der|und|die|das|ist)\b')) AS s_de,
      |  len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
      |  len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr
      |FROM documents) t)
      |SELECT lang, lang_pred, COUNT(*) AS n_docs FROM p GROUP BY 1, 2""".stripMargin

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))

  private val textFingerprintSql =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  /** Gopher quality gate (#31c): the published rule-based document
    * filter (Rae et al. 2021 §A.1.1), computed entirely per-row — the
    * canonical pre-LLM-training cut that runs BEFORE any learned
    * classifier. Signals over whitespace tokens: word count bounds,
    * mean word length bounds, distinct-Gopher-stopword floor (the
    * published rule wants ≥2 of the 8; this corpus draws from a
    * ~60-word vocabulary where at most one of them occurs per doc, so
    * the floor is scaled to ≥1 — at the published floor the flag
    * would be constant-False and gate nothing), fraction of words
    * containing an alphabetic character, and the repetition
    * rule expressed as max char coverage by any single bigram
    * (`max_g count(g)·len(g) / len(text)` — the max-of-integers form
    * needs no tie-break on equal-count bigrams, so it is
    * deterministic where "fraction of chars in THE most frequent
    * n-gram" is not). The published line-level rules (bullet/ellipsis
    * line fractions, #-symbol ratio) are identically zero on this
    * corpus (no newlines, no symbols) and are omitted rather than
    * hashed as constants.
    *
    * Scale shape: ONE scan, zero shuffle — every signal is an HOF
    * over the row's own token array (the bigram coverage is O(n²)
    * lambda work per row, n≈40 here; per-row cost is corpus-length
    * independent). All keep-flag arithmetic is integer counts and
    * single IEEE divisions, so the booleans are engine-exact. */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
    val nAlpha = size(filter(toks, w => w.rlike("[A-Za-z]")))
    val stopSet = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = size(array_distinct(filter(toks, w => w.isInCollection(stopSet))))
    val grams = when(nWords >= 2,
        transform(sequence(lit(1), nWords - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val bestCover = coalesce(
      aggregate(array_distinct(grams), lit(0L),
        (acc, g) => greatest(acc,
          size(filter(grams, x => x === g)).cast("long") * length(g))),
      lit(0L))
    Tables.documents(spark, dir).select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        (sumLen.cast("double") / nWords.cast("double")).as("mean_word_len"),
        (nAlpha.cast("double") / nWords.cast("double")).as("alpha_word_frac"),
        nStop.cast("long").as("n_stop_present"),
        (bestCover.cast("double") / length(col("text")).cast("double"))
          .as("top_bigram_char_frac"))
      .withColumn("keep",
        col("n_words").between(30, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("n_stop_present") >= 1 &&
        col("alpha_word_frac") >= 0.8 &&
        col("top_bigram_char_frac") <= 0.2)
  }

  private val gopherQualitySql =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id,
      |    CASE WHEN len(toks) >= 2 THEN list_transform(
      |        generate_series(1, len(toks) - 1),
      |        i -> array_to_string(toks[i:i+1], ' '))
      |      ELSE [] END AS grams
      |  FROM t),
      |s AS (SELECT t.doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE) AS mean_word_len,
      |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE) AS alpha_word_frac,
      |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      |        sw -> list_contains(toks, sw))) AS BIGINT) AS n_stop_present,
      |    CAST(COALESCE(list_max(list_transform(list_distinct(grams),
      |        d -> len(list_filter(grams, x -> x = d)) * length(d))), 0) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS top_bigram_char_frac
      |  FROM t JOIN g ON t.doc_id = g.doc_id)
      |SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
      |  n_stop_present, top_bigram_char_frac,
      |  (n_words BETWEEN 30 AND 100000)
      |    AND (mean_word_len BETWEEN 3.0e0 AND 10.0e0)
      |    AND n_stop_present >= 1
      |    AND alpha_word_frac >= 0.8e0
      |    AND top_bigram_char_frac <= 0.2e0 AS keep
      |FROM s""".stripMargin

  // --------------------- C4 blocklist gate (#31d, graft_multi_match)

  /** The blocklist gate's lexicon: a bounded literal list (the C4
    * "bad words" shape — Raffel et al. 2020 §2.2 drop any doc whose
    * text contains a curated lexicon entry). Mixed by construction:
    * present phrases, absent words (`crash`, `leak` — the automaton
    * must not phantom-match), and the self-overlapping `"a a"` whose
    * position-count differs from non-overlapping `replace()`
    * arithmetic — the oracle's generate_series formulation counts
    * POSITIONS, pinning the overlap semantics independently. */
  private[graft] val BlocklistLexicon = Seq(
    "slow merge", "crash", "a a", "leak", "slow scan", "big batch",
    "spark window")

  /** C4-style blocklist filter (#31d): one Aho-Corasick pass tags
    * every doc with its lexicon hit count and matched entries; docs
    * with zero hits are `kept`. The composed alternative — one
    * `contains()` column per entry — rescans each text P times, so a
    * several-hundred-entry production lexicon pays O(P·n) per doc;
    * the automaton pays O(n + matches) regardless of P
    * ([[graft.functions.expressions.MultiPatternHits]]). Narrow
    * projection, zero shuffle, stays inside WholeStageCodegen. */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val hits = graft.functions.GraftFunctions.multiMatch(
      col("text"), BlocklistLexicon)
    Tables.documents(spark, dir)
      .select(col("doc_id"), hits.as("h"))
      .select(
        col("doc_id"),
        coalesce(aggregate(col("h"), lit(0L),
          (acc, x) => acc + x.getField("hits")), lit(0L)).as("n_hits"),
        array_join(transform(col("h"), x => x.getField("pattern")), ",")
          .as("matched"),
        (size(col("h")) === 0).as("kept"))
  }

  private val blocklistFilterSql =
    """WITH w(w, ord) AS (VALUES ('slow merge', 1), ('crash', 2),
      |    ('a a', 3), ('leak', 4), ('slow scan', 5), ('big batch', 6),
      |    ('spark window', 7)),
      |hits AS (SELECT d.doc_id, w.ord, w.w, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents d, w,
      |    UNNEST(generate_series(1, len(d.text) - len(w.w) + 1)) AS s(i)
      |  WHERE substr(d.text, CAST(i AS INTEGER), len(w.w)) = w.w
      |  GROUP BY 1, 2, 3),
      |ag AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_hits,
      |    string_agg(w, ',' ORDER BY ord) AS matched
      |  FROM hits GROUP BY 1)
      |SELECT d.doc_id, COALESCE(a.n_hits, 0) AS n_hits,
      |  COALESCE(a.matched, '') AS matched,
      |  a.doc_id IS NULL AS kept
      |FROM documents d LEFT JOIN ag a ON d.doc_id = a.doc_id""".stripMargin

  // ------------------------------------------------- dedup/ANN (#23-29)

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")

  private val dedupExactSql =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |  min(doc_id) AS keeper_id, count(*) AS n_docs
      |FROM documents GROUP BY 1""".stripMargin

  /** Best-representative dedup (#23e): keep the HIGHEST-QUALITY doc
    * of each exact-dup cluster instead of the lowest id — the actual
    * curation choice (crawl dups differ in surrounding boilerplate
    * upstream of normalization; production pipelines keep the best
    * variant, not the first seen). One window shuffle on the
    * fingerprint; quality ties (identical normalized text usually
    * means identical score) break to the smallest id, keeping the
    * keeper deterministic and engine-portable. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("q").desc, col("doc_id"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.qualityScore(col("text")).as("q"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(wn))
      .where(col("rn") === 1)
      .select(col("fp"), col("doc_id").as("keeper_id"),
        col("q").as("keeper_quality"), col("n_docs"))
  }

  private val dedupKeepBestSql =
    """WITH d AS (SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) * 0.5
      |    + CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |      / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) * 0.3
      |    + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2 AS q
      |  FROM documents),
      |r AS (SELECT doc_id, fp, q,
      |    row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY fp) AS n_docs
      |  FROM d)
      |SELECT fp, doc_id AS keeper_id, q AS keeper_quality, n_docs
      |FROM r WHERE rn = 1""".stripMargin

  def dedupMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text")

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** SimHash driver gate (#25): the pigeonhole chunk join + exact
    * hamming verify run on PLANTED signatures built from doc_id with
    * pure 64-bit arithmetic. The production signature (SimHash64 over
    * xxhash64 token hashes) has no DuckDB twin, but the planted table
    * is bit-exactly recomputable in SQL, so the oracle checks the
    * candidate machinery end-to-end against an EXHAUSTIVE all-pairs
    * hamming scan. Construction: 41 base signatures (4 chunk values
    * from co-prime multipliers, summing to <= Long.Max by design),
    * then copy j of a group flips (j%4) distinct low-60 bit positions
    * — so within-group hamming spans 0..6 and the <=3 cut exercises
    * both accept and reject paths; maxHamming=3 with 4 chunks is the
    * pigeonhole-COMPLETE regime, recall must be exactly 1.0.
    *
    * Bounded to doc_id < 600 like its minhash/embedding siblings: the
    * gate proves MACHINERY, and the planted construction's pair count
    * grows quadratically with corpus size (at the 100× derived set the
    * unbounded form emits ~10⁹ pairs and its exhaustive all-pairs
    * DuckDB oracle stops terminating) — the bound keeps the gate
    * runnable at every scale the driver and the scale harness use,
    * with the planted structure (41 bases × flip cycle) fully
    * exercised within the first 600 ids. */
  def dedupSimhashSound(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir)
      .where(col("doc_id") < 600).selectExpr(
      "doc_id AS id",
      """( (doc_id % 41) * 9973 % 65536
        |+ (doc_id % 41) * 28513 % 65536 * 65536
        |+ (doc_id % 41) * 49939 % 65536 * 4294967296
        |+ (doc_id % 41) * 58631 % 32768 * 281474976710656 )
        |^ (CASE WHEN (doc_id div 41) % 4 > 0
        |     THEN shiftleft(1L, CAST(((doc_id div 41) * 4 + 0) % 60 AS INT)) ELSE 0L END)
        |^ (CASE WHEN (doc_id div 41) % 4 > 1
        |     THEN shiftleft(1L, CAST(((doc_id div 41) * 4 + 1) % 60 AS INT)) ELSE 0L END)
        |^ (CASE WHEN (doc_id div 41) % 4 > 2
        |     THEN shiftleft(1L, CAST(((doc_id div 41) * 4 + 2) % 60 AS INT)) ELSE 0L END)
        |AS simhash""".stripMargin)
    Dedup.simhashPairsFromSigs(planted, maxHamming = 3)
  }

  private val dedupSimhashSoundSql =
    """WITH s AS (
      |  SELECT doc_id,
      |    xor(xor(xor(
      |      (doc_id % 41) * 9973 % 65536
      |      + (doc_id % 41) * 28513 % 65536 * 65536
      |      + (doc_id % 41) * 49939 % 65536 * 4294967296
      |      + (doc_id % 41) * 58631 % 32768 * 281474976710656,
      |      CASE WHEN (doc_id // 41) % 4 > 0
      |        THEN 1::BIGINT << (((doc_id // 41) * 4 + 0) % 60) ELSE 0 END),
      |      CASE WHEN (doc_id // 41) % 4 > 1
      |        THEN 1::BIGINT << (((doc_id // 41) * 4 + 1) % 60) ELSE 0 END),
      |      CASE WHEN (doc_id // 41) % 4 > 2
      |        THEN 1::BIGINT << (((doc_id // 41) * 4 + 2) % 60) ELSE 0 END) AS simhash
      |  FROM documents WHERE doc_id < 600)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(Tables.embeddings(spark, dir), "vec_id", "embedding")

  /** The ANN queries' declared in-plan bound (r15 ADVICE): the
    * key-range filter assumes one row per vec_id, so `vec_id < n`
    * yields ≤ n rows. The former raw `.limit(n)` would silently (and
    * nondeterministically) truncate if that uniqueness ever broke — a
    * silent divergence from the DuckDB oracles, which carry no limit.
    * [[graft.plans.Bounds.declare]] keeps the bound readable by
    * PlanLint's classifier AND raises loudly on a broken assumption. */
  private def annQueries(emb: DataFrame, n: Int): DataFrame =
    graft.plans.Bounds.declare(emb.where(col("vec_id") < n), n,
      s"ann query set: vec_id < $n assumed unique")

  def annBruteforceTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(annQueries(emb, 10), emb, 5)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** ids-only oracle: cosine ranking recomputed by DuckDB's
    * list_cosine_similarity; both engines accumulate in doubles in
    * array order, and ties break on neighbor_id. */
  private val annBruteforceTopkSql =
    """SELECT query_id, neighbor_id, rk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
      |               c.vec_id) AS rk
      |  FROM embeddings q, embeddings c WHERE q.vec_id < 10) t
      |WHERE rk <= 5""".stripMargin

  /** Hard-negative mining (#28a): 8 most-similar different-label
    * items per anchor — see [[Similarity.hardNegatives]]. */
  def annHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(annQueries(emb, 10), emb,
                             "label", k = 8)
  }

  private val annHardNegativesSql =
    """SELECT query_id, qlabel, neighbor_id, nlabel, rk FROM (
      |  SELECT q.vec_id AS query_id, q.label AS qlabel,
      |    c.vec_id AS neighbor_id, c.label AS nlabel,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
      |               c.vec_id) AS rk
      |  FROM embeddings q, embeddings c
      |  WHERE q.vec_id < 10 AND q.label <> c.label) t
      |WHERE rk <= 8""".stripMargin

  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(annQueries(emb, 10), emb, 5)
  }

  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(spark, annQueries(emb, 10), emb, 5)
  }

  // -------------------------- LSH-family driver gates (soundness+completeness)

  /** MinHash-LSH driver gate (#24): the SAME minhashPairs code path at
    * recall-saturating banding — 32 hashes in 16 bands of 2, per-pair
    * miss probability (1-j²)¹⁶ < 4e-8 at the testdata's j ≥ 0.8
    * near-dup floor — so the emitted pairs equal the EXHAUSTIVE set of
    * shingle-jaccard ≥ 0.5 pairs, which DuckDB recomputes from shingle
    * strings (hash-set jaccard == string-set jaccard modulo 64-bit
    * collisions; background pairs top out at j ≈ 0.14, so the 0.5
    * threshold sits in a wide gap). Bounded to doc_id < 600 so the
    * all-pairs oracle and the 10×/30× bench stay cheap; at the
    * driver's sf0.01 gate the bound covers the whole table. */
  def dedupMinhashSound(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir).where(col("doc_id") < 600),
      "doc_id", "text", n = 3, numHashes = 32, bands = 16, tau = 0.5)

  private val dedupMinhashSoundSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents WHERE doc_id < 600),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
      |      i -> array_to_string([toks[least(i, len(toks))], toks[least(i+1, len(toks))],
      |                            toks[least(i+2, len(toks))]], ' '))) AS sh
      |  FROM t),
      |c AS (SELECT doc_id, len(sh) AS n FROM s),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |m AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |  CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
      |FROM m JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db
      |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= 0.5""".stripMargin

  /** Cross-corpus dedup driver gate (#24a): minhashPairsAcross at the
    * same recall-saturating banding as dedup_minhash_sound, with the
    * corpus split on doc_id parity (A = even, B = odd — interleaves
    * the testdata's dup clusters so cross pairs exist). Emitted pairs
    * equal the EXHAUSTIVE set of cross-parity shingle-jaccard ≥ 0.5
    * pairs, which DuckDB recomputes from shingle strings. */
  def dedupCrossCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 600)
    Dedup.minhashPairsAcross(
      docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", n = 3, numHashes = 32, bands = 16, tau = 0.5)
  }

  private val dedupCrossCorpusSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents WHERE doc_id < 600),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1),
      |      i -> array_to_string([toks[least(i, len(toks))], toks[least(i+1, len(toks))],
      |                            toks[least(i+2, len(toks))]], ' '))) AS sh
      |  FROM t),
      |c AS (SELECT doc_id, len(sh) AS n FROM s),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |m AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |      FROM e a JOIN e b ON a.g = b.g
      |      AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      |      GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |  CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
      |FROM m JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db
      |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= 0.5""".stripMargin

  /** Embedding-cosine driver gate (#27): embeddingCosinePairs at
    * recall-saturating banding (64 sign bits in 32 bands of 2 — miss
    * < 1e-7 per pair at cos 0.4), so the output equals the exhaustive
    * cos ≥ 0.4 pair set, recomputed by DuckDB's
    * list_cosine_similarity. Ids only: both engines agree on every
    * cosine comparison, not necessarily on the ratio's last bit.
    * vec_id < 600 keeps the oracle and the scaled bench bounded; at
    * the sf0.01 gate it covers the whole table. */
  def dedupEmbeddingSound(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(
      Tables.embeddings(spark, dir).where(col("vec_id") < 600),
      "vec_id", "embedding", tau = 0.4, bands = 32, rows = 2)
      .select(col("id_a"), col("id_b"))

  private val dedupEmbeddingSoundSql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE a.vec_id < 600 AND b.vec_id < 600
      |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin

  /** Cross-corpus embedding dedup gate (#27a): embeddingCosinePairsAcross
    * at the sound gate's saturating banding, parity-split on vec_id.
    * Ids only, like dedup_embedding_sound — both engines agree on
    * every cosine COMPARISON, not necessarily the ratio's last bit. */
  def dedupEmbeddingCross(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).where(col("vec_id") < 600)
    Dedup.embeddingCosinePairsAcross(
      emb.where(col("vec_id") % 2 === 0),
      emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", tau = 0.4, bands = 32, rows = 2)
      .select(col("id_a"), col("id_b"))
  }

  private val dedupEmbeddingCrossSql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a JOIN embeddings b
      |ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
      |WHERE a.vec_id < 600 AND b.vec_id < 600
      |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin

  /** IVF lossless-plumbing gate (#29a): nprobe = cells probes every
    * cell, so IVF must reproduce brute force EXACTLY — any row lost in
    * the assignment/probe plumbing breaks the hash match. Oracle = the
    * same exhaustive ranking as ann_bruteforce_topk. */
  def annIvfFull(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(spark, annQueries(emb, 10), emb, 5,
      cells = 16, nprobe = 16)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** IVF recall gate at REALISTIC probe widths (#29a): `ann_ivf_full`
    * proves the plumbing lossless at nprobe = cells, but the number a
    * user of the fast path must know is what nprobe = 2 (the 8× search
    * saving) actually recalls. recall@10 vs in-query brute force over
    * 20 queries, emitted as one row per probe width with a ≥-target
    * flag (sketch_sound pattern — seeded k-means + deterministic data
    * make the flags deterministic, so a centroid or probe regression
    * fails the hash gate). Measured (near-uniform synthetic vectors
    * — the hard case for IVF): nprobe=2 recalls
    * 0.42/0.44 at sf0.01/sf0.1, nprobe=8 recalls 0.80/0.77. Gates sit
    * between measurement and the ~nprobe/cells ≈ 0.125/0.5 a BROKEN
    * centroid ranking would score: 0.25 and 0.60. */
  def annIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = annQueries(emb, 20)
    val k = 10
    val bf = Similarity.bruteForceTopK(queries, emb, k)
      .select(col("query_id"), col("neighbor_id"))
    // the recall denominator is derived Spark-side ONLY (count of
    // brute-force rows actually emitted) and deliberately NOT exposed
    // in the output: a hardcoded oracle-side n_pairs = k × COUNT(*)
    // was only valid while bruteForceTopK uses row_number and the
    // corpus holds ≥ k vectors — a benign tie-handling change would
    // have flipped the gate into an opaque n_pairs mismatch instead of
    // a recall signal (r6 advice). The oracle checks (nprobe,
    // recall_ok); recall itself is the Spark-side measurement.
    val denom = bf.agg(count(lit(1)).as("n_pairs"))
    def gate(nprobe: Int, target: Double): DataFrame =
      Similarity.ivfTopK(spark, queries, emb, k, cells = 16, nprobe = nprobe)
        .join(bf, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(denom)
        .select(lit(nprobe).as("nprobe"),
          (col("hits").cast("double") / col("n_pairs") >= target)
            .as("recall_ok"))
    gate(2, 0.25).union(gate(8, 0.60))
  }

  private val annIvfRecallSql =
    """SELECT 2 AS nprobe, TRUE AS recall_ok
      |UNION ALL
      |SELECT 8 AS nprobe, TRUE AS recall_ok""".stripMargin

  /** IVF-PQ lossless-plumbing gate (#29f): with nprobe = cells and an
    * unbounded re-rank, the cell probe and the approximate cut keep
    * every vector and the exact re-rank IS brute force — any row lost
    * in the encode/decode/candidate plumbing breaks the hash match.
    * Oracle = the same exhaustive ranking as ann_bruteforce_topk. */
  def annPqFull(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.pqTopK(spark, annQueries(emb, 10), emb, 5,
      cells = 16, nprobe = 16, rerank = Int.MaxValue)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** IVF-PQ recall gate at realistic re-rank widths (#29f): what the
    * compressed path recalls when the searched artifact is the 32×
    * smaller code table. recall@10 vs in-query brute force over 20
    * queries at nprobe=4, one row per re-rank width (ann_ivf_recall
    * pattern — seeded training + deterministic data make the flags
    * deterministic). Measured (near-uniform synthetic vectors — the
    * WORST case for PQ, no cluster structure to absorb
    * quantization error): rerank=10 (pure ADC ranking) recalls
    * 0.33/0.24 at sf0.01/sf0.1, rerank=100 (exact re-rank repairing
    * the approximate cut) 0.59/0.46. Gates sit between measurement
    * and the ~rerank/probed-pool ≈ 0.01 a broken ADC ranking would
    * score: 0.15 and 0.30. */
  def annPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = annQueries(emb, 20)
    val k = 10
    val bf = Similarity.bruteForceTopK(queries, emb, k)
      .select(col("query_id"), col("neighbor_id"))
    // denominator derived Spark-side only, as in annIvfRecall
    val denom = bf.agg(count(lit(1)).as("n_pairs"))
    def gate(rerank: Int, target: Double): DataFrame =
      Similarity.pqTopK(spark, queries, emb, k,
          cells = 16, nprobe = 4, rerank = rerank)
        .join(bf, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(denom)
        .select(lit(rerank).as("rerank"),
          (col("hits").cast("double") / col("n_pairs") >= target)
            .as("recall_ok"))
    gate(10, 0.15).union(gate(100, 0.30))
  }

  private val annPqRecallSql =
    """SELECT 10 AS rerank, TRUE AS recall_ok
      |UNION ALL
      |SELECT 100 AS rerank, TRUE AS recall_ok""".stripMargin

  /** Persisted-index lossless gate (#29g): build the IVF index as a
    * Manifest-versioned lake artifact (cell-clustered segments + a
    * per-segment stats index), then probe it at nprobe = cells — the
    * `ann_ivf_full` gate REPLAYED over the PERSISTED artifact. Any row
    * lost in the segment write, the stats-prune, or the probe plumbing
    * breaks the hash match; AnnIndexSpec separately proves the probe
    * reads only the probed cells' files at narrow nprobe. Oracle = the
    * same exhaustive ranking as ann_bruteforce_topk. */
  def annIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ann-index").toString + "/idx"
    graft.sources.AnnIndex.build(spark, emb, root, cells = 16, nFiles = 16)
    graft.sources.AnnIndex
      .probe(spark, root, annQueries(emb, 10), k = 5, nprobe = 16)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** Persisted-PQ lossless gate (#29g3): the index built WITH product
    * quantization — every segment carries a parallel cell-clustered
    * code table, codebooks live in the version metadata — probed
    * through the ADC path (codes scanned, raw vectors touched only in
    * the exact re-rank) at nprobe = cells and unbounded rerank: the
    * stages become lossless plumbing and the result must equal brute
    * force (the ann_pq_full gate replayed over the PERSISTED
    * artifact). Oracle = ann_bruteforce_topk's ranking. */
  def annIndexPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ann-pq").toString + "/idx"
    graft.sources.AnnIndex.build(spark, emb, root, cells = 16, nFiles = 16,
      pqSubspaces = 8, pqCodes = 16)
    graft.sources.AnnIndex
      .probePq(spark, root, annQueries(emb, 10), k = 5,
        nprobe = 16, rerank = Int.MaxValue)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** Incremental-maintenance lossless gate (#29g2): build the index on
    * the EVEN half of the corpus, [[graft.sources.AnnIndex.append]]
    * the odd half against the existing centroids (no retrain — the
    * dedup_incremental ledger discipline applied to ANN), then probe
    * the appended version at nprobe = cells: the result must equal
    * brute force over the FULL corpus, so a vector dropped or
    * double-written anywhere in the append path breaks the hash.
    * Centroid immutability under append is spec-gated
    * (AnnIndexSpec). Oracle = ann_bruteforce_topk's ranking. */
  def annIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ann-append").toString + "/idx"
    graft.sources.AnnIndex.build(spark, emb.where(col("vec_id") % 2 === 0),
      root, cells = 16, nFiles = 16)
    graft.sources.AnnIndex.append(spark, root,
      emb.where(col("vec_id") % 2 === 1))
    graft.sources.AnnIndex
      .probe(spark, root, annQueries(emb, 10), k = 5, nprobe = 16)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

  /** Persisted-inverted-index gate (#39c): build the BM25 posting
    * lists as a Manifest-versioned lake artifact (bucket-clustered
    * posting + dictionary segments, stats-indexed on bucket), then
    * probe the SAME terms as `bm25_search` — the probe recomposes
    * n_docs/avgdl/df from exact per-segment integer sums and replays
    * the identical score arithmetic, so the result must hash-match
    * the in-query retriever's DuckDB oracle. Any posting row lost in
    * the segment write, the bucket prune, or the df re-sum breaks
    * the gate; InvertedIndexSpec separately proves the probe reads
    * only the query terms' bucket files. */
  /** Literal-pattern corpus grep through the persisted trigram index
    * (#39d, [[graft.sources.GrepIndex]]): build once, probe a bounded
    * literal sweep (benchmark needles, leaked-string/PII literals,
    * license boilerplate), trigram candidates verified by exact
    * `contains` — LOSSLESS by construction, so the oracle is simply
    * DuckDB's contains() over the raw corpus. Pattern 3 never occurs
    * (the empty-result leg); the others hit at every SF. */
  def grepIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-grep-index").toString + "/idx"
    graft.sources.GrepIndex.build(spark, Tables.documents(spark, dir),
      "doc_id", "text", root, nFiles = 8)
    graft.sources.GrepIndex.probe(spark, root, Seq(
      (0L, "merge part window"), (1L, "batch batch batch"),
      (2L, "customer line"), (3L, "zzzz never present")))
  }

  private val grepIndexProbeSql =
    """WITH p(pattern_id, pattern) AS (VALUES
      |  (CAST(0 AS BIGINT), 'merge part window'),
      |  (CAST(1 AS BIGINT), 'batch batch batch'),
      |  (CAST(2 AS BIGINT), 'customer line'),
      |  (CAST(3 AS BIGINT), 'zzzz never present'))
      |SELECT p.pattern_id, d.doc_id
      |FROM documents d JOIN p ON contains(d.text, p.pattern)""".stripMargin

  /** Trigram-index incremental gate (#39d2): build on the even half,
    * [[graft.sources.GrepIndex.append]] the odd half (trigrams ONLY
    * the batch), probe the appended index — posting membership, df
    * stats and the route decision all recompose exactly (integer
    * sums), so the appended index must answer the sweep identically
    * to a from-scratch build: same oracle as `grep_index_probe`. */
  def grepIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-grep-append").toString + "/idx"
    graft.sources.GrepIndex.build(spark, docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", root, nFiles = 8)
    graft.sources.GrepIndex.append(spark, root,
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
    graft.sources.GrepIndex.probe(spark, root, Seq(
      (0L, "merge part window"), (1L, "batch batch batch"),
      (2L, "customer line"), (3L, "zzzz never present")))
  }

  /** Regex corpus grep through the same trigram index (#39e,
    * [[graft.sources.GrepIndex.probeRegex]]): the Code-Search
    * trigram-query design — required literal runs per
    * alternation-free branch become trigram candidate constraints,
    * `regexp_like` decides exactly, and patterns the analysis cannot
    * constrain run through the exact scan PER PATTERN (here pattern
    * 2, whose longest literal runs are single chars). Analysis is
    * superset-safe by construction, so the oracle is simply DuckDB's
    * regexp over the raw corpus — the four patterns use only syntax
    * whose semantics Java regex and RE2 share (literals, classes,
    * `?`/`+`, alternation). Pattern 3's branches carry absent
    * trigrams (the matchless-settle leg). */
  def grepRegexProbe(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-grep-regex").toString + "/idx"
    graft.sources.GrepIndex.build(spark, Tables.documents(spark, dir),
      "doc_id", "text", root, nFiles = 8)
    graft.sources.GrepIndex.probeRegex(spark, root, Seq(
      (0L, "merge (part|batch) window"), (1L, "custom[a-z]+ line"),
      (2L, "w[io]n?d[oe]w"), (3L, "zz(qq|xx) never present")))
  }

  private val grepRegexProbeSql =
    """WITH p(pattern_id, pattern) AS (VALUES
      |  (CAST(0 AS BIGINT), 'merge (part|batch) window'),
      |  (CAST(1 AS BIGINT), 'custom[a-z]+ line'),
      |  (CAST(2 AS BIGINT), 'w[io]n?d[oe]w'),
      |  (CAST(3 AS BIGINT), 'zz(qq|xx) never present'))
      |SELECT p.pattern_id, d.doc_id
      |FROM documents d JOIN p ON regexp_matches(d.text, p.pattern)""".stripMargin

  def bm25IndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-inv-index").toString + "/idx"
    graft.sources.InvertedIndex.build(spark, Tables.documents(spark, dir),
      root, nBuckets = 16, nFiles = 16)
    graft.sources.InvertedIndex.probe(spark, root,
      Seq("spark", "window", "merge"), k = 10)
  }

  /** Inverted-index incremental gate (#39c2): build on the even half
    * of the corpus, [[graft.sources.InvertedIndex.append]] the odd
    * half (tokenizes ONLY the batch — zero re-read of prior segments),
    * probe the appended version: BM25's corpus statistics are exact
    * integer sums, so the appended index must equal a from-scratch
    * build over the full corpus BIT-exactly — same oracle as
    * `bm25_search`. A doc dropped, double-counted, or a df merged
    * inexactly anywhere in the append path breaks the hash. */
  def bm25IndexIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-inv-append").toString + "/idx"
    graft.sources.InvertedIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0), root, nBuckets = 16, nFiles = 16)
    graft.sources.InvertedIndex.append(spark, root,
      docs.where(col("doc_id") % 2 === 1))
    graft.sources.InvertedIndex.probe(spark, root,
      Seq("spark", "window", "merge"), k = 10)
  }

  /** LSH-ANN saturation gate (#29): at 32 bands of 2 every pair down
    * to cos ≈ 0 lands in a shared bucket w.p. > 0.9999, so the
    * bucketed search must return the exact brute-force top-k here. */
  def annLshSound(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(annQueries(emb, 10), emb, 5,
      bands = 32, rows = 2)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
  }

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

  /** Exact unigram-set jaccard over a bounded candidate set — the
    * n-gram-Jaccard verifier (#26) standalone, oracle-checkable since
    * word SETS (not hashes) are computable in both engines. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.plans.Bounds.declare(
        Tables.documents(spark, dir).where(col("doc_id") < 50),
        50, "jaccard candidate set: doc_id < 50 assumed unique")
      .select(col("doc_id"),
        array_distinct(split(TextFunctions.normalize(col("text")), " ")).as("toks"))
    toks.as("a").join(toks.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
          size(array_union(col("a.toks"), col("b.toks"))).cast("double"))
          .as("jaccard"))
  }

  private val ngramJaccardSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
      |  FROM documents WHERE doc_id < 50)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id""".stripMargin

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

  // --------------------------------------------------- multimodal (#34)

  /** Typed decode+feature pipeline over binary media columns (REAL
    * hand-parsed BMP/PPM/WAV codecs — see [[Multimodal.Codec]]) —
    * rows-only check; MultimodalSpec proves planted images round-trip
    * and `multimodal_sound` gates the decode arithmetic exactly. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.attachBlob(Tables.documents(spark, dir))
    val meta = Multimodal.decodeMeta(spark, blobs).toDF()
    val feats = Multimodal.extractFeatures(spark, blobs).toDF()
      .select(col("doc_id"), size(col("features")).as("n_features"))
    meta.join(feats, "doc_id")
  }

  /** Multimodal driver gate (#34): every decoded field is real codec
    * output — container dimensions and channel layout parsed back out
    * of genuine BMP/PPM/WAV headers, total container size, and the
    * floor-mean of the decoded sample payload (row padding excluded).
    * The planted blobs derive dims/payload from md5 hex digits, so
    * DuckDB recomputes ALL of it without parsing a byte: header sizes
    * from the format layout, the payload mean from cycled-md5-byte
    * arithmetic. An off-by-one anywhere in encode OR decode (stride
    * padding, header length, bottom-up row copy, cycle remainder)
    * breaks the hash. */
  def multimodalSound(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.attachBlob(Tables.documents(spark, dir))
    Multimodal.decodeMeta(spark, blobs).toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
              col("channels"), col("n_bytes"), col("mean_pixel"))
  }

  private val multimodalSoundSql =
    """WITH src AS (SELECT doc_id, md5(text) AS x, md5(source) AS sx FROM documents),
      |d AS (SELECT doc_id, x,
      |  ['image','audio','video'][
      |    ((strpos('0123456789abcdef', substr(sx, 31, 1)) - 1) * 16
      |     + strpos('0123456789abcdef', substr(sx, 32, 1)) - 1) % 3 + 1] AS media_type,
      |  ((strpos('0123456789abcdef', substr(x, 1, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(x, 2, 1)) - 1) % 128 + 16 AS w,
      |  ((strpos('0123456789abcdef', substr(x, 3, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(x, 4, 1)) - 1) % 128 + 16 AS h
      |  FROM src),
      |p AS (SELECT doc_id, media_type, w, h, 3 * w * h AS n,
      |  list_transform(generate_series(1, 16), j ->
      |    (strpos('0123456789abcdef', substr(x, 2*j - 1, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(x, 2*j, 1)) - 1) AS pb
      |  FROM d)
      |SELECT doc_id, media_type,
      |  CAST(CASE WHEN media_type = 'audio' THEN n ELSE w END AS INTEGER) AS width,
      |  CAST(CASE WHEN media_type = 'audio' THEN 1 ELSE h END AS INTEGER) AS height,
      |  CAST(CASE WHEN media_type = 'audio' THEN 1 ELSE 3 END AS INTEGER) AS channels,
      |  CAST(CASE media_type
      |    WHEN 'image' THEN 54 + ((3*w + 3) // 4 * 4) * h
      |    WHEN 'video' THEN 3 + length(CAST(w AS VARCHAR)) + 1
      |                      + length(CAST(h AS VARCHAR)) + 5 + n
      |    ELSE 44 + n END AS INTEGER) AS n_bytes,
      |  CAST(((n // 16) * list_sum(pb)
      |        + COALESCE(list_sum(pb[1:(n % 16)]), 0)) // n AS INTEGER) AS mean_pixel
      |FROM p""".stripMargin

  /** PNG-codec driver gate (#34a): the compressed-container sibling of
    * multimodal_sound — every blob is a genuine zlib-deflated PNG and
    * the decode runs signature walk → IHDR parse → IDAT inflate →
    * scanline de-filter. Dims and the floor-mean of the decoded raster
    * are md5-determined, so DuckDB recomputes them without touching a
    * byte of the container; any corruption in deflate framing, chunk
    * CRC layout, inflate sizing, or the filter reconstruction breaks
    * the decoded mean and with it the hash. Container size is NOT
    * emitted: deflate output length is zlib-implementation-specific
    * (the one field that is genuinely not engine-portable). */
  def multimodalPng(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.attachPngBlob(Tables.documents(spark, dir))
    Multimodal.decodeMeta(spark, blobs).toDF()
      .select(col("doc_id"), col("width"), col("height"),
              col("channels"), col("mean_pixel"))
  }

  private val multimodalPngSql =
    """WITH d AS (SELECT doc_id, md5(text) AS x FROM documents),
      |s AS (SELECT doc_id,
      |  ((strpos('0123456789abcdef', substr(x, 1, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(x, 2, 1)) - 1) % 128 + 16 AS w,
      |  ((strpos('0123456789abcdef', substr(x, 3, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(x, 4, 1)) - 1) % 128 + 16 AS h,
      |  list_transform(generate_series(1, 16), j ->
      |    (strpos('0123456789abcdef', substr(x, 2*j - 1, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(x, 2*j, 1)) - 1) AS pb
      |  FROM d),
      |p AS (SELECT doc_id, w, h, 3 * w * h AS n, pb FROM s)
      |SELECT doc_id,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(3 AS INTEGER) AS channels,
      |  CAST(((n // 16) * list_sum(pb)
      |        + COALESCE(list_sum(pb[1:(n % 16)]), 0)) // n AS INTEGER) AS mean_pixel
      |FROM p""".stripMargin

  /** Image perceptual-hash near-dup (#34b): the image sibling of text
    * MinHash — aHash/dHash over DECODED rasters with hamming-banded
    * candidate generation (the SimHash 4×16-bit pigeonhole join,
    * COMPLETE at hamming <= 3, never all-pairs). The planted corpus
    * ([[Multimodal.attachBlobDup]]) puts each group's raster through
    * three different REAL containers (BMP/PPM/PNG — re-encoded
    * duplicates must hash identically, which only holds if all three
    * codecs decode to the same raster) plus single-byte-perturbed
    * copies that straddle the <=3 accept boundary. The DuckDB oracle
    * recomputes BOTH hashes from the md5 construction via the
    * period-16 cycled-payload closed form (cyclic prefix sums — no
    * container parsing) and does an EXHAUSTIVE all-pairs hamming scan;
    * pigeonhole completeness means the engine's banded join must
    * reproduce it pair-for-pair, recall exactly 1.0. Bounded to
    * doc_id < 600 like its simhash/minhash siblings (the exhaustive
    * oracle is quadratic; the construction repeats every 6 ids). */
  def multimodalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 600)
    val sigs = Multimodal.withPerceptualHash(
      spark, Multimodal.attachBlobDup(docs)).localCheckpoint()
    val pairs = Dedup.simhashPairsFromSigs(
      sigs.select(col("id"), col("ahash").as("simhash")), maxHamming = 3)
    val dh = sigs.select(col("id"), col("dhash"))
    pairs
      .join(dh.select(col("id").as("doc_a"), col("dhash").as("dh_a")), "doc_a")
      .join(dh.select(col("id").as("doc_b"), col("dhash").as("dh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
              col("hamming").as("ham_ahash"),
              expr("CAST(bit_count(dh_a ^ dh_b) AS INT)").as("ham_dhash"))
  }

  private val multimodalDedupSql =
    """WITH d AS (
      |  SELECT doc_id, doc_id // 6 AS g, CAST(doc_id % 6 AS INTEGER) AS j
      |  FROM documents WHERE doc_id < 600),
      |s AS (
      |  SELECT doc_id, j, md5(CAST(g AS VARCHAR)) AS x FROM d),
      |dims AS (
      |  SELECT doc_id, j, x,
      |    ((strpos('0123456789abcdef', substr(x, 1, 1)) - 1) * 16
      |     + strpos('0123456789abcdef', substr(x, 2, 1)) - 1) % 128 + 16 AS w,
      |    ((strpos('0123456789abcdef', substr(x, 3, 1)) - 1) * 16
      |     + strpos('0123456789abcdef', substr(x, 4, 1)) - 1) % 128 + 16 AS h
      |  FROM s),
      |pb AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(1, 16), i ->
      |      (((strpos('0123456789abcdef', substr(x, 2*i - 1, 1)) - 1) * 16
      |        + strpos('0123456789abcdef', substr(x, 2*i, 1)) - 1)
      |       + CASE WHEN j >= 3 AND i = j - 2 THEN 16 ELSE 0 END) % 256) AS p
      |  FROM dims),
      |gr AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, 15), m ->
      |      (p[(3*m) % 16 + 1] + p[(3*m + 1) % 16 + 1] + p[(3*m + 2) % 16 + 1]) // 3) AS G
      |  FROM pb),
      |pre AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, 16), k -> COALESCE(list_sum(G[1:k]), 0)) AS pf,
      |    list_sum(G) AS S
      |  FROM gr),
      |ac AS (
      |  SELECT doc_id, w, h, pf, S,
      |    list_transform(generate_series(0, 63), c ->
      |      list_sum(list_transform(
      |        generate_series((c // 8) * h // 8, (c // 8 + 1) * h // 8 - 1), y ->
      |          ((y * w + (c % 8 + 1) * w // 8) // 16) * S
      |          + pf[(y * w + (c % 8 + 1) * w // 8) % 16 + 1]
      |          - ((y * w + (c % 8) * w // 8) // 16) * S
      |          - pf[(y * w + (c % 8) * w // 8) % 16 + 1]))
      |      // (((c // 8 + 1) * h // 8 - (c // 8) * h // 8)
      |         * ((c % 8 + 1) * w // 8 - (c % 8) * w // 8))) AS cell
      |  FROM pre),
      |dc AS (
      |  SELECT doc_id, cell,
      |    list_transform(generate_series(0, 71), c ->
      |      list_sum(list_transform(
      |        generate_series((c // 9) * h // 8, (c // 9 + 1) * h // 8 - 1), y ->
      |          ((y * w + (c % 9 + 1) * w // 9) // 16) * S
      |          + pf[(y * w + (c % 9 + 1) * w // 9) % 16 + 1]
      |          - ((y * w + (c % 9) * w // 9) // 16) * S
      |          - pf[(y * w + (c % 9) * w // 9) % 16 + 1]))
      |      // (((c // 9 + 1) * h // 8 - (c // 9) * h // 8)
      |         * ((c % 9 + 1) * w // 9 - (c % 9) * w // 9))) AS dcell
      |  FROM ac),
      |bits AS (
      |  SELECT doc_id,
      |    list_transform(cell, cc -> CASE WHEN cc > list_sum(cell) // 64 THEN 1 ELSE 0 END) AS abits,
      |    list_transform(generate_series(0, 63), k ->
      |      CASE WHEN dcell[(k // 8) * 9 + (k % 8) + 2] > dcell[(k // 8) * 9 + (k % 8) + 1]
      |           THEN 1 ELSE 0 END) AS dbits
      |  FROM dc)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_filter(generate_series(1, 64), k -> a.abits[k] != b.abits[k])) AS INTEGER) AS ham_ahash,
      |  CAST(len(list_filter(generate_series(1, 64), k -> a.dbits[k] != b.dbits[k])) AS INTEGER) AS ham_dhash
      |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
      |WHERE len(list_filter(generate_series(1, 64), k -> a.abits[k] != b.abits[k])) <= 3""".stripMargin

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

  // --------------------- training-data ops: split / redact / vocab

  /** Deterministic train/val/test split by md5 bucket — stable across
    * runs, partitionings, and engines (rand()/sample() are neither). */
  def splitTrainTest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Sampling.bucket16(col("doc_id")).as("bucket"),
      Sampling.splitLabel(col("doc_id")).as("split"))

  private val splitTrainTestSql =
    """SELECT doc_id,
      |  CAST(strpos('0123456789abcdef',
      |       substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS INT) AS bucket,
      |  CASE WHEN strpos('0123456789abcdef',
      |              substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 < 12 THEN 'train'
      |       WHEN strpos('0123456789abcdef',
      |              substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 < 14 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  /** PII redaction: detect + mask emails/phone numbers (deterministic
    * synthetic PII appended so the masking provably fires; the docs
    * corpus itself is PII-free word soup). Pure per-row regex — no
    * shuffle, codegen'd. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    val phoneRe = "\\+[0-9][0-9-]+"
    Tables.documents(spark, dir)
      .withColumn("synth",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
               lit("@mail.example.com or +1-555-0"), col("doc_id").cast("string")))
      .select(
        col("doc_id"),
        regexp_count(col("synth"), lit(emailRe)).as("n_emails"),
        regexp_count(col("synth"), lit(phoneRe)).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("synth"), emailRe, "<EMAIL>"),
                           phoneRe, "<PHONE>")).as("red_md5"))
  }

  private val piiRedactSql =
    """WITH s AS (SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR)
      |       || '@mail.example.com or +1-555-0' || CAST(doc_id AS VARCHAR) AS synth
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(synth, '\+[0-9][0-9-]+')) AS INT) AS n_phones,
      |  md5(regexp_replace(regexp_replace(synth,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
      |        '\+[0-9][0-9-]+', '<PHONE>', 'g')) AS red_md5
      |FROM s""".stripMargin

  /** Checksum-validated PII redaction (#37b): credit-card-shaped
    * digit runs are only redacted when they PASS the Luhn checksum
    * (ISO/IEC 7812) — the false-positive cut that keeps order ids,
    * timestamps, and hashes out of `<CARD>` masks. Planting: each doc
    * gets a 16-digit number whose check digit is computed by the
    * parity-shifted closed form (valid by construction) and/or a
    * sibling with check+5 (invalid by construction), varied by
    * doc_id%3 so the counts carry signal. Validation and redaction
    * use the STANDARD Luhn formulation over every 13-19-digit run —
    * independently formulated from the planting arithmetic, so the
    * oracle cross-checks both. Pure per-row HOFs, zero shuffle. */
  def piiRedactLuhn(spark: SparkSession, dir: String): DataFrame = {
    val doubled = (d: String) => s"IF(2*($d) > 9, 2*($d) - 9, 2*($d))"
    val dig = "(ascii(substr(reverse(base15), i, 1)) - 48)"
    Tables.documents(spark, dir)
      .withColumn("base15", concat(lit("4"),
        lpad(pmod(col("doc_id"), lit(99999999999999L)).cast("string"),
          14, "0")))
      // check digit: full = base15 || c reverses to c || reverse(base15),
      // so base digit at reverse-position i is doubled when i is ODD —
      // the parity-shifted closed form
      .withColumn("chk", expr(
        s"""(10 - aggregate(sequence(1, 15), 0L, (acc, i) ->
           |  acc + CASE WHEN i % 2 = 1 THEN ${doubled(dig)}
           |        ELSE $dig END) % 10) % 10""".stripMargin))
      .withColumn("synth", expr(
        """concat(text,
          |  CASE WHEN doc_id % 3 < 2
          |    THEN concat(' pay ', base15, chk) ELSE '' END,
          |  CASE WHEN doc_id % 3 > 0
          |    THEN concat(' ref ', base15, (chk + 5) % 10) ELSE '' END)"""
          .stripMargin))
      .withColumn("cands", expr(
        "regexp_extract_all(synth, '[0-9]{13,19}', 0)"))
      // standard Luhn over each candidate: double at EVEN reverse pos
      .withColumn("valids", expr(
        """filter(cands, c -> aggregate(sequence(1, length(c)), 0L,
          |  (acc, i) -> acc + CASE WHEN i % 2 = 0
          |    THEN IF(2*(ascii(substr(reverse(c), i, 1)) - 48) > 9,
          |            2*(ascii(substr(reverse(c), i, 1)) - 48) - 9,
          |            2*(ascii(substr(reverse(c), i, 1)) - 48))
          |    ELSE ascii(substr(reverse(c), i, 1)) - 48 END) % 10 = 0)"""
          .stripMargin))
      .select(
        col("doc_id"),
        size(col("cands")).as("n_candidates"),
        size(col("valids")).as("n_valid"),
        md5(expr(
          "aggregate(valids, synth, (acc, c) -> replace(acc, c, '<CARD>'))"))
          .as("red_md5"))
  }

  private val piiRedactLuhnSql =
    """WITH p AS (SELECT doc_id, text,
      |    '4' || lpad(CAST(doc_id % 99999999999999 AS VARCHAR), 14, '0')
      |      AS base15
      |  FROM documents),
      |k AS (SELECT doc_id, text, base15,
      |    (10 - list_sum(list_transform(generate_series(1, 15), i ->
      |       CASE WHEN i % 2 = 1 THEN
      |         CASE WHEN 2*CAST(substr(reverse(base15), CAST(i AS INTEGER), 1) AS INTEGER) > 9
      |              THEN 2*CAST(substr(reverse(base15), CAST(i AS INTEGER), 1) AS INTEGER) - 9
      |              ELSE 2*CAST(substr(reverse(base15), CAST(i AS INTEGER), 1) AS INTEGER) END
      |       ELSE CAST(substr(reverse(base15), CAST(i AS INTEGER), 1) AS INTEGER) END)) % 10) % 10
      |      AS chk
      |  FROM p),
      |s AS (SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 < 2
      |      THEN ' pay ' || base15 || CAST(chk AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 3 > 0
      |      THEN ' ref ' || base15 || CAST((chk + 5) % 10 AS VARCHAR) ELSE '' END
      |      AS synth
      |  FROM k),
      |c AS (SELECT doc_id, synth,
      |    regexp_extract_all(synth, '[0-9]{13,19}') AS cands
      |  FROM s),
      |v AS (SELECT doc_id, synth, cands,
      |    list_filter(cands, cc ->
      |      list_sum(list_transform(generate_series(1, len(cc)), i ->
      |        CASE WHEN i % 2 = 0 THEN
      |          CASE WHEN 2*CAST(substr(reverse(cc), CAST(i AS INTEGER), 1) AS INTEGER) > 9
      |               THEN 2*CAST(substr(reverse(cc), CAST(i AS INTEGER), 1) AS INTEGER) - 9
      |               ELSE 2*CAST(substr(reverse(cc), CAST(i AS INTEGER), 1) AS INTEGER) END
      |        ELSE CAST(substr(reverse(cc), CAST(i AS INTEGER), 1) AS INTEGER) END)) % 10 = 0)
      |      AS valids
      |  FROM c)
      |SELECT doc_id,
      |  CAST(len(cands) AS INTEGER) AS n_candidates,
      |  CAST(len(valids) AS INTEGER) AS n_valid,
      |  md5(list_reduce(list_prepend(synth, valids),
      |    (acc, cc) -> replace(acc, cc, '<CARD>'))) AS red_md5
      |FROM v""".stripMargin

  /** Corpus vocabulary: top-20 words by frequency (explode → count →
    * global top-k; the word-count groupBy is partial-aggregated so the
    * exploded stream never shuffles raw tokens). */
  def vocabTopWords(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_occurrences"))
    // TakeOrdered limit does the global top-k in parallel (map-side
    // heads); a bare global window would funnel the whole vocabulary —
    // 10^8+ tokens on a web corpus — through ONE task. The window then
    // only numbers the 20 survivors.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("word"))
    counts.orderBy(col("n_occurrences").desc, col("word")).limit(20)
      .withColumn("rk", row_number().over(w))
  }

  private val vocabTopWordsSql =
    """WITH c AS (
      |  SELECT word, COUNT(*) AS n_occurrences
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |  GROUP BY word)
      |SELECT word, n_occurrences,
      |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, word) AS INT) AS rk
      |FROM c QUALIFY rk <= 20""".stripMargin

  /** BPE merge-candidate pairs (#38a): corpus-wide counts of ADJACENT
    * token pairs, top 20 — one round of the pair-counting that drives
    * BPE/WordPiece vocabulary induction (the highest-count pair is the
    * next merge). Pairs come from zipping each token list with its own
    * tail (no index explosion beyond the pairs themselves); the global
    * top-k runs as explicit limit-after-sort so TakeOrdered's map-side
    * heads do the work, vocab_top_words precedent. */
  def bpeTopPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(TextFunctions.normalize(col("text")), " ")
    val n1 = greatest(size(col("toks")) - 1, lit(0))
    val counts = Tables.documents(spark, dir)
      .select(toks.as("toks"))
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), n1), slice(col("toks"), lit(2), n1))).as("p"))
      .select(concat_ws(" ", col("p.0"), col("p.1")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_occurrences"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("pair"))
    counts.orderBy(col("n_occurrences").desc, col("pair")).limit(20)
      .withColumn("rk", row_number().over(w))
  }

  private val bpeTopPairsSql =
    """WITH t AS (SELECT
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |p AS (SELECT toks[i] || ' ' || toks[i+1] AS pair
      |      FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      |      WHERE len(toks) > 1),
      |c AS (SELECT pair, COUNT(*) AS n_occurrences FROM p GROUP BY 1)
      |SELECT pair, n_occurrences,
      |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INT) AS rk
      |FROM c QUALIFY rk <= 20""".stripMargin

  /** TF-IDF-style top term per document: score = tf/df (rank-identical
    * to tf·idf with reciprocal-df idf, and a single exact double
    * division instead of engine-varying log()). The document-frequency
    * side is vocabulary-sized → broadcast. */
  def tfidfTopTerm(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{doubleBits, bitsDouble}
    // tf per (doc, term) is a PER-DOCUMENT statistic — born final from
    // one native hash-map scan of the row's token array
    // (graft_term_counts) instead of explode + corpus-wide
    // groupBy(doc_id, term): at the 1000× tier that re-grouping's
    // per-partition group cardinality ≈ row count, so the hash agg
    // falls back to sort and spills (the InvertedIndex.build wall,
    // SCALE1000.md). Cost shape traded knowingly: tf's subtree is
    // scanned once per consumer (dfreq + the scored join) — two cheap
    // parallel rescans beat one corpus-sized sort-spilling exchange.
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.termCounts(
          split(col("text"), " "))).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
    // document frequency falls out of tf's (already-distinct) keys —
    // no second explode over the raw token stream; term-only grouping
    // combines map-side to vocabulary size. term_id is the term's
    // STRING rank (rangedDenseRank — no global window), so an integer
    // compare on it IS the string tie-break the oracle orders by.
    val dict = operators.Relational.rangedDenseRank(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
      "term", "term_id").localCheckpoint()
    // rank-1-per-doc as ONE plain min over a fixed-width key. The r12
    // form (min_by over a (-score, term) struct) could only plan as
    // SortAggregate — a struct buffer is not UnsafeRow-mutable — and
    // its partial sorted the full ~500M-row join output: 6.4 GB spill
    // at 1000× (SCALE1000.md) for an agg whose result is per-doc.
    // Key: (Long.MaxValue − bits(score)) · 2^40 + term_id as
    // DECIMAL(38,0) — bits() is order-preserving on positive doubles
    // (see functions.expressions.DoubleBits), so min(key) is exactly
    // argmax(score) with ties to the smallest term string, and the
    // all-primitive buffer keeps the agg a map-side-combining
    // HashAggregate: zero sort, zero spill.
    val M = 1L << 40 // term_id < 2^40; flipped·2^40 + id < 10^32 < 10^38
    val scored = tf.join(broadcast(dict), "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("okey",
        (lit(Long.MaxValue) - doubleBits(col("score")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)) * lit(M)
          + col("term_id"))
    val best = scored.groupBy(col("doc_id")).agg(min(col("okey")).as("okey"))
      .withColumn("term_id", (col("okey") % lit(M)).cast("long"))
      .withColumn("score", bitsDouble(
        lit(Long.MaxValue)
          - ((col("okey") - col("okey") % lit(M)) / lit(M)).cast("long")))
    // the winner's term string, df, and tf rejoin from the
    // vocabulary-sized dictionary — never from the corpus. tf =
    // round(score·df) is EXACT: tf/df·df errs by ≤ a few ulps
    // (|err| < tf·2^-50 ≪ 0.5), so the nearest integer is tf itself.
    best.join(broadcast(dict.select(col("term_id"), col("term"), col("df"))),
        "term_id")
      .select(col("doc_id"), col("term"),
        round(col("score") * col("df")).cast("long").as("tf"),
        col("df"), col("score"))
  }

  private val tfidfTopTermSql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df
      |          FROM (SELECT DISTINCT doc_id, term FROM tok) t GROUP BY 1)
      |SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score
      |FROM (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |        row_number() OVER (PARTITION BY tf.doc_id
      |          ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df DESC, tf.term) AS rk
      |      FROM tf JOIN dfreq USING (term)) x
      |WHERE rk = 1""".stripMargin

  /** Embedding L2-normalize + int8 quantization. The squared norm is
    * summed through DECIMAL(20,12) per element (order-independent,
    * engine-portable); quantized components are exact integer math
    * after one deterministic double division each. Pure per-row — no
    * shuffle. */
  def embeddingNormQuant(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("norm_sq", expr(
        """CAST(aggregate(embedding, CAST(0 AS DECIMAL(24,12)),
          |  (acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)
          |                             AS DECIMAL(20,12))
          |              AS DECIMAL(24,12))) AS DOUBLE)""".stripMargin))
      .withColumn("norm", sqrt(col("norm_sq")))
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(round((127 * CAST(x AS DOUBLE)) / norm, 0) AS INT))"))
      .select(col("vec_id"), col("norm"),
              element_at(col("qv"), 1).as("q0"),
              expr("aggregate(qv, 0L, (acc, y) -> acc + y)").as("qsum"))

  private val embeddingNormQuantSql =
    """WITH n AS (SELECT vec_id, embedding,
      |  sqrt(CAST(list_sum(list_transform(embedding,
      |         x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(20,12))))
      |       AS DOUBLE)) AS norm
      |  FROM embeddings),
      |q AS (SELECT vec_id, norm,
      |  list_transform(embedding,
      |    x -> CAST(round((127 * CAST(x AS DOUBLE)) / norm) AS INT)) AS qv
      |  FROM n)
      |SELECT vec_id, norm, qv[1] AS q0, CAST(list_sum(qv) AS BIGINT) AS qsum
      |FROM q""".stripMargin

  /** Johnson-Lindenstrauss random projection (#40b): 64-dim embeddings
    * → 8 dims through a ±1 sign matrix (Achlioptas 2003's
    * database-friendly JL construction — ±1 entries preserve pairwise
    * distances in expectation like Gaussians do, but the projection is
    * pure adds/subtracts). The signs are CONTENT-INDEPENDENT constants
    * derived from md5(k|j) (first hex char ≤ '7' → +1), so the engine
    * folds the whole matrix into plan literals at build time — zero
    * per-row hashing, one scan, no shuffle — while the oracle
    * re-derives the identical signs in SQL. Each output component is
    * the [[embeddingNormQuant]] decimal-routed sum (±x is an exact
    * IEEE sign flip; per-term DECIMAL(20,12) casts make the sum
    * order-independent), so all 8 projections are hash-exact.
    *
    * Bit-exactness: each component is ONE fixed left-associated
    * 64-term ±x chain over exactly-widened floats (the [[ewmaSql]]
    * discipline — identical IEEE add/negate trees on both engines;
    * per-row, so there is no aggregation-order surface at all). A
    * decimal-routed sum was measured to 1-ulp-drift here: float
    * expansions TIE at the 12th decimal often enough that Spark's
    * HALF_UP and DuckDB's decimal cast disagree — the fixed tree
    * sidesteps rounding entirely.
    *
    * This is the dimensionality-reduction front-end the similarity
    * family composes with: at 100 TB you JL-project once and run
    * LSH/IVF in the cheap space (the plan literal matrix ships with
    * the task binary, not the data). */
  def jlProject(spark: SparkSession, dir: String): DataFrame = {
    val proj = (0 until JlDims).map { k =>
      (1 to JlSrcDims).map { j =>
        val e = element_at(col("embedding"), j).cast("double")
        if (jlSign(k, j) > 0) e else -e
      }.reduceLeft(_ + _).as(s"p$k")
    }
    Tables.embeddings(spark, dir).select((col("vec_id") +: proj): _*)
  }

  private val JlSrcDims = 64
  private val JlDims = 8

  /** The Achlioptas ±1 entry at (k, j), derived from md5 so the matrix
    * is reproducible from public arithmetic alone (first hex char of
    * md5("k|j") ≤ '7' → +1 — an unbiased bit). */
  private def jlSign(k: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$k|$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (hex.charAt(0) <= '7') 1.0 else -1.0
  }

  private val jlProjectSql = {
    val comps = (0 until JlDims).map { k =>
      (1 to JlSrcDims).map { j =>
        val term = s"CAST(embedding[$j] AS DOUBLE)"
        if (j == 1) { if (jlSign(k, j) > 0) term else s"-$term" }
        else if (jlSign(k, j) > 0) s"+ $term" else s"- $term"
      }.grouped(4).map(_.mkString(" ")).mkString("\n    ") + s" AS p$k"
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $comps
       |FROM embeddings""".stripMargin
  }

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

  /** Repetition quality signals (Gopher/C4-style): duplicated-n-gram
    * fractions (per-row HOF, no shuffle) + top-token fraction (explode →
    * partial-agg — the only shuffle, at (doc,token) grain). High values
    * flag boilerplate/spam for corpus filtering. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    // fully per-row, fully codegen'd: every signal here is a
    // within-document statistic, so NOTHING shuffles after the width
    // repartition and no interpreted lambda runs.
    //  - token-frequency pair (max tf, Σtf): used to ride an explode
    //    through two corpus-wide groupBys — (doc_id, tok) then
    //    (doc_id) — the exact shape that sort-spilled
    //    InvertedIndex.build at the 1000× tier (SCALE1000.md);
    //    graft_term_counts computes the same integers in one hash-map
    //    scan of the row's token array. Σtf = size(toks) by
    //    definition; max tf / Σtf is the same long→double division.
    //  - gram fractions: the HOF form (transform+concat_ws slices +
    //    array_distinct, interpreted) measured 151 s wall / 4,784
    //    task-s over 5M docs at 1000× — pure lambda CPU;
    //    graft_repetition_stats emits both fractions from one
    //    compiled scan, value-identical by the space-join argument in
    //    its scaladoc.
    // repartition BEFORE the projection (all-pairs jaccard BNLJ
    // precedent): glued to scan parallelism this runs as wide as the
    // FILE LAYOUT — a single-file corpus (one row group) computed
    // 500k docs on one core at the 100× derived set. One small
    // (doc_id, text) shuffle buys compute at full cluster width
    // regardless of layout.
    val tfs = transform(
      graft.functions.GraftFunctions.termCounts(toks), e => e("tf"))
    val rep = graft.functions.GraftFunctions.repetitionStats(toks)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (array_max(tfs).cast("double") / size(toks).cast("double"))
          .as("top_token_frac"),
        rep("dup_2gram_frac").as("dup_2gram_frac"),
        rep("dup_3gram_frac").as("dup_3gram_frac"))
  }

  private val textRepetitionSql =
    """WITH g AS (SELECT doc_id,
      |    string_split(text, ' ') AS toks FROM documents),
      |p AS (SELECT doc_id,
      |    1.0 - CAST(len(list_distinct(list_transform(
      |        generate_series(1, greatest(len(toks)-1, 1)),
      |        i -> array_to_string(toks[i:i+1], ' ')))) AS DOUBLE)
      |      / len(list_transform(generate_series(1, greatest(len(toks)-1, 1)),
      |        i -> array_to_string(toks[i:i+1], ' '))) AS dup_2gram_frac,
      |    1.0 - CAST(len(list_distinct(list_transform(
      |        generate_series(1, greatest(len(toks)-2, 1)),
      |        i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE)
      |      / len(list_transform(generate_series(1, greatest(len(toks)-2, 1)),
      |        i -> array_to_string(toks[i:i+2], ' '))) AS dup_3gram_frac
      |  FROM g),
      |c AS (SELECT doc_id, tok, COUNT(*) AS cnt
      |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents) x GROUP BY 1, 2),
      |s AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |        CAST(MAX(cnt) AS DOUBLE) / CAST(CAST(SUM(cnt) AS VARCHAR) AS DOUBLE) AS top_token_frac
      |      FROM c GROUP BY 1)
      |SELECT s.doc_id, s.n_tokens, s.top_token_frac,
      |       p.dup_2gram_frac, p.dup_3gram_frac
      |FROM s JOIN p USING (doc_id)""".stripMargin

  /** Sequence packing: contiguous docs (per source, doc_id order)
    * chunked into ~512-token packs via a running-sum window — the
    * deterministic, single-shuffle packing strategy (greedy bin-packing
    * needs global state; contiguous chunking scales embarrassingly). */
  def docPack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", expr("CAST((cum - n_tokens) DIV 512 AS INT)"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
  }

  private val docPackSql =
    """WITH t AS (SELECT doc_id, source,
      |    len(string_split(text, ' ')) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      |SELECT source, CAST((cum - n_tokens) // 512 AS INT) AS pack_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
      |FROM c GROUP BY source, pack_id""".stripMargin

  /** Quality-weighted importance sampling (#36b): keep each doc with
    * probability equal to its quality score (clamped to [0,1]) — the
    * FineWeb-Edu-style soft filter that favors high-quality text
    * without a hard percentile cut. Deterministic: keep iff the doc's
    * md5 bucket < floor(quality·65536), so the kept set is a pure
    * function of (id, text) — reproducible across runs, partitionings
    * and engines (floor() explicit in both: DuckDB CAST rounds where
    * Spark's truncates). Pure per-row filter, zero shuffle. */
  def sampleByQuality(spark: SparkSession, dir: String): DataFrame = {
    val q = least(greatest(TextFunctions.qualityScore(col("text")), lit(0.0)),
      lit(1.0))
    // Generate barrier: see curatePipeline — without it the filter's
    // pushed-down copy re-ran the full stats pass per row
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(array(q)).as("quality"))
      .where(Sampling.bucket65536(col("doc_id")) <
             floor(col("quality") * 65536).cast("long"))
  }

  private val sampleByQualitySql =
    """WITH q AS (SELECT doc_id, source,
      |  least(greatest(
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) * 0.5
      |    + CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |      / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) * 0.3
      |    + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2, 0.0e0), 1.0e0) AS quality,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) AS bucket
      |  FROM documents)
      |SELECT doc_id, source, quality FROM q
      |WHERE bucket < CAST(floor(quality * 65536) AS BIGINT)""".stripMargin

  /** Sliding-window document chunking (#42a): long docs split into
    * 32-token chunks with stride 16 (50% overlap) — the long-document
    * preparation step for fixed context windows, where doc_pack handles
    * the short-document side. Pure map-side projection: the only
    * exchange is the round-robin repartition that decouples the
    * interpreted HOF lambdas from file layout (textRepetition
    * precedent); no agg, no join, so at 100 TB this runs at scan
    * speed. Chunk-count arithmetic is all-integer with a greatest()
    * floor so Spark's truncated `div` and DuckDB's floored `//` agree
    * on every document length. */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val (c, s) = (32, 16)
    val nChunks = greatest(
      expr(s"(size(toks) - $c + $s - 1) div $s"), lit(0)) + lit(1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        split(TextFunctions.normalize(col("text")), " ").as("toks"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), nChunks - 1),
        i => slice(col("toks"), i * s + lit(1), lit(c)))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("long").as("n_tokens"))
  }

  private val docChunksSql =
    """WITH t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents)
      |SELECT doc_id, i AS chunk_idx,
      |  array_to_string(toks[(i*16+1):(i*16+32)], ' ') AS chunk_text,
      |  CAST(len(toks[(i*16+1):(i*16+32)]) AS BIGINT) AS n_tokens
      |FROM t, UNNEST(generate_series(0,
      |  greatest((len(toks) - 32 + 15) // 16, 0))) AS u(i)""".stripMargin

  /** Per-source quality-percentile filter (#31a): keep each source's
    * top half by quality score — the corpus-filter step between
    * scoring (`text_quality`) and assembly. cume_dist over a
    * tie-broken (quality DESC, doc_id) order is deterministic and
    * engine-portable (unlike percent_rank's 0/0 on single-row groups).
    * Scale: a per-source window is a full sort of the largest source —
    * fine into the tens of billions of rows per source with
    * range-partitioned sort, but the 100 TB swap (same shape as
    * profile_columns → approx) is an `approx_percentile` threshold per
    * source broadcast back as a plain filter. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .withColumn("cd", cume_dist().over(w))
      .where(col("cd") <= 0.5)
      .select(col("doc_id"), col("source"), col("quality"))
  }

  private val qualityFilterSql =
    """WITH q AS (SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) * 0.5
      |  + CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) * 0.3
      |  + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2 AS quality
      |FROM documents),
      |c AS (SELECT doc_id, source, quality,
      |  cume_dist() OVER (PARTITION BY source
      |    ORDER BY quality DESC, doc_id) AS cd FROM q)
      |SELECT doc_id, source, quality FROM c WHERE cd <= 0.5""".stripMargin

  /** Deterministic per-source cap (#36a): at most K docs per source,
    * chosen by md5-bucket pseudo-random order — balanced subsampling
    * without a corpus-wide sort. Runs on the typed [[Aggregators.TopKAgg]]
    * (row 35c), which carries AT MOST k rows per source out of each map
    * task: shuffle O(sources·k) regardless of group size — the shape
    * that survives a source with 10¹¹ docs, where the window form
    * shuffles and sorts every row. This query is also the Aggregator's
    * driver gate: the oracle recomputes the same top-k with a window. */
  def samplePerSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 20
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        Sampling.bucket65536(col("doc_id")).cast("double").as("score"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => graft.functions.Aggregators.Scored(t._2, t._3))
      .agg(graft.functions.Aggregators.topK(k).toColumn.name("top"))
      .flatMap { case (src, top) => top.map(s => (s.id, src)) }
      .toDF("doc_id", "source")
  }

  private val samplePerSourceSql =
    """WITH b AS (SELECT doc_id, source,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) AS bucket
      |  FROM documents),
      |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
      |        ORDER BY bucket DESC, doc_id) AS rk FROM b)
      |SELECT doc_id, source FROM r WHERE rk <= 20""".stripMargin

  /** Token-length histogram (#46b): corpus length distribution in
    * 10-token buckets (capped at 190+) — the profile a pipeline reads
    * before choosing pack/chunk sizes. All-integer bucket arithmetic;
    * one partial-agg shuffle of ≤20 rows. */
  def docLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(least(TextFunctions.bpeTokenCount(col("text")).cast("long")
        .divide(10).cast("long"), lit(19L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("bucket"), (col("bucket") * 10).as("lo_tokens"),
        col("n_docs"))

  private val docLengthHistogramSql =
    """WITH t AS (SELECT least(
      |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) // 10,
      |    19) AS bucket FROM documents)
      |SELECT bucket, bucket * 10 AS lo_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM t GROUP BY 1""".stripMargin

  /** Dataset mixture: per-source sampling weights applied via the
    * deterministic md5 bucket — reweighting corpus sources (the
    * up/down-sampling step of training-data assembly) as a pure filter,
    * reproducible on any engine. */
  def sourceMixture(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val thresh = when(srcNum % 4 === 0, 256).when(srcNum % 4 === 1, 128)
      .when(srcNum % 4 === 2, 64).otherwise(32)
    val kept = when(Sampling.bucket256(col("doc_id")) < thresh, 1L).otherwise(0L)
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(kept).as("n_kept"))
  }

  private val sourceMixtureSql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1
      |    < CASE CAST(substr(source, 4) AS INT) % 4
      |        WHEN 0 THEN 256 WHEN 1 THEN 128 WHEN 2 THEN 64 ELSE 32 END
      |  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents GROUP BY source""".stripMargin

  /** Mixture rebalance gate (#43a): `source_mixture` REPORTS the mix;
    * this PRODUCES the corpus at a desired mix — a 4:3:2:1 target over
    * four sources, every other source dropped. The kept set is a pure
    * function of the ids (md5-bucket thresholds from integer-exact
    * arithmetic), so the oracle recomputes it row for row. */
  def mixtureRebalance(spark: SparkSession, dir: String): DataFrame =
    Sampling.sampleMixture(Tables.documents(spark, dir), "source", "doc_id",
        Map("src0" -> 4, "src1" -> 3, "src2" -> 2, "src3" -> 1))
      .select(col("doc_id"), col("source"))

  private val mixtureRebalanceSql =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) AS bucket
      |  FROM documents),
      |w(source, w_s) AS (VALUES ('src0', 4), ('src1', 3), ('src2', 2), ('src3', 1)),
      |c AS (SELECT b.source, w_s, COUNT(*) AS n_s
      |      FROM b JOIN w USING (source) GROUP BY 1, 2),
      |nm AS (SELECT MIN(n_s * 10 // w_s) AS n_max FROM c),
      |t AS (SELECT source, w_s * n_max * 65536 // (10 * n_s) AS t_s FROM c, nm)
      |SELECT doc_id, source FROM b JOIN t USING (source)
      |WHERE bucket < t_s""".stripMargin

  /** Segment-level corpus dedup (#23a, Corpus.dedupLines): 8-token
    * segments appearing in >2 distinct docs are boilerplate and get
    * dropped from every doc; docs are reassembled in segment order.
    * The oracle recomputes the whole pass — segmentation arithmetic,
    * corpus frequencies, order-preserving reassembly — exactly. */
  def dedupLines(spark: SparkSession, dir: String): DataFrame =
    Corpus.dedupLines(Tables.documents(spark, dir), "doc_id", "text",
      segTokens = 8, maxDocs = 2)

  private val dedupLinesSql =
    """WITH t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |s AS (SELECT doc_id, i AS seg_idx,
      |        array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
      |      FROM t, UNNEST(generate_series(0, greatest((len(toks)+7)//8 - 1, 0))) AS u(i)),
      |c AS (SELECT seg, COUNT(DISTINCT doc_id) AS n_docs FROM s GROUP BY 1),
      |f AS (SELECT s.doc_id, s.seg_idx, s.seg, c.n_docs <= 2 AS kept
      |      FROM s JOIN c USING (seg))
      |SELECT doc_id,
      |  COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '') AS clean_text,
      |  CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped
      |FROM f GROUP BY 1""".stripMargin

  /** Benchmark decontamination (#23b, Corpus.decontaminate): docs with
    * doc_id % 10 == 0 stand in for the eval suite; every training doc
    * sharing any distinct 8-gram with it is flagged with the shared
    * count. Non-degenerate at every SF (the planted near-dup groups
    * straddle the id split). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.decontaminate(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 8)
  }

  /** [[decontaminate]] on the PRODUCTION xxhash64 gram-key path
    * (#23b production twin, Corpus.decontaminateXx — zero-copy word
    * grams instead of interpreted shingle strings). Hit counts are
    * hash-equality either way and the output carries no gram values,
    * so the SAME oracle SQL hash-gates this form end-to-end. */
  def decontaminateXx(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.decontaminateXx(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 8)
  }

  private val decontaminateSql =
    """WITH t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(toks) - 7, 1)),
      |      i -> array_to_string(toks[i:i+7], ' ')))) AS gram
      |  FROM t),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |      FROM g WHERE doc_id % 10 <> 0
      |        AND gram IN (SELECT gram FROM ev) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
      |  COALESCE(h.n_hits, 0) > 0 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      |LEFT JOIN h USING (doc_id)""".stripMargin

  /** Near-dup cluster resolution: unigram-jaccard ≥ 0.95 pair graph →
    * connected components (Dedup.clusters min-label propagation). The
    * recursive-CTE oracle checks the full transitive closure — i.e.
    * the distributed loop reaches the exact fixpoint. Pair generation
    * here is the small all-pairs oracle shape; at scale the SAME
    * clusters() consumes minhashPairs/simhashPairs output. */
  /** Pair generation for [[dedupClusters]], exposed for PlanSpec. */
  private[graft] def dedupClusterPairs(spark: SparkSession,
                                       dir: String): DataFrame = {
    // repartition BEFORE the quadratic verify: the filtered slice comes
    // out of one parquet file = one partition, and a nested-loop join
    // inherits the streamed side's partitioning — without the spread,
    // every pairwise jaccard runs on a single task no matter how many
    // cores the cluster has
    val nPart = spark.sessionState.conf.numShufflePartitions
    // ONE threshold for both the prefilter and the verify: the
    // prefilter is only a necessary condition of jaccard >= tau when
    // both use the SAME tau — raising the verify threshold without the
    // prefilter (or vice versa) would silently drop true pairs
    val tau = 0.95
    val toks = Tables.documents(spark, dir)
      .where(col("doc_id") < 200)
      .select(col("doc_id"),
        array_distinct(split(TextFunctions.normalize(col("text")), " ")).as("toks"))
      .withColumn("n", size(col("toks")))
      .repartition(nPart)
    // size-ratio prefilter inside the join condition: jaccard >= tau
    // forces |small|/|large| >= tau (intersection <= small, union >=
    // large), so the cheap scalar test prunes pairs before the
    // per-pair set ops — a necessary condition, never drops a true pair
    toks.as("a").join(toks.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          greatest(col("a.n"), col("b.n")).cast("double") * tau)
      .where((size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
        size(array_union(col("a.toks"), col("b.toks"))).cast("double")) >= tau)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusters(dedupClusterPairs(spark, dir), "doc_a", "doc_b")

  /** The same pair graph resolved by the degree-bounded
    * large-star/small-star loop ([[Dedup.clustersStar]]) under the
    * same recursive-CTE oracle — the driver gate proves both CC
    * implementations reach the identical transitive-closure fixpoint. */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersStar(dedupClusterPairs(spark, dir), "doc_a", "doc_b")

  /** The same pair graph through [[Dedup.clustersAuto]] — driver-gates
    * the degree-measuring router end to end (this corpus's dup graph
    * is shallow, so auto routes to the jump loop; ScaleSpec pins the
    * star route on a planted hub graph). Same oracle as the other two:
    * whichever algorithm auto picks must reach the identical
    * transitive-closure fixpoint. */
  def dedupClustersAuto(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersAuto(dedupClusterPairs(spark, dir), "doc_a", "doc_b")

  private val dedupClustersSql =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id,
      |    list_distinct(regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
      |  FROM documents WHERE doc_id < 200),
      |e0 AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst FROM t a JOIN t b
      |  ON a.doc_id < b.doc_id
      |  AND CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
      |SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id""".stripMargin

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

  /** Fuzzy (edit-distance) entity matching over supplier names —
    * near-identical names are merge candidates. The all-pairs join here
    * is the small oracle shape; at corpus scale, block first (length /
    * q-gram / LSH buckets) and run levenshtein only inside blocks,
    * exactly like the minhash→jaccard verify split. */
  def fuzzyNameMatch(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.plans.Bounds.declare(
        Tables.supplier(spark, dir).where(col("s_suppkey") < 100),
        100, "fuzzy candidate set: s_suppkey < 100 assumed unique")
      .select(col("s_suppkey"), col("s_name"))
    s.as("a").join(s.as("b"), col("a.s_suppkey") < col("b.s_suppkey"))
      .select(col("a.s_suppkey").as("key_a"), col("b.s_suppkey").as("key_b"),
              levenshtein(col("a.s_name"), col("b.s_name")).as("dist"))
      .where(col("dist") <= 1) // dist computed ONCE per pair
  }

  private val fuzzyNameMatchSql =
    """SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
      |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
      |FROM (SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey < 100) a
      |JOIN (SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey < 100) b
      |  ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin

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

  /** Blocked fuzzy matching (#49a): [[operators.Fuzzy.selfJoin]] over
    * the FULL supplier table — the scale path [[fuzzyNameMatch]]'s
    * all-pairs gate points at. FastSS deletion-neighborhood blocking
    * is LOSSLESS for ed ≤ 1, so this must equal the all-pairs result
    * exactly — and the oracle IS the all-pairs result: DuckDB computes
    * the quadratic form the engine refuses to materialize, and the
    * hashes must still agree. */
  def fuzzyMatchBlocked(spark: SparkSession, dir: String): DataFrame =
    operators.Fuzzy.selfJoin(
      Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
      "s_suppkey", "s_name", maxDist = 1)

  private val fuzzyMatchBlockedSql =
    """SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
      |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
      |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin

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

  // ------------------------------------------------------- #31a

  /** Corpus-LM rarity signals (#31a): per-doc token/type counts, the
    * corpus frequency of its rarest token, and its hapax-legomena
    * count — the cheap unigram-LM stand-ins for perplexity filtering
    * (a doc full of corpus-hapax tokens is boilerplate-junk or OCR
    * noise). Shape that survives web scale: tokens collapse to
    * per-doc (tok, cnt) BEFORE anything global (the within-doc dedup
    * cuts the join volume ~4×), the vocabulary table derives from a
    * partial-agg re-sum of those rows (the corpus is never re-
    * exploded), and the vocab join shuffles on tok where AQE's skew
    * split handles the stopword head ("the" is one build row but
    * millions of probe rows). All outputs integral — exact at any
    * scale. */
  def rareTokenStats(spark: SparkSession, dir: String): DataFrame = {
    // per-doc (tok, cnt) born final from one native hash-map scan of
    // the row's token array — the explode + groupBy(doc_id, tok) form
    // this replaces is the corpus-wide re-grouping that sort-spilled
    // at the 1000× tier (SCALE1000.md); the collapse itself (the
    // documented ~4× join-volume cut) is unchanged, it just costs
    // zero exchanges now
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.termCounts(
          split(col("text"), " "))).as("e"))
      .select(col("doc_id"), col("e.term").as("tok"), col("e.tf").as("cnt"))
    val vocab = perDoc.groupBy(col("tok"))
      .agg(sum(col("cnt")).as("f"))
    perDoc.join(vocab, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
           count(lit(1)).as("n_types"),
           min(col("f")).as("min_tok_freq"),
           sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"))
  }

  private val rareTokenStatsSql =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |pd AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
      |fr AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS f FROM pd GROUP BY 1)
      |SELECT doc_id,
      |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_types,
      |  MIN(f) AS min_tok_freq,
      |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |FROM pd JOIN fr USING (tok)
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- #38b

  /** Heavy hitters per language via the Misra-Gries typed Aggregator
    * (#38b, Aggregators.HeavyHittersAgg). `heavy_hitters_sound` is the
    * driver gate: capacity 1024 ≥ the whole vocabulary, where MG is
    * provably exact, so the top-5-per-lang output hash-matches an
    * exact GROUP BY/window oracle while still driving the full sketch
    * machinery (map-side partial summaries, mergeable-summary
    * combine). The production-shaped twin below runs capacity 8 —
    * genuinely lossy on this corpus — and is rows-only checked, since
    * MG estimates depend on the merge tree. */
  private def heavyHittersBy(spark: SparkSession, dir: String,
                             capacity: Int, k: Int): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.Aggregators.heavyHitters(capacity)
             .toColumn.name("hh"))
      .flatMap { case (lang, hits) => hits.take(k).map(h => (lang, h.token, h.est)) }
      .toDF("lang", "token", "n_est")
  }

  def heavyHittersSound(spark: SparkSession, dir: String): DataFrame =
    heavyHittersBy(spark, dir, capacity = 1024, k = 5)

  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersBy(spark, dir, capacity = 8, k = 5)

  private val heavyHittersSoundSql =
    """WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |c AS (SELECT lang, tok AS token, COUNT(*) AS n_est
      |      FROM tk GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang
      |        ORDER BY n_est DESC, token) AS rk FROM c)
      |SELECT lang, token, n_est FROM r WHERE rk <= 5""".stripMargin

  // ------------------------------------------------------- #38c

  /** PMI collocations (#38c): top token pairs by pointwise mutual
    * information over document co-occurrence. Everything upstream of
    * the ranking is exact integers: doc-frequency per token, co-doc
    * frequency per (within-doc distinct) pair, corpus doc count. PMI
    * ∝ log(cooc·N / (df_a·df_b)) and log is monotone, so ranking by
    * the RATIO needs no log: both engines compute the identical IEEE
    * double from identical bigint products (each < 2^53 — overflow-
    * checked domain). Scale shape: within-doc DISTINCT collapse
    * first, then the per-doc pair expansion flows straight into a
    * map-side partial agg keyed by (tok_a, tok_b) — pairs-per-doc is
    * bounded by per-doc type count squared, and the shuffle carries
    * only the ~|vocab|² surviving keys, not the expansion. Top-k via
    * limit-after-sort (TakeOrdered map-side heads), vocab_top_words
    * precedent. */
  def pmiTopPairs(spark: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val df = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    val cooc = docTok.as("a")
      .join(docTok.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("cooc"))
    val scored = cooc
      .join(broadcast(df).withColumnRenamed("tok", "tok_a")
              .withColumnRenamed("df", "df_a"), Seq("tok_a"))
      .join(broadcast(df).withColumnRenamed("tok", "tok_b")
              .withColumnRenamed("df", "df_b"), Seq("tok_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("cooc"),
        ((col("cooc") * col("n_docs")).cast("double") /
         (col("df_a") * col("df_b")).cast("double")).as("pmi_ratio"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi_ratio").desc, col("tok_a"), col("tok_b"))
    scored.orderBy(col("pmi_ratio").desc, col("tok_a"), col("tok_b")).limit(20)
      .withColumn("rk", row_number().over(w))
  }

  private val pmiTopPairsSql =
    """WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |f AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |c AS (SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS cooc
      |      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |      GROUP BY 1, 2),
      |s AS (SELECT tok_a, tok_b, cooc,
      |        CAST(cooc * n_docs AS DOUBLE) / CAST(fa.df * fb.df AS DOUBLE)
      |          AS pmi_ratio
      |      FROM c, n
      |      JOIN f fa ON c.tok_a = fa.tok JOIN f fb ON c.tok_b = fb.tok)
      |SELECT tok_a, tok_b, cooc, pmi_ratio,
      |  CAST(row_number() OVER (ORDER BY pmi_ratio DESC, tok_a, tok_b) AS INT) AS rk
      |FROM s QUALIFY rk <= 20""".stripMargin

  // ------------------------------------------------------- #47a

  /** Corpus mixture drift (#47a): per-(lang, source) cell comparison
    * between two corpus snapshots (even vs odd doc_id standing in for
    * yesterday/today), with the total-variation contribution kept in
    * EXACT integers: |p_a − p_b| scaled by tot_a·tot_b is
    * |cnt_a·tot_b − cnt_b·tot_a| — the drift monitor a retraining
    * pipeline gates on, with no float division anywhere. Single scan,
    * one partial-agg shuffle of |lang×source| cells, broadcast
    * single-row totals. */
  def mixtureDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("cnt_a"),
           sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cnt_b"))
    val tot = cells.agg(sum(col("cnt_a")).as("tot_a"),
                        sum(col("cnt_b")).as("tot_b"))
    cells.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("cnt_a"), col("cnt_b"),
        abs(col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a"))
          .as("drift_scaled"))
  }

  private val mixtureDriftSql =
    """WITH c AS (SELECT lang, source,
      |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
      |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      |  FROM documents GROUP BY 1, 2),
      |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS tot_a,
      |             CAST(SUM(cnt_b) AS BIGINT) AS tot_b FROM c)
      |SELECT lang, source, cnt_a, cnt_b,
      |  abs(cnt_a * tot_b - cnt_b * tot_a) AS drift_scaled
      |FROM c, t""".stripMargin

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

  // ------------------------------------------------------- #51 k-means

  /** Fixed 8 centroids for the k-means driver gates: the embeddings of
    * vec_id < 8, collected once at plan build (8 rows — bounded, like
    * the IVF training sample). Fixed rather than learned so the DuckDB
    * oracle can recompute the assignment exactly. */
  private def fixedCentroids(spark: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    Tables.embeddings(spark, dir).where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  /** K-means assignment driver gate (#51): Cluster.assign (the per-row
    * zero-exchange cosine argmax — the same path Cluster.fit iterates)
    * against the 8 fixed centroids, summarized per cluster with
    * integer-exact members/id-sum. The oracle recomputes the argmax
    * with list_cosine_similarity; comparisons agree across engines
    * (the dedup_embedding_sound precedent) and random-vector margins
    * are far above ulp scale, so membership is deterministic. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    Cluster.assign(Tables.embeddings(spark, dir), "vec_id", "embedding",
                   fixedCentroids(spark, dir))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("id_sum"))

  private val kmeansAssignSql =
    """WITH c AS (SELECT vec_id AS cell, embedding AS cvec
      |           FROM embeddings WHERE vec_id < 8),
      |a AS (SELECT v.vec_id, c.cell,
      |        row_number() OVER (PARTITION BY v.vec_id
      |          ORDER BY list_cosine_similarity(v.embedding, c.cvec) DESC,
      |                   c.cell) AS rk
      |      FROM embeddings v, c)
      |SELECT cell AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
      |       CAST(SUM(vec_id) AS BIGINT) AS id_sum
      |FROM a WHERE rk = 1 GROUP BY 1""".stripMargin

  /** Prototypicality pruning gate (#51a): keep the half of each
    * cluster most similar to its centroid — cluster-balanced curation
    * (every cluster keeps its quota; a global similarity cut would
    * empty whole clusters). Ids-only output for the same
    * comparisons-agree reason as the assignment gate. */
  def kmeansPrune(spark: SparkSession, dir: String): DataFrame =
    Cluster.prototypicalPrune(Tables.embeddings(spark, dir), "vec_id",
                              "embedding", fixedCentroids(spark, dir), 0.5)
      .select(col("vec_id"), col("cluster_id"))

  private val kmeansPruneSql =
    """WITH c AS (SELECT vec_id AS cell, embedding AS cvec
      |           FROM embeddings WHERE vec_id < 8),
      |a AS (SELECT v.vec_id, c.cell,
      |        list_cosine_similarity(v.embedding, c.cvec) AS cos,
      |        row_number() OVER (PARTITION BY v.vec_id
      |          ORDER BY list_cosine_similarity(v.embedding, c.cvec) DESC,
      |                   c.cell) AS rk
      |      FROM embeddings v, c),
      |b AS (SELECT vec_id, cell, cos FROM a WHERE rk = 1),
      |r AS (SELECT vec_id, cell,
      |        row_number() OVER (PARTITION BY cell
      |          ORDER BY cos DESC, vec_id) AS mrk,
      |        COUNT(*) OVER (PARTITION BY cell) AS n
      |      FROM b)
      |SELECT vec_id, cell AS cluster_id FROM r
      |WHERE mrk <= CEIL(n * 0.5)""".stripMargin

  /** Distributed k-means end to end (#51, rows-only — the float
    * iteration isn't oracle-expressible; ClusterSpec carries exact
    * parity vs an independent Lloyd's on integer-planted data):
    * seeded k-means++ init, 5 Lloyd iterations over the whole corpus
    * (one partial-agg shuffle each), final cluster census. */
  def kmeansFitSizes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = Cluster.fit(emb, "vec_id", "embedding", k = 8, maxIters = 5)
    Cluster.assign(emb, "vec_id", "embedding", cents)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
  }

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

  /** Entity resolution (#49b): the composition the master-data flow
    * actually runs — [[operators.Fuzzy.selfJoin]]'s lossless blocked
    * match pairs resolved to canonical entity ids by connected
    * components ([[Dedup.clusters]]'s transitive closure): a↔b and
    * b↔c merge a,b,c under one representative even when a↔c exceeds
    * the edit threshold. Oracle recomputes the pairs ALL-PAIRS and
    * the closure as a recursive CTE (the dedup_clusters machinery).
    * Only keys participating in ≥1 match appear — singletons are the
    * corpus, not a result. */
  def entityResolution(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusters(
      operators.Fuzzy.selfJoin(
        Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
        "s_suppkey", "s_name", maxDist = 1),
      "key_a", "key_b")
      .select(col("doc_id").as("s_suppkey"), col("cluster_rep").as("entity_rep"))

  private val entityResolutionSql =
    """WITH RECURSIVE s AS (
      |  SELECT s_suppkey, s_name FROM supplier),
      |e0 AS (
      |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
      |  FROM s a JOIN s b ON a.s_suppkey < b.s_suppkey
      |  WHERE levenshtein(a.s_name, b.s_name) <= 1),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
      |SELECT id AS s_suppkey, MIN(r) AS entity_rep FROM reach GROUP BY id""".stripMargin

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

  /** PCA sound gate (#59): the moment sums are the one order-sensitive
    * stage of [[Pca.fit]], so the gate plants integer-valued ONE-HOT
    * vectors (coordinate = vec_id mod 16, value = ±(vec_id mod 7 + 1),
    * uncentered fit): every product and partial sum is an exact small
    * integer in doubles at ANY aggregation order, the second-moment
    * matrix is exactly diagonal, Jacobi converges in zero rotations to
    * the exact identity, and the projection is a coordinate lookup —
    * all of which DuckDB recomputes bit-for-bit. The pruning/ranking
    * (variance-desc, coordinate-asc ties) is part of the contract. */
  private def pcaPlanted(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("""transform(sequence(0, 15), i ->
             |  CAST(IF(i = vec_id % 16,
             |          (CAST(vec_id % 7 AS INT) + 1)
             |            * IF((vec_id DIV 16) % 2 = 0, 1, -1),
             |          0) AS FLOAT))""".stripMargin).as("embedding"))

  def pcaSound(spark: SparkSession, dir: String): DataFrame = {
    val planted = pcaPlanted(spark, dir)
    val model = Pca.fit(planted, "embedding", k = 5, center = false)
    // Scalar (vec_id, idx, val) rows, not an array column: the driver's
    // oracle compare sorts result columns with pandas, which cannot
    // order array cells — flattening makes every cell hashable.
    Pca.project(planted, "embedding", model)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("idx", "val")))
  }

  private val pcaSoundSql =
    """WITH v AS (SELECT vec_id,
      |    CAST(vec_id % 16 AS INTEGER) AS c,
      |    CAST((vec_id % 7 + 1)
      |         * (CASE WHEN (vec_id // 16) % 2 = 0 THEN 1 ELSE -1 END)
      |         AS DOUBLE) AS val
      |  FROM embeddings),
      |m AS (SELECT c, SUM(val * val) / (SELECT COUNT(*) FROM v) AS moment
      |      FROM v GROUP BY 1),
      |ord AS (SELECT c, ROW_NUMBER() OVER (ORDER BY moment DESC, c) AS rk
      |        FROM m),
      |tops AS (SELECT c, CAST(rk - 1 AS INTEGER) AS idx FROM ord WHERE rk <= 5)
      |SELECT v.vec_id, tops.idx,
      |  CASE WHEN tops.c = v.c THEN v.val ELSE 0.0 END AS val
      |FROM v CROSS JOIN tops""".stripMargin

  /** PCA projection on the real embeddings (#59 production path):
    * centered fit, k=8, whitened output. Rows-only driver check by
    * nature — distributed float moment sums are deterministic per
    * plan but not bit-pinned across partitionings; the machinery is
    * gated exactly by `pca_sound` and structurally by PcaSpec. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = Pca.fit(emb, "embedding", k = 8)
    // Flattened like pca_sound so the rows-only driver check can
    // sort and count without hitting an unhashable array column.
    Pca.project(emb, "embedding", model, whiten = true)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("idx", "val")))
  }

  /** DSIR fit (#60): exact hashed unigram+bigram bucket counts for
    * the target slice (lang='en') vs the raw corpus — the integer
    * half of the importance-weight pipeline; see [[Dsir.fit]]. */
  def dsirFit(spark: SparkSession, dir: String): DataFrame =
    Dsir.fit(Tables.documents(spark, dir), "text", col("lang") === "en")

  private val dsirFitSql =
    """WITH d AS (SELECT lang = 'en' AS flag,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT flag, t.tok AS g FROM d, UNNEST(d.toks) AS t(tok)
      |      UNION ALL
      |      SELECT flag, d.toks[i] || ' ' || d.toks[i+1] AS g
      |      FROM d, UNNEST(generate_series(1, len(d.toks) - 1)) AS u(i)),
      |b AS (SELECT flag,
      |    ((strpos('0123456789abcdef', substr(md5(g), 31, 1)) - 1) * 16
      |   + (strpos('0123456789abcdef', substr(md5(g), 32, 1)) - 1)) % 256 AS bucket
      |  FROM g)
      |SELECT CAST(bucket AS INTEGER) AS bucket,
      |  CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
      |  COUNT(*) AS n_raw
      |FROM b GROUP BY 1""".stripMargin

  /** DSIR scoring sound gate (#60): the same per-row fold code path
    * as the real scorer, fed a PLANTED bucket→ratio table of exact
    * small integers (lr_b = (b·37 mod 15) − 7) — every per-gram term
    * and every partial sum is an exact double at any fold order, so
    * DuckDB reproduces the scores bit-for-bit. Gates the hashing,
    * bucketing, bigram construction, and fold exactly; the real
    * ln-smoothed ratios ride the identical plan (`dsir_select`). */
  def dsirSound(spark: SparkSession, dir: String): DataFrame = {
    val planted = Array.tabulate(256)(b => ((b * 37 % 15) - 7).toDouble)
    Dsir.score(Tables.documents(spark, dir), "doc_id", "text", planted)
  }

  private val dsirSoundSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, t.tok AS g FROM d, UNNEST(d.toks) AS t(tok)
      |      UNION ALL
      |      SELECT doc_id, d.toks[i] || ' ' || d.toks[i+1] AS g
      |      FROM d, UNNEST(generate_series(1, len(d.toks) - 1)) AS u(i)),
      |b AS (SELECT doc_id,
      |    ((strpos('0123456789abcdef', substr(md5(g), 31, 1)) - 1) * 16
      |   + (strpos('0123456789abcdef', substr(md5(g), 32, 1)) - 1)) % 256 AS bucket
      |  FROM g)
      |SELECT doc_id,
      |  CAST(SUM((bucket * 37 % 15) - 7) AS DOUBLE) AS score
      |FROM b GROUP BY 1""".stripMargin

  /** DSIR end-to-end selection (#60): real add-one-smoothed ln
    * ratios (target = lang='en'), global top-100 by importance.
    * Rows-only by nature — ln's last bit is libm-dependent, so the
    * scores are engine-deterministic but not engine-portable;
    * machinery is oracle-gated by `dsir_fit` + `dsir_sound` and the
    * semantics by DsirSpec (target docs outscore the rest on
    * average; repartition-stable). */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    Dsir.select(Tables.documents(spark, dir), "doc_id", "text",
                col("lang") === "en", n = 100)

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

  /** Per-source quality filter, approx swap (#31a2): the documented
    * 100 TB replacement for `quality_filter`'s per-source window sort
    * — an approx-percentile threshold per source broadcast back as a
    * plain filter (no corpus window). Gate: in-query tolerance flag
    * (sketch_sound pattern): each source's kept count must land
    * within 5% (+2 rows slack) of the exact half the window form
    * keeps. */
  def qualityFilterApprox(spark: SparkSession, dir: String): DataFrame = {
    // materialize the narrow (id, source, quality) projection ONCE:
    // it feeds BOTH the threshold agg and the filter side, and Spark
    // does not dedupe shared subtrees — uncheckpointed, the 3-regex
    // quality score ran twice over the corpus (measured at 100×:
    // 59 s vs 31 s; the lm_perplexity lesson on a projection instead
    // of a fit table)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .localCheckpoint()
    val thr = scored.groupBy(col("source"))
      .agg(percentile_approx(col("quality"), lit(0.5), lit(10000)).as("thr"),
           count(lit(1)).as("n_docs"))
    scored.join(broadcast(thr), "source")
      .where(col("quality") >= col("thr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_docs")).as("n_docs"))
      .select(col("source"), col("n_docs"),
        (abs(col("n_kept") - col("n_docs") / 2) <=
          col("n_docs").cast("double") * lit(0.05) + lit(2.0)).as("kept_ok"))
  }

  private val qualityFilterApproxSql =
    """SELECT source, COUNT(*) AS n_docs, true AS kept_ok
      |FROM documents GROUP BY 1""".stripMargin

  /** Composed curation pipeline (#65): the end-to-end "assemble a
    * training slice" flagship for the LLM-data side — exact dedup
    * keep-one, quality floor, deterministic per-source cap — each
    * stage an already-gated operator, composed in ONE declarative
    * plan (one fingerprint window + one per-source window + per-row
    * filters; nothing materializes between stages). The oracle
    * recomputes the whole chain, so the COMPOSITION is hash-exact,
    * not just the parts. */
  def curatePipeline(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextFunctions.fingerprint(col("text")))
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(Sampling.bucket65536(col("doc_id")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("keeper", min(col("doc_id")).over(w))
      .where(col("doc_id") === col("keeper"))
      // Generate barrier (the IngestStream r14 fuse, applied to the
      // batch gate in r16): a plain withColumn+where lets predicate
      // pushdown inline the quality expression into the Filter WHILE
      // the Project keeps its own copy — the full stats pass ran
      // twice per surviving row (PlanSpec pins the single eval now).
      // explode(array(...)) materializes the value once; nothing
      // rewrites across a generator.
      .select(col("doc_id"), col("source"),
        explode(array(TextFunctions.qualityScore(col("text")))).as("quality"))
      .where(col("quality") >= 0.3)
      .withColumn("rk", row_number().over(capW))
      .where(col("rk") <= 15)
      .select(col("doc_id"), col("source"), col("quality"))
  }

  private val curatePipelineSql =
    """WITH d AS (SELECT doc_id, source, text,
      |    MIN(doc_id) OVER (PARTITION BY
      |      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS keeper
      |  FROM documents),
      |q AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) * 0.5
      |    + CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |      / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) * 0.3
      |    + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2 AS quality
      |  FROM d WHERE doc_id = keeper),
      |f AS (SELECT doc_id, source, quality,
      |    row_number() OVER (PARTITION BY source ORDER BY
      |        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1),
      |      doc_id) AS rk
      |  FROM q WHERE quality >= 0.3)
      |SELECT doc_id, source, quality FROM f WHERE rk <= 15""".stripMargin

  /** Incremental curation flagship (#65a): [[Curate.runBatch]] ×3 —
    * ledger dedup → quality gate → per-source token budget → corpus +
    * ledger + ANN-index + inverted-index appends, one Manifest
    * commitWith per batch. The gate corpus plants REAL duplicate
    * structure over the documents table (ids >= 300 repeat an earlier
    * text — cross-batch dups that must die against the ledger; ids
    * with doc_id % 11 = 7 repeat their left neighbor — in-batch
    * dups), the 0.615 floor rejects ~half on quality, and the
    * 550-token budget cuts mid-stream in later batches (state
    * carry-over is load-bearing). The ORACLE recomputes the whole
    * composed chain FROM SCRATCH over the union in DuckDB — dedup
    * keep-one, quality, budget cumsum in doc_id order — so
    * append == rebuild is hash-gated for the composition, not just
    * per stage; the two index flags additionally pin the probes:
    * ANN (3 appends, probed at nprobe=cells) against in-engine brute
    * force over the final vectors, and BM25 against the direct
    * index-free recompute over the final corpus ([[bm25DirectTopK]],
    * the bm25_search computation), compared row-exactly. */
  def curateIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 600)
    val emb = Tables.embeddings(spark, dir)
    val baseId = expr("CASE WHEN doc_id >= 300 THEN doc_id % 300 " +
      "WHEN doc_id % 11 = 7 THEN doc_id - 1 ELSE doc_id END")
    val derived = docs.select(col("doc_id"), col("source"), baseId.as("base_id"))
      .join(docs.select(col("doc_id").as("base_id"), col("text")), "base_id")
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint()
    val roots = Curate.tempRoots("graft-curate")
    Seq((0L, 200L), (200L, 400L), (400L, 600L)).foreach { case (lo, hi) =>
      Curate.runBatch(spark, roots,
        derived.where(col("doc_id") >= lo && col("doc_id") < hi),
        emb, qualityFloor = 0.615, budgetPerSource = 550L)
    }
    val corpus = Curate.readCorpus(spark, roots).localCheckpoint()
    // r19 gate-overhead trim (guide §2.6 — overlap independent jobs;
    // zero change to what the query computes): each `A.except(B)
    // .isEmpty && B.except(A).isEmpty` check was FOUR driver-serial
    // actions, each re-deriving its inputs (the ANN probe and the
    // brute force each ran twice, likewise both BM25 sides). Both
    // compare sides are now materialized once (localCheckpoint), the
    // two excepts fuse into ONE union'd action per check, and the two
    // independent checks (separate index roots, disjoint inputs)
    // submit from two driver threads — the runBatch index-append
    // overlap pattern applied to the verify stage. Booleans identical
    // by construction: same set-equality predicate over the same rows.
    def sameRows(a: DataFrame, b: DataFrame): Boolean = {
      val ac = a.localCheckpoint(); val bc = b.localCheckpoint()
      ac.except(bc).union(bc.except(ac)).isEmpty
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // ANN: the thrice-appended index probed losslessly must equal
    // brute force over exactly the curated vectors
    val annOkF = Future {
      val finalVecs = emb
        .join(corpus.select(col("doc_id").as("vec_id")), "vec_id")
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val queries = finalVecs.orderBy(col("vec_id")).limit(5).localCheckpoint()
      val probed = graft.sources.AnnIndex
        .probe(spark, roots.ann, queries, k = 5, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
      val bf = Similarity.bruteForceTopK(queries, finalVecs, 5)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
      sameRows(probed, bf)
    }
    // BM25: the thrice-appended index probed must row-exactly match
    // the DIRECT (index-free) recompute over the final corpus — the
    // bm25_search computation, itself oracle-gated. r17 verdict item
    // 4: the previous from-scratch InvertedIndex.build-and-probe
    // verify spent ~17% of this gate on second-index writes; the
    // probe-vs-independent-recompute is the same append==rebuild
    // strength (stronger on tokenization identity) with zero writes.
    val bm25OkF = Future {
      val finalDocs = derived
        .join(corpus.select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("text"))
      val terms = Seq("spark", "window", "merge")
      val pA = graft.sources.InvertedIndex.probe(spark, roots.inv, terms, 10)
      val pD = bm25DirectTopK(finalDocs, terms, 10)
      sameRows(pA, pD)
    }
    val annOk = Await.result(annOkF, Duration.Inf)
    val bm25Ok = Await.result(bm25OkF, Duration.Inf)
    corpus.select(col("doc_id"), col("source"), col("quality"))
      .withColumn("ann_probe_ok", lit(annOk))
      .withColumn("bm25_probe_ok", lit(bm25Ok))
  }

  private val curateIncrementalSql =
    """WITH ids AS (SELECT doc_id, source FROM documents WHERE doc_id < 600),
      |map AS (SELECT doc_id, source,
      |    CASE WHEN doc_id >= 300 THEN doc_id % 300
      |         WHEN doc_id % 11 = 7 THEN doc_id - 1
      |         ELSE doc_id END AS base_id
      |  FROM ids),
      |txt AS (SELECT m.doc_id, m.source, d.text
      |  FROM map m JOIN documents d ON d.doc_id = m.base_id),
      |ko AS (SELECT doc_id, source, text,
      |    MIN(doc_id) OVER (PARTITION BY
      |      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS keeper
      |  FROM txt),
      |q AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) * 0.5
      |    + CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |      / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) * 0.3
      |    + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.2 AS quality,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
      |  FROM ko WHERE doc_id = keeper),
      |c AS (SELECT doc_id, source, quality,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      |  FROM q WHERE quality >= 0.615)
      |SELECT doc_id, source, quality,
      |  TRUE AS ann_probe_ok, TRUE AS bm25_probe_ok
      |FROM c WHERE cum <= 550""".stripMargin

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

  /** Per-source duplication profile (#23c): docs, distinct normalized
    * texts, and the duplication ratio per source — the triage report
    * that decides WHERE dedup effort goes before any pair generation
    * runs (a source at 100× duplication wants exact collapse first;
    * one at 1.01× may not be worth an LSH pass). One partial-agg
    * shuffle on (source, fingerprint), then a tiny per-source agg;
    * the ratio is one exact-int division (dsum discipline). */
  def dedupProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"),
               TextFunctions.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
           count(lit(1)).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs").cast("double") / col("n_distinct").cast("double"))
          .as("dup_ratio"))

  private val dedupProfileSql =
    """WITH f AS (SELECT source,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    COUNT(*) AS n
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_distinct,
      |  CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
      |FROM f GROUP BY 1""".stripMargin

  /** Vocabulary coverage curve (#38d): what fraction of corpus token
    * MASS the top-N words cover, for candidate vocab sizes — the
    * analysis that sizes a tokenizer vocabulary before training it
    * (complement of `bpe_train`: decide N, then learn the pieces;
    * the synthetic corpus has a 31-word vocabulary, so the gate
    * curve uses sizes 4/8/16 — the plan shape is size-independent).
    * One word-count shuffle (vocabulary-bounded), one rank window
    * over the count table (NOT the corpus), exact integer mass sums;
    * the coverage ratio is one final division (dsum discipline). */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(4, 8, 16)
    val counts = Bpe.wordCounts(Tables.documents(spark, dir), "text")
    // rank by (n DESC, word) without a one-task global window: the
    // vocabulary is corpus-sized (billions of grams at 100 TB), so the
    // cumsum goes through the bucketed machinery. Counts are
    // heavy-tailed — a LOG bucket (-floor(log2 n)) is monotone in the
    // rank order and ≤ 64 distinct values for ANY long count, so the
    // declared bucket bound holds by type, not by data.
    val ranked = Relational.bucketedGlobalCumsum(
      counts.withColumn("negn", -col("n")),
      valueCol = "negn", tieCol = "word", sumCol = "n",
      bucketCol = -floor(log2(col("n"))), maxBuckets = 128)
    val total = counts.agg(sum(col("n")).as("total"))
    ranked.where(col("r").isin(sizes.map(Integer.valueOf): _*))
      .crossJoin(broadcast(total))
      .select(col("r").cast("int").as("vocab_size"),
        col("cum").as("mass_covered"), col("total").as("mass_total"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("coverage"))
  }

  private val vocabCoverageSql =
    """WITH c AS (SELECT word, COUNT(*) AS n FROM (
      |    SELECT unnest(string_split(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
      |    FROM documents) WHERE len(word) > 0 GROUP BY 1),
      |r AS (SELECT word, n,
      |        CAST(row_number() OVER w AS INT) AS rk,
      |        CAST(SUM(n) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |      FROM c WINDOW w AS (ORDER BY n DESC, word)),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
      |SELECT rk AS vocab_size, cum AS mass_covered, t.total AS mass_total,
      |  CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE) AS coverage
      |FROM r, t WHERE rk IN (4, 8, 16)""".stripMargin

  /** Temperature-scaled mixture sampling (#43b): keep rates per
    * language ∝ n_s^(α−1) with α = 1/2 (lang is the skewed grouping
    * here — en is ~3× the rest; the column is a parameter in spirit) — the multilingual-training
    * standard that upsamples scarce sources relative to their share
    * (α=1 keeps the natural mix, α=0 equalizes). Engine-exact at
    * α=1/2 because IEEE-754 REQUIRES sqrt to be correctly rounded
    * (unlike ln/pow): rate_s = sqrt(n_min/n_s) — scarcest source
    * keeps all — and the keep decision is the md5-bucket threshold
    * floor(rate·65536), all bit-identical in DuckDB. Same shape as
    * `mixture_rebalance`: tiny count agg broadcast back, per-row
    * filter, no corpus shuffle. */
  def mixtureAlpha(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
    val nMin = counts.agg(min(col("n_s")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col("lang"),
        floor(sqrt(col("n_min").cast("double") / col("n_s").cast("double"))
              * 65536).cast("long").as("t_s"))
    docs.join(broadcast(rates), "lang")
      .where(Sampling.bucket65536(col("doc_id")) < col("t_s"))
      .select(col("doc_id"), col("lang"))
  }

  private val mixtureAlphaSql =
    """WITH c AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY 1),
      |m AS (SELECT MIN(n_s) AS n_min FROM c),
      |r AS (SELECT lang,
      |        CAST(floor(sqrt(CAST(m.n_min AS DOUBLE) / CAST(n_s AS DOUBLE))
      |                   * 65536) AS BIGINT) AS t_s
      |      FROM c, m)
      |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      |WHERE (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |    + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |    + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |    + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 32, 1)) - 1)
      |    < r.t_s""".stripMargin

  /** BPE trainer sound gate (#64a): the merge loop on a planted
    * corpus (low×5 lower×2 newest×6 widest×3 — the Sennrich paper's
    * own example shape) whose FULL 8-merge sequence, including every
    * count-tie broken lexicographically, is hand-derived in the
    * VALUES-literal oracle. Gates ordering, tie-breaks, ## naming,
    * and the dictionary rewrite exactly. */
  def bpeTrainSound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Bpe.trainFrom(Seq(text).toDF("text"), "text", numMerges = 8)
      .zipWithIndex
      .map { case (m, i) => (i + 1, m.merged, m.count) }
      .toDF("rank", "merged", "pair_count")
  }

  private val bpeTrainSoundSql =
    """SELECT CAST(rank AS INTEGER) AS rank, merged,
      |  CAST(pair_count AS BIGINT) AS pair_count
      |FROM (VALUES (1,'##es',9),(2,'##est',9),(3,'##ow',7),(4,'low',7),
      |             (5,'##ew',6),(6,'##ewest',6),(7,'newest',6),
      |             (8,'##dest',3)) AS t(rank, merged, pair_count)""".stripMargin

  /** Unigram-LM trainer sound gate (#64c): SentencePiece-style
    * Viterbi-EM ([[Unigram]]) on the same planted Sennrich-shape
    * corpus as `bpe_train_sound` (low×5 lower×2 newest×6 widest×3),
    * maxPieceLen=3, 8 multi-char seeds, 2 EM rounds. The expected
    * output — substring seeding with frequency-truncation, exact
    * rational Viterbi ("lower"→low|e|r beats lo|we|r on 7·17·2 vs
    * 7·8·2), zero-count char retention (l,o,s,t survive at 0), unused
    * multi-char pruning (es,st,we,lo,ow dropped), and the round-2
    * fixed point — is recomputed by an independent exact-fraction
    * reference and pinned as a VALUES-literal oracle (the
    * `bpe_train_sound` pattern). */
  def unigramTrainSound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Unigram.trainFrom(Seq(text).toDF("text"), "text",
        maxPieceLen = 3, maxSeed = 8, rounds = 2)
      .map(p => (p.piece, p.count))
      .toDF("piece", "piece_count")
  }

  private val unigramTrainSoundSql =
    """SELECT piece, CAST(piece_count AS BIGINT) AS piece_count
      |FROM (VALUES ('d',3),('e',2),('est',9),('ew',6),('i',3),('l',0),
      |             ('low',7),('n',6),('o',0),('r',2),('s',0),('t',0),
      |             ('w',3)) AS t(piece, piece_count)""".stripMargin

  /** Unigram-LM training end to end (#64c): real-corpus dictionary,
    * 2 EM rounds, vocab capped at 400. Rows-only by the driver's
    * lights (the oracle cannot run the iterative Viterbi-EM); the
    * loop itself is gated exactly by `unigram_train_sound`. */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Unigram.trainFrom(Tables.documents(spark, dir), "text",
        maxPieceLen = 6, maxSeed = 2000, rounds = 2, vocabSize = 400)
      .map(p => (p.piece, p.count))
      .toDF("piece", "piece_count")
  }

  /** BPE training end to end (#64a): 40 merges over the real corpus
    * dictionary. Rows-only by the driver's lights (the oracle cannot
    * run an iterative argmax loop); the loop itself is gated exactly
    * by `bpe_train_sound` and the dictionary by the vocab queries. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Bpe.trainFrom(Tables.documents(spark, dir), "text", numMerges = 40)
      .zipWithIndex
      .map { case (m, i) => (i + 1, m.left, m.right, m.merged, m.count) }
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Gate vocabulary for WordPiece (#64): every lowercase letter but
    * 'q' and every digit, bare and as "##" continuations, plus a few
    * real subwords — so most text tokenizes fully, 'q'-words hit the
    * whole-word-[UNK] path, and longest-match has real choices. */
  private val wpVocab: Seq[String] = {
    val chars = (('a' to 'z').filterNot(_ == 'q') ++ ('0' to '9')).map(_.toString)
    chars ++ chars.map("##" + _) ++
      Seq("the", "and", "ing", "ion", "er", "in", "on", "re", "at",
          "##ing", "##ed", "##er", "##ion", "##s", "##nd", "##at",
          "##on", "##re", "##e", "##d")
  }

  /** WordPiece tokenization (#64): greedy longest-match subword
    * pieces per document — see [[Wordpiece.tokenize]]. Pure string
    * work, so the oracle (a per-word recursive-CTE cursor — a
    * different formulation entirely) must agree byte-for-byte. */
  def wordpieceTokenize(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val toks = Wordpiece.tokenizeNative(col("text"), wpVocab)
    // bounded gate corpus (the dedup_simhash_sound rule): the DuckDB
    // twin is a RECURSIVE per-character MaxMatch — fine at 20k docs,
    // an OOM at the 100x set. The unbounded native path is probed at
    // 100x by Scale100 (15.8 s, and the native==HOF identity spec).
    Tables.documents(spark, dir).where(col("doc_id") < 20000)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        concat_ws(" ", col("toks")).as("token_str"),
        size(col("toks")).cast("long").as("n_tokens"),
        // array_remove, not an interpreted filter lambda: the tokens
        // are never null, so the size difference counts the [UNK]s
        (size(col("toks")) - size(array_remove(col("toks"), "[UNK]")))
          .cast("long").as("n_unk"))
  }

  private val wordpieceTokenizeSql: String = {
    val values = wpVocab.map(v => s"('$v')").mkString(",")
    val keyOf = (l: Int) =>
      s"CASE WHEN pos = 1 THEN substr(wd, pos, $l) ELSE '##' || substr(wd, pos, $l) END"
    val mlen = (8 to 1 by -1).map(l =>
      s"WHEN ${keyOf(l)} IN (SELECT tok FROM vocab) THEN $l").mkString(
      "CASE ", " ", " END")
    val mtok = (8 to 1 by -1).map(l =>
      s"WHEN ${keyOf(l)} IN (SELECT tok FROM vocab) THEN ${keyOf(l)}").mkString(
      "CASE ", " ", " END")
    s"""WITH RECURSIVE vocab(tok) AS (VALUES $values),
       |d AS (SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents WHERE doc_id < 20000),
       |w AS (SELECT doc_id, i AS ord, d.toks[i] AS wd
       |      FROM d, UNNEST(generate_series(1, len(d.toks))) AS u(i)),
       |step(doc_id, ord, wd, pos, toks, failed) AS (
       |  SELECT doc_id, ord, wd, 1, '', false FROM w
       |  UNION ALL
       |  SELECT doc_id, ord, wd,
       |    CASE WHEN mlen IS NULL THEN pos ELSE pos + mlen END,
       |    CASE WHEN mlen IS NULL THEN toks
       |         WHEN toks = '' THEN mtok ELSE toks || ' ' || mtok END,
       |    mlen IS NULL
       |  FROM (SELECT doc_id, ord, wd, pos, toks,
       |          $mlen AS mlen, $mtok AS mtok
       |        FROM step WHERE NOT failed AND pos <= len(wd)) s),
       |fin AS (SELECT doc_id, ord,
       |          CASE WHEN failed THEN '[UNK]' ELSE toks END AS wt
       |        FROM step WHERE failed OR pos > len(wd)),
       |agg AS (SELECT doc_id,
       |    COALESCE(string_agg(wt, ' ' ORDER BY ord)
       |             FILTER (WHERE wt <> ''), '') AS token_str
       |  FROM fin GROUP BY 1)
       |SELECT d.doc_id, agg.token_str,
       |  CAST(CASE WHEN token_str = '' THEN 0
       |       ELSE len(string_split(token_str, ' ')) END AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(string_split(token_str, ' '),
       |                       x -> x = '[UNK]')) AS BIGINT) AS n_unk
       |FROM d JOIN agg USING (doc_id)""".stripMargin
  }

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

  /** Cross-source vocabulary overlap by sketch inclusion–exclusion
    * (#46d): |A∩B| ≈ ndv(A) + ndv(B) − ndv(A∪B), with the union NDV
    * from `hll_union` of the two per-source sketches — the
    * dedup-PLANNING signal at 100 TB: which corpus pairs overlap
    * enough to deserve a cross-corpus dedup pass (#24a/#24c), decided
    * from source-sized sketches without ever joining the corpora. The
    * production plan is the sketch side alone: one scan, map-side
    * partial sketches, a sources² (tiny) pair join of register-max
    * unions — deterministic under any partitioning, so the tolerance
    * flag gates it (ndv_cube pattern). The exact per-source NDVs and
    * the exact pairwise overlap (a (source,word)-distinct self-join)
    * are the GATE'S price, not the plan. */
  def sourceOverlapApprox(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val sk = raw.groupBy(col("source"))
      .agg(hll_sketch_agg(col("word")).as("sk"))
    val d = raw.distinct()
    val nd = d.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    // sources-sized, but the checkpoint hides that from the plan: the
    // declared bound makes the all-pairs grid classify bounded and
    // raises loudly if a corpus ever carries > 1024 sources
    val per = graft.plans.Bounds.declare(
      sk.join(nd, "source").localCheckpoint(true), 1024, "source grid")
    val shared = d.as("x").join(d.as("y"),
        col("x.word") === col("y.word") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_overlap"))
    val pairs = per.as("a").join(per.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
              col("a.nd").as("nd_a"), col("b.nd").as("nd_b"),
              hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk")))
                .as("est_u"))
    pairs.join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("nd_a"), col("nd_b"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (abs(col("nd_a") + col("nd_b") - col("est_u") - col("n_overlap")) <=
          greatest((col("nd_a") + col("nd_b")) * lit(0.08), lit(24.0)))
          .as("approx_ok"))
  }

  private val sourceOverlapApproxSql =
    """WITH d AS (
      |  SELECT DISTINCT source, word
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
      |        FROM documents) t),
      |nd AS (SELECT source, COUNT(*) AS nd FROM d GROUP BY 1),
      |sh AS (SELECT x.source AS src_a, y.source AS src_b,
      |         COUNT(*) AS n_overlap
      |       FROM d x JOIN d y
      |         ON x.word = y.word AND x.source < y.source
      |       GROUP BY 1, 2)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  a.nd AS nd_a, b.nd AS nd_b,
      |  COALESCE(sh.n_overlap, 0) AS n_overlap, TRUE AS approx_ok
      |FROM nd a JOIN nd b ON a.source < b.source
      |LEFT JOIN sh ON sh.src_a = a.source AND sh.src_b = b.source""".stripMargin

  /** Exact prefix-filtered Jaccard join (#26b): every document pair
    * with token-set Jaccard ≥ 9/10 — see
    * [[operators.SetJoin.prefixJaccardSelfJoin]]. The EXACT-recall
    * complement to the MinHash path (#24): LSH recall is
    * probabilistic, the prefix filter lossless — and like
    * fuzzy_match_blocked, losslessness IS the oracle: DuckDB computes
    * the all-pairs quadratic form and the blocked result must
    * hash-match it. Gate corpus bounded to doc_id < 2000 (the
    * containment-gate rule: full table at the driver's sf0.01, a
    * fixed slice above) because BOTH sides of the compare are
    * quadratic-ish on this deliberately dup-dense corpus — at sf0.1
    * the unbounded pair count is ~1M and the bench line would be all
    * gate, no signal. The UNBOUNDED form is probed by Scale100 over
    * the full 500k-doc table (collapse-first, 26 s zero-spill). */
  def jaccardJoinExact(spark: SparkSession, dir: String): DataFrame =
    operators.SetJoin.prefixJaccardSelfJoin(
      Tables.documents(spark, dir).where(col("doc_id") < 2000),
      "doc_id", "text", tauNum = 9, tauDen = 10)

  private val jaccardJoinExactSql =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents WHERE doc_id < 2000),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
      |        CAST(len(a.toks) AS BIGINT) AS sz_a,
      |        CAST(len(b.toks) AS BIGINT) AS sz_b
      |      FROM d a JOIN d b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, inter, sz_a, sz_b,
      |  CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE)
      |    AS jaccard
      |FROM p WHERE inter * 10 >= (sz_a + sz_b - inter) * 9""".stripMargin

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

  /** Corpus-wide length percentile per document (#46e): the exact
    * percentile-rank normalization that turns a raw signal (token
    * count) into the [0,1] score curriculum samplers and length
    * filters consume — [[Relational.bucketedGlobalRank]] at DOC grain,
    * proving the distributed-rank machinery is a general operator,
    * not a Gini special case. Integer values, ties by doc_id; pct is
    * ONE division of exact longs. */
  def docLengthPercentile(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val n = toks.agg(count(lit(1)).as("n"))
    Relational.bucketedGlobalRank(toks, "n_tokens", "doc_id",
                                  bucketWidth = 64)
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_tokens"), col("r").as("len_rank"),
              (col("r").cast("double") / col("n").cast("double")).as("pct"))
  }

  private val docLengthPercentileSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (SELECT doc_id, n_tokens,
      |        row_number() OVER (ORDER BY n_tokens, doc_id) AS len_rank,
      |        COUNT(*) OVER () AS n
      |      FROM t)
      |SELECT doc_id, n_tokens, len_rank,
      |  CAST(len_rank AS DOUBLE) / CAST(n AS DOUBLE) AS pct
      |FROM r""".stripMargin

  /** Per-label embedding centroids (#40c): exact per-dimension means
    * of each label's vectors — the mixture diagnostic SemDeDup/IVF
    * sit on (how far apart are the label clusters, is a source
    * drifting) and the warm-start k-means initializer. The GATE form
    * folds each (label, dim) group's values in vec_id order — one
    * fixed left-associated IEEE chain, so both engines produce the
    * identical double. Two cheaper forms were measured and rejected
    * for the gate: casting the FLOAT straight to DECIMAL(20,12) lets
    * Spark round the 9-digit shortest float repr where DuckDB rounds
    * the exact binary (1e-9 drift), and widening to double first
    * still tie-breaks the 12th decimal differently about once per
    * 10⁵ casts (1e-14 drift). Small floats simply have no exact
    * decimal representation inside the 38-digit cap, so order-free
    * decimal sums cannot gate this — the PRODUCTION swap at 100 TB is
    * exactly that plain decimal-sum mean (deterministic under any
    * partitioning, 1e-14-close); the fold pins the arithmetic at gate
    * scale, where per-(label,dim) groups are collect-size-bounded. */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"),
              posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sort_array(collect_list(
             struct(col("vec_id"), col("v").cast("double").as("v"))))
             .as("vs"),
           count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim"), col("n_vecs"),
        (expr("aggregate(vs, 0.0D, (acc, p) -> acc + p.v)") /
          col("n_vecs").cast("double")).as("centroid"))

  private val embeddingCentroidsSql =
    """WITH x AS (
      |  SELECT label, CAST(i - 1 AS INT) AS dim, vec_id,
      |    CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i))
      |SELECT label, dim, COUNT(*) AS n_vecs,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |                           list(v ORDER BY vec_id)),
      |              (a, b) -> a + b)
      |    / CAST(COUNT(*) AS DOUBLE) AS centroid
      |FROM x GROUP BY 1, 2""".stripMargin

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

  /** SemDeDup (#62): within-cluster semantic dedup over the 8 fixed
    * gate centroids at τ=0.4 (the corpus's p9999 cosine — a sparse,
    * realistic near-dup graph), min-id representatives. Every stage
    * is engine-portable: the argmax assignment (kmeans_assign
    * precedent), exact cosine comparisons, and the component
    * resolution (dedup_clusters precedent) — so the oracle recomputes
    * the FULL pipeline. See [[SemDedup.prune]]. */
  def semdedup(spark: SparkSession, dir: String): DataFrame =
    SemDedup.prune(Tables.embeddings(spark, dir), "vec_id", "embedding",
                   fixedCentroids(spark, dir), tau = 0.4)
      .select(col("id").as("vec_id"), col("semgroup"), col("keep"))

  private val semdedupSql =
    """WITH RECURSIVE m AS (SELECT vec_id AS id, embedding AS vec,
      |    MIN(vec_id) OVER (PARTITION BY embedding::VARCHAR) AS gid
      |  FROM embeddings),
      |u AS (SELECT gid AS id, vec FROM m WHERE id = gid),
      |c AS (SELECT vec_id AS cell, embedding AS cvec
      |      FROM embeddings WHERE vec_id < 8),
      |a AS (SELECT u.id, u.vec, c.cell,
      |        row_number() OVER (PARTITION BY u.id
      |          ORDER BY list_cosine_similarity(u.vec, c.cvec) DESC,
      |                   c.cell) AS rk
      |      FROM u, c),
      |asg AS (SELECT id, vec, cell FROM a WHERE rk = 1),
      |e0 AS (SELECT x.id AS src, y.id AS dst FROM asg x JOIN asg y
      |       ON x.cell = y.cell AND x.id < y.id
      |       AND list_cosine_similarity(x.vec, y.vec) >= 0.4),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach(id, r) AS (SELECT src, src FROM edges
      |  UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      |compo AS (SELECT id, MIN(r) AS semgroup FROM reach GROUP BY id),
      |ru AS (SELECT u.id, COALESCE(compo.semgroup, u.id) AS semgroup,
      |         (COALESCE(compo.semgroup, u.id) = u.id) AS keep
      |       FROM u LEFT JOIN compo USING (id))
      |SELECT m.id AS vec_id, ru.semgroup, (ru.keep AND m.id = m.gid) AS keep
      |FROM m JOIN ru ON ru.id = m.gid""".stripMargin

  /** Bigram-LM novelty evidence (#61): reference LM = the lang='en'
    * slice; every doc scored by exact integer sequence-level OOV
    * counts — see [[Lm.novelty]]. */
  def lmNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = Lm.fitBigrams(docs.where(col("lang") === "en"),
                            "doc_id", "text")
    Lm.novelty(docs, "doc_id", "text", ref)
  }

  private val lmNoveltySql =
    """WITH d AS (SELECT doc_id, lang,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |bg AS (SELECT doc_id, d.toks[i] AS w1, d.toks[i+1] AS w2
      |       FROM d, UNNEST(generate_series(1, len(d.toks) - 1)) AS u(i)),
      |ref AS (SELECT w1, w2, COUNT(*) AS c12
      |        FROM bg JOIN d USING (doc_id) WHERE d.lang = 'en'
      |        GROUP BY 1, 2),
      |agg AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |    SUM(CASE WHEN r.c12 IS NULL THEN 1 ELSE 0 END) AS n_unseen,
      |    SUM(COALESCE(r.c12, 0)) AS hit_mass
      |  FROM bg b LEFT JOIN ref r ON b.w1 = r.w1 AND b.w2 = r.w2
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(a.n_unseen, 0) AS BIGINT) AS n_unseen,
      |  CAST(COALESCE(a.hit_mass, 0) AS BIGINT) AS hit_mass
      |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Bigram-LM mean negative log-likelihood (#61): real add-one
    * smoothed scoring against the en-slice LM. Rows-only by nature
    * (ln is libm-local); machinery oracle-gated by `lm_novelty`,
    * semantics by LmSpec (reference-slice docs score better). */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val en = docs.where(col("lang") === "en")
    Lm.meanNll(docs, "doc_id", "text", Lm.fitBigrams(en, "doc_id", "text"))
  }

  /** Weighted k-sample per group (#36c): priority sampling
    * (Duffield-Lund-Thorup) over documents, 40 per source, with
    * length-derived integer weights (w = min(16, 1 + n_chars/256) —
    * a caller would pass a quality score; the gate uses an exact
    * integer basis so every weight is bit-identical in both
    * engines). q = w·65537/(b+1) is one exact product + one IEEE
    * division, so the kept set AND the Horvitz-Thompson ŵ are
    * engine-exact — see [[Sampling.prioritySample]]. */
  def samplePriority(spark: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          least(lit(16L), lit(1L) + col("n_chars") / lit(256L))
            .cast("long").as("w")),
      "source", "doc_id", "w", k = 40)
      .select(col("doc_id"), col("source"),
              col("w").cast("double").as("w"), col("est_w"))

  private val samplePrioritySql =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(least(16, 1 + n_chars // 256) AS DOUBLE) AS w,
      |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) + 1 AS b1
      |  FROM documents),
      |q AS (SELECT doc_id, source, w, w * 65537.0 / CAST(b1 AS DOUBLE) AS q FROM d),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |                                   ORDER BY q DESC, doc_id) AS rk FROM q),
      |t AS (SELECT source, MAX(CASE WHEN rk = 41 THEN q END) AS tau
      |      FROM r GROUP BY 1)
      |SELECT r.doc_id, r.source, r.w,
      |  CASE WHEN t.tau IS NULL THEN r.w ELSE greatest(r.w, t.tau) END AS est_w
      |FROM r JOIN t USING (source) WHERE rk <= 40""".stripMargin

  /** Exact duplicate-substring excision (#58): see
    * [[Corpus.exciseDupSubstrings]]. The oracle recomputes removal
    * coverage per character with an ASOF join (greatest dup-gram
    * start at-or-before each position; covered iff it is within k)
    * — a genuinely different formulation from the engine's interval
    * merge, so agreement is evidence, not echo. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    Corpus.exciseDupSubstrings(Tables.documents(spark, dir),
                               "doc_id", "text", k = 20)

  /** [[dedupSubstring]] on the PRODUCTION zero-copy xxhash64 gram
    * digest (#58 production twin, Corpus.exciseDupSubstringsXx). The
    * digest only keys the dup-gram table; the excised text is
    * digest-independent, so the SAME oracle SQL hash-gates this form
    * end-to-end. */
  def dedupSubstringXx(spark: SparkSession, dir: String): DataFrame =
    Corpus.exciseDupSubstringsXx(Tables.documents(spark, dir),
                                 "doc_id", "text", k = 20)

  private val dedupSubstringSql =
    """WITH d AS (SELECT doc_id,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents),
      |g AS (SELECT doc_id, i, md5(substr(t, CAST(i AS INTEGER), 20)) AS h
      |      FROM d, UNNEST(generate_series(1, len(t) - 19)) AS u(i)
      |      WHERE len(t) >= 20),
      |dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS c
      |                       FROM g GROUP BY 1) WHERE c >= 2),
      |s AS (SELECT doc_id, i FROM g JOIN dup USING (h)),
      |chars AS (SELECT doc_id, p, substr(t, CAST(p AS INTEGER), 1) AS ch
      |          FROM d, UNNEST(generate_series(1, len(t))) AS u(p)),
      |cov AS (SELECT c.doc_id, c.p, c.ch, s.i AS last_start
      |        FROM chars c ASOF LEFT JOIN s
      |          ON s.doc_id = c.doc_id AND s.i <= c.p)
      |SELECT d.doc_id,
      |  COALESCE(x.clean_text, '') AS clean_text,
      |  COALESCE(x.n_removed, 0) AS n_removed
      |FROM d LEFT JOIN (
      |  SELECT doc_id,
      |    COALESCE(string_agg(ch, '' ORDER BY p)
      |      FILTER (WHERE last_start IS NULL OR p >= last_start + 20), '')
      |      AS clean_text,
      |    CAST(COUNT(*) FILTER (WHERE last_start IS NOT NULL
      |                            AND p < last_start + 20) AS BIGINT)
      |      AS n_removed
      |  FROM cov GROUP BY 1) x USING (doc_id)""".stripMargin

  /** Per-source boilerplate stripping (#57): the corpus carries no
    * real site templates, so the query PREPENDS a deterministic
    * 8-token banner (exactly ONE segment — the original segment grid
    * shifts by one whole segment and stays intact) naming the doc's
    * source; the operator must strip it from every document (its
    * within-source df is 100% ≥ 1/4) while keeping the natural
    * segments (max within-source df is 2/25 < 1/4). Self-checking:
    * clean_text must equal the normalized ORIGINAL text —
    * CorpusSpec asserts exactly that. See [[Corpus.stripBoilerplate]]. */
  def stripBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      concat(lit("nav menu home login search contact about "),
             col("source"), lit(" "), col("text")).as("text"))
    Corpus.stripBoilerplate(docs, "doc_id", "text", "source",
                            segTokens = 8, num = 1, den = 4)
  }

  private val stripBoilerplateSql =
    """WITH d AS (SELECT doc_id, source,
      |    'nav menu home login search contact about ' || source || ' ' || text AS text
      |  FROM documents),
      |t AS (SELECT doc_id, source,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM d),
      |s AS (SELECT doc_id, source, i AS seg_idx,
      |        array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
      |      FROM t, UNNEST(generate_series(0, greatest((len(toks)+7)//8 - 1, 0))) AS u(i)),
      |c AS (SELECT source, seg, COUNT(DISTINCT doc_id) AS seg_docs
      |      FROM s GROUP BY 1, 2),
      |n AS (SELECT source, COUNT(DISTINCT doc_id) AS src_docs
      |      FROM d GROUP BY 1),
      |f AS (SELECT s.doc_id, s.source, s.seg_idx, s.seg,
      |        c.seg_docs * 4 < n.src_docs * 1 AS kept
      |      FROM s JOIN c USING (source, seg) JOIN n USING (source))
      |SELECT doc_id, source,
      |  COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '') AS clean_text,
      |  CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped
      |FROM f GROUP BY 1, 2""".stripMargin

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

  /** Winnowing fingerprints (#55): k=8, w=4 — see [[Corpus.winnow]]. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    Corpus.winnow(Tables.documents(spark, dir), "doc_id", "text", k = 8, w = 4)

  private val winnowFingerprintSql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
      |g0 AS (SELECT doc_id, text, length(text) - 7 AS ng,
      |       unnest(range(1, length(text) - 6)) AS i FROM d),
      |g AS (SELECT doc_id, i, ng,
      |      CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 15)
      |           AS BIGINT) AS h FROM g0),
      |m AS (SELECT doc_id, i, ng,
      |      min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |      FROM g)
      |SELECT DISTINCT doc_id, fp FROM m WHERE i <= ng - 3""".stripMargin

  /** Winnow with the PRODUCTION xxhash64 digest (#55): same grams,
    * same deque, digest swapped off the md5 wall (~2B MessageDigest
    * calls at 1000× — SCALE1000.md r13). Rows-gated; its deque core is
    * hash-gated through `winnow_fingerprint` (md5 twin) and
    * `winnow_xx_sound` (planted digest stream). */
  def winnowXxFingerprint(spark: SparkSession, dir: String): DataFrame =
    Corpus.winnowXx(Tables.documents(spark, dir), "doc_id", "text", k = 8, w = 4)

  /** Planted-stream winnow sound twin (#55, the simhash pattern): a
    * digest stream computable in BOTH engines — hᵢ = (doc_id·37 +
    * i·101) mod 1000 over i ∈ [1, 16 + doc_id mod 9] — runs through
    * the ENGINE's deque ([[graft.functions.GraftFunctions
    * .winnowFromHashes]], the exact core `winnow_xx` shares) while
    * DuckDB recomputes window minima + DISTINCT in SQL: hash-exact on
    * everything but the digest function itself, which is Spark's own
    * XXH64. Stream length varies per doc so the boundary windows
    * (first/last, short-tail) are exercised, and the mod-1000 range
    * forces duplicate minima across docs AND windows — the DISTINCT
    * path is load-bearing, not incidental. */
  def winnowXxSound(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).where(col("doc_id") < 500)
      .select(col("doc_id"),
        (lit(16) + col("doc_id") % 9).cast("int").as("n"))
    d.select(col("doc_id"),
        graft.functions.GraftFunctions.winnowFromHashes(
          transform(sequence(lit(1), col("n")),
            i => (col("doc_id") * 37 + i.cast("long") * 101) % 1000),
          4).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
  }

  private val winnowXxSoundSql =
    """WITH d AS (SELECT doc_id, 16 + doc_id % 9 AS n
      |           FROM documents WHERE doc_id < 500),
      |g AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS i FROM d),
      |h AS (SELECT doc_id, n, i,
      |      (doc_id * 37 + i * 101) % 1000 AS h FROM g),
      |m AS (SELECT doc_id, n, i,
      |      min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |      FROM h)
      |SELECT DISTINCT doc_id, fp FROM m WHERE i <= n - 3""".stripMargin

  /** Containment dedup (#24b): asymmetric doc-inside-doc pairs over
    * the df-capped vocabulary — see [[Dedup.containmentPairs]]. The
    * oracle mirrors the k-rarest probe-token candidate generation
    * (rank by global df, token text tie-break, k=16) exactly, so the
    * gate is hash-exact at the operator's production parameters —
    * candidate pruning is part of the operator's spec, not slop. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    // bounded gate corpus (the wordpiece_tokenize rule, r10 commit
    // precedent): the DuckDB twin mirrors the k-rarest candidate
    // generation with three corpus-wide self-joins — fine at 20k docs,
    // >20 min at the 100x 500k-doc set. The bound covers the WHOLE
    // table at the driver's sf0.01 gate; the unbounded operator is
    // probed at 100x by Scale100 (10.9 s / 545 MB).
    Dedup.containmentPairs(
      Tables.documents(spark, dir).where(col("doc_id") < 20000),
      "doc_id", "text",
      dfNum = 1, dfDen = 5, minNum = 1, minDen = 2,
      maxJoinTokens = 16)

  private val dedupContainmentSql =
    """WITH bd AS (SELECT doc_id, text FROM documents WHERE doc_id < 20000),
      |tok AS (
      |  SELECT DISTINCT doc_id AS doc,
      |    unnest(regexp_split_to_array(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |  FROM bd),
      |tok2 AS (SELECT * FROM tok WHERE tok <> ''),
      |rare AS (SELECT tok, COUNT(*) AS df FROM tok2 GROUP BY tok
      |        HAVING COUNT(*) * 5 <= (SELECT COUNT(DISTINCT doc_id)
      |                                FROM bd)),
      |rt AS (SELECT t.doc, t.tok, r.df FROM tok2 t JOIN rare r USING (tok)),
      |pk AS (SELECT doc, tok FROM (
      |        SELECT doc, tok,
      |          ROW_NUMBER() OVER (PARTITION BY doc ORDER BY df, tok) AS rn
      |        FROM rt) WHERE rn <= 16),
      |cand AS (SELECT DISTINCT k.doc AS doc_a, b.doc AS doc_b
      |         FROM pk k JOIN rt b ON k.tok = b.tok AND k.doc <> b.doc),
      |sz AS (SELECT doc, COUNT(*) AS n_a FROM rt GROUP BY 1),
      |sh AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      |       FROM cand c
      |       JOIN rt a ON a.doc = c.doc_a
      |       JOIN rt b ON b.doc = c.doc_b AND b.tok = a.tok
      |       GROUP BY 1, 2)
      |SELECT sh.doc_a, sh.doc_b,
      |  CAST(shared AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
      |FROM sh JOIN sz ON sz.doc = sh.doc_a
      |WHERE shared * 2 >= n_a""".stripMargin

  /** Cross-corpus containment (#24c): fractional contamination — even
    * doc_ids are the "benchmark" needles, odd the training corpus
    * (parity interleaves the testdata's dup clusters so cross pairs
    * exist, as in dedup_cross_corpus). See
    * [[Dedup.containmentPairsAcross]]. */
  def dedupContainmentCross(spark: SparkSession, dir: String): DataFrame = {
    // bounded gate corpus, as in dedup_containment (full table at
    // sf0.01; DuckDB-feasible slice at 100x)
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 20000)
    Dedup.containmentPairsAcross(
      docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", dfNum = 1, dfDen = 5, minNum = 1, minDen = 2,
      maxJoinTokens = 16)
  }

  private val dedupContainmentCrossSql =
    """WITH bd AS (SELECT doc_id, text FROM documents WHERE doc_id < 20000),
      |tok AS (
      |  SELECT DISTINCT doc_id AS doc,
      |    unnest(regexp_split_to_array(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |  FROM bd),
      |tok2 AS (SELECT * FROM tok WHERE tok <> ''),
      |ta AS (SELECT * FROM tok2 WHERE doc % 2 = 0),
      |tb AS (SELECT * FROM tok2 WHERE doc % 2 = 1),
      |nb AS (SELECT COUNT(DISTINCT doc_id) AS n FROM bd
      |       WHERE doc_id % 2 = 1),
      |dfb AS (SELECT tok, COUNT(*) AS df FROM tb GROUP BY tok),
      |ra AS (SELECT ta.doc, ta.tok, COALESCE(dfb.df, 0) AS df
      |       FROM ta LEFT JOIN dfb USING (tok)
      |       WHERE COALESCE(dfb.df, 0) * 5 <= (SELECT n FROM nb)),
      |rb AS (SELECT tb.doc, tb.tok FROM tb JOIN dfb USING (tok)
      |       WHERE dfb.df * 5 <= (SELECT n FROM nb)),
      |pk AS (SELECT doc, tok FROM (
      |        SELECT doc, tok,
      |          ROW_NUMBER() OVER (PARTITION BY doc ORDER BY df, tok) AS rn
      |        FROM ra) WHERE rn <= 16),
      |cand AS (SELECT DISTINCT k.doc AS doc_a, b.doc AS doc_b
      |         FROM pk k JOIN rb b ON k.tok = b.tok),
      |sz AS (SELECT doc, COUNT(*) AS n_a FROM ra GROUP BY 1),
      |sh AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      |       FROM cand c
      |       JOIN ra a ON a.doc = c.doc_a
      |       JOIN rb b ON b.doc = c.doc_b AND b.tok = a.tok
      |       GROUP BY 1, 2)
      |SELECT sh.doc_a AS id_a, sh.doc_b AS id_b,
      |  CAST(shared AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
      |FROM sh JOIN sz ON sz.doc = sh.doc_a
      |WHERE shared * 2 >= n_a""".stripMargin

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

  // --------------------------- incremental ledger dedup (#23d)

  /** Incremental dedup against a fingerprint ledger (#23d): the first
    * half of the corpus (doc_id < 250) plays the already-ingested
    * history; the second half is the arriving batch. Accepted = batch
    * keep-one minus ledger hits; see [[Dedup.incrementalExact]]. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ledger = docs.where(col("doc_id") < 250)
      .select(TextFunctions.fingerprint(col("text")).as("fp")).distinct()
    Dedup.incrementalExact(docs.where(col("doc_id") >= 250),
      "doc_id", "text", ledger)
  }

  private val dedupIncrementalSql =
    """WITH led AS (SELECT DISTINCT
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents WHERE doc_id < 250),
      |batch AS (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    min(doc_id) AS keeper_id, count(*) AS n_batch_dups
      |  FROM documents WHERE doc_id >= 250 GROUP BY 1)
      |SELECT b.fp, b.keeper_id, b.n_batch_dups
      |FROM batch b ANTI JOIN led ON b.fp = led.fp""".stripMargin

  // ----------------------------- exact stratified split (#36e)

  /** Exact stratified 80/10/10 split by source (#36e): per-stratum
    * counts are EXACT (integer thresholds over the md5 rank), unlike
    * the binomial hash split (#36). One window shuffle; see
    * [[Sampling.stratifiedSplit]]. */
  def stratifiedSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSplit(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      "source", "doc_id", trainPct = 80, valPct = 10)

  private val stratifiedSplitSql =
    """WITH r AS (SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT doc_id, source,
      |  CASE WHEN rn <= n * 80 // 100 THEN 'train'
      |       WHEN rn <= n * 90 // 100 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM r""".stripMargin

  // ---------------- Unicode normalization (#30c, graft_unicode_normalize)

  /** NFC canonicalization gate (#30c): deterministically DECOMPOSE the
    * corpus (every 'e' → 'e' + U+0301 combining acute — the
    * crawler-variant byte split that defeats exact dedup), then
    * recompose with the native NFC expression. DuckDB builds the same
    * decomposed text (chr(769)) and recomposes with its own
    * `nfc_normalize` — two independent Unicode implementations must
    * produce identical bytes, codepoint counts, and composition
    * deltas. */
  def nfcNormalizeSound(spark: SparkSession, dir: String): DataFrame = {
    val decomposed = regexp_replace(col("text"), "e", "e\u0301") // e + combining acute
    // bounded gate corpus (dedup_simhash_sound rule): the compare
    // materializes BOTH engines' full normalized text in pandas \u2014
    // 5k docs proves the byte-level machinery at any harness scale
    Tables.documents(spark, dir).where(col("doc_id") < 5000).select(
      col("doc_id"),
      graft.functions.GraftFunctions.unicodeNormalize(decomposed, "NFC")
        .as("norm_text"),
      (length(decomposed) -
        length(graft.functions.GraftFunctions.unicodeNormalize(decomposed, "NFC")))
        .as("n_composed"))
  }

  private val nfcNormalizeSoundSql =
    """WITH d AS (SELECT doc_id,
      |    regexp_replace(text, 'e', 'e' || chr(769), 'g') AS dec
      |  FROM documents WHERE doc_id < 5000)
      |SELECT doc_id, nfc_normalize(dec) AS norm_text,
      |  CAST(length(dec) - length(nfc_normalize(dec)) AS INTEGER) AS n_composed
      |FROM d""".stripMargin

  // ------------------------------ BPE encode (#64b, graft_bpe_encode)

  /** BPE apply sound gate (#64b): encode every doc with a PLANTED
    * 4-merge table chosen so sequential rank-order replacement equals
    * the native min-rank-first apply (no merge's output feeds a
    * LOWER-rank pair), which lets DuckDB replay the merges as nested
    * space-padded string replaces over the ##-alphabet char split.
    * The word-start merges (t ##h, th ##e, i ##n) occur at most once
    * per word (a bare left symbol only exists at position 0); the
    * continuation merge (##e ##r) can chain, so its SQL replace runs
    * three passes (boundary spaces are consumed by a match — one pass
    * misses every second adjacent occurrence). */
  def bpeEncodeSound(spark: SparkSession, dir: String): DataFrame = {
    val merges = Seq("t ##h", "th ##e", "i ##n", "##e ##r")
    // bounded gate corpus (the dedup_simhash_sound rule: a verification
    // construct must stay runnable at every scale the harness uses) —
    // the DuckDB twin explodes every CHARACTER of every word, which is
    // fine at 5k docs and a 150M-row memory blowup at the 100× set.
    // The unbounded production path is `bpe_encode`.
    Tables.documents(spark, dir).where(col("doc_id") < 5000)
      .select(col("doc_id"),
        concat_ws(" ", graft.functions.GraftFunctions.bpeEncode(
          TextFunctions.normalize(col("text")), merges)).as("pieces"))
  }

  private val bpeEncodeSoundSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents WHERE doc_id < 5000),
      |w AS (SELECT doc_id, u.i AS pos, d.ws[u.i] AS word
      |      FROM d, UNNEST(generate_series(1, len(d.ws))) AS u(i)),
      |sym AS (SELECT doc_id, pos,
      |    ' ' || array_to_string(list_transform(generate_series(1, length(word)),
      |      i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
      |           ELSE '##' || substr(word, i, 1) END), ' ') || ' ' AS s
      |  FROM w WHERE length(word) > 0),
      |m1 AS (SELECT doc_id, pos, replace(s, ' t ##h ', ' th ') AS s FROM sym),
      |m2 AS (SELECT doc_id, pos, replace(s, ' th ##e ', ' the ') AS s FROM m1),
      |m3 AS (SELECT doc_id, pos, replace(s, ' i ##n ', ' in ') AS s FROM m2),
      |m4 AS (SELECT doc_id, pos,
      |    replace(replace(replace(s,
      |      ' ##e ##r ', ' ##er '), ' ##e ##r ', ' ##er '), ' ##e ##r ', ' ##er ') AS s
      |  FROM m3)
      |SELECT doc_id, string_agg(trim(s), ' ' ORDER BY pos) AS pieces
      |FROM m4 GROUP BY doc_id""".stripMargin

  /** BPE train → encode round-trip (#64b production path): 8 merges
    * trained from this very corpus ([[Bpe.trainFrom]]), applied by the
    * native expression. Rows-only by nature (the merge table is
    * runtime data, so no static SQL twin); the apply semantics are
    * gated exactly by `bpe_encode_sound` and BpeSpec's reference
    * round-trip. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = Bpe.trainFrom(docs, "text", numMerges = 8)
      .map(m => s"${m.left} ${m.right}")
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.bpeEncode(
        TextFunctions.normalize(col("text")), merges).as("p"))
      .select(col("doc_id"), size(col("p")).as("n_pieces"),
        concat_ws(" ", col("p")).as("pieces"))
  }

  // ----------------------- token-budget mixture cut (#43c)

  /** Token-budget mixture (#43c): cap every source at 800 BPE-ish
    * tokens, docs taken in deterministic md5 order — the unit training
    * mixtures are actually specified in. One window shuffle keyed by
    * source; see [[Sampling.capTokensPerSource]]. */
  def mixtureTokenBudget(spark: SparkSession, dir: String): DataFrame =
    Sampling.capTokensPerSource(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_tokens")),
      "source", "doc_id", "n_tokens", budget = 800L)

  private val mixtureTokenBudgetSql =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
      |  FROM t)
      |SELECT doc_id, source, n_tokens FROM c WHERE cum <= 800""".stripMargin

  // ------------------- learned quality classifier (#66, perceptron)

  /** Planted integer features for the perceptron gate: every product,
    * margin, and epoch sum is an exact small integer in doubles at ANY
    * aggregation order, so two full synchronous epochs unroll in SQL
    * bit-for-bit (the pca_sound discipline applied to a LEARNER). */
  private def perceptronPlanted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      expr("CAST(doc_id % 5 - 2 AS DOUBLE)").as("f1"),
      expr("CAST(doc_id % 7 - 3 AS DOUBLE)").as("f2"),
      expr("CAST((doc_id DIV 7) % 3 - 1 AS DOUBLE)").as("f3"),
      expr("CAST(IF(doc_id % 3 = 0, 1, -1) AS DOUBLE)").as("y"))

  /** Perceptron fit sound gate (#66): two synchronous batch epochs on
    * planted integer features; returns the full weight history as
    * (epoch, feature, weight) scalar rows. Epoch 1 from w=0 updates on
    * EVERY row (margin 0 counts as misclassified); epoch 2's
    * misclassification test exercises the learned-margin path. */
  def perceptronSound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Classify.fitPerceptron(perceptronPlanted(spark, dir),
      Seq("f1", "f2", "f3"), "y", epochs = 2)
    m.historyRows.toDF("epoch", "feature", "weight")
  }

  private val perceptronSoundSql =
    """WITH v AS (SELECT
      |    CAST(doc_id % 5 - 2 AS DOUBLE) AS f1,
      |    CAST(doc_id % 7 - 3 AS DOUBLE) AS f2,
      |    CAST((doc_id // 7) % 3 - 1 AS DOUBLE) AS f3,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS y
      |  FROM documents),
      |e1 AS (SELECT SUM(y*f1) AS a, SUM(y*f2) AS b,
      |              SUM(y*f3) AS c, SUM(y) AS d FROM v),
      |e2 AS (SELECT
      |    (SELECT a FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f1 ELSE 0 END) AS a,
      |    (SELECT b FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f2 ELSE 0 END) AS b,
      |    (SELECT c FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f3 ELSE 0 END) AS c,
      |    (SELECT d FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y ELSE 0 END) AS d
      |  FROM v)
      |SELECT 1 AS epoch, 'f1' AS feature, a AS weight FROM e1
      |UNION ALL SELECT 1, 'f2', b FROM e1
      |UNION ALL SELECT 1, 'f3', c FROM e1
      |UNION ALL SELECT 1, '__bias', d FROM e1
      |UNION ALL SELECT 2, 'f1', a FROM e2
      |UNION ALL SELECT 2, 'f2', b FROM e2
      |UNION ALL SELECT 2, 'f3', c FROM e2
      |UNION ALL SELECT 2, '__bias', d FROM e2""".stripMargin

  /** Classifier scoring on REAL per-doc quality features under fixed
    * integer weights (#66): the production scoring path — margin is a
    * fixed-association multiply-add chain over alpha/punct/stopword
    * ratios (each one IEEE division), so DuckDB reproduces it exactly;
    * keeps docs the linear filter accepts. */
  def perceptronScore(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
    val model = Classify.PerceptronModel(
      Seq("alpha_ratio", "punct_ratio", "stopword_ratio"),
      Seq(Array(4.0, -3.0, 2.0, -1.0)))
    Classify.score(feats, model)
      .where(col("margin") > 0.0)
      .select(col("doc_id"), col("margin"))
  }

  private val perceptronScoreSql =
    """WITH f AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS stopword_ratio
      |  FROM documents)
      |SELECT doc_id,
      |  ((alpha_ratio * 4.0 + punct_ratio * -3.0) + stopword_ratio * 2.0)
      |    + -1.0 AS margin
      |FROM f
      |WHERE ((alpha_ratio * 4.0 + punct_ratio * -3.0) + stopword_ratio * 2.0)
      |    + -1.0 > 0.0""".stripMargin

  /** End-to-end learned classifier (#66): fit 3 epochs on real ratio
    * features against the weak lang='en' label, report the per-(lang,
    * predicted) decision counts — the confusion summary a filter run
    * is judged by, and never empty even when the separator lands
    * one-sided on imbalanced data. Rows-only by nature — float epoch
    * sums are deterministic per plan but not bit-pinned across
    * partitionings (the Pca/Dsir precedent); the learner's arithmetic
    * is gated exactly by `perceptron_sound` and the scoring chain by
    * `perceptron_score`. */
  def perceptronFilter(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the feature frame ONCE: the regex ratios are the
    // expensive part, and fit's per-epoch actions plus the final
    // scoring pass would otherwise recompute them epochs+1 times
    // (measured at 100×: 71 s -> the one-scan cost). Blocks are freed
    // by the caller's Blocks.freeAll once the result is consumed.
    val feats = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"), col("lang"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
      .withColumn("y", when(col("lang") === "en", 1.0).otherwise(-1.0))
      .localCheckpoint()
    val model = Classify.fitPerceptron(feats,
      Seq("alpha_ratio", "punct_ratio", "stopword_ratio"), "y",
      epochs = 3, lr = 0.5)
    Classify.score(feats, model)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Averaged-perceptron sound gate (#66a): the same two planted
    * synchronous epochs as perceptron_sound, but the published vector
    * is the epoch AVERAGE — the variance-reduction step the shipped
    * filter actually uses (late epochs oscillate around the separator;
    * the mean is the stable estimator). Every epoch weight is an exact
    * integer and the average is ONE division by the epoch count, so
    * DuckDB reproduces the averaged vector bit-for-bit. */
  def perceptronAvgSound(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Classify.fitPerceptron(perceptronPlanted(spark, dir),
      Seq("f1", "f2", "f3"), "y", epochs = 2)
    (m.features :+ "__bias").zip(m.averagedWeights.toSeq)
      .toDF("feature", "weight")
  }

  private val perceptronAvgSoundSql =
    """WITH v AS (SELECT
      |    CAST(doc_id % 5 - 2 AS DOUBLE) AS f1,
      |    CAST(doc_id % 7 - 3 AS DOUBLE) AS f2,
      |    CAST((doc_id // 7) % 3 - 1 AS DOUBLE) AS f3,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS y
      |  FROM documents),
      |e1 AS (SELECT SUM(y*f1) AS a, SUM(y*f2) AS b,
      |              SUM(y*f3) AS c, SUM(y) AS d FROM v),
      |e2 AS (SELECT
      |    (SELECT a FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f1 ELSE 0 END) AS a,
      |    (SELECT b FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f2 ELSE 0 END) AS b,
      |    (SELECT c FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y*f3 ELSE 0 END) AS c,
      |    (SELECT d FROM e1) + SUM(CASE WHEN y * (((f1*(SELECT a FROM e1)
      |        + f2*(SELECT b FROM e1)) + f3*(SELECT c FROM e1))
      |        + (SELECT d FROM e1)) <= 0 THEN y ELSE 0 END) AS d
      |  FROM v)
      |SELECT 'f1' AS feature,
      |  ((SELECT a FROM e1) + (SELECT a FROM e2)) / 2 AS weight
      |UNION ALL SELECT 'f2', ((SELECT b FROM e1) + (SELECT b FROM e2)) / 2
      |UNION ALL SELECT 'f3', ((SELECT c FROM e1) + (SELECT c FROM e2)) / 2
      |UNION ALL SELECT '__bias',
      |  ((SELECT d FROM e1) + (SELECT d FROM e2)) / 2""".stripMargin

  /** Calibrated-classifier sampling (#66b): the composition the
    * upgrade exists for — a keep-PROBABILITY from the classifier's
    * margin drives the quality-weighted sampler (sample_by_quality's
    * bucket draw, with the heuristic score replaced by the learned
    * calibrated one: the CCNet/GPT-3 filter shape, where the filter
    * emits p(keep) and sampling consumes it). The link is the
    * engine-exact rational sigmoid (p = 1/2 + m/(2(1+|m|))) so the
    * emitted probability ITSELF hash-matches; fixed integer weights
    * keep the margin chain exact (perceptron_score precedent — the
    * float FIT is gated separately by perceptron_avg_sound /
    * perceptron_filter). Pure per-row scan, zero shuffle. */
  def sampleByClassifier(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the NARROW feature frame once (the
    // quality_filter_approx / perceptron_filter lesson): p_keep is
    // referenced by the filter, the projection, and any downstream
    // agg, and each reference would otherwise re-evaluate the
    // 3-regex chain per row (measured 53 s → ~1 scan at 100×).
    // Blocks are freed by the caller's Blocks.freeAll.
    val feats = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
      .localCheckpoint()
    val model = Classify.PerceptronModel(
      Seq("alpha_ratio", "punct_ratio", "stopword_ratio"),
      Seq(Array(4.0, -3.0, 2.0, -1.0)))
    Classify.scoreCalibrated(feats, model)
      .where(Sampling.bucket65536(col("doc_id")) <
             floor(col("p_keep") * 65536).cast("long"))
      .select(col("doc_id"), col("p_keep"))
  }

  private val sampleByClassifierSql =
    """WITH f AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS stopword_ratio
      |  FROM documents),
      |m AS (SELECT doc_id,
      |  ((alpha_ratio * 4.0 + punct_ratio * -3.0) + stopword_ratio * 2.0)
      |    + -1.0 AS margin FROM f),
      |p AS (SELECT doc_id,
      |  0.5 + margin / (2.0 * (1.0 + abs(margin))) AS p_keep,
      |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 29, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 30, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1) AS bucket
      |  FROM m)
      |SELECT doc_id, p_keep FROM p
      |WHERE bucket < CAST(floor(p_keep * 65536) AS BIGINT)""".stripMargin

  // ------------------------------------------------------------ registry

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_material_demand" -> (pipelineMaterialDemand _),
    "scan_project"             -> (scanProject _),
    "scan_incremental"         -> (scanIncremental _),
    "derive_recipe"            -> (deriveRecipe _),
    "agg_groupby_sum"          -> (aggGroupbySum _),
    "unpivot_melt"             -> (unpivotMelt _),
    "cdc_latest_per_key"       -> (cdcLatestPerKey _),
    "cdc_merge_apply"          -> (cdcMergeApply _),
    "upsert_on_conflict"       -> (upsertOnConflict _),
    "partition_layout"         -> (partitionLayout _),
    "q1_pricing_summary"       -> (q1PricingSummary _),
    "q3_shipping_priority"     -> (q3ShippingPriority _),
    "q5_local_volume"          -> (q5LocalVolume _),
    "topk_orders_per_cust"     -> (topkOrdersPerCust _),
    "orders_wo_lineitems"      -> (ordersWoLineitems _),
    "rollup_volume"            -> (rollupVolume _),
    "events_hourly"            -> (eventsHourly _),
    "events_sessionize"        -> (eventsSessionize _),
    "text_token_count"         -> (textTokenCount _),
    "text_lang_id"             -> (textLangId _),
    "text_quality"             -> (textQuality _),
    "gopher_quality"           -> (gopherQuality _),
    "blocklist_filter"         -> (blocklistFilter _),
    "text_fingerprint"         -> (textFingerprint _),
    "dedup_exact"              -> (dedupExact _),
    "dedup_keep_best"          -> (dedupKeepBest _),
    "dedup_minhash_pairs"      -> (dedupMinhashPairs _),
    "dedup_simhash"            -> (dedupSimhash _),
    "dedup_simhash_sound"      -> (dedupSimhashSound _),
    "dedup_clusters_star"      -> (dedupClustersStar _),
    "dedup_clusters_auto"      -> (dedupClustersAuto _),
    "ann_ivf_recall"           -> (annIvfRecall _),
    "ann_pq_full"              -> (annPqFull _),
    "ann_pq_recall"            -> (annPqRecall _),
    "dedup_embedding_cosine"   -> (dedupEmbeddingCosine _),
    "ann_bruteforce_topk"      -> (annBruteforceTopk _),
    "ann_hard_negatives"       -> (annHardNegatives _),
    "ann_lsh_topk"             -> (annLshTopk _),
    "multimodal_meta"          -> (multimodalMeta _),
    "events_json_extract"      -> (eventsJsonExtract _),
    "promo_revenue"            -> (promoRevenue _),
    "sql_material_demand"      -> (sqlMaterialDemand _),
    "distinct_agg"             -> (distinctAgg _),
    "having_big_spenders"      -> (havingBigSpenders _),
    "running_total"            -> (runningTotal _),
    "dedup_ngram_jaccard"      -> (ngramJaccard _),
    "sketch_stats"             -> (sketchStats _),
    "ann_ivf_topk"             -> (annIvfTopk _),
    "dedup_minhash_sound"      -> (dedupMinhashSound _),
    "dedup_cross_corpus"       -> (dedupCrossCorpus _),
    "dedup_embedding_cross"    -> (dedupEmbeddingCross _),
    "dedup_embedding_sound"    -> (dedupEmbeddingSound _),
    "ann_ivf_full"             -> (annIvfFull _),
    "ann_index_probe"          -> (annIndexProbe _),
    "ann_index_append"         -> (annIndexAppend _),
    "ann_index_pq"             -> (annIndexPq _),
    "bm25_index_probe"         -> (bm25IndexProbe _),
    "grep_index_probe"         -> (grepIndexProbe _),
    "grep_index_append"        -> (grepIndexAppend _),
    "grep_regex_probe"         -> (grepRegexProbe _),
    "bm25_index_incremental"   -> (bm25IndexIncremental _),
    "ann_lsh_sound"            -> (annLshSound _),
    "sketch_sound"             -> (sketchSound _),
    "multimodal_sound"         -> (multimodalSound _),
    "multimodal_png"           -> (multimodalPng _),
    "multimodal_dedup"         -> (multimodalDedup _),
    "pivot_material"           -> (pivotMaterial _),
    "setops_suppliers"         -> (setOpsSuppliers _),
    "bloom_semi_join"          -> (bloomSemiJoinUrgent _),
    "scd2_dimension"           -> (scd2Dimension _),
    "rolling_7d_revenue"       -> (rolling7dRevenue _),
    "events_json_struct"       -> (eventsJsonStruct _),
    "q7_nation_trade"          -> (q7NationTrade _),
    "above_group_avg"          -> (aboveGroupAvg _),
    // 4 KiB frames: blobs are real containers now (KBs-to-100KB), so
    // tiny frames would explode to tens of thousands of rows per doc
    "multimodal_frames"        -> ((s: SparkSession, d: String) =>
      Multimodal.frameSample(
        Multimodal.attachBlob(Tables.documents(s, d)), 4096, 2)),
    "asof_clicks"              -> (asofClicks _),
    "asof_next_click"          -> (asofNextClick _),
    "range_join_bands"         -> (rangeJoinBands _),
    "window_rank_stats"        -> (windowRankStats _),
    "order_gap_days"           -> (orderGapDays _),
    "cube_volume"              -> (cubeVolume _),
    "median_price"             -> (medianPrice _),
    "split_train_test"         -> (splitTrainTest _),
    "pii_redact"               -> (piiRedact _),
    "pii_redact_luhn"          -> (piiRedactLuhn _),
    "vocab_top_words"          -> (vocabTopWords _),
    "tfidf_top_term"           -> (tfidfTopTerm _),
    "embedding_norm_quant"     -> (embeddingNormQuant _),
    "text_repetition"          -> (textRepetition _),
    "doc_pack"                 -> (docPack _),
    "doc_chunks"               -> (docChunks _),
    "events_compact_changes"   -> (eventsCompactChanges _),
    "event_transitions"        -> (eventTransitions _),
    "retention_cohorts"        -> (retentionCohorts _),
    "value_percentiles_by_type" -> (valuePercentilesByType _),
    "clip_outliers"            -> (clipOutliers _),
    "bm25_search"              -> (bm25Search _),
    "hybrid_search_rrf"        -> (hybridSearchRrf _),
    "source_mixture"           -> (sourceMixture _),
    "quality_filter"           -> (qualityFilter _),
    "bpe_top_pairs"            -> (bpeTopPairs _),
    "lang_confusion"           -> (langConfusion _),
    "sample_by_quality"        -> (sampleByQuality _),
    "sample_priority"          -> (samplePriority _),
    "dsir_fit"                 -> (dsirFit _),
    "dsir_sound"               -> (dsirSound _),
    "dsir_select"              -> (dsirSelect _),
    "lm_novelty"               -> (lmNovelty _),
    "lm_perplexity"            -> (lmPerplexity _),
    "semdedup"                 -> (semdedup _),
    "forecast_backtest"        -> (forecastBacktest _),
    "ndv_cube"                 -> (ndvCube _),
    "quantile_cube"            -> (quantileCube _),
    "wordpiece_tokenize"       -> (wordpieceTokenize _),
    "bpe_train_sound"          -> (bpeTrainSound _),
    "lpa_sound"                -> (lpaSound _),
    "vocab_coverage"           -> (vocabCoverage _),
    "dedup_profile"            -> (dedupProfile _),
    "mixture_alpha"            -> (mixtureAlpha _),
    "skew_report"              -> (skewReport _),
    "cm_sketch_counts"         -> (cmSketchCounts _),
    "dedup_incremental"        -> (dedupIncremental _),
    "stratified_split"         -> (stratifiedSplit _),
    "nfc_normalize_sound"      -> (nfcNormalizeSound _),
    "bpe_encode_sound"         -> (bpeEncodeSound _),
    "bpe_encode"               -> (bpeEncode _),
    "mixture_token_budget"     -> (mixtureTokenBudget _),
    "perceptron_sound"         -> (perceptronSound _),
    "perceptron_avg_sound"     -> (perceptronAvgSound _),
    "perceptron_score"         -> (perceptronScore _),
    "perceptron_filter"        -> (perceptronFilter _),
    "sample_by_classifier"     -> (sampleByClassifier _),
    "quality_filter_approx"    -> (qualityFilterApprox _),
    "curate_pipeline"          -> (curatePipeline _),
    "curate_incremental"       -> (curateIncremental _),
    "bpe_train"                -> (bpeTrain _),
    "unigram_train_sound"      -> (unigramTrainSound _),
    "unigram_train"            -> (unigramTrain _),
    "sample_per_source"        -> (samplePerSource _),
    "doc_length_histogram"     -> (docLengthHistogram _),
    "mixture_rebalance"        -> (mixtureRebalance _),
    "dedup_lines"              -> (dedupLines _),
    "decontaminate"            -> (decontaminate _),
    "decontaminate_xx"         -> (decontaminateXx _),
    "profile_columns_approx"   -> (profileColumnsApprox _),
    "dedup_clusters"           -> (dedupClusters _),
    "profile_columns"          -> (profileColumns _),
    "dq_checks"                -> (dqChecks _),
    "gapfill_daily_demand"     -> (gapfillDailyDemand _),
    "fuzzy_name_match"         -> (fuzzyNameMatch _),
    "funnel_conversion"        -> (funnelConversion _),
    "min_cost_supplier"        -> (minCostSupplier _),
    "important_parts"          -> (importantParts _),
    "order_count_distribution" -> (orderCountDistribution _),
    "idle_rich_customers"      -> (idleRichCustomers _),
    "grouping_sets_volume"     -> (groupingSetsVolume _),
    "rare_token_stats"         -> (rareTokenStats _),
    "heavy_hitters_sound"      -> (heavyHittersSound _),
    "heavy_hitters"            -> (heavyHitters _),
    "pmi_top_pairs"            -> (pmiTopPairs _),
    "mixture_drift"            -> (mixtureDrift _),
    "late_shippers"            -> (lateShippers _),
    "kmeans_assign"            -> (kmeansAssign _),
    "kmeans_prune"             -> (kmeansPrune _),
    "kmeans_fit_sizes"         -> (kmeansFitSizes _),
    "pagerank_sound"           -> (pagerankSound _),
    "ppr_sound"                -> (pprSound _),
    "fuzzy_match_blocked"      -> (fuzzyMatchBlocked _),
    "hits_sound"               -> (hitsSound _),
    "bfs_sound"                -> (bfsSound _),
    "activity_streaks"         -> (activityStreaks _),
    "kcore_sound"              -> (kcoreSound _),
    "ktruss_sound"             -> (ktrussSound _),
    "holt_forecast"            -> (holtForecast _),
    "seasonal_decompose"       -> (seasonalDecomposeQ _),
    "source_overlap_approx"    -> (sourceOverlapApprox _),
    "basket_affinity"          -> (basketAffinity _),
    "jaccard_join_exact"       -> (jaccardJoinExact _),
    "revenue_gini"             -> (revenueGini _),
    "funnel_steps"             -> (funnelSteps _),
    "sssp_sound"               -> (ssspSound _),
    "entity_resolution"        -> (entityResolution _),
    "cusum_alerts"             -> (cusumAlerts _),
    "interval_coverage"        -> (intervalCoverage _),
    "demand_trend_ols"         -> (demandTrendOls _),
    "doc_length_percentile"    -> (docLengthPercentile _),
    "series_correlation"       -> (seriesCorrelation _),
    "embedding_centroids"      -> (embeddingCentroids _),
    "equi_depth_bins"          -> (equiDepthBins _),
    "jl_project"               -> (jlProject _),
    "mode_per_group"           -> (modePerGroup _),
    "q19_band_revenue"         -> (q19BandRevenue _),
    "q4_priority_exists"       -> (q4PriorityExists _),
    "q6_forecast_revenue"      -> (q6ForecastRevenue _),
    "q8_market_share"          -> (q8MarketShare _),
    "q9_profit_by_nation"      -> (q9ProfitByNation _),
    "q10_returned_items"       -> (q10ReturnedItems _),
    "q15_top_supplier"         -> (q15TopSupplier _),
    "q16_supplier_variety"     -> (q16SupplierVariety _),
    "anomaly_mad"              -> (anomalyMad _),
    "strip_boilerplate"        -> (stripBoilerplate _),
    "dedup_substring"          -> (dedupSubstring _),
    "dedup_substring_xx"       -> (dedupSubstringXx _),
    "pca_sound"                -> (pcaSound _),
    "pca_project"              -> (pcaProject _),
    "q12_late_by_class"        -> (q12LateByClass _),
    "q17_small_qty_revenue"    -> (q17SmallQtyRevenue _),
    "q20_dominant_suppliers"   -> (q20DominantSuppliers _),
    "triangle_counts"          -> (triangleCounts _),
    "ewma_daily_demand"        -> (ewmaDailyDemand _),
    "ewma_daily_demand_tuned"  -> (ewmaDailyDemandTuned _),
    "winnow_fingerprint"       -> (winnowFingerprint _),
    "winnow_xx"                -> (winnowXxFingerprint _),
    "winnow_xx_sound"          -> (winnowXxSound _),
    "dedup_containment"        -> (dedupContainment _),
    "dedup_containment_cross"  -> (dedupContainmentCross _)
  )

  def oracles: Map[String, String] = Map(
    "pipeline_material_demand" -> pipelineMaterialDemandSql,
    "scan_project"             -> scanProjectSql,
    "scan_incremental"         -> scanIncrementalSql,
    "derive_recipe"            -> deriveRecipeSql,
    "agg_groupby_sum"          -> aggGroupbySumSql,
    "unpivot_melt"             -> unpivotMeltSql,
    "cdc_latest_per_key"       -> cdcLatestPerKeySql,
    "cdc_merge_apply"          -> cdcMergeApplySql,
    "upsert_on_conflict"       -> upsertOnConflictSql,
    "partition_layout"         -> partitionLayoutSql,
    "q1_pricing_summary"       -> q1PricingSummarySql,
    "q3_shipping_priority"     -> q3ShippingPrioritySql,
    "q5_local_volume"          -> q5LocalVolumeSql,
    "topk_orders_per_cust"     -> topkOrdersPerCustSql,
    "orders_wo_lineitems"      -> ordersWoLineitemsSql,
    "rollup_volume"            -> rollupVolumeSql,
    "events_hourly"            -> eventsHourlySql,
    "events_sessionize"        -> eventsSessionizeSql,
    "text_token_count"         -> textTokenCountSql,
    "text_lang_id"             -> textLangIdSql,
    "text_quality"             -> textQualitySql,
    "gopher_quality"           -> gopherQualitySql,
    "blocklist_filter"         -> blocklistFilterSql,
    "text_fingerprint"         -> textFingerprintSql,
    "dedup_exact"              -> dedupExactSql,
    "dedup_keep_best"          -> dedupKeepBestSql,
    "ann_bruteforce_topk"      -> annBruteforceTopkSql,
    "ann_hard_negatives"       -> annHardNegativesSql,
    "events_json_extract"      -> eventsJsonExtractSql,
    "promo_revenue"            -> promoRevenueSql,
    "sql_material_demand"      -> sqlMaterialDemandSql,
    "distinct_agg"             -> distinctAggSql,
    "having_big_spenders"      -> havingBigSpendersSql,
    "running_total"            -> runningTotalSql,
    "dedup_ngram_jaccard"      -> ngramJaccardSql,
    "dedup_minhash_sound"      -> dedupMinhashSoundSql,
    "dedup_simhash_sound"      -> dedupSimhashSoundSql,
    "dedup_clusters_star"      -> dedupClustersSql,
    "dedup_clusters_auto"      -> dedupClustersSql,
    "ann_ivf_recall"           -> annIvfRecallSql,
    "ann_pq_full"              -> annBruteforceTopkSql,
    "ann_pq_recall"            -> annPqRecallSql,
    "dedup_cross_corpus"       -> dedupCrossCorpusSql,
    "dedup_embedding_cross"    -> dedupEmbeddingCrossSql,
    "dedup_embedding_sound"    -> dedupEmbeddingSoundSql,
    "ann_ivf_full"             -> annBruteforceTopkSql,
    "ann_index_probe"          -> annBruteforceTopkSql,
    "ann_index_append"         -> annBruteforceTopkSql,
    "ann_index_pq"             -> annBruteforceTopkSql,
    "bm25_index_probe"         -> bm25SearchSql,
    "grep_index_probe"         -> grepIndexProbeSql,
    "grep_index_append"        -> grepIndexProbeSql,
    "grep_regex_probe"         -> grepRegexProbeSql,
    "bm25_index_incremental"   -> bm25SearchSql,
    "ann_lsh_sound"            -> annBruteforceTopkSql,
    "sketch_sound"             -> sketchSoundSql,
    "multimodal_sound"         -> multimodalSoundSql,
    "multimodal_png"           -> multimodalPngSql,
    "multimodal_dedup"         -> multimodalDedupSql,
    "pivot_material"           -> pivotMaterialSql,
    "setops_suppliers"         -> setOpsSuppliersSql,
    "bloom_semi_join"          -> bloomSemiJoinUrgentSql,
    "scd2_dimension"           -> scd2DimensionSql,
    "rolling_7d_revenue"       -> rolling7dRevenueSql,
    "events_json_struct"       -> eventsJsonStructSql,
    "q7_nation_trade"          -> q7NationTradeSql,
    "above_group_avg"          -> aboveGroupAvgSql,
    "asof_clicks"              -> asofClicksSql,
    "asof_next_click"          -> asofNextClickSql,
    "range_join_bands"         -> rangeJoinBandsSql,
    "window_rank_stats"        -> windowRankStatsSql,
    "order_gap_days"           -> orderGapDaysSql,
    "cube_volume"              -> cubeVolumeSql,
    "median_price"             -> medianPriceSql,
    "split_train_test"         -> splitTrainTestSql,
    "pii_redact"               -> piiRedactSql,
    "pii_redact_luhn"          -> piiRedactLuhnSql,
    "vocab_top_words"          -> vocabTopWordsSql,
    "tfidf_top_term"           -> tfidfTopTermSql,
    "embedding_norm_quant"     -> embeddingNormQuantSql,
    "text_repetition"          -> textRepetitionSql,
    "doc_pack"                 -> docPackSql,
    "doc_chunks"               -> docChunksSql,
    "events_compact_changes"   -> eventsCompactChangesSql,
    "event_transitions"        -> eventTransitionsSql,
    "retention_cohorts"        -> retentionCohortsSql,
    "value_percentiles_by_type" -> valuePercentilesByTypeSql,
    "clip_outliers"            -> clipOutliersSql,
    "bm25_search"              -> bm25SearchSql,
    "hybrid_search_rrf"        -> hybridSearchRrfSql,
    "source_mixture"           -> sourceMixtureSql,
    "quality_filter"           -> qualityFilterSql,
    "bpe_top_pairs"            -> bpeTopPairsSql,
    "lang_confusion"           -> langConfusionSql,
    "sample_by_quality"        -> sampleByQualitySql,
    "sample_priority"          -> samplePrioritySql,
    "dsir_fit"                 -> dsirFitSql,
    "dsir_sound"               -> dsirSoundSql,
    "lm_novelty"               -> lmNoveltySql,
    "semdedup"                 -> semdedupSql,
    "forecast_backtest"        -> forecastBacktestSql,
    "ndv_cube"                 -> ndvCubeSql,
    "quantile_cube"            -> quantileCubeSql,
    "wordpiece_tokenize"       -> wordpieceTokenizeSql,
    "bpe_train_sound"          -> bpeTrainSoundSql,
    "lpa_sound"                -> lpaSoundSql,
    "vocab_coverage"           -> vocabCoverageSql,
    "dedup_profile"            -> dedupProfileSql,
    "mixture_alpha"            -> mixtureAlphaSql,
    "skew_report"              -> skewReportSql,
    "cm_sketch_counts"         -> cmSketchCountsSql,
    "dedup_incremental"        -> dedupIncrementalSql,
    "stratified_split"         -> stratifiedSplitSql,
    "nfc_normalize_sound"      -> nfcNormalizeSoundSql,
    "bpe_encode_sound"         -> bpeEncodeSoundSql,
    "unigram_train_sound"      -> unigramTrainSoundSql,
    "mixture_token_budget"     -> mixtureTokenBudgetSql,
    "perceptron_sound"         -> perceptronSoundSql,
    "perceptron_avg_sound"     -> perceptronAvgSoundSql,
    "perceptron_score"         -> perceptronScoreSql,
    "sample_by_classifier"     -> sampleByClassifierSql,
    "quality_filter_approx"    -> qualityFilterApproxSql,
    "curate_pipeline"          -> curatePipelineSql,
    "curate_incremental"       -> curateIncrementalSql,
    "sample_per_source"        -> samplePerSourceSql,
    "doc_length_histogram"     -> docLengthHistogramSql,
    "mixture_rebalance"        -> mixtureRebalanceSql,
    "dedup_lines"              -> dedupLinesSql,
    "decontaminate"            -> decontaminateSql,
    "decontaminate_xx"         -> decontaminateSql,
    "profile_columns_approx"   -> profileColumnsApproxSql,
    "dedup_clusters"           -> dedupClustersSql,
    "profile_columns"          -> profileColumnsSql,
    "dq_checks"                -> dqChecksSql,
    "gapfill_daily_demand"     -> gapfillDailyDemandSql,
    "fuzzy_name_match"         -> fuzzyNameMatchSql,
    "funnel_conversion"        -> funnelConversionSql,
    "min_cost_supplier"        -> minCostSupplierSql,
    "important_parts"          -> importantPartsSql,
    "order_count_distribution" -> orderCountDistributionSql,
    "idle_rich_customers"      -> idleRichCustomersSql,
    "grouping_sets_volume"     -> groupingSetsVolumeSql,
    "rare_token_stats"         -> rareTokenStatsSql,
    "heavy_hitters_sound"      -> heavyHittersSoundSql,
    "pmi_top_pairs"            -> pmiTopPairsSql,
    "mixture_drift"            -> mixtureDriftSql,
    "late_shippers"            -> lateShippersSql,
    "kmeans_assign"            -> kmeansAssignSql,
    "kmeans_prune"             -> kmeansPruneSql,
    "pagerank_sound"           -> pagerankSoundSql,
    "ppr_sound"                -> pprSoundSql,
    "fuzzy_match_blocked"      -> fuzzyMatchBlockedSql,
    "hits_sound"               -> hitsSoundSql,
    "bfs_sound"                -> bfsSoundSql,
    "activity_streaks"         -> activityStreaksSql,
    "kcore_sound"              -> kcoreSoundSql,
    "ktruss_sound"             -> ktrussSoundSql,
    "holt_forecast"            -> holtForecastSql,
    "seasonal_decompose"       -> seasonalDecomposeSql,
    "source_overlap_approx"    -> sourceOverlapApproxSql,
    "basket_affinity"          -> basketAffinitySql,
    "jaccard_join_exact"       -> jaccardJoinExactSql,
    "revenue_gini"             -> revenueGiniSql,
    "funnel_steps"             -> funnelStepsSql,
    "sssp_sound"               -> ssspSoundSql,
    "entity_resolution"        -> entityResolutionSql,
    "cusum_alerts"             -> cusumAlertsSql,
    "interval_coverage"        -> intervalCoverageSql,
    "demand_trend_ols"         -> demandTrendOlsSql,
    "doc_length_percentile"    -> docLengthPercentileSql,
    "series_correlation"       -> seriesCorrelationSql,
    "embedding_centroids"      -> embeddingCentroidsSql,
    "equi_depth_bins"          -> equiDepthBinsSql,
    "jl_project"               -> jlProjectSql,
    "mode_per_group"           -> modePerGroupSql,
    "q19_band_revenue"         -> q19BandRevenueSql,
    "q4_priority_exists"       -> q4PriorityExistsSql,
    "q6_forecast_revenue"      -> q6ForecastRevenueSql,
    "q8_market_share"          -> q8MarketShareSql,
    "q9_profit_by_nation"      -> q9ProfitByNationSql,
    "q10_returned_items"       -> q10ReturnedItemsSql,
    "q15_top_supplier"         -> q15TopSupplierSql,
    "q16_supplier_variety"     -> q16SupplierVarietySql,
    "anomaly_mad"              -> anomalyMadSql,
    "strip_boilerplate"        -> stripBoilerplateSql,
    "dedup_substring"          -> dedupSubstringSql,
    "dedup_substring_xx"       -> dedupSubstringSql,
    "pca_sound"                -> pcaSoundSql,
    "q12_late_by_class"        -> q12LateByClassSql,
    "q17_small_qty_revenue"    -> q17SmallQtyRevenueSql,
    "q20_dominant_suppliers"   -> q20DominantSuppliersSql,
    "triangle_counts"          -> triangleCountsSql,
    "ewma_daily_demand"        -> ewmaDailyDemandSql,
    "ewma_daily_demand_tuned"  -> ewmaDailyDemandTunedSql,
    "winnow_fingerprint"       -> winnowFingerprintSql,
    "winnow_xx_sound"          -> winnowXxSoundSql,
    "dedup_containment"        -> dedupContainmentSql,
    "dedup_containment_cross"  -> dedupContainmentCrossSql
    // The production-tuned LSH/sketch/multimodal variants
    // (dedup_minhash_pairs, dedup_simhash, dedup_embedding_cosine,
    // ann_lsh_topk, ann_ivf_topk, sketch_stats, multimodal_meta/
    // frames) are recall-approximate or hash-seeded → rows-only check;
    // their *_sound/_full twins above run the SAME code paths at
    // recall-saturating / exhaustive parameters and carry full DuckDB
    // hash gates. dedup_simhash's production signature (hamming over
    // xxhash64-fed SimHash64) is not SQL-expressible, so its sound
    // twin runs the chunk-join machinery on PLANTED arithmetic
    // signatures the oracle recomputes bit-exactly; DedupSpec covers
    // the signature expression itself. kmeans_fit_sizes is rows-only
    // for the same reason (sampled kmeans++ init + float Lloyd loop);
    // kmeans_assign/kmeans_prune gate the assignment machinery and
    // ClusterSpec proves the loop bit-equal to a sequential reference
    // on integer-planted vectors.
  )
}
