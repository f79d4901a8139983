package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Decision, Tables}

/** r17 graph-family 1000× probe (verdict items 1 + 2): A/B the
  * GraphRoute cap stage — the shipped row_number window vs the
  * verdict-named bounded map-side smallest-k typed Aggregator
  * (REFUTED and kept here, test scope, for reproducibility: kept set
  * identical by 295.3M-row checksum, but 366 s / 188 GB spill vs the
  * window's 319 s / 60 GB — partial aggregation cannot emit fewer
  * than one row per (src, partition), and this graph's mean degree
  * ~78 over 32 partitions leaves ~2.4 edges per src per partition,
  * so the O(nodes·k) exchange premise buys nothing while the
  * object-buffer aggregation pays for 15M keys per partition); then
  * the reach family (BFS/SSSP) under the r17 frontier-delta rewrite
  * — exact reach (no cap), spill recorded.
  *
  * Usage: Test/runMain graft.tools.GraphProbe /tmp/sf1000x [outJson]
  * Pre-req: /tmp/sf1000x/__cust_supp_edges (Scale1000's
  * graph_bipartite_build_600m row writes it).
  */
object GraphProbe {

  /** The REFUTED cap-stage alternative (see object doc): bounded
    * smallest-k tuples per group, lexicographic, duplicates
    * retained — kept-set-identical to the window form by the same
    * value-total order. */
  final class SmallestKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Long], Seq[Seq[Long]], Seq[Seq[Long]]] {
    private val ord: Ordering[Seq[Long]] =
      Ordering.Implicits.seqOrdering[Seq, Long]
    private def small(xs: Seq[Seq[Long]]): Seq[Seq[Long]] =
      xs.sorted(ord).take(k)
    override def zero: Seq[Seq[Long]] = Nil
    override def reduce(b: Seq[Seq[Long]], a: Seq[Long]): Seq[Seq[Long]] =
      if (b.size < k || ord.lt(a, b.last)) small(b :+ a) else b
    override def merge(x: Seq[Seq[Long]], y: Seq[Seq[Long]]): Seq[Seq[Long]] =
      small(x ++ y)
    override def finish(r: Seq[Seq[Long]]): Seq[Seq[Long]] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[Seq[Long]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Seq[Long]]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Seq[Long]]] =
      bufferEncoder
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1000x")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
              sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new Scale100.StageMetrics
    spark.sparkContext.addSparkListener(metrics)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val out = new StringBuilder
    val only = sys.env.get("GRAPHPROBE_ONLY").map(_.split(",").toSet)
    def run(label: String)(body: => Long): Unit = {
      if (!only.forall(_.contains(label))) return
      Thread.sleep(1000); metrics.reset()
      val t0 = System.nanoTime()
      val n = try body
              catch { case t: Throwable =>
                System.err.println(s"GRAPHPROBE FAIL $label: $t"); -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      graft.Blocks.freeAll(spark)
      Thread.sleep(1000)
      val m = metrics.snapshot
      val line = f"""{"query":"$label","rows":$n,"sec":$sec%.2f,""" +
        m.map { case (k, v) => s""""$k":$v""" }.mkString("", ",", "}")
      println("GRAPHPROBE " + line)
      out.append(line).append('\n')
    }

    def bip = spark.read.parquet(s"$dir/__cust_supp_edges")
    def bipDirected = bip.select(col("cust").as("src"), col("supp").as("dst"))
      .union(bip.select(col("supp").as("src"), col("cust").as("dst")))
    def bipSeeds = Tables.orders(spark, dir)
      .where(col("o_custkey") % 1000 === 0)
      .select(col("o_custkey").as("seed")).distinct()

    // kept-set checksum: (count, decimal sum of xxhash64(src,dst)) —
    // order-independent, overflow-free, multiset-sensitive
    def checksum(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }

    // ---- item 1 A/B: the cap stage ALONE, both forms, 1.17B edges.
    // The window row replicates the SHIPPED routeDense cap; the topk
    // row is the refuted typed-agg alternative, inlined here so the
    // A/B reruns against exactly what was measured.
    var sumWindow: (Long, BigDecimal) = null
    var sumTopk: (Long, BigDecimal) = null
    run("cap_stage_window_1170m") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("dst"))
      val capped = bipDirected.withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= 20).drop("__rk")
      sumWindow = checksum(capped)
      sumWindow._1
    }
    run("cap_stage_topk_1170m") {
      import spark.implicits._
      val capped = bipDirected
        .select(col("src"), array(col("dst")).as("rest"))
        .as[(Long, Seq[Long])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new SmallestKAgg(20).toColumn)
        .toDF("src", "kept")
        .select(col("src"), explode(col("kept")).as("rest"))
        .select(col("src"), col("rest")(0).as("dst"))
      sumTopk = checksum(capped)
      sumTopk._1
    }
    if (sumWindow != null && sumTopk != null) {
      val line = s"""{"query":"cap_stage_kept_set","window_rows":${sumWindow._1},""" +
        s""""topk_rows":${sumTopk._1},"window_sum":"${sumWindow._2}",""" +
        s""""topk_sum":"${sumTopk._2}","identical":${sumWindow == sumTopk}}"""
      println("GRAPHPROBE " + line)
      out.append(line).append('\n')
    }

    // ---- item 1 end-to-end: routed pagerank (cap stage: row_number window)
    run("pagerank_bipartite")(graft.operators.Rank.pageRank(
      bipDirected, "src", "dst", iters = 3, damping = 0.85).count())

    // ---- item 2: reach family, frontier-delta, EXACT reach
    run("bfs_bipartite_frontier") {
      val (d, ds) = Decision.capture(graft.operators.Graph.bfsDistances(
        bipDirected, "src", "dst", bipSeeds, "seed", maxIters = 3))
      assert(Decisions.route(ds, "graph.route") == "frontier")
      d.count()
    }
    run("sssp_bipartite_frontier") {
      graft.operators.Graph.ssspDistances(
        bipDirected.withColumn("w", col("src") % 3 + 1),
        "src", "dst", "w", bipSeeds, "seed", maxIters = 3).count()
    }

    args.lift(1).foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        out.toString)
    }
    println("GRAPHPROBE done")
    spark.stop()
  }
}
