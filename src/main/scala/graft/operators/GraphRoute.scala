package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Decision

/** Dense-graph routing for the RANK family ([[Rank]] pageRank/PPR/
  * HITS) — the r15 partition sweep's lesson made ENGINE BEHAVIOR
  * instead of scaladoc. Routing is PER-FAMILY since r17: the reach
  * family ([[Graph]] BFS/SSSP) no longer routes through here at all —
  * capping a reach query doesn't approximate scores, it silently
  * answers a different question (the r16 bipartite measurement:
  * 15,616 of 15.0M truly reachable nodes under the cap), so
  * [[Graph.ssspDistances]] keeps dense graphs tractable by
  * frontier-delta relaxation instead — exact by monotonicity, with
  * per-round edge work bounded by the improving frontier's out-edges
  * rather than the full edge mass. Rank scores, by contrast, degrade
  * gracefully under the cap (a 600k-degree hub's per-edge
  * contribution was rank/600k ≈ 0), which is why the cap stays the
  * rank-family default.
  *
  * What the sweep measured (SCALE1000.md r15): the bipartite
  * customer–supplier graph's per-round working set (1.17B directed
  * edges × an edge⋈rank join per iteration) is POOL-bound, not
  * partition-shaped — pagerank spilled ~357 GB at 128 reduce
  * partitions ≈ the 363 GB at 32, and 256 was WORSE. Partition count
  * neither shrinks bytes sorted nor adds memory on a fixed pool, so
  * the CDC family's partition-sizing fix does not transfer. The
  * mitigations that DO hold are boundedness by construction: kNN /
  * degree-capped graphs keep the per-round edge mass at nodes×k. LPA
  * already routes that way (its uncapped bipartite form dies by
  * algebra — a 600k-degree hub's neighbor-label table is edge-sized);
  * this object applies the same cap-first rule to the rest of the
  * family, as a measured auto-route in the [[Dedup.clustersAuto]]
  * mold.
  *
  * Routing rule: measure the prepared edge table's out-degree profile
  * (one partial-agg groupBy — cheap next to any iteration round). A
  * graph is DENSE when its max out-degree passes the hub cutoff or
  * its mean passes the density cutoff; dense graphs are degree-capped
  * to [[DefaultCap]] out-edges per node (deterministic: smallest
  * neighbor ids — reproducible run to run and engine-portable) before
  * the iteration runs. Non-dense graphs — every kNN similarity graph,
  * every bounded-degree planted gate — route through UNTOUCHED, and
  * the cutoffs sit far above them (mean 64 vs kNN's k≈10-20; hub 100k
  * vs the √m-oriented families).
  *
  * Capped semantics are an APPROXIMATION CONTRACT, stated loudly
  * rather than discovered: rank scores become the exact scores OF THE
  * CAPPED SUBGRAPH (the standard neighborhood-sampling treatment of
  * super-nodes — a 600k-degree hub's per-edge contribution was
  * rank/600k ≈ 0 anyway); BFS/SSSP distances become UPPER BOUNDS
  * (a dropped edge can only lengthen a path). Callers for whom the
  * exact dense iteration is worth its pool cost opt out explicitly
  * with `spark.graft.graph.denseRoute = direct` — run uncapped (the
  * loud opt-out; the default is `cap`).
  *
  * Every call records a `graph.route` [[graft.Decision]] ("off" |
  * "direct" | "direct-forced" | "capped(k)") — pinned by RankSpec's
  * routing test.
  */
object GraphRoute {

  val DenseMeanDegree = 64.0
  val HubMaxDegree = 100000L
  val DefaultCap = 20

  /** Route a PREPARED directed edge table (must carry a `src` column;
    * any other columns ride along — all columns LongType, the shape
    * every [[Rank]] caller builds). `e0` must already be persisted —
    * on the cap path the capped subgraph is persisted, materialized,
    * and `e0` released, so the caller always gets back the one live
    * cached table its iteration should consume. */
  def routeDense(e0: DataFrame, what: String): DataFrame = {
    val sess = e0.sparkSession
    // `off` skips even the profile job — for callers iterating many
    // SMALL graphs where the one partial-agg pass per call is the
    // dominant cost (~0.3 s of job overhead on a planted 512-edge
    // gate; amortized to noise at any real edge count)
    if (sess.conf.get("spark.graft.graph.denseRoute", "cap") == "off") {
      Decision.record(Decision("graph.route", "off", 0, 0))
      return e0
    }
    val prof = e0.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(coalesce(max(col("d")), lit(0L)).as("mx"),
           coalesce(avg(col("d")), lit(0.0)).as("mean")).head
    val (maxDeg, meanDeg) = (prof.getLong(0), prof.getDouble(1))
    val dense = maxDeg >= HubMaxDegree || meanDeg >= DenseMeanDegree
    val optOut = sess.conf.get("spark.graft.graph.denseRoute", "cap") == "direct"
    if (!dense) {
      Decision.record(Decision("graph.route", "direct", 0, 0))
      e0
    } else if (optOut) {
      Decision.record(Decision("graph.route", "direct-forced", 0, 0))
      e0
    } else {
      // deterministic kept set: the cap smallest (dst, rest) tuples
      // per src — value-total order so reruns and engines agree.
      //
      // MEASURED REFUTATION (r17, verdict item 1): the named
      // alternative — a bounded map-side smallest-k typed Aggregator
      // shipping ≤ cap tuples per src out of each map task — was
      // built, proven kept-set-IDENTICAL by 295.3M-row checksum, and
      // measured WORSE on the 1.17B-edge bipartite graph: 366 s /
      // 188 GB spill vs this window's 319 s / 60 GB
      // (SCALE1000_r17_bip.json, cap_stage_* rows; BENCHNOTES_r17.md
      // records the refuted form). The
      // algebra: partial aggregation cannot emit fewer than one row
      // per (src, partition), and at mean degree 78 over 32
      // partitions each partition sees ~2.4 edges per src — so the
      // "O(nodes·k) exchange" premise buys nothing here while paying
      // object-buffer aggregation over 15M keys per partition (the
      // ObjectHashAggregate fallback is where the 188 GB went). The
      // window form sorts binary rows once after one binary
      // exchange; on a graph family whose mean degree rivals the
      // cap, that IS the cheaper plan.
      val ord = e0.columns.filter(_ != "src").map(col).toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(ord: _*)
      val capped = e0.withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= DefaultCap).drop("__rk")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      capped.count() // materialize from the old cache before dropping it
      e0.unpersist(false)
      Decision.record(Decision("graph.route", s"capped($DefaultCap)", 0, 0))
      capped
    }
  }
}
