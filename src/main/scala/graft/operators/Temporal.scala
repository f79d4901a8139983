package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins the built-in operator set lacks: as-of (most recent
  * match at-or-before a timestamp) and interval range joins. The
  * reference's CDC/warehouse feeds (latest-state-at-time lookups,
  * date-banded rollups) are the motivating shapes.
  *
  * Scale design (100 TB):
  *  - asofJoin is the union-sort-window formulation: ONE shuffle on the
  *    join key, no row explosion, no nested-loop — each side is tagged,
  *    co-sorted by (ts, side), and the right payload is carried forward
  *    with last(ignoreNulls). This is how a 1000-executor cluster does
  *    as-of without a cross product; skewed keys fall out of AQE like
  *    any other sort-merge shuffle.
  *  - binnedRangeJoin turns point-in-interval into an EQUI join on a
  *    bin id (intervals exploded to the bins they overlap, points
  *    hashed to their bin) + a residual filter — no
  *    BroadcastNestedLoopJoin, which is the plan that dies at scale
  *    when the interval side outgrows a broadcast.
  */
object Temporal {

  /** As-of join: for each left row, the single right row with the
    * greatest `rightTs <= leftTs` for the same `key` (DuckDB
    * `ASOF LEFT JOIN` semantics — unmatched left rows keep NULL
    * payload).
    *
    * The right side must be unique per (key, rightTs) — pre-aggregate
    * it otherwise, or the carried payload is nondeterministic.
    * Column names other than `key` must not collide across sides.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String): DataFrame =
    asofJoinImpl(left, right, key, leftTs, rightTs, forward = false)

  /** Forward as-of join: the single right row with the SMALLEST
    * `rightTs >= leftTs` per key — next-quote-after-trade /
    * next-event-after-order semantics. Same union-sort-window shape
    * (one shuffle) with the frame mirrored. */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
                      leftTs: String, rightTs: String): DataFrame =
    asofJoinImpl(left, right, key, leftTs, rightTs, forward = true)

  private def asofJoinImpl(left: DataFrame, right: DataFrame, key: String,
                           leftTs: String, rightTs: String,
                           forward: Boolean): DataFrame = {
    val lCols = left.columns.filterNot(c => c == key || c == leftTs).toSeq
    val rCols = right.columns.filterNot(_ == key).toSeq // incl. rightTs
    val nullOf: (DataFrame, String) => Column =
      (df, c) => lit(null).cast(df.schema(c).dataType).as(c)

    // The right payload rides as ONE struct so last(ignoreNulls) picks
    // a matched row atomically — per-column carry would skip a matching
    // row's genuinely-NULL field and tear in a stale value from an
    // older right row. NULL right timestamps can never match; drop them
    // rather than letting nulls-first ordering leak them to every row.
    val rPayType = org.apache.spark.sql.types.StructType(
      rCols.map(c => right.schema(c)))
    // side ordering makes coincident right rows visible to the left
    // row in BOTH directions (>= / <= semantics): backward wants the
    // right row BEFORE the left at equal ts, forward wants it AFTER.
    val (lSide, rSide) = if (forward) (0, 1) else (1, 0)
    val lTagged = left.select(
      col(key) +: col(leftTs).as("__ts") +: lit(lSide).as("__side") +:
        lCols.map(col) :+ lit(null).cast(rPayType).as("__rpay"): _*)
    val rTagged = right.where(col(rightTs).isNotNull).select(
      col(key) +: col(rightTs).as("__ts") +: lit(rSide).as("__side") +:
        lCols.map(nullOf(left, _)) :+ struct(rCols.map(col): _*).as("__rpay"): _*)

    val base = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"))
    val (w, pick) =
      if (forward)
        (base.rowsBetween(0, Window.unboundedFollowing),
         (c: Column) => first(c, ignoreNulls = true))
      else
        (base.rowsBetween(Window.unboundedPreceding, 0),
         (c: Column) => last(c, ignoreNulls = true))
    lTagged.unionByName(rTagged)
      .select(
        col(key) +: col("__ts") +: col("__side") +: lCols.map(col) :+
          pick(col("__rpay")).over(w).as("__rpay"): _*)
      .where(col("__side") === lit(lSide))
      .select(
        col(key) +: col("__ts").as(leftTs) +: lCols.map(col) ++:
          rCols.map(c => col(s"__rpay.$c").as(c)): _*)
  }

  /** Point-in-interval range join as an equi join: intervals
    * `[loCol, hiCol)` are exploded to every width-`binWidth` bin they
    * overlap; points join on their own bin, then the exact residual
    * predicate filters. Each point matches each covering interval
    * exactly once (a point lives in exactly one bin). */
  def binnedRangeJoin(points: DataFrame, ptCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      binWidth: Double): DataFrame = {
    val binned = intervals.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
                       floor(col(hiCol) / binWidth).cast("long"))))
    points
      .withColumn("__bin", floor(col(ptCol) / binWidth).cast("long"))
      .join(binned, "__bin")
      .where(col(ptCol) >= col(loCol) && col(ptCol) < col(hiCol))
      .drop("__bin")
  }

  /** Exact dyadic EWMA weights for α = alphaNum / 2^alphaLog2Den over
    * `terms` observations, plus the normalizer Σwᵢ. Weight i is
    * α(1−α)ⁱ = j·(2ᵏ−j)ⁱ / 2^(k(i+1)) — an integer numerator over a
    * power of two. As long as every numerator fits in the 53-bit
    * double mantissa (checked), numerator.toDouble is exact and the
    * scale by 2^-e is an exact exponent shift, so EVERY weight is an
    * exact double for ANY dyadic α — which is what lets a forecaster
    * tune α (1/4, 3/8, 5/16, …) without giving up the
    * bit-reproducibility contract below. The normalizer
    * 1 − (1−α)ᵗᵉʳᵐˢ = (2^(kt) − (2ᵏ−j)ᵗ) / 2^(kt) is built the same
    * way. */
  def dyadicWeights(alphaNum: Int, alphaLog2Den: Int,
                    terms: Int): (IndexedSeq[Double], Double) = {
    require(alphaLog2Den >= 1 && alphaLog2Den <= 20,
            s"alphaLog2Den out of [1,20]: $alphaLog2Den")
    require(alphaNum >= 1 && alphaNum < (1 << alphaLog2Den),
            s"alphaNum out of (0, 2^$alphaLog2Den): $alphaNum")
    val q = (BigInt(1) << alphaLog2Den) - alphaNum // (1-α)·2^k
    val weights = (0 until terms).map { i =>
      val num = BigInt(alphaNum) * q.pow(i)
      require(num.bitLength <= 53,
              s"weight numerator exceeds the double mantissa at lag $i " +
              s"(alpha=$alphaNum/2^$alphaLog2Den, terms=$terms)")
      num.toDouble * math.pow(2.0, -(alphaLog2Den * (i + 1)))
    }
    val normNum = (BigInt(1) << (alphaLog2Den * terms)) - q.pow(terms)
    require(normNum.bitLength <= 53,
            s"normalizer exceeds the double mantissa " +
            s"(alpha=$alphaNum/2^$alphaLog2Den, terms=$terms)")
    (weights, normNum.toDouble * math.pow(2.0, -(alphaLog2Den * terms)))
  }

  /** Exponentially-weighted moving average with dyadic
    * α = alphaNum/2^alphaLog2Den (default 1/2) over the last `terms`
    * observations — the classic demand-forecast smoother the
    * reference's warehouse feeds (README "time-series model inputs"),
    * built bit-reproducibly: the weights α(1−α)ⁱ are exact dyadic
    * doubles (see [[dyadicWeights]]), and the weighted sum is written
    * as ONE fixed left-associated expression tree — so any engine
    * evaluating the same tree over the same doubles (IEEE ops are
    * deterministic and correctly rounded) produces the identical bit
    * pattern. A running-sum formulation would instead accumulate in
    * frame order and tie results to partitioning. Normalization
    * divides by the exact dyadic Σ weights = 1 − (1−α)ᵗᵉʳᵐˢ.
    *
    * Scale: one shuffle (the window partitioning); `terms` lag columns
    * resolve inside a single window, all codegen. Rows without full
    * history are dropped (the caller sees only fully-warmed values).
    *
    * PRECONDITION: `orderCol` must be distinct within each partition
    * (one observation per time point — the shape a pre-aggregated
    * series has). With duplicate order keys lag/row_number see an
    * arbitrary ordering among the ties and the bit-reproducibility
    * contract is silently void; pass a `tieBreakCols` suffix (e.g. an
    * id) to make the order total when the series can carry dups. */
  def ewma(df: DataFrame, partitionCols: Seq[String], orderCol: String,
           valueCol: String, terms: Int = 10,
           tieBreakCols: Seq[String] = Seq.empty,
           alphaNum: Int = 1, alphaLog2Den: Int = 1): DataFrame = {
    require(terms >= 1 && terms <= 50, s"terms out of [1,50]: $terms")
    val (weights, norm) = dyadicWeights(alphaNum, alphaLog2Den, terms)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCols.map(col): _*)
      .orderBy((orderCol +: tieBreakCols).map(col): _*)
    val lagged = (0 until terms).map { i =>
      (if (i == 0) col(valueCol) else lag(col(valueCol), i).over(w)) * lit(weights(i))
    }
    df.withColumn("__ewma_raw", lagged.reduceLeft(_ + _) / lit(norm))
      .withColumn("__n", row_number().over(w))
      .where(col("__n") >= terms)
      .withColumn("ewma", col("__ewma_raw"))
      .drop("__ewma_raw", "__n")
  }

  /** Brown's double exponential smoothing (Holt-form level+trend; the
    * classic linear-trend extension of [[ewma]] a demand forecaster
    * reaches for the moment the series drifts — a plain EWMA lags a
    * trending series by (1−α)/α periods forever, DES cancels that lag
    * exactly). Public formulation: s1 = EWMA(y), s2 = EWMA(s1), level
    * = 2·s1 − s2, trend = α/(1−α)·(s1 − s2), ŷ(t+h) = level + h·trend.
    *
    * Bit-reproducibility: both passes are [[ewma]]'s fixed
    * left-associated tree over exact dyadic weights; 2·s1 is an exact
    * exponent shift; α/(1−α) = alphaNum/(2^k − alphaNum) is ONE IEEE
    * division of two exactly-representable integers; every remaining
    * step (s1−s2, ·ratio, ·h, +level) is a single IEEE op on identical
    * doubles — so any engine replaying the same tree matches bitwise,
    * and the driver's DuckDB twin hash-gates it.
    *
    * Scale: both passes window over the SAME partitioning and order,
    * so the second pass reuses the first's exchange and sort — one
    * shuffle end to end. Rows need 2·terms−1 periods of warmup — the
    * fully-warmed contract [[ewma]] already documents. */
  def holtBrown(df: DataFrame, partitionCols: Seq[String], orderCol: String,
                valueCol: String, terms: Int = 10,
                tieBreakCols: Seq[String] = Seq.empty,
                alphaNum: Int = 1, alphaLog2Den: Int = 1,
                horizon: Int = 7): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val s1 = ewma(df, partitionCols, orderCol, valueCol, terms,
        tieBreakCols, alphaNum, alphaLog2Den)
      .withColumnRenamed("ewma", "s1")
    val s2 = ewma(s1, partitionCols, orderCol, "s1", terms,
        tieBreakCols, alphaNum, alphaLog2Den)
      .withColumnRenamed("ewma", "s2")
    val den = (1 << alphaLog2Den) - alphaNum
    val ratio = lit(alphaNum.toDouble) / lit(den.toDouble)
    s2.withColumn("level", lit(2.0) * col("s1") - col("s2"))
      .withColumn("trend", (col("s1") - col("s2")) * ratio)
      .withColumn("forecast",
        col("level") + lit(horizon.toDouble) * col("trend"))
  }

  /** Classical additive seasonal decomposition (the moving-average
    * method every stats text opens with — trend by centered period
    * mean, seasonal index by position-in-period mean of the detrended
    * series, residual as what's left). The demand-series consumer this
    * feeds: separate the weekly rhythm from the drift before anomaly
    * gates ([[graft.queries.GraphQueries]] anomaly_mad) or forecasters
    * ([[ewma]], [[holtBrown]]) look at the series — a Monday spike is
    * seasonality, not an anomaly.
    *
    * Exactness discipline: `valueCol` must be DECIMAL (the backtest
    * contract). The centered moving SUM and the per-position detrended
    * sums stay exact decimal at any aggregation/frame order; the
    * detrended series is `period·y − movsum` — an EXACT decimal shift
    * that dodges the trend division entirely. Only THREE IEEE steps
    * ever touch doubles, each a single op on exactly-cast operands:
    * trend = movsum/period, seasonal = possum/(period·n), and the
    * residual chain y − trend − seasonal (fixed left-assoc tree) — so
    * engines replaying the same trees agree bitwise.
    *
    * Scale shape: one window exchange (the centered frame), one TINY
    * agg (groups × period rows) broadcast back, per-row arithmetic to
    * close. Position-in-period is day-integer arithmetic
    * ((day − epoch_anchor) mod period), not engine-specific dow
    * functions. Interior-only rows (full frames) are emitted — the
    * centered mean is undefined on the edges. */
  def seasonalDecompose(df: DataFrame, partitionCols: Seq[String],
                        dayCol: String, valueCol: String,
                        period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
            s"period must be odd >= 3 for a centered window, got $period")
    val h = period / 2
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(dayCol)).rowsBetween(-h, h)
    val pcols = partitionCols.map(col)
    // Monday 1970-01-05 anchors position 0: pure integer day math,
    // identical in any engine (dayofweek() conventions are not)
    val pos = pmod(datediff(col(dayCol), to_date(lit("1970-01-05"))),
                   lit(period))
    val base = df
      .withColumn("__movsum", sum(col(valueCol)).over(w))
      .withColumn("__n_frame", count(lit(1)).over(w))
      .where(col("__n_frame") === period)
      .withColumn("__detr", col(valueCol) * period - col("__movsum"))
      .withColumn("__pos", pos)
    val seas = base
      .groupBy(pcols :+ col("__pos"): _*)
      .agg(sum(col("__detr")).as("__possum"), count(lit(1)).as("__pn"))
      .select(pcols :+ col("__pos") :+
        (col("__possum").cast("double") /
          (lit(period.toDouble) * col("__pn"))).as("seasonal"): _*)
    base
      .join(broadcast(seas), partitionCols :+ "__pos")
      .select(pcols ++ Seq(
        col(dayCol),
        col(valueCol).cast("double").as("value"),
        (col("__movsum").cast("double") / lit(period.toDouble)).as("trend"),
        col("seasonal"),
        (col(valueCol).cast("double") -
          col("__movsum").cast("double") / lit(period.toDouble) -
          col("seasonal")).as("resid")): _*)
  }

  /** Page's CUSUM sustained-shift detector in exact decimal algebra —
    * the recursion S_t = max(0, S_{t−1} + x_t − μ) closed-formed as
    * C_t − min_{j≤t} C_j and cleared of the mean division by scaling
    * through n: D_t = n·R_t − t·S, alert iff D_t − M_t > h·S. See the
    * cusum_alerts gate for the full argument; `valueCol` must be
    * DECIMAL (the backtest contract). One window exchange (row_number,
    * running sum, running min all share it) + a group-count-sized
    * broadcast of totals. */
  def cusum(df: DataFrame, partitionCols: Seq[String], orderCol: String,
            valueCol: String, hMultiple: Int): DataFrame = {
    require(hMultiple >= 1, s"hMultiple must be >= 1, got $hMultiple")
    val pcols = partitionCols.map(col)
    val tot = df.groupBy(pcols: _*)
      .agg(sum(col(valueCol)).cast("decimal(25,6)").as("s"),
           count(lit(1)).as("n"))
    val wOrd = Window.partitionBy(pcols: _*).orderBy(col(orderCol))
    val run = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    df.join(broadcast(tot), partitionCols)
      .withColumn("t", row_number().over(wOrd).cast("decimal(10,0)"))
      .withColumn("r", sum(col(valueCol)).over(run).cast("decimal(25,6)"))
      .withColumn("d", col("n").cast("decimal(10,0)") * col("r") -
                       col("t") * col("s"))
      .withColumn("m", min(col("d")).over(run))
      .where(col("d") - col("m") > col("s") * hMultiple)
      .select(pcols ++ Seq(col(orderCol),
              col(valueCol).cast("double").as("demand"),
              (col("d") - col("m")).cast("double").as("excess_total"),
              (col("s") * hMultiple).cast("double").as("threshold_total")): _*)
  }

  /** Rolling-origin forecast backtest: score baseline forecasters
    * against the realized series and report WMAPE (Σ|a−f| / Σa — the
    * volume-weighted MAPE practitioners prefer: no per-row division,
    * so zero-demand days can't blow it up) and signed bias
    * (Σ(f−a) / Σa) per series group and method. `horizons` names each
    * method and its ROW lag (1 = naive, 7 = seasonal-naive on a dense
    * daily series — compose with the gap-fill operator first if the
    * series has holes). Rows before the longest lag are excluded for
    * EVERY method, so the metrics compare on the same evaluation
    * window.
    *
    * Exactness: `valueCol` must be DECIMAL (the pre-aggregated series
    * shape — dsum WITHOUT the final double cast). Lag, subtraction,
    * abs, and the sums then stay in exact decimal at any aggregation
    * order; each metric is ONE final double division of two exactly
    * cast operands — bit-identical across engines (the dsum
    * precedent). Scale: one window shuffle + a tiny per-group agg;
    * the unpivot to (method, forecast) rows is a per-row explode, no
    * rescan. */
  def backtest(df: DataFrame, partitionCols: Seq[String], orderCol: String,
               valueCol: String,
               horizons: Seq[(String, Int)] =
                 Seq("naive" -> 1, "seasonal_naive" -> 7)): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(_._2 >= 1),
            "horizons must be (name, lag>=1)")
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val maxLag = horizons.map(_._2).max
    val gate = lag(col(valueCol), maxLag).over(w)
    val withF = horizons.foldLeft(df) { case (d, (name, h)) =>
      d.withColumn(s"__f_$name", lag(col(valueCol), h).over(w))
    }.withColumn("__gate", gate).where(col("__gate").isNotNull)
    val long = withF.select(
      partitionCols.map(col) :+ col(valueCol).as("__a") :+
        explode(map(horizons.flatMap { case (name, _) =>
          Seq(lit(name), col(s"__f_$name")) }: _*)).as(Seq("method", "__f")): _*)
    long.groupBy(partitionCols.map(col) :+ col("method"): _*)
      .agg(
        (sum(abs(col("__a") - col("__f"))).cast("double") /
          sum(col("__a")).cast("double")).as("wmape"),
        (sum(col("__f") - col("__a")).cast("double") /
          sum(col("__a")).cast("double")).as("bias"),
        count(lit(1)).as("n_points"))
  }
}
