package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture operators.
  *
  * Reference behavior:
  *  - `/root/reference/mnt/dags/unused_02retail_stage.py:100-143` —
  *    MERGE from a staging table: dedupe to the latest change per key
  *    (`first_value(...) OVER (PARTITION BY id ORDER BY last_updated
  *    DESC)`), then `when not matched and op='I' then insert / when
  *    matched and op='D' then delete / when matched and op='U' then
  *    update`.
  *  - `/root/reference/mnt/dags/unused_pipeline_sourcecode.py:329-350`
  *    — `INSERT … ON CONFLICT DO UPDATE` upsert.
  *
  * Spark-first realization: latest-per-key is a partial-aggregating
  * `max_by` (see below); merge/upsert are a single full-outer join
  * + `when` resolution. At scale the change set is typically a small
  * fraction of the target, so AQE converts the join to broadcast when
  * the deltas fit; both sides are pre-partitioned on the key, so a
  * bucketed target table would make the merge shuffle-free.
  */
object Cdc {

  /** Apply a join-strategy hint, or pass through when empty (planner's
    * choice — lets AQE/broadcast decisions stand where they're right). */
  private def hinted(df: DataFrame, joinHint: String): DataFrame =
    if (joinHint.isEmpty) df else df.hint(joinHint)

  /** Latest change per key. Equivalent to the reference's first_value
    * window. `ordering` must make the sort total in VALUE terms — pass
    * every payload column after the timestamp so ties between
    * physically-duplicate rows can't make the result nondeterministic
    * across engines/runs. Ordering columns must be non-null (null
    * ranks lowest in a struct max, vs nulls-last under the window's
    * DESC sort).
    *
    * Implemented as `max_by` over the ordering tuple, not a
    * `row_number` window: a declarative max aggregates PARTIALLY
    * (map-side combine shuffles ≤ one row per key per input
    * partition), while the window form shuffles the ENTIRE change
    * feed — at 100 TB the change feed is the big table, so this is
    * the difference between shuffling the table and shuffling the
    * keys. Note the agg still SORTS, locally: struct-typed aggregate
    * buffers can't use hash aggregation (HashAggregate needs
    * fixed-width mutable buffer fields), so Spark plans a
    * SortAggregate — but that sort is map-side and spill-free per
    * partition, it never moves rows, and the network cost stays one
    * row per key. Measured at 10× sf0.1 (6M-row feed): this form
    * 3.3 s vs 9-10 s for the window rewrite. Struct comparison is
    * lexicographic, so `max_by(payload, struct(ordering))` picks
    * exactly the window's `ORDER BY ... DESC` rank-1 row. */
  def latestPerKey(changes: DataFrame, key: String,
                   ordering: Seq[String]): DataFrame = {
    val payload = changes.columns.filterNot(_ == key).toSeq
    val best = max_by(struct(payload.map(col): _*),
                      struct(ordering.map(col): _*))
    changes.groupBy(col(key))
      .agg(best.as("__best"))
      .select(changes.columns.toSeq.map {
        case k if k == key => col(key)
        case p             => col(s"__best.$p").as(p)
      }: _*)
  }

  /** One fixed-width component of a packed ordering key for
    * [[latestPerKeyPacked]]. `enc` must map the column to a
    * NON-NEGATIVE long strictly below 2^bits, monotone in the
    * column's order (timestamps → unix_micros, positive doubles →
    * the order-preserving IEEE bit cast graft_double_bits,
    * low-cardinality strings → a CASE rank in lexicographic order);
    * `dec` inverts it exactly. The range contract is enforced at
    * runtime: [[latestPerKeyPacked]] wraps every enc output in a
    * codegen'd bounds check and raises on the first out-of-range
    * value — a too-narrow bit budget (e.g. a timestamp past the
    * field's 2^bits µs horizon) or a negative encode (pre-1970
    * timestamp, negative doubleBits) fails loudly instead of
    * silently corrupting the lexicographic order. */
  final case class PackedField(name: String, bits: Int,
                               enc: org.apache.spark.sql.Column =>
                                 org.apache.spark.sql.Column,
                               dec: org.apache.spark.sql.Column =>
                                 org.apache.spark.sql.Column)

  /** [[PackedField]] for a POSITIVE-finite double payload (price,
    * score): the IEEE bit pattern rides the key order-preserved (see
    * [[graft.functions.expressions.DoubleBits]]). Negative values and
    * −0.0 set the sign bit — a negative long encode the range guard
    * already catches — but NaN's pattern (0x7ff8…) is POSITIVE and
    * in-range, and would silently rank ABOVE +Infinity; the encode
    * therefore maps NaN to −1 so the guard raises on it like every
    * other out-of-domain value (the r14 loud-failure discipline —
    * PackedEncodingSpec pins negative, −0.0 and NaN). */
  def doubleField(name: String): PackedField = {
    import graft.functions.GraftFunctions.{doubleBits, bitsDouble}
    PackedField(name, 63,
      c => when(isnan(c), lit(-1L)).otherwise(doubleBits(c)),
      bitsDouble)
  }

  /** [[latestPerKey]] for change feeds whose ordering SPANS every
    * payload column — which a total-value-order feed always does (the
    * latestPerKey contract already requires every payload column in
    * `ordering`). The scale problem with the max_by form: a struct
    * aggregation buffer is not UnsafeRow-mutable, so the agg can only
    * plan as SortAggregate, and when the feed is corpus-sized its
    * partial SORTS the whole feed — 58.5 GB memory spill + 6.0 GB
    * disk at the 1000× tier (600M-row feed → 147M keys, SCALE1000.md
    * r13). Packing the ordering into ONE DECIMAL(38,0) — Σ enc(cᵢ)·2^
    * offsetᵢ, fields most-significant first, ≤126 bits total — makes
    * the buffer all-primitive: the agg plans as a map-side-combining
    * HashAggregate (zero sort), max(packed) is exactly the
    * lexicographic struct max, and the winner's payload decodes from
    * the key by exact integer decimal arithmetic (the tfidf_top_term
    * precedent, r12). Results are identical to [[latestPerKey]]
    * (CdcSpec pins row parity and the HashAggregate plan), with one
    * documented exception: payload columns must be NON-NULL. A null
    * payload value would make the whole packed key null and drop the
    * row from max() — where latestPerKey's struct max still ranks it
    * — so nulls fail the runtime range guard instead of silently
    * diverging. Route nullable payloads through [[latestPerKey]] or
    * coalesce them to an in-range sentinel first. */
  def latestPerKeyPacked(changes: DataFrame, key: String,
                         fields: Seq[PackedField]): DataFrame = {
    val payload = changes.columns.filterNot(_ == key).toSeq
    require(fields.map(_.name).toSet == payload.toSet,
      s"packed fields ${fields.map(_.name)} must cover exactly the " +
        s"payload columns $payload")
    val totalBits = fields.map(_.bits).sum
    require(totalBits <= 126,
      s"packed ordering needs $totalBits bits; DECIMAL(38,0) holds 126")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def p2(e: Int) = lit(new java.math.BigDecimal(
      java.math.BigInteger.ONE.shiftLeft(e))).cast(dec38)
    // offsets: each field sits above the bits of every LATER field
    val offs = fields.map(_.bits).scanRight(0)(_ + _).tail
    val packed = fields.zip(offs).map { case (f, off) =>
      val e = f.enc(col(f.name)).cast(dec38)
      // Range guard (PackedField contract): 0 ≤ enc < 2^bits, non-null.
      // A decimal compare pair per field, codegen'd; the error branch
      // only evaluates on violation. Null enc (null payload) fails the
      // `when` condition and raises too — see the contract note above.
      val guarded = when(e >= lit(0) && e < p2(f.bits), e).otherwise(
        raise_error(concat(
          lit(s"latestPerKeyPacked: enc(${f.name}) out of [0, 2^${f.bits}) or null: "),
          coalesce(e.cast("string"), lit("null")))))
      guarded * p2(off)
    }.reduce(_ + _)
    val best = changes.groupBy(col(key)).agg(max(packed).as("__pk"))
    val decoded = fields.zip(offs).map { case (f, off) =>
      val rem = col("__pk") % p2(off + f.bits)
      f.name -> f.dec(((rem - rem % p2(off)) / p2(off)).cast("long"))
    }.toMap
    best.select(col(key) +: payload.map(n => decoded(n).as(n)): _*)
  }

  /** Apply I/U/D changes to a target. `latestChanges` must have the
    * target's schema plus an `op` column ('I'|'U'|'D') and at most one
    * row per key.
    *
    * MERGE semantics (matching the reference exactly):
    *   matched + 'U' → replace value columns; matched + 'D' → delete;
    *   matched + 'I' → keep target row; not-matched + 'I' → insert;
    *   not-matched + 'U'/'D' → no-op.
    */
  /** `joinHint` picks the strategy for the target⋈changes join.
    * Default empty = planner's choice (sort-merge for the full-outer
    * shapes here — spillable, always safe). Pass `"shuffle_hash"`
    * when the change set is bounded (the usual CDC shape: a day's
    * deltas against the full table): the hash build skips both sort
    * phases — measured ~2× on a 6M-row feed — but the built side must
    * fit executor memory per partition, where sort-merge would spill.
    * Results identical either way (CdcSpec pins it). */
  def mergeApply(target: DataFrame, latestChanges: DataFrame,
                 key: String, op: String = "op",
                 joinHint: String = ""): DataFrame = {
    val valueCols = target.columns.filterNot(_ == key).toSeq
    val t = target.alias("t")
    val c = hinted(latestChanges, joinHint).alias("c")
    val tKey = col(s"t.$key"); val cKey = col(s"c.$key")
    val matched = tKey.isNotNull && cKey.isNotNull
    val insertOnly = tKey.isNull && cKey.isNotNull
    t.join(c, tKey === cKey, "full_outer")
      .where(cKey.isNull ||
             (matched && col(s"c.$op").isin("U", "I")) ||
             (insertOnly && col(s"c.$op") === "I"))
      .select(coalesce(tKey, cKey).as(key) +:
        valueCols.map { v =>
          when(matched && col(s"c.$op") === "U", col(s"c.$v"))
            .when(insertOnly, col(s"c.$v"))
            .otherwise(col(s"t.$v")).as(v)
        }: _*)
  }

  /** Query-based CDC (reference `images/CDC_query_based.png` +
    * `unused_postgres_hooks_V02.py`): the change feed is whatever rows
    * moved past the checkpoint — poll with `changes.where(ts > ckpt)`,
    * apply, advance the checkpoint to the new max. Pure pushed-down
    * filter; at 100 TB the source is partition-pruned on the ts
    * column. */
  def changesSince(changes: DataFrame, tsCol: String,
                   checkpoint: java.sql.Timestamp): DataFrame =
    changes.where(col(tsCol) > lit(checkpoint))

  /** SCD Type 2: apply a batch of changes to a versioned dimension.
    * `target` rows carry (key, payload…, valid_from, valid_to,
    * is_current); `latestChanges` carry (key, payload…, changed_at),
    * one row per key. Current rows with an incoming change close
    * (valid_to = changed_at, is_current = false) and the change
    * appends as the new current version; unknown keys insert.
    *
    * One shuffle (the join on key); history rows pass through
    * untouched — at warehouse scale, partition the dimension on
    * is_current so the join only reads the current slice. */
  def scd2Apply(target: DataFrame, latestChanges: DataFrame, key: String,
                changedAt: String = "changed_at",
                joinHint: String = ""): DataFrame = {
    val payload = target.columns
      .filterNot(Set(key, "valid_from", "valid_to", "is_current")).toSeq
    val current = target.where(col("is_current"))
    val history = target.where(!col("is_current"))
    val c = hinted(latestChanges, joinHint).alias("c")
    val closed = current.alias("t")
      .join(c, col(s"t.$key") === col(s"c.$key"), "left")
      .select(
        Seq(col(s"t.$key").as(key)) ++
          payload.map(p => col(s"t.$p").as(p)) ++ Seq(
          col("t.valid_from").as("valid_from"),
          when(col(s"c.$key").isNotNull, col(s"c.$changedAt"))
            .otherwise(col("t.valid_to")).as("valid_to"),
          col(s"c.$key").isNull.as("is_current")): _*)
    val fresh = latestChanges.select(
      Seq(col(key)) ++ payload.map(col) ++ Seq(
        col(changedAt).as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current")): _*)
    history.unionByName(closed).unionByName(fresh)
  }

  /** INSERT … ON CONFLICT DO UPDATE: every update lands; non-conflicting
    * target rows survive. `updates` must have the target's schema and at
    * most one row per key. */
  def upsert(target: DataFrame, updates: DataFrame, key: String,
             joinHint: String = ""): DataFrame = {
    val valueCols = target.columns.filterNot(_ == key).toSeq
    val t = target.alias("t")
    val u = hinted(updates, joinHint).alias("u")
    t.join(u, col(s"t.$key") === col(s"u.$key"), "full_outer")
      .select(coalesce(col(s"u.$key"), col(s"t.$key")).as(key) +:
        valueCols.map(v =>
          when(col(s"u.$key").isNotNull, col(s"u.$v"))
            .otherwise(col(s"t.$v")).as(v)): _*)
  }
}
