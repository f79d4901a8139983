package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.GraftFunctions.{doubleBits, bitsDouble}
import graft.operators.Cdc
import graft.queries.TextQueries

/** Adversarial OUT-OF-DOMAIN coverage for every packed / quantized
  * encoding (the r14 packed-CDC lesson: a 50-bit timestamp budget was
  * green for two rounds only because the testdata's timestamps stop in
  * 1998 — the oracle cannot see a domain edge the data never reaches).
  * Each encoding site gets a spec that FEEDS a value outside its
  * documented domain and pins either a loud failure or a still-correct
  * order:
  *
  *  - doubleBits (functions/expressions/DoubleBits.scala): monotone on
  *    non-negative finite doubles ONLY — the inversions outside that
  *    domain are pinned here so the contract is test-visible, not just
  *    scaladoc.
  *  - tfidf_top_term's DECIMAL(38,0) argmax key (TextQueries.scala): the
  *    domain is closed by construction (score = tf/df, tf ≥ 1, df ≥ 1
  *    ⇒ score ∈ (0, finite]); a NEGATIVE or −0.0 score fed through the
  *    key overflows the ANSI long subtraction and raises — loud, not
  *    silent misorder.
  *  - packed CDC price field (Cdc.doubleField): negative and −0.0 set
  *    the sign bit and fail the r14 range guard; NaN's bit pattern is
  *    positive (would silently rank above +Infinity) so the encode
  *    maps it out of range — all three raise.
  *  - z-order Morton quantization (Lake.writeZOrdered): values AT the
  *    column min/max, a zero-span column, and NaN/±Infinity/null rows
  *    must never lose a row — quantization degrades clustering
  *    QUALITY only, never membership.
  */
class PackedEncodingSpec extends SparkSpec {
  import spark.implicits._

  test("doubleBits is order-preserving on non-negative finite doubles " +
       "and provably NOT outside that domain") {
    // in-domain: strictly increasing doubles → strictly increasing bits
    val inDomain = Seq(0.0, Double.MinPositiveValue, 1e-300, 0.1,
      Math.nextUp(0.1), 1.0, 1.5, 1e300, Double.MaxValue)
    val bits = inDomain.toDF("x")
      .select(doubleBits(col("x")).as("b")).orderBy(col("b"))
      .as[Long].collect()
    assert(bits.sliding(2).forall(p => p(0) < p(1)),
      s"bits not strictly increasing: ${bits.toSeq}")
    // the sort by bits must equal the sort by value
    val byBits = inDomain.toDF("x")
      .orderBy(doubleBits(col("x"))).as[Double].collect().toSeq
    assert(byBits == inDomain, s"bit order != value order: $byBits")
    // round trip is bit-exact
    val rt = inDomain.toDF("x")
      .select(bitsDouble(doubleBits(col("x"))).as("x")).as[Double]
      .collect().toSeq
    assert(rt == inDomain)
    // OUT of domain, the order breaks — pinned so nobody "reuses" the
    // key for a signed score without reading the contract:
    def b(x: Double): Long =
      Seq(x).toDF("x").select(doubleBits(col("x"))).as[Long].head()
    assert(b(-2.0) > b(-1.0), "negative doubles sort INVERTED")
    assert(b(-0.0) < b(0.0), "-0.0 sorts below 0.0 though -0.0 == 0.0")
    assert(b(Double.NaN) > b(Double.PositiveInfinity),
      "NaN ranks above +Infinity")
  }

  test("tfidf argmax DECIMAL(38,0) key: adversarial in-domain scores " +
       "pick the exact struct-argmax winner; out-of-domain raises") {
    // the exact key construction from TextQueries.tfidfTopTerm
    val M = 1L << 40
    def okey = (lit(Long.MaxValue) - doubleBits(col("score")))
      .cast(DecimalType(38, 0)) * lit(M) + col("term_id")
    // adversarial IN-domain: subnormals, adjacent representables, the
    // extremes of double, +0.0 (the key's own worst case for the
    // DECIMAL(38,0) bound), term_id at its 2^40−1 ceiling
    val rows = Seq(
      (1L, 1e-300, 5L), (1L, Double.MinPositiveValue, 3L), (1L, 1e-300, 9L),
      (2L, Double.MaxValue, M - 1), (2L, 1.0, 0L),
      (3L, 0.1, 7L), (3L, Math.nextUp(0.1), 8L),
      (4L, 0.0, M - 1), (4L, 0.0, 12L))
    val df = rows.toDF("doc_id", "score", "term_id")
    val viaKey = df.withColumn("okey", okey)
      .groupBy(col("doc_id")).agg(min(col("okey")).as("okey"))
      .withColumn("term_id", (col("okey") % lit(M)).cast("long"))
      .withColumn("score", bitsDouble(lit(Long.MaxValue) -
        ((col("okey") - col("okey") % lit(M)) / lit(M)).cast("long")))
      .select(col("doc_id"), col("score"), col("term_id"))
    // the reference ordering: score DESC, term_id ASC per doc
    val viaStruct = df.groupBy(col("doc_id"))
      .agg(min(struct((lit(Long.MaxValue) - doubleBits(col("score")))
          .as("neg"), col("term_id").as("term_id"))).as("w"))
      .select(col("doc_id"),
        bitsDouble(lit(Long.MaxValue) - col("w.neg")).as("score"),
        col("w.term_id").as("term_id"))
    val a = viaKey.orderBy("doc_id").collect().toSeq
    val b = viaStruct.orderBy("doc_id").collect().toSeq
    assert(a == b, s"packed argmax diverges from struct argmax:\n$a\n$b")
    // out-of-domain scores: the ANSI long subtraction overflows LOUDLY
    // (sign bit ⇒ negative long ⇒ Long.MaxValue − negative overflows)
    for (bad <- Seq(-1.0, -0.0)) {
      val e = intercept[Exception] {
        Seq((9L, bad, 1L)).toDF("doc_id", "score", "term_id")
          .select(okey).collect()
      }
      def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs(e).toLowerCase.contains("overflow"),
        s"expected ANSI overflow for score=$bad, got: ${msgs(e)}")
    }
    // and the REGISTERED query's domain is closed: every emitted score
    // is positive and finite (tf ≥ 1 ∧ df ≥ 1 ⇒ tf/df ∈ (0, finite])
    val scores = TextQueries.tfidfTopTerm(spark, sfDir)
      .agg(min(col("score")).as("lo"), max(col("score")).as("hi")).head()
    assert(scores.getDouble(0) > 0.0 &&
           !scores.getDouble(1).isInfinite && !scores.getDouble(1).isNaN)
  }

  test("packed-CDC double payload: negative, -0.0 and NaN all raise " +
       "(NaN would otherwise silently rank above +Infinity)") {
    def run(price: Double): Unit =
      Cdc.latestPerKeyPacked(
        Seq((1L, 2.0), (1L, price)).toDF("k", "price"), "k",
        Seq(Cdc.doubleField("price"))).collect()
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // in-domain sanity: max wins, decode bit-exact
    val ok = Cdc.latestPerKeyPacked(
      Seq((1L, 2.0), (1L, 7.5), (1L, 3.0)).toDF("k", "price"), "k",
      Seq(Cdc.doubleField("price"))).collect()
    assert(ok.toSeq.map(r => (r.getLong(0), r.getDouble(1))) == Seq((1L, 7.5)))
    for (bad <- Seq(-1.0, -0.0, Double.NaN)) {
      val e = intercept[Exception] { run(bad) }
      assert(msgs(e).contains("out of [0, 2^63)"),
        s"expected range-guard raise for price=$bad, got: ${msgs(e)}")
    }
  }

  test("z-order quantization at column-range edges never loses a row " +
       "(exact min/max, zero-span column, NaN/Infinity/null)") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-zedge").toString
    // col a spans [-5, 10] with rows AT both bounds; col b is
    // zero-span (all 7.0); adversarial rows: NaN, ±Infinity, null
    val df = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, -5.0, 7.0), (2L, 10.0, 7.0), (3L, 0.0, 7.0), (4L, 9.999, 7.0),
      (5L, Double.NaN, 7.0), (6L, Double.PositiveInfinity, 7.0),
      (7L, Double.NegativeInfinity, 7.0), (8L, null, 7.0))
      .toDF("id", "a", "b")
    graft.sources.Lake.writeZOrdered(df, s"$tmp/z", Seq("a", "b"),
      nFiles = 2, bits = 8)
    val back = spark.read.parquet(s"$tmp/z")
    assert(back.count() == 8, "z-order write lost rows at domain edges")
    val ids = back.select("id").as[Long].collect().toSet
    assert(ids == (1L to 8L).toSet)
    // values survive bit-exact (NaN compares equal to itself via <=>)
    val joined = back.alias("w").join(df.alias("o"), Seq("id"))
      .where(!(col("w.a") <=> col("o.a")) || !(col("w.b") <=> col("o.b")))
    assert(joined.count() == 0, "z-order write mutated a value")
    // the quantile path on the same in-domain edges (NaN/null excluded:
    // percentile boundaries are undefined for them by contract)
    val clean = df.where(col("id") <= 4)
    graft.sources.Lake.writeZOrdered(clean, s"$tmp/zq", Seq("a", "b"),
      nFiles = 2, bits = 8, quantile = true)
    assert(spark.read.parquet(s"$tmp/zq").count() == 4)
  }

  test("JL sign-matrix derivation: driver md5 == engine md5 over the " +
       "whole matrix domain, unbiased, and the fold flips signs exactly") {
    // independent re-derivation of DedupQueries.jlSign (md5("k|j") first hex
    // char <= '7' -> +1): the driver-side MessageDigest+format path
    // must agree with the ENGINE's md5 for every (k, j) the matrix
    // reads — a divergence would ship a different matrix to the two
    // sides of the oracle compare without ever failing it (the SQL
    // twin is GENERATED from the driver signs, so the gate cannot see
    // this class; only a cross-derivation pin can).
    def driverSign(k: Int, j: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$k|$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) <= '7') 1 else -1
    }
    val cells = for (k <- 0 until 8; j <- 1 to 64) yield (k, j)
    val engine = cells.toDF("k", "j")
      .select(col("k"), col("j"),
        when(substring(md5(concat_ws("|", col("k"), col("j"))), 1, 1) <= "7",
          1).otherwise(-1).as("s"))
      .as[(Int, Int, Int)].collect()
      .map { case (k, j, s) => (k, j) -> s }.toMap
    cells.foreach { case (k, j) =>
      assert(engine((k, j)) === driverSign(k, j), s"cell ($k,$j)")
    }
    // unbiasedness sanity: a broken derivation that collapses to a
    // constant sign would silently turn the projection into a plain
    // sum — the matrix must carry both signs in quantity
    val plus = cells.count { case (k, j) => driverSign(k, j) > 0 }
    assert(plus > 150 && plus < 360, s"suspicious sign balance: +$plus/512")
    // the ±fold is an exact IEEE sign flip even at the float edges the
    // corpus never reaches: -0.0 and ±Infinity survive negation with
    // value semantics (NaN float inputs are excluded by the embedding
    // domain; a NaN would propagate, not misorder — nothing is packed)
    val edge = Seq((Seq(-0.0f, Float.PositiveInfinity),
                    Seq(1.0f, Float.NegativeInfinity))).toDF("a", "b")
      .select((element_at(col("a"), 1).cast("double") -
               element_at(col("b"), 1).cast("double")).as("p0"),
              (element_at(col("a"), 2).cast("double") -
               element_at(col("b"), 2).cast("double")).as("p1"))
      .as[(Double, Double)].head()
    assert(edge._1 === -1.0 && edge._2 === Double.PositiveInfinity)
  }

  test("winnow 60-bit md5-prefix truncation equals the hex-parse " +
       "formulation on adversarial byte patterns and stays non-negative") {
    // md5Top60 folds bytes 0..6 then the HIGH NIBBLE of byte 7 — the
    // two sign traps are an unmasked negative byte (sign-extends into
    // the accumulator) and byte 7's arithmetic right shift (>>4 on a
    // negative byte drags ones without the &0xf). A 500-string sweep
    // makes every byte position hit negative values many times over;
    // the engine-portable formulation conv(substr(md5, 1, 15), 16, 10)
    // is the contract both DuckDB and the spec recompute. Single-gram
    // single-window calls (k = len, w = 1) expose the raw digest.
    val docs = ((0 until 500).map(i => s"adversarial-digest-$i") ++
      Seq("päivää", "ÅÄÖ åäö", "世界 abc", "a b  c", " x ")).toDF("text")
      .where(length(col("text")) >= 2)
    val rows = docs.select(
        element_at(graft.functions.GraftFunctions.winnow(
          col("text"), 2, 1), 1).as("native_first"),
        expr("CAST(conv(substr(md5(substring(text, 1, 2)), 1, 15), 16, 10) AS BIGINT)")
          .as("hex_first"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, h) =>
      assert(n === h)
      assert(n >= 0L, s"60-bit digest went negative: $n")
    }
    // and through the full deque: fingerprints of a long string equal
    // the HOF min-of-window over the same hex-parsed stream
    val t = "the quick brown fox jumps over the lazy dog päivää maailma"
    val nat = Seq(t).toDF("text")
      .select(array_sort(graft.functions.GraftFunctions.winnow(col("text"), 8, 4)))
      .as[Seq[Long]].head()
    val hof = Seq(t).toDF("text").select(expr(
      "array_sort(array_distinct(transform(sequence(1, length(text) - 7 - 3), " +
      "j -> array_min(transform(sequence(j, j + 3), " +
      "i -> CAST(conv(substr(md5(substring(text, i, 8)), 1, 15), 16, 10) AS BIGINT))))))"))
      .as[Seq[Long]].head()
    assert(nat === hof)
  }
}
