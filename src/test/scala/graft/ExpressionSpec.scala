package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TextFunctions}

/** Native codegen expressions must be value-identical to their
  * reference HOF formulations. */
class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot equals the HOF dot product bit-for-bit") {
    val df = Seq(
      (Array(1.5f, -2.0f, 3.25f), Array(0.5f, 4.0f, -1.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.3f, 0.2f, 0.1f))
    ).toDF("a", "b")
    val out = df.select(
      GraftFunctions.dot(col("a"), col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)").as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) => assert(n === h) }
  }

  test("graft_simhash equals the HOF per-bit vote formulation") {
    val df = Seq(
      Tuple1(Array(0x1234567890abcdefL, 0x0fedcba987654321L, 0x1111111111111111L)),
      Tuple1(Array(-1L, 0L, Long.MaxValue, Long.MinValue)),
      Tuple1(Array(42L))
    ).toDF("hashes")
    val out = df.select(
      GraftFunctions.simhash(col("hashes")).as("native"),
      expr("""aggregate(sequence(0, 63), 0L, (acc, i) ->
             |  acc + if(2 * aggregate(hashes, 0,
             |             (a, h) -> a + int(shiftright(h, i) & 1)) > size(hashes),
             |           shiftleft(1L, i), 0L))""".stripMargin).as("hof"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, h) => assert(n === h) }
  }

  test("graft_signbucket equals the HOF aggregate-over-dots formulation") {
    val planes = graft.operators.Dedup.hyperplanes(12, 4)
    val df = Seq(
      Tuple1(Array(1.5f, -2.0f, 3.25f, 0.5f)),
      Tuple1(Array(-0.1f, 0.0f, 0.3f, -4.0f)),
      Tuple1(Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec").withColumn("planes", typedLit(planes))
    val out = df.select(
      GraftFunctions.signBucket(col("vec"), planes).as("native"),
      expr("""aggregate(sequence(0, 11), 0L, (acc, i) ->
             |  acc + if(graft_dot(vec, element_at(planes, i + 1)) > 0D,
             |           shiftleft(1L, i), 0L))""".stripMargin).as("hof"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, h) => assert(n === h) }
  }

  test("graft_minhash equals the HOF zip_with/array_min formulation") {
    val df = Seq(
      (Array(10L, -5L, 77L, 123456789L), Array(3L, 99L, -1000L, 7L))
    ).toDF("h1", "h2")
    val k = 8
    val hofCols = (0 until k).map { j =>
      val rot = j % 63 + 1
      array_min(zip_with(col("h1"), col("h2"), (a, b) =>
        a.bitwiseXOR(shiftleft(b, rot).bitwiseOR(shiftrightunsigned(b, 64 - rot)))))
    }
    val out = df.select(
      GraftFunctions.minhashSignature(col("h1"), col("h2"), k).as("native"),
      array(hofCols: _*).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    out.foreach { case (n, h) => assert(n === h) }
  }

  // --- graft_nearest_centroid: bit-identical to the composed
  // greatest-of-structs formulations it replaced (Cluster.assign /
  // Similarity.assignCells / pqEncode), which themselves stay here as
  // the reference semantics.

  private def randCentroids(k: Int, dim: Int, seed: Long): Seq[(Int, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until k).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
  }

  private def randVecs(n: Int, dim: Int, seed: Long): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
  }

  test("graft_nearest_centroid cosine equals the composed greatest form") {
    val cents = randCentroids(7, 6, seed = 1)
    val df = randVecs(50, 6, seed = 2).map(Tuple1(_)).toDF("vec")
    val composed = greatest(cents.map { case (i, arr) =>
      struct(GraftFunctions.cosine(col("vec"), typedLit(arr.toSeq)).as("s"),
             lit(-i).as("negcell"))
    }: _*)
    val out = df.select(
      GraftFunctions.nearestCentroid(col("vec"), cents, "cosine").as("nc"),
      (-composed.getField("negcell")).as("cell2"),
      composed.getField("s").as("s2"))
      .select(col("nc.cell"), col("nc.score"), col("cell2"), col("s2"))
      .as[(Int, Double, Int, Double)].collect()
    assert(out.length === 50)
    out.foreach { case (c1, s1, c2, s2) =>
      assert(c1 === c2)
      assert(java.lang.Double.doubleToRawLongBits(s1) ===
             java.lang.Double.doubleToRawLongBits(s2))
    }
  }

  test("graft_nearest_centroid dot_norm equals the composed argmax") {
    val cents = randCentroids(9, 5, seed = 3)
    val df = randVecs(40, 5, seed = 4).map(Tuple1(_)).toDF("vec")
    val composed = greatest(cents.map { case (i, arr) =>
      val norm = math.sqrt(arr.map(x => x.toDouble * x).sum)
      val inv = if (norm == 0.0) 0.0 else 1.0 / norm
      struct((GraftFunctions.dot(col("vec"), typedLit(arr.toSeq)) * lit(inv)).as("s"),
             lit(-i).as("negcell"))
    }: _*)
    val out = df.select(
      GraftFunctions.nearestCentroid(col("vec"), cents, "dot_norm")
        .getField("cell").as("c1"),
      (-composed.getField("negcell")).as("c2"))
      .as[(Int, Int)].collect()
    out.foreach { case (c1, c2) => assert(c1 === c2) }
  }

  test("graft_nearest_centroid dot_bias with offset equals slice + composed argmax") {
    val d = 3
    val cents = randCentroids(8, d, seed = 5)
    val df = randVecs(30, 2 * d, seed = 6).map(Tuple1(_)).toDF("vec")
    for (s <- 0 to 1) {
      val sub = slice(col("vec"), s * d + 1, d)
      val composed = greatest(cents.map { case (i, arr) =>
        val half = arr.map(x => x.toDouble * x).sum / 2.0
        struct((GraftFunctions.dot(sub, typedLit(arr.toSeq)) - lit(half)).as("s"),
               lit(-i).as("negcode"))
      }: _*)
      val out = df.select(
        GraftFunctions.nearestCentroid(col("vec"), cents, "dot_bias",
                                       offset = s * d)
          .getField("cell").as("c1"),
        (-composed.getField("negcode")).as("c2"))
        .as[(Int, Int)].collect()
      out.foreach { case (c1, c2) => assert(c1 === c2) }
    }
  }

  test("graft_nearest_centroid edge semantics: ties, zero norms, short vectors") {
    val cents = Seq(
      (0, Array(0f, 1f)),
      (1, Array(0f, 2f)),   // same direction as 0: cosine tie -> id 0
      (2, Array(0f, 0f)))   // zero-norm centroid: never wins under cosine
    val df = Seq(
      (1L, Array(0f, 5f)),  // tie between 0 and 1 -> smallest id
      (2L, Array(0f, 0f)),  // zero-norm row -> (min id, null score)
      (3L, Array(1f))       // dim-short -> null struct
    ).toDF("id", "vec")
    val out = df.select(col("id"),
      GraftFunctions.nearestCentroid(col("vec"), cents, "cosine").as("nc"))
      .select(col("id"), col("nc.cell"), col("nc.score"),
              col("nc").isNull.as("all_null"))
      .collect().map(r => (r.getLong(0), r)).toMap
    assert(out(1L).getInt(1) === 0)
    assert(math.abs(out(1L).getDouble(2) - 1.0) < 1e-12)
    assert(out(2L).getInt(1) === 0 && out(2L).isNullAt(2))
    assert(out(3L).isNullAt(1) && out(3L).getBoolean(3))
    // dot_norm: zero-norm centroid scores 0 exactly (not null) and can
    // win against negative scores — the assignCells convention
    val neg = Seq(Tuple1(Array(0f, -1f))).toDF("vec")
    val cell = neg.select(
      GraftFunctions.nearestCentroid(col("vec"), cents, "dot_norm")
        .getField("cell")).as[Int].head()
    assert(cell === 2)
  }

  test("graft_nearest_centroid SQL registration agrees with the Column API") {
    // dyadic centroid values (k/256) so the SQL decimal literals parse
    // back to the identical floats the Column path embeds
    val rnd = new scala.util.Random(7)
    val cents = (0 until 5).map(i =>
      (i, Array.fill(4)((rnd.nextInt(512) - 256) / 256f)))
    GraftFunctions.register(spark)
    val df = randVecs(20, 4, seed = 8)
      .map(v => Tuple1(v.map(_.toDouble))).toDF("vec")
    df.createOrReplaceTempView("nc_probe")
    val idsLit = cents.map(_._1).mkString("array(", ",", ")")
    val centsLit = cents.map(_._2.map(f =>
        s"cast($f as float)").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val viaSql = spark.sql(
      s"SELECT graft_nearest_centroid(vec, $idsLit, $centsLit, 'cosine', 0).cell FROM nc_probe")
      .as[Int].collect()
    val viaCol = df.select(
      GraftFunctions.nearestCentroid(col("vec"), cents, "cosine")
        .getField("cell")).as[Int].collect()
    assert(viaSql.toSeq === viaCol.toSeq)
  }

  test("GraftExtensions injects the whole function table with its arity checks") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val reg = FunctionRegistry.builtin.clone()
    // what a session built with spark.sql.extensions runs (package-
    // private in Spark SQL, public in bytecode)
    ext.getClass.getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, reg)
    for ((name, _, _) <- GraftFunctions.builders)
      assert(reg.functionExists(FunctionIdentifier(name)), name)
    val e = intercept[IllegalArgumentException](reg.lookupFunction(
      FunctionIdentifier(GraftFunctions.DotName), Seq(Literal(1))))
    assert(e.getMessage.contains("expects 2 arguments"))
    // normalize's whitespace collapse: in the table, one argument
    assert(GraftFunctions.builders.exists(_._1 == GraftFunctions.CollapseWsName))
    assert(reg.lookupFunction(FunctionIdentifier(GraftFunctions.CollapseWsName),
      Seq(Literal("a \t b"))).eval() === org.apache.spark.unsafe.types.UTF8String.fromString("a b"))
    val ws = intercept[IllegalArgumentException](reg.lookupFunction(
      FunctionIdentifier(GraftFunctions.CollapseWsName), Seq(Literal("a"), Literal("b"))))
    assert(ws.getMessage.contains("graft_collapse_ws expects 1 arguments"))
  }

  test("graft_wordpiece SQL registration agrees with the Column API") {
    GraftFunctions.register(spark)
    val vocab = Seq("the", "##re", "t", "h", "e", "##h", "##e", "##r")
    Seq("there the t").toDF("text").createOrReplaceTempView("wp_probe")
    val vocabLit = vocab.map(v => s"'$v'").mkString("array(", ",", ")")
    val viaSql = spark.sql(
      s"SELECT graft_wordpiece(text, $vocabLit, 8) FROM wp_probe")
      .as[Seq[String]].head()
    val viaCol = Seq("there the t").toDF("text")
      .select(GraftFunctions.wordpiece(col("text"), vocab))
      .as[Seq[String]].head()
    assert(viaSql === viaCol && viaSql === Seq("the", "##re", "the", "t"))
  }

  test("graft_bpe_encode resolves on the SQL path and matches the Column API") {
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_bpe_encode('her there', array('##e ##r', 'h ##er', 't ##h'))")
      .as[Seq[String]].head()
    val viaCol = Seq("her there").toDF("text")
      .select(GraftFunctions.bpeEncode(col("text"),
        Seq("##e ##r", "h ##er", "t ##h")))
      .as[Seq[String]].head()
    assert(viaSql === viaCol)
    assert(viaSql === Seq("her", "th", "##er", "##e"))
    // malformed merge strings fail with a readable message
    val bad = intercept[Exception] {
      Seq("xy").toDF("text")
        .select(GraftFunctions.bpeEncode(col("text"), Seq("nospace")))
        .collect()
    }
    assert(bad.getMessage.contains("left right") ||
           bad.getCause != null && bad.getCause.getMessage.contains("left right"))
  }

  test("graft_term_counts equals the explode+groupBy tf formulation") {
    // real corpus text: the expression must reproduce the exact tf the
    // InvertedIndex build previously computed via corpus-wide grouping
    val toks = Tables.documents(spark, sfDir).limit(200)
      .select(col("doc_id"),
        split(graft.functions.TextFunctions.normalize(col("text")), " ")
          .as("toks"))
    val native = toks
      .select(col("doc_id"),
        explode(GraftFunctions.termCounts(col("toks"))).as("e"))
      .select(col("doc_id"), col("e.term"), col("e.tf"))
    val grouped = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(native.schema("tf").dataType === grouped.schema("tf").dataType)
    assert(native.exceptAll(grouped).isEmpty && grouped.exceptAll(native).isEmpty)
    // edge shapes: repeats, single empty-string token (split("") = [""])
    val edge = Seq(Seq("a", "b", "a", "a"), Seq("")).toDF("toks")
      .select(GraftFunctions.termCounts(col("toks")).as("tc"))
      .as[Seq[(String, Long)]].collect()
    assert(edge(0) === Seq(("a", 3L), ("b", 1L))) // first-occurrence order
    assert(edge(1) === Seq(("", 1L)))
    // SQL registration round-trip
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_term_counts(array('x','y','x'))")
      .as[Seq[(String, Long)]].head() === Seq(("x", 2L), ("y", 1L)))
  }

  test("graft_winnow equals the HOF gram-md5 window-min formulation") {
    val (k, w) = (8, 4)
    // real corpus text + planted repetition (shared substrings must
    // select common fingerprints) + exactly-one-window and non-ASCII
    // shapes (substring slices CODE POINTS, md5 runs on UTF-8 bytes)
    val docs = Tables.documents(spark, sfDir).limit(300).select(col("text"))
      .unionAll(Seq("abcdefghijk", "aaaaaaaaaaaaaaaaaaaa",
        "päivää maailma päivää maailma", "0123456789 0123456789 x")
        .toDF("text"))
      .where(length(col("text")) >= k + w - 1)
    // HOF twin truncates the SAME way (first 15 hex chars as base-16 —
    // the r13 60-bit long digest contract; conv's unsigned parse is
    // sign-safe at 60 bits)
    val hof = docs.select(col("text"),
        expr(s"transform(sequence(1, length(text) - ${k - 1}), " +
             s"i -> CAST(conv(substr(md5(substring(text, i, $k)), 1, 15), " +
             s"16, 10) AS BIGINT))").as("__hs"))
      .select(col("text"), expr(
        s"array_sort(array_distinct(transform(sequence(1, size(__hs) - ${w - 1}), " +
        s"j -> array_min(slice(__hs, j, $w)))))").as("fps"))
    val nat = docs.select(col("text"),
      array_sort(GraftFunctions.winnow(col("text"), k, w)).as("fps"))
    assert(nat.exceptAll(hof).isEmpty && hof.exceptAll(nat).isEmpty)
    // below one full window -> empty set (callers filter these rows)
    assert(Seq("short").toDF("text")
      .select(GraftFunctions.winnow(col("text"), k, w))
      .as[Seq[Long]].head().isEmpty)
  }

  test("graft_repetition_stats equals the HOF dup-gram formulation bit-for-bit") {
    def hofFrac(toks: org.apache.spark.sql.Column, n: Int) = {
      val g = transform(
        sequence(lit(1), greatest(size(toks) - lit(n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n))))
      lit(1.0) - size(array_distinct(g)).cast("double") / size(g)
    }
    // real corpus text plus adversarial shapes: heavy repetition,
    // single token (size < n for both grams), two tokens (size < 3)
    val docs = Tables.documents(spark, sfDir).limit(300).select(col("text"))
      .unionAll(Seq("a b a b a b a b", "one", "x y",
        "r r r r r r", "a b c a b c a b").toDF("text"))
    val toks = split(col("text"), " ")
    val out = docs.select(
      GraftFunctions.repetitionStats(toks).as("nat"),
      hofFrac(toks, 2).as("h2"), hofFrac(toks, 3).as("h3"))
      .select(col("nat.dup_2gram_frac"), col("nat.dup_3gram_frac"),
        col("h2"), col("h3"))
      .as[(Double, Double, Double, Double)].collect()
    out.foreach { case (n2, n3, h2, h3) =>
      assert(n2 === h2); assert(n3 === h3)
    }
  }

  // shared edge-case corpus for the r16 zero-copy gram expressions:
  // real text ∪ multibyte (code-point vs byte boundaries), empty
  // tokens from leading/trailing/double spaces (split(s, " ")
  // semantics), single-token and empty-string degenerates
  private def gramEdgeDocs = Tables.documents(spark, sfDir)
    .limit(300).select(col("text"))
    .unionAll(Seq(
      "päivää maailma päivää maailma kahvia ja pullaa",
      " leading space here and enough padding to gram",
      "trailing space with enough padding to gram ",
      "double  space  tokens  with  enough  padding",
      "onetoken", "a b", "", "exactly twenty chars!",
      "ÅÄÖ åäö ÅÄÖ åäö ÅÄÖ åäö ÅÄÖ åäö").toDF("text"))

  test("graft_char_gram_hashes equals xxhash64 over substring grams") {
    val k = 20
    val docs = gramEdgeDocs.where(length(col("text")) >= k)
    val hof = docs.select(col("text"), expr(
      s"transform(sequence(1, length(text) - ${k - 1}), " +
      s"i -> xxhash64(substring(text, i, $k)))").as("hs"))
    val nat = docs.select(col("text"),
      GraftFunctions.charGramHashes(col("text"), k).as("hs"))
    assert(nat.exceptAll(hof).isEmpty && hof.exceptAll(nat).isEmpty)
    // fewer than one gram -> empty array
    assert(Seq("short").toDF("text")
      .select(GraftFunctions.charGramHashes(col("text"), k))
      .as[Seq[Long]].head().isEmpty)
  }

  test("graft_char_gram_md5 equals md5 over substring grams") {
    val k = 20
    val docs = gramEdgeDocs.where(length(col("text")) >= k)
    val hof = docs.select(col("text"), expr(
      s"transform(sequence(1, length(text) - ${k - 1}), " +
      s"i -> md5(substring(text, i, $k)))").as("hs"))
    val nat = docs.select(col("text"),
      GraftFunctions.charGramMd5(col("text"), k).as("hs"))
    assert(nat.exceptAll(hof).isEmpty && hof.exceptAll(nat).isEmpty)
    // fewer than one gram -> empty array
    assert(Seq("short").toDF("text")
      .select(GraftFunctions.charGramMd5(col("text"), k))
      .as[Seq[String]].head().isEmpty)
  }

  test("graft_sorted_intersect_count equals size(array_intersect) on sorted arrays") {
    // corpus-derived sorted token sets (the SetJoin verify shape) ...
    val docs = Tables.documents(spark, sfDir).limit(200)
      .select(sort_array(array_distinct(split(col("text"), " "))).as("ta"))
    val pairs = docs.crossJoin(
      docs.limit(40).withColumnRenamed("ta", "tb"))
    val checked = pairs.select(
      GraftFunctions.sortedIntersectCount(col("ta"), col("tb")).as("nat"),
      size(array_intersect(col("ta"), col("tb"))).as("ref"))
    assert(checked.where(col("nat") =!= col("ref")).isEmpty)
    // ... plus hand-built edges: duplicates inside a sorted array,
    // empty sides, disjoint, identical, and a shared null (sorts
    // first; array_intersect counts it once)
    val edge = Seq(
      (Seq("a", "a", "b", "c"), Seq("a", "b", "b", "d")),
      (Seq.empty[String], Seq("a")),
      (Seq("a"), Seq.empty[String]),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "b", "c"), Seq("a", "b", "c"))).toDF("ta", "tb")
      .unionAll(Seq((Seq(null, "a", "b"), Seq(null, "b", "x")))
        .toDF("ta", "tb"))
    val echecked = edge.select(
      GraftFunctions.sortedIntersectCount(col("ta"), col("tb")).as("nat"),
      size(array_intersect(col("ta"), col("tb"))).as("ref"))
    assert(echecked.where(col("nat") =!= col("ref")).isEmpty)
  }

  test("graft_ordered_pairs equals the nested transform/slice pair expansion") {
    // the basket_affinity shape: sorted distinct long arrays
    val baskets = Tables.lineitem(spark, sfDir).limit(5000)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    def hofPairs(c: org.apache.spark.sql.Column) =
      flatten(transform(c, (x, i) =>
        transform(slice(c, i + 2, size(c)), y =>
          struct(x.as("pa"), y.as("pb")))))
    val checked = baskets.select(
      GraftFunctions.orderedPairs(col("parts")).as("nat"),
      hofPairs(col("parts")).as("ref"))
    assert(checked.where(col("nat") =!= col("ref")).isEmpty)
    // degenerates: empty and single-element arrays -> zero pairs
    val edges = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L, 3L)).toDF("parts")
    val out = edges.select(
      GraftFunctions.orderedPairs(col("parts")).as("nat"),
      hofPairs(col("parts")).as("ref"))
    assert(out.where(col("nat") =!= col("ref")).isEmpty)
    assert(edges.select(size(GraftFunctions.orderedPairs(col("parts"))))
      .as[Int].collect().sorted.toSeq === Seq(0, 0, 3))
  }

  test("graft_word_gram_hashes equals xxhash64 over concat_ws/slice shingle windows") {
    val n = 8
    def windows(nn: Int) = gramEdgeDocs.select(col("text"),
      expr(s"transform(sequence(0, greatest(size(split(text, ' ')) - $nn, 0)), " +
           s"i -> xxhash64(concat_ws(' ', slice(split(text, ' '), i + 1, $nn))))")
        .as("hs"))
    val nat = gramEdgeDocs.select(col("text"),
      GraftFunctions.wordGramHashes(col("text"), n).as("hs"))
    val hof = windows(n)
    assert(nat.exceptAll(hof).isEmpty && hof.exceptAll(nat).isEmpty)
    // the contiguous-byte-range identity also holds at n=1 (per-token)
    val nat1 = gramEdgeDocs.select(col("text"),
      GraftFunctions.wordGramHashes(col("text"), 1).as("hs"))
    val hof1 = windows(1)
    assert(nat1.exceptAll(hof1).isEmpty && hof1.exceptAll(nat1).isEmpty)
  }

  test("graft_multi_match equals the per-pattern substring-position count") {
    // overlap-heavy additions: "aa" in "aaaa" has THREE positions
    // (the non-overlapping replace() count would say two) — the
    // automaton's position semantics must match the brute-force
    // position scan, not greedy-replace arithmetic
    val docs = gramEdgeDocs.unionAll(Seq(
      "aaaa", "abab ababab", "xyxyx", "päivää päivää").toDF("text"))
    val lexicon = Seq("aa", "ab", "päivää", "space", "zz-never", "a b")
    val native = docs.select(col("text"),
      GraftFunctions.multiMatch(col("text"), lexicon).as("h"))
    lexicon.zipWithIndex.foreach { case (p, _) =>
      val lp = p.replace("'", "''")
      val got = native.select(col("text"),
        coalesce(element_at(
          map_from_entries(col("h")), lit(p)), lit(0L)).as("n"))
      val want = docs.select(col("text"), expr(
        s"""aggregate(sequence(1, greatest(length(text) - length('$lp') + 1, 0)),
           |  0L, (acc, i) ->
           |  acc + if(substring(text, i, length('$lp')) = '$lp', 1L, 0L))"""
          .stripMargin).as("n"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"pattern '$p' count mismatch")
    }
    // compaction: zero-hit patterns are ABSENT, order is declaration
    // order of the surviving patterns
    import spark.implicits._
    val one = Seq("abab aa cd").toDF("text").select(
      GraftFunctions.multiMatch(col("text"),
        Seq("zz", "ab", "aa", "qq", "cd")).as("h"))
      .selectExpr("transform(h, x -> x.pattern)")
      .as[Seq[String]].head()
    assert(one === Seq("ab", "aa", "cd"))
  }

  test("graft_multi_match rejects empty, duplicate, and non-literal lexicons") {
    import spark.implicits._
    val df = Seq("text").toDF("text")
    val empty = intercept[Exception] {
      df.select(GraftFunctions.multiMatch(col("text"), Seq("a", ""))).collect()
    }
    assert(empty.getMessage.contains("empty pattern") ||
      Option(empty.getCause).exists(_.getMessage.contains("empty pattern")))
    val dup = intercept[Exception] {
      df.select(GraftFunctions.multiMatch(col("text"), Seq("a", "a"))).collect()
    }
    assert(dup.getMessage.contains("duplicate") ||
      Option(dup.getCause).exists(_.getMessage.contains("duplicate")))
    // a per-row (non-foldable) pattern array must be rejected at
    // analysis: the automaton is built once per JVM, not per row
    val nf = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function(GraftFunctions.MultiMatchName,
        col("text"), array(col("text")))).collect()
    }
    assert(nf.getMessage.contains("foldable"))
  }

  test("graft_multi_match SQL registration agrees with the Column API") {
    GraftFunctions.register(spark)
    val docs = gramEdgeDocs
    val viaSql = docs.selectExpr(
      "text",
      "graft_multi_match(text, array('aa', 'space', 'ö å')) AS h")
    val viaCol = docs.select(col("text"),
      GraftFunctions.multiMatch(col("text"), Seq("aa", "space", "ö å")).as("h"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("graft_token_segments equals the concat_ws/slice segment grid") {
    val st = 8
    val hof = gramEdgeDocs
      .select(col("text"), split(col("text"), " ").as("toks"))
      .select(col("text"), expr(
        s"transform(sequence(0, greatest((size(toks) + ${st - 1}) div $st - 1, 0)), " +
        s"i -> concat_ws(' ', slice(toks, i * $st + 1, $st)))").as("segs"))
    val nat = gramEdgeDocs.select(col("text"),
      GraftFunctions.tokenSegments(col("text"), st).as("segs"))
    assert(nat.exceptAll(hof).isEmpty && hof.exceptAll(nat).isEmpty)
    // single-segment degenerates: whole string back, exactly once
    assert(Seq("a b c").toDF("text")
      .select(GraftFunctions.tokenSegments(col("text"), st))
      .as[Seq[String]].head() === Seq("a b c"))
    assert(Seq("").toDF("text")
      .select(GraftFunctions.tokenSegments(col("text"), st))
      .as[Seq[String]].head() === Seq(""))
  }

  // Reference twin of graft_word_shingle_hashes, composed of Spark
  // built-ins: per-token hashes in, one rotl/XOR mix per n-token
  // window out, tail windows clamped to the last token. tokHashes is
  // let-bound (once): the loop
  // references it 2n+1 times per window, and interpreted eval would
  // re-evaluate the split per reference.
  private def rotl(h: Column, r: Int): Column =
    shiftleft(h, r).bitwiseOR(shiftrightunsigned(h, 64 - r))

  private def shingleHashes(tokHashes: Column, n: Int): Column =
    GraftFunctions.once(tokHashes) { th =>
      transform(sequence(lit(0), greatest(size(th) - n, lit(0))), i =>
        (0 until n).map { j =>
          val h = element_at(th, least(i + lit(j + 1), size(th)))
          rotl(h, (n - j) * 17 % 63 + 1)
        }.reduce(_ bitwiseXOR _))
    }

  test("graft_word_shingle_hashes equals the xxhash64 + rotl/XOR window HOF") {
    val docs = Tables.documents(spark, sfDir10x).select(col("text"))
      .unionAll(Seq(
        "", "onetoken", "a b", "\tleading tab makes an empty token",
        "repeated   spaces  between    tokens", "päivää maailma ÅÄÖ åäö 日本語 テキスト",
        "ÅÄÖ").toDF("text"))
    // raw text exercises empty tokens; normalized text is what the
    // minhash member table and DocsStream feed the kernel
    val texts = docs.select(col("text")).unionAll(
      docs.select(TextFunctions.normalize(col("text")).as("text")))
    assert(texts.where(array_contains(split(col("text"), " "), "")).count() >= 3)
    val toks = split(col("text"), " ")
    for (n <- Seq(1, 2, 3, 5)) {
      val out = texts.select(col("text"),
        GraftFunctions.wordShingleHashes(col("text"), n, 0).as("nat0"),
        shingleHashes(transform(toks, t => xxhash64(t)), n).as("ref0"),
        GraftFunctions.wordShingleHashes(col("text"), n, 1).as("nat1"),
        shingleHashes(transform(toks, t => xxhash64(lit(1), t)), n).as("ref1"))
      val bad = out.where(not(col("nat0") <=> col("ref0")) ||
        not(col("nat1") <=> col("ref1")))
      assert(bad.isEmpty, s"n=$n: ${bad.limit(3).collect().mkString("; ")}")
    }
    // fewer than n tokens: one window; null text: null
    assert(Seq("a b").toDF("text")
      .select(size(GraftFunctions.wordShingleHashes(col("text"), 5, 0)))
      .as[Int].head() === 1)
    assert(Seq(Option.empty[String]).toDF("text")
      .select(GraftFunctions.wordShingleHashes(col("text"), 3, 1).isNull)
      .as[Boolean].head())
    // the SQL path resolves to the same expression
    val viaSql = Seq("a b c d").toDF("text")
      .selectExpr("graft_word_shingle_hashes(text, 3, 1)").as[Seq[Long]].head()
    val viaCol = Seq("a b c d").toDF("text")
      .select(GraftFunctions.wordShingleHashes(col("text"), 3, 1)).as[Seq[Long]].head()
    assert(viaSql === viaCol && viaCol.size === 2)
  }
}
