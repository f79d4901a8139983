package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import graft.functions.expressions.WordShingleHashes
import graft.obs.Profile
import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {

  test("clusters resolves components; long chains reach the fixpoint") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.clusters(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // a 12-node chain needs multiple propagation rounds to converge
    val chain = (1L until 12L).map(i => (i + 1, i)).toDF("a", "b")
    val reps = Dedup.clusters(chain, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(reps.size === 12 && reps.values.forall(_ === 1L))
  }

  test("clusters on an empty pair graph returns an empty frame") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.clusters(none, "a", "b").count() === 0L)
  }
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 8
  private def docs() = Seq(
    (1L, base),
    (2L, base.replace("lazy", "sleepy")),          // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals and shuffle exchanges"),
    (4L, base),                                    // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized content, keeper = min id") {
    val out = Dedup.exact(docs(), "doc_id", "text")
      .select("keeper_id", "n_docs").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("minhash-LSH finds planted near-dups, exact jaccard verified, no false positives") {
    val pairs = Dedup.minhashPairs(docs(), "doc_id", "text", numHashes = 16, bands = 16, tau = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // exact dup pair must verify at jaccard 1.0
    val j14 = Dedup.minhashPairs(docs(), "doc_id", "text", numHashes = 16, bands = 16, tau = 0.5)
      .where(col("doc_a") === 1 && col("doc_b") === 4)
      .select("jaccard").as[Double].head()
    assert(j14 === 1.0)
  }

  test("band join keeps each pair once, at its first shared band, compared by position") {
    val banded = Seq(
      (1L, Seq(10L, 20L, 30L)),
      (2L, Seq(11L, 10L, 30L)), // 10 at band 1: a cross-position collision with 1, 3, 4
      (3L, Seq(10L, 20L, 31L)),
      (4L, Seq(10L, 21L, 30L))).toDF("id", "bands")
      .select(col("id"), col("bands"),
        posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    val got = banded.as("a")
      .join(banded.as("b"), Dedup.firstSharedBand("a", "b", 3,
        (s, j) => col(s"$s.bands").getItem(j)) && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"), col("a.band_idx"))
      .as[(Long, Long, Int)].collect().sorted.toSeq
    // (1,3) share bands 0 and 1, (1,4) bands 0 and 2: each once, at 0;
    // (1,2) and (2,4) share only band 2, kept although a's band 0 hash
    // equals b's band 1 hash; (2,3) share none
    assert(got === Seq((1L, 2L, 2), (1L, 3L, 0), (1L, 4L, 0), (2L, 4L, 2), (3L, 4L, 0)))
    // the bit form: 16-bit bands of a 64-bit signature, recomputed from
    // the signature by shift and mask. (11, 12) share chunks 1 and 3;
    // (11, 13) have chunk values 1 and 2 at swapped positions
    def sig(c: Long*): Long = c.zipWithIndex.map { case (v, j) => v << (16 * j) }.sum
    val sigs = Seq((11L, sig(1, 2, 3, 4)), (12L, sig(9, 2, 8, 4)),
                   (13L, sig(2, 1, 7, 9))).toDF("id", "sig")
    val bits = Dedup.bitBanded(sigs, "sig", 4, 16)
    val gotBits = bits.as("a")
      .join(bits.as("b"), Dedup.firstSharedBand("a", "b", 4,
        Dedup.bitBandAt("sig", 16)) && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"), col("a.band_idx"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(gotBits === Seq((11L, 12L, 1)))
    // one 64-row band is the whole signature: only equal signatures
    // pair, however many bits the others share
    val wide = Seq((21L, sig(1, 2, 3, 4)), (22L, sig(1, 2, 3, 4)),
                   (23L, sig(1, 2, 3, 5)), (24L, -1L)).toDF("id", "sig")
    val wideBits = Dedup.bitBanded(wide, "sig", 1, 64)
    val gotWide = wideBits.as("a")
      .join(wideBits.as("b"), Dedup.firstSharedBand("a", "b", 1,
        Dedup.bitBandAt("sig", 64)) && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"), col("a.band_idx"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(gotWide === Seq((21L, 22L, 0)))
    // the same rule inside minhashPairs: no pair twice on a real corpus
    // with many bands per pair
    val pairs = Dedup.minhashPairs(Tables.documents(spark, sfDir), "doc_id", "text",
      numHashes = 16, bands = 8, tau = 0.2).select("doc_a", "doc_b")
    val n = pairs.count()
    assert(n > 0 && n === pairs.distinct().count())
  }

  test("minhash member checkpoint hashes shingles natively: no lambda in its plan") {
    // the member table is the one checkpoint minhashPairs takes; its
    // projection must stay one native kernel per hash family, not the
    // interpreted transform/rotl HOF chain it replaced
    val checkpoints = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") checkpoints.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the capture drains the listener bus, so the checkpoint's event has landed
    try Profile.capture(spark)(Dedup.minhashPairs(docs(), "doc_id", "text"))
    finally spark.listenerManager.unregister(listener)
    assert(checkpoints.size === 1)
    val exprs = checkpoints.asScala.head.optimizedPlan
      .flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.count(_.isInstanceOf[WordShingleHashes]) === 2)
    assert(!exprs.exists(e =>
      e.isInstanceOf[HigherOrderFunction] || e.isInstanceOf[LambdaFunction]))
  }

  test("simhash hamming distance: 0 for dups, small for near-dups, large across topics") {
    val sims = Dedup.withSimhash(docs(), "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) === sims(4L))
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(2L)) <= 12)
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) > 12)
    val pairs = Dedup.simhashPairs(docs(), "doc_id", "text", maxHamming = 12)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("cosine is exact on hand-built vectors") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val c = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
              Dedup.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(c((1L, 3L)) === 1.0)
    assert(c((1L, 2L)) === 0.0)
  }

  test("banded sign-LSH catches planted near-identical embeddings") {
    val rnd = new scala.util.Random(7)
    val v = Array.fill(64)(rnd.nextGaussian().toFloat)
    val vNear = v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val noise = (0 until 50).map(i => (10L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = (Seq((1L, v), (2L, vNear)) ++ noise).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", tau = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("bandingFor meets the recall target within 64 bits; auto pairs find planted dups") {
    // analytic check across the operating range: the returned banding
    // fits the 64-bit bucket, clears the target, and is the strictest
    // (longest-rows) banding that does
    def recall(tau: Double, bands: Int, rows: Int): Double = {
      val p = 1.0 - math.acos(tau) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, rows), bands)
    }
    for (tau <- Seq(0.3, 0.4, 0.6, 0.8, 0.9, 0.95)) {
      val (bands, rows) = Dedup.bandingFor(tau)
      assert(bands * rows <= 64, s"tau=$tau: $bands x $rows over 64 bits")
      assert(recall(tau, bands, rows) >= 0.9, s"tau=$tau under target")
      if (rows < 64)
        assert(recall(tau, 64 / (rows + 1), rows + 1) < 0.9,
               s"tau=$tau: rows=${rows + 1} also meets target — not strictest")
    }
    // the moderate-tau case ADVICE flagged: auto banding at tau=0.4
    // finds a planted cos≈0.95 pair the 8x8 default would likely miss
    val rnd = new scala.util.Random(11)
    val v = Array.fill(64)(rnd.nextGaussian().toFloat)
    val vNear = v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val noise = (0 until 50).map(i => (10L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = (Seq((1L, v), (2L, vNear)) ++ noise).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairsAuto(df, "vec_id", "embedding",
        tau = 0.4, targetRecall = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"planted pair missed: $pairs")
  }

  test("cross-corpus pairs: only A x B, exact dups verify at 1.0, expansion covers members") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 6
    val corpusA = Seq(
      (1L, base),                              // near-dup of B's 11
      (2L, base),                              // exact dup of 1 (same side)
      (3L, "unrelated text about catalyst optimizer rules and exchanges")
    ).toDF("doc_id", "text")
    val corpusB = Seq(
      (11L, base.replace("lazy", "sleepy")),   // near-dup of A's 1 and 2
      (12L, base),                             // exact dup of A's 1 and 2
      (13L, "other unrelated content entirely about parquet footers")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashPairsAcross(corpusA, corpusB, "doc_id", "text",
        numHashes = 32, bands = 16, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every pair is (A-doc, B-doc); within-corpus dups (1,2) never emit
    assert(out.keySet.forall { case (a, b) => a <= 3 && b >= 11 })
    // exact-dup collapse expands through BOTH sides: the (1,2)x(12)
    // group gives (1,12) and (2,12) at jaccard 1.0
    assert(out((1L, 12L)) === 1.0 && out((2L, 12L)) === 1.0)
    // near-dups across: (1,11) and (2,11)
    assert(out.contains((1L, 11L)) && out.contains((2L, 11L)))
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 13L })
  }

  test("cross-corpus embedding pairs: only A x B, exact dups at cos 1.0") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val v = Array.fill(64)(rnd.nextGaussian().toFloat)
    val vNear = v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val corpusA = (Seq((1L, v), (2L, v)) ++            // 2 = exact dup of 1
      (0 until 10).map(i => (100L + i, Array.fill(64)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    val corpusB = (Seq((11L, vNear), (12L, v)) ++      // near + exact of A's v
      (0 until 10).map(i => (200L + i, Array.fill(64)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingCosinePairsAcross(corpusA, corpusB,
        "vec_id", "embedding", tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet.forall { case (a, b) => a <= 102 && b >= 11 && b <= 202 })
    // identical vectors: x/(√x·√x) is 1.0 up to an ulp, not exactly
    assert(out((1L, 12L)) >= 1.0 - 1e-12 && out((2L, 12L)) >= 1.0 - 1e-12)
    assert(out.contains((1L, 11L)) && out.contains((2L, 11L)))
    assert(out.size === 4, s"unexpected extras: $out")
  }

  test("minhashBandingFor meets the recall target within the hash budget") {
    def recall(tau: Double, bands: Int, rows: Int): Double =
      1.0 - math.pow(1.0 - math.pow(tau, rows), bands)
    for (tau <- Seq(0.5, 0.6, 0.8, 0.9)) {
      val (numHashes, bands) = Dedup.minhashBandingFor(tau)
      val rows = numHashes / bands
      assert(numHashes <= 64 && bands * rows == numHashes)
      assert(recall(tau, bands, rows) >= 0.9, s"tau=$tau under target")
    }
    // the derived banding drives the operator — at the tau matching the
    // planted pair's similarity (j≈0.54; a high-tau banding is CORRECT
    // to miss it, that's the recall contract's operating point)
    val (numHashes, bands) = Dedup.minhashBandingFor(0.5)
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different content about distributed query engines")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = numHashes, bands = bands, tau = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && !pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("brute-force ANN: self is rank-1 with cosine 1; k respected") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.bruteForceTopK(emb.where(col("vec_id") < 3), emb, 5)
    val r1 = out.where(col("rk") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(r1 === Set((0L, 0L), (1L, 1L), (2L, 2L)))
    assert(out.groupBy("query_id").count().agg(max("count")).head().getLong(0) <= 5)
  }

  test("LSH ANN returns a subset ranking consistent with brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") < 3)
    val lsh = Similarity.lshTopK(q, emb, 5)
    // self always lands in its own bucket → rank-1 survives
    val r1 = lsh.where(col("rk") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(r1 === Set((0L, 0L), (1L, 1L), (2L, 2L)))
  }

  test("simhash pigeonhole finds EVERY hamming<=3 pair at 10x dup depth") {
    // 10 verbatim copies of every doc with shifted ids — the ScaleN
    // shape for documents, and the adversarial one for chunk-bucketed
    // LSH (each group contributes 45 hamming-0 pairs). The 4×16-bit
    // pigeonhole is DETERMINISTIC: any pair within hamming 3 must
    // agree on a whole chunk, so recall is exactly 1.0 — pinned here
    // against brute-force ground truth, with exact-verify precision.
    val docs10 = Tables.documents(spark, sfDir).select("doc_id", "text")
      .withColumn("i", explode(sequence(lit(0L), lit(9L))))
      .select((col("doc_id") + col("i") * 100000L).as("doc_id"), col("text"))
    val got = Dedup.simhashPairs(docs10, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sims = Dedup.withSimhash(docs10, "doc_id", "text")
    val truth = sims.as("a")
      .join(sims.as("b"), col("a.id") < col("b.id"))
      .where(expr("bit_count(a.simhash ^ b.simhash)") <= 3)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    assert(got === truth)
    assert(truth.size >= 500 * 45) // every 10-copy group alone yields 45
  }

  test("containmentPairs finds the quote inside the article, not the reverse") {
    // doc 1 = short quote, doc 2 = article containing every quote word
    // plus many of its own; doc 3 unrelated. Filler docs keep the
    // relative df cap (<= 1/5 of docs) from swallowing the vocabulary.
    val docs = (Seq(
      (1L, "quantum flux capacitor resonates deeply"),
      (2L, "the long article says quantum flux capacitor resonates deeply " +
           "and then continues with many unrelated words about weather " +
           "markets shipping logistics and navigation"),
      (3L, "completely different content about gardening tulips")) ++
      (10L to 29L).map(i => (i, s"filler$i padding$i noise$i")))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    // all 5 of doc 1's words occur in doc 2 -> containment 1.0
    assert(pairs((1L, 2L)) === 1.0)
    // doc 2 in doc 1: only 5 of its ~20 rare words -> below 1/2, absent
    assert(!pairs.contains((2L, 1L)))
    // unrelated docs produce nothing
    assert(!pairs.keys.exists(k => k._1 == 3L || k._2 == 3L))
  }

  /** Per-doc reference computation of containmentPairs' spec: relative
    * df cap, k-rarest probe candidates (df then token tie-break),
    * exact shared count over the full capped vocabulary. */
  private def bruteContainment(rows: Seq[(Long, String)],
                               k: Int): Set[(Long, Long, Double)] = {
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val tokSets = rows.map { case (id, t) =>
      id -> norm(t).split(" ").filter(_.nonEmpty).toSet }.toMap
    val n = rows.size
    val df = tokSets.values.toSeq.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    val vocab = df.filter { case (_, d) => d * 5 <= n }.keySet
    val rare = tokSets.view.mapValues(_ & vocab).toMap
    def probes(s: Set[String]) =
      if (k <= 0) s
      else s.toSeq.sortBy(t => (df(t), t)).take(k).toSet
    (for {
      (a, sa) <- rare.toSeq; (b, sb) <- rare.toSeq
      if a != b && sa.nonEmpty && (probes(sa) & sb).nonEmpty
      shared = (sa & sb).size
      if shared * 2 >= sa.size
    } yield (a, b, shared.toDouble / sa.size)).toSet
  }

  test("containmentPairs: dup collapse + k-rarest probes match the " +
       "per-doc reference on a dup-heavy corpus") {
    // exact-dup groups (quote x3, article x2) — the shape where the
    // uncollapsed token join went quadratic (r8 verdict). Weighted df
    // must keep full-corpus semantics: the reference computes per-doc.
    val quote = "quantum flux capacitor resonates deeply"
    val article = "the long article says quantum flux capacitor " +
      "resonates deeply and then continues with many unrelated words " +
      "about weather markets shipping logistics and navigation"
    val rows = Seq(
      (1L, quote), (2L, article), (3L, "totally other gardening tulips"),
      (4L, quote), (5L, quote), (6L, article)) ++
      (10L to 29L).map(i => (i, s"filler$i padding$i noise$i"))
    val docs = rows.toDF("doc_id", "text")
    for (k <- Seq(0, 2, 16)) {
      val got = Dedup.containmentPairs(docs, "doc_id", "text",
          maxJoinTokens = k)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === bruteContainment(rows, k), s"maxJoinTokens=$k")
    }
    // the within-group expansion: 3 identical quotes give all 6
    // ordered pairs at containment 1.0
    val got16 = Dedup.containmentPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    for (a <- Seq(1L, 4L, 5L); b <- Seq(1L, 4L, 5L) if a != b)
      assert(got16.contains((a, b, 1.0)), s"missing within-group ($a,$b)")
  }

  test("containmentPairsAcross: corpus-df vocabulary, df-0 needle tokens, " +
       "dup expansion — matches the per-doc reference") {
    // needle 1 is fully quoted in corpus doc 100; needle 2 is half
    // unseen tokens (df 0: they stay in the denominator -> below 1/2,
    // uncontained); needles 3+4 are identical (collapse+expand on the
    // needle side); corpus docs 100+101 are identical (corpus-side
    // expansion)
    val needles = Seq(
      (1L, "zeta omicron theta lambda"),
      (2L, "zeta omicron neverseen1 neverseen2 neverseen3"),
      (3L, "theta lambda kappa"), (4L, "theta lambda kappa"))
    val corpus = Seq(
      (100L, "the article quotes zeta omicron theta lambda kappa verbatim"),
      (101L, "the article quotes zeta omicron theta lambda kappa verbatim")) ++
      (200L to 219L).map(i => (i, s"corpusfill$i padding$i noise$i the"))
    val got = Dedup.containmentPairsAcross(
        needles.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    // per-doc reference: vocabulary = tokens with corpus df*5 <= |corpus|
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val aSets = needles.map { case (id, t) =>
      id -> norm(t).split(" ").filter(_.nonEmpty).toSet }.toMap
    val bSets = corpus.map { case (id, t) =>
      id -> norm(t).split(" ").filter(_.nonEmpty).toSet }.toMap
    val dfB = bSets.values.toSeq.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    def rareTok(t: String) = dfB.getOrElse(t, 0) * 5 <= corpus.size
    val expected = (for {
      (a, sa0) <- aSets.toSeq; (b, sb0) <- bSets.toSeq
      sa = sa0.filter(rareTok); sb = sb0.filter(rareTok)
      if sa.nonEmpty && (sa & sb).nonEmpty
      shared = (sa & sb).size
      if shared * 2 >= sa.size
    } yield (a, b, shared.toDouble / sa.size)).toSet
    assert(got === expected)
    // the planted semantics actually hold in the expectation itself:
    // needle 1 contained in BOTH corpus copies, needle 2 in neither
    assert(expected.contains((1L, 100L, 1.0)) &&
           expected.contains((1L, 101L, 1.0)))
    assert(!expected.exists(_._1 == 2L))
    // identical needles 3 and 4 report identically
    assert(expected.filter(_._1 == 3L).map(e => (e._2, e._3)) ===
           expected.filter(_._1 == 4L).map(e => (e._2, e._3)))
  }

  test("incremental ledger dedup: two-batch ingest rejects history, ledger grows") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.sources.Manifest
    val root = java.nio.file.Files.createTempDirectory("dedup-ledger")
      .toString + "/ledger"
    // batch 1 founds the ledger (empty history)
    val b1 = Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha  DOC"))
      .toDF("doc_id", "text") // 3 normalizes to 1's fingerprint
    val empty = Seq.empty[String].toDF("fp")
    val a1 = Dedup.incrementalExact(b1, "doc_id", "text", empty)
    val got1 = a1.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got1 === Set((1L, 2L), (2L, 1L))) // keeper 1 absorbs 3
    Manifest.commit(spark, root, a1.select("fp"))
    // batch 2: one cross-batch dup ("beta doc"), one within-batch dup,
    // one genuinely new doc
    val b2 = Seq((10L, "beta doc"), (11L, "gamma doc"), (12L, "gamma doc"))
      .toDF("doc_id", "text")
    val a2 = Dedup.incrementalExact(b2, "doc_id", "text",
      Manifest.read(spark, root).get)
    val got2 = a2.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got2 === Set((11L, 2L))) // beta rejected by ledger, 12 absorbed
    // ledger delta append keeps the next batch honest
    Manifest.commit(spark, root,
      Manifest.read(spark, root).get.unionByName(a2.select("fp")))
    val b3 = Seq((20L, "gamma doc"), (21L, "delta doc")).toDF("doc_id", "text")
    val a3 = Dedup.incrementalExact(b3, "doc_id", "text",
      Manifest.read(spark, root).get)
    assert(a3.collect().map(_.getLong(1)).toSet === Set(21L))
  }
}
