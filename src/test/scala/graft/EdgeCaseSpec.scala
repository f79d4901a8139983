package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Cdc, Dedup, MaterialDemand}
import graft.queries.GraphQueries

/** Operators must behave on degenerate inputs — empty frames, empty
  * strings — not just the happy path. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("material pipeline on empty input yields empty output") {
    val empty = Seq.empty[(java.sql.Date, Long, String, Double)]
      .toDF("date", "shop_id", "product_name", "demand")
    assert(MaterialDemand.productToMaterial(empty).count() === 0)
  }

  test("CDC merge with empty change set returns the target unchanged") {
    val target = Seq((1L, 10.0, "O")).toDF("order_key", "total_price", "status")
    val noChanges = Seq.empty[(Long, String, Double, String)]
      .toDF("order_key", "op", "total_price", "status")
    val out = Cdc.mergeApply(target, noChanges, "order_key")
      .as[(Long, Double, String)].collect().toSet
    assert(out === Set((1L, 10.0, "O")))
  }

  test("CDC upsert into an empty target inserts everything") {
    val empty = Seq.empty[(Long, Double, String)]
      .toDF("order_key", "total_price", "status")
    val updates = Seq((5L, 50.0, "N")).toDF("order_key", "total_price", "status")
    assert(Cdc.upsert(empty, updates, "order_key")
      .as[(Long, Double, String)].collect().toSet === Set((5L, 50.0, "N")))
  }

  test("query-based CDC checkpoint filter is exclusive of the checkpoint") {
    val ch = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"))
    ).toDF("id", "last_updated")
    val got = Cdc.changesSince(ch, "last_updated",
      Timestamp.valueOf("2024-01-01 00:00:00")).select("id").as[Long].collect()
    assert(got.toSeq === Seq(2L))
  }

  test("dedup ops tolerate empty and whitespace-only documents") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "real content here")).toDF("doc_id", "text")
    assert(Dedup.exact(docs, "doc_id", "text").count() === 2) // "" and "   " normalize equal
    assert(Dedup.withSimhash(docs, "doc_id", "text").count() === 3)
    // minhash must not throw on degenerate shingle sets
    Dedup.minhashPairs(docs, "doc_id", "text").count()
  }

  test("corpus ops tolerate empty, whitespace-only and single-token docs") {
    import graft.operators.Corpus
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one"),
                   (4L, "real content here truly")).toDF("doc_id", "text")
    // every doc keeps a row; "" and "   " normalize to one empty
    // segment SHARED by two docs — with maxDocs=2 it survives, and
    // the reassembled text is the normalized original
    val lines = Corpus.dedupLines(docs, "doc_id", "text", segTokens = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(lines.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(lines(0)._2 === "" && lines(1)._2 === "")
    assert(lines(2) === ((3L, "one", 1L, 0L)))
    assert(lines(3) === ((4L, "real content here truly", 2L, 0L)))
    // decontaminate with an EMPTY eval set flags nothing, keeps a row
    // per train doc
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val dec = Corpus.decontaminate(docs, empty, "doc_id", "text")
      .as[(Long, Long, Boolean)].collect()
    assert(dec.length === 4 && dec.forall(d => d._2 === 0L && !d._3))
  }

  test("sampleMixture ignores weights for absent sources (documented)") {
    import graft.operators.Sampling
    val docs = Seq((1L, "a", "src0"), (2L, "b", "src0"), (3L, "c", "src1"))
      .toDF("doc_id", "text", "source")
    // "ghost" never occurs in the data: it contributes no count row,
    // so it neither throws nor drags the scarcest-source bound to
    // zero — the mix is balanced among the sources actually present
    val kept = Sampling.sampleMixture(docs, "source", "doc_id",
        Map("src0" -> 1, "src1" -> 1, "ghost" -> 5))
      .select("source").as[String].collect()
    assert(kept.nonEmpty && kept.forall(Set("src0", "src1")))
    // identical result to the same call without the ghost entry
    val ref = Sampling.sampleMixture(docs, "source", "doc_id",
        Map("src0" -> 1, "src1" -> 1))
      .select("doc_id").as[Long].collect().toSet
    val got = Sampling.sampleMixture(docs, "source", "doc_id",
        Map("src0" -> 1, "src1" -> 1, "ghost" -> 5))
      .select("doc_id").as[Long].collect().toSet
    assert(got === ref)
  }

  test("containment ops tolerate empty inputs and degenerate corpora") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.containmentPairs(empty, "doc_id", "text").count() === 0)
    // a 4-deep identical group (plus filler keeping its tokens under
    // the 1/5 df cap): no cross-group candidates — every ordered
    // member pair emits at containment 1.0
    val same = ((1L to 4L).map((_, "alpha beta gamma")) ++
      (10L to 29L).map(i => (i, s"filler$i pad$i"))).toDF("doc_id", "text")
    val within = Dedup.containmentPairs(same, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(within.length === 12 && within.forall(_._3 === 1.0))
    // and when a group's tokens are ALL corpus-frequent (identical
    // docs in a tiny corpus breach the relative cap), the vocabulary
    // excludes them and the group reports nothing — consistent with
    // the per-doc oracle, where an empty rare-token set has no size
    // row and no candidates
    val allsame = (1L to 4L).map((_, "alpha beta gamma")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(allsame, "doc_id", "text").count() === 0)
    // corpus where every token breaches the df cap (in every doc):
    // vocabulary empties, result is empty, nothing throws
    val stop = (1L to 4L).map((_, "the and of")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(stop, "doc_id", "text").count() === 0)
    // cross: either side empty yields empty, not an error
    val some = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    assert(Dedup.containmentPairsAcross(empty, some, "doc_id", "text")
      .count() === 0)
    // needle vs empty corpus: its tokens are all df-0 (in-vocab) but
    // there is nothing to share a candidate token with — empty result
    assert(Dedup.containmentPairsAcross(some, empty, "doc_id", "text")
      .count() === 0)
  }

  test("anomaly_mad flags planted spikes that a stddev gate would miss") {
    import org.apache.spark.sql.functions._
    // one priority, 30 steady days around 100, plus FOUR 10_000
    // spikes: together they inflate a mean/stddev threshold past
    // themselves (3σ gate > 10_000 — each spike hides the others) but
    // cannot move the median/MAD of a 26/30 clean series
    val tmp = java.nio.file.Files.createTempDirectory("mad").toString
    val spikes = Set(5, 12, 19, 26)
    val rows = (1 to 30).map { i =>
      val v = if (spikes(i)) 10000.0 else 100.0 + (i % 5)
      (i.toLong, 1L, "O", v, java.sql.Date.valueOf(f"1995-01-$i%02d"), "1-URGENT")
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$tmp/orders.parquet")
    val out = GraphQueries.anomalyMad(spark, tmp)
      .select("day", "demand").collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1))).toMap
    assert(out.keySet === spikes.map(i => f"1995-01-$i%02d"))
    assert(out.values.forall(_ === 10000.0))
    // the stddev gate really would miss them (documents the why)
    val daily = rows.map(_._4)
    val mean = daily.sum / daily.size
    val sd = math.sqrt(daily.map(v => (v - mean) * (v - mean)).sum / daily.size)
    assert(10000.0 < mean + 3 * sd)
  }

  test("second-wave r9 operators behave on empty and degenerate inputs") {
    import graft.operators.{Bpe, Dsir, Lm, SemDedup, Sampling, Wordpiece}
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // DSIR: empty corpus -> empty fit; scoring an empty-text doc works
    assert(Dsir.fit(noDocs, "text", lit(true)).count() === 0)
    val ratios = Array.fill(256)(1.0)
    val one = Seq((1L, "")).toDF("doc_id", "text")
    assert(Dsir.score(one, "doc_id", "text", ratios).count() === 1)
    // LM: an EMPTY reference marks every bigram unseen, no crash
    val docs = Seq((1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    val emptyRef = Lm.fitBigrams(noDocs, "doc_id", "text")
    val nov = Lm.novelty(docs, "doc_id", "text", emptyRef)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(nov(1L) === ((2L, 2L, 0L)) && nov(2L) === ((0L, 0L, 0L)))
    // SemDeDup: single vector keeps itself; empty input yields empty
    val cents = Seq((0, Array(1f, 0f)))
    val single = Seq((7L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(SemDedup.prune(single, "vec_id", "embedding", cents, 0.9)
      .as[(Long, Long, Boolean)].head() === ((7L, 7L, true)))
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(SemDedup.prune(noVecs, "vec_id", "embedding", cents, 0.9)
      .count() === 0)
    // priority sampling: empty input is empty, not an error
    val noW = Seq.empty[(String, Long, Long)].toDF("g", "id", "w")
    assert(Sampling.prioritySample(noW, "g", "id", "w", 5).count() === 0)
    // wordpiece rejects an empty vocabulary loudly (native path too)
    intercept[IllegalArgumentException](
      Wordpiece.tokenize(col("text"), Seq.empty))
    // BPE: empty dictionary trains zero merges, single chars stop early
    assert(Bpe.train(Seq.empty, 5) === Seq.empty)
    assert(Bpe.train(Seq("a" -> 3L), 5) === Seq.empty)
  }

  test("cosine of zero vectors is NULL, not a job-killing ANSI error") {
    val df = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val c = df.as("a").crossJoin(df.as("b"))
      .select(Dedup.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(c.count(_.isEmpty) === 3)      // any pair touching the zero vector
    assert(c.flatten.contains(1.0))       // unit vector with itself
  }
}
