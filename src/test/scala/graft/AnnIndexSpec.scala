package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.{AnnIndex, Manifest}

class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(tag).toString + "/idx"

  test("probe at nprobe=cells over the persisted index equals brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val root = freshRoot("annidx-full")
    val v = AnnIndex.build(spark, emb, root, cells = 8, nFiles = 8)
    assert(v === 0L)
    val q = emb.where(col("vec_id") < 5)
    val got = AnnIndex.probe(spark, root, q, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(q, emb, 5)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === bf)
  }

  test("narrow probe reads ONLY the probed cells' files") {
    val emb = Tables.embeddings(spark, sfDir)
    val root = freshRoot("annidx-prune")
    // nFiles = cells: the cell-clustered layout puts ~1 cell per file
    AnnIndex.build(spark, emb, root, cells = 8, nFiles = 8)
    val q = emb.where(col("vec_id") === 0)
    val (res, ds) = Decision.capture(
      AnnIndex.probe(spark, root, q, k = 3, nprobe = 2))
    assert(res.count() === 3)
    val Decision(_, _, kept, total) = decision(ds, "ann.cells")
    // 2 probed cells of 8; range-partition boundaries are sampled, so a
    // cell can straddle a file boundary — but the probe must scan well
    // under half the files, not all of them
    assert(total >= 8, s"expected >= 8 segment files, got $total")
    assert(kept <= total / 2,
      s"probe read $kept/$total files - pruning is not happening")
    // and the probed result is still exactly brute force over the
    // probed cells (pruning must never drop a row from a probed cell):
    // every returned neighbor's cosine must be >= any neighbor outside
    // the result at the same rank by construction of row_number; spot
    // check rank-1 self-hit
    assert(res.where(col("rk") === 1).select("neighbor_id")
      .as[Long].head() === 0L)
  }

  test("append assigns to EXISTING centroids, new vectors become retrievable") {
    val emb = Tables.embeddings(spark, sfDir)
    val even = emb.where(col("vec_id") % 2 === 0)
    val odd = emb.where(col("vec_id") % 2 === 1)
    val root = freshRoot("annidx-append")
    AnnIndex.build(spark, even, root, cells = 8, nFiles = 8)
    val centsBefore = AnnIndex.centroidsOf(spark, root)
    val r = AnnIndex.append(spark, root, odd)
    assert(r.version === 1L)
    // centroids are byte-identical across the append (no retrain)
    val centsAfter = AnnIndex.centroidsOf(spark, root)
    assert(centsBefore.map(_._1) === centsAfter.map(_._1))
    assert(centsBefore.zip(centsAfter).forall {
      case ((_, a), (_, b)) => a.sameElements(b)
    })
    // the appended version answers for the FULL corpus
    val q = emb.where(col("vec_id") < 5)
    val got = AnnIndex.probe(spark, root, q, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(q, emb, 5)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === bf)
    // v0 (pre-append) stayed readable: time travel answers with evens only
    val v0 = AnnIndex.probe(spark, root, q, k = 5, nprobe = 8,
      version = Some(0L))
    assert(v0.where(col("neighbor_id") % 2 === 1).count() === 0)
  }

  test("catalog segment stats equal a count and mean over the written files") {
    val emb = Tables.embeddings(spark, sfDir)
    val root = freshRoot("annidx-stats")
    AnnIndex.build(spark, emb.where(col("vec_id") % 2 === 0), root,
      cells = 4, nFiles = 4)
    val r = AnnIndex.append(spark, root, emb.where(col("vec_id") % 2 === 1),
      nFiles = 4)
    // a zero-row append publishes nothing: same version, no segment
    val none = AnnIndex.append(spark, root, emb.limit(0), nFiles = 4)
    assert(none.version === r.version)
    val segs = AnnIndex.catalogOf(spark, root)
    assert(segs.size === 2)
    for (g <- segs) {
      val w = spark.read.parquet(g.path)
        .agg(count(lit(1)), coalesce(avg(col("ccos")), lit(0.0))).head()
      assert(g.nRows === w.getLong(0), g.path)
      // equal up to the summation order of the two aggregations
      assert(math.abs(g.meanCos - w.getDouble(1)) <= 1e-12, g.path)
    }
    val byPath = segs.map(g => g.path -> g).toMap
    assert(byPath(r.segment).nRows === emb.where(col("vec_id") % 2 === 1).count())
    assert(r.batchMeanCos === byPath(r.segment).meanCos && r.batchMeanCos > 0.0)
    assert(none.segment === "" && none.batchMeanCos === 0.0 &&
      !none.refitRecommended)
  }

  test("in-distribution append does not recommend refit; shifted batch does") {
    val emb = Tables.embeddings(spark, sfDir)
    val root = freshRoot("annidx-drift")
    AnnIndex.build(spark, emb, root, cells = 8, nFiles = 8)
    // EXACTLY in-distribution batch: the same vectors under fresh ids —
    // assignment cosines reproduce the build's bit-for-bit (at this
    // tiny sf a merely-similar batch drifts legitimately: 8 centroids
    // over ~60 near-uniform vectors overfit their members)
    val ok = AnnIndex.append(spark, root,
      emb.select(col("vec_id") + 100000, col("embedding"))
        .toDF("vec_id", "embedding"))
    assert(!ok.refitRecommended,
      s"in-distribution batch flagged drift: $ok")
    // adversarial batch: negate every vector — each lands maximally far
    // from its (positive-halfspace) centroid, mean cosine collapses
    val shifted = emb
      .select(col("vec_id") + 200000, transform(col("embedding"), x => -x))
      .toDF("vec_id", "embedding")
    val bad = AnnIndex.append(spark, root, shifted)
    assert(bad.refitRecommended,
      s"negated batch not flagged: batch=${bad.batchMeanCos} " +
        s"index=${bad.indexMeanCos}")
    assert(bad.batchMeanCos < bad.indexMeanCos - 0.05)
  }

  test("PQ index: codes artifact is smaller, ADC probe lossless at full params") {
    val emb = Tables.embeddings(spark, sfDir)
    val root = freshRoot("annidx-pq")
    AnnIndex.build(spark, emb, root, cells = 8, nFiles = 8,
      pqSubspaces = 8, pqCodes = 16)
    // the codes table is materially smaller than the raw vectors
    val cat = AnnIndex.catalogOf(spark, root)
    assert(cat.forall(_.codesPath.nonEmpty))
    def bytes(p: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }
    val raw = cat.map(g => bytes(g.path)).sum
    val codes = cat.map(g => bytes(g.codesPath)).sum
    assert(codes < raw / 2,
      s"codes $codes bytes not materially smaller than raw $raw")
    // lossless at nprobe=cells + unbounded rerank
    val q = emb.where(col("vec_id") < 5)
    val got = AnnIndex.probePq(spark, root, q, k = 5, nprobe = 8,
        rerank = Int.MaxValue)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(q, emb, 5)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === bf)
    // appended batches inherit the code layout and stay ADC-searchable
    AnnIndex.append(spark, root, emb.where(col("vec_id") < 3)
      .select(col("vec_id") + 500000, col("embedding"))
      .toDF("vec_id", "embedding"))
    val cat2 = AnnIndex.catalogOf(spark, root)
    assert(cat2.size === 2 && cat2.forall(_.codesPath.nonEmpty))
    // a plain index refuses the ADC probe loudly
    val plainRoot = freshRoot("annidx-plain")
    AnnIndex.build(spark, emb.where(col("vec_id") < 50), plainRoot,
      cells = 4, nFiles = 2)
    intercept[IllegalStateException](
      AnnIndex.probePq(spark, plainRoot, q, k = 5, nprobe = 4))
  }

  test("compactSegments folds many segments into one with identical answers") {
    val emb = Tables.embeddings(spark, sfDir)
    val root = freshRoot("annidx-compact")
    AnnIndex.build(spark, emb.where(col("vec_id") < 20), root,
      cells = 8, nFiles = 4)
    // three tiny appends = the post-streaming shape
    for (lo <- Seq(20, 30, 40))
      AnnIndex.append(spark, root,
        emb.where(col("vec_id") >= lo && col("vec_id") < lo + 10),
        nFiles = 2)
    val q = emb.where(col("vec_id") < 5)
    val before = AnnIndex.probe(spark, root, q, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(AnnIndex.catalogOf(spark, root).size === 4)
    val centsBefore = AnnIndex.centroidsOf(spark, root)
    AnnIndex.compactSegments(spark, root, nFiles = 8)
    // one segment, same centroids, identical probe results
    assert(AnnIndex.catalogOf(spark, root).size === 1)
    assert(AnnIndex.centroidsOf(spark, root).zip(centsBefore).forall {
      case ((c1, a), (c2, b)) => c1 == c2 && a.sameElements(b)
    })
    val after = AnnIndex.probe(spark, root, q, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(after === before)
    // row count preserved exactly (no loss, no duplication)
    assert(AnnIndex.catalogOf(spark, root).head.nRows === 50L)
    // old segments fall to vacuum once retention drops their versions
    Manifest.vacuum(spark, root, retain = 1)
    assert(AnnIndex.vacuumSegments(spark, root, minAgeMs = 0L).size === 4)
    assert(AnnIndex.probe(spark, root, q, k = 5, nprobe = 8)
      .count() === before.size)
  }

  test("compactIfNeeded fires only past maxSegments and preserves probes") {
    val emb = Tables.embeddings(spark, sfDir).where(col("vec_id") < 60)
    val root = freshRoot("annidx-autocompact")
    AnnIndex.build(spark, emb.where(col("vec_id") < 20), root,
      cells = 4, nFiles = 2)
    AnnIndex.append(spark, root,
      emb.where(col("vec_id") >= 20 && col("vec_id") < 40))
    // at/below the threshold: no-op
    assert(AnnIndex.compactIfNeeded(spark, root, maxSegments = 2) === None)
    assert(AnnIndex.catalogOf(spark, root).size === 2)
    AnnIndex.append(spark, root, emb.where(col("vec_id") >= 40))
    val q = emb.where(col("vec_id") < 3)
    val pre = AnnIndex.probe(spark, root, q, k = 3, nprobe = 4)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    // past the threshold: folds to one segment, probes unchanged
    assert(AnnIndex.compactIfNeeded(spark, root, maxSegments = 2).isDefined)
    assert(AnnIndex.catalogOf(spark, root).size === 1)
    val post = AnnIndex.probe(spark, root, q, k = 3, nprobe = 4)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(post === pre)
  }

  test("vacuumSegments removes only unreferenced segments") {
    val emb = Tables.embeddings(spark, sfDir).where(col("vec_id") < 50)
    val root = freshRoot("annidx-vacuum")
    AnnIndex.build(spark, emb, root, cells = 4, nFiles = 2)
    AnnIndex.append(spark, root, emb.where(col("vec_id") < 10)
      .select(col("vec_id") + 1000, col("embedding"))
      .toDF("vec_id", "embedding"))
    // both versions retained → both segments referenced → no-op
    assert(AnnIndex.vacuumSegments(spark, root, minAgeMs = 0L) === Seq.empty)
    // rebuild from scratch at v2 (fresh segment), then vacuum metadata
    // down to v2 only: the v0/v1 segments become unreferenced
    AnnIndex.build(spark, emb, root, cells = 4, nFiles = 2)
    Manifest.vacuum(spark, root, retain = 1)
    // the default min-age guard keeps YOUNG unreferenced dirs (an
    // in-flight writer's staged segments look exactly like these
    // until its CAS lands — the r17 advice live race)
    assert(AnnIndex.vacuumSegments(spark, root) === Seq.empty)
    val dead = AnnIndex.vacuumSegments(spark, root, minAgeMs = 0L)
    assert(dead.size === 2, s"expected 2 dead segments, got $dead")
    // the surviving index still answers
    assert(AnnIndex.probe(spark, root,
      emb.where(col("vec_id") === 0), k = 1, nprobe = 4).count() === 1)
  }
}
