package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import graft.obs.Profile
import graft.operators.Curate
import graft.sources.{AnnIndex, GrepIndex, InvertedIndex, StatsIndex}

/** Index and curation metadata is read and written on the driver
  * ([[graft.sources.MetaTable]]), and base tables take their schema
  * from one footer read there ([[graft.Tables]]): these calls start a
  * pinned number of Spark jobs, so a return to Spark-side metadata
  * I/O or schema inference fails here. Jobs are counted by
  * [[graft.obs.Profile]], which includes the jobs a call starts on
  * other threads under its capture (`Curate.runBatch`'s index
  * appends). */
class MetadataJobsSpec extends SparkSpec {
  import spark.implicits._

  private def jobsOf(body: => Any): Int = Profile.capture(spark)(body)._2.jobs

  private lazy val base = Files.createTempDirectory("metajobs").toString
  private lazy val texts = (1L to 40L).map(i => (i, s"needle$i shared text body ${i % 7}"))
    .toDF("doc_id", "text")

  private lazy val grepRoot = {
    val root = s"$base/grep"
    GrepIndex.build(spark, texts, "doc_id", "text", root, nFiles = 2)
    GrepIndex.append(spark, root, texts.select((col("doc_id") + 100).as("doc_id"),
      col("text")), "doc_id", "text", nFiles = 2)
    root
  }

  private lazy val curated = {
    val roots = Curate.tempRoots("metajobs-curate")
    val batch = texts.select(col("doc_id"), lit("s").as("source"), col("text"))
    val embs = (1L to 40L).map(i => (i, Array(i.toFloat, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    Curate.runBatch(spark, roots, batch, embs, qualityFloor = 0.0,
      budgetPerSource = 1000000L)
    roots
  }

  test("catalogs, centroids and notes are read without a Spark job") {
    val (grep, roots) = (grepRoot, curated) // built outside the counts
    assert(jobsOf(GrepIndex.catalogOf(spark, grep)) === 0)
    assert(jobsOf(GrepIndex.segments.noteOf(spark, grep, None)) === 0)
    assert(jobsOf(InvertedIndex.catalogOf(spark, roots.inv)) === 0)
    assert(jobsOf(AnnIndex.catalogOf(spark, roots.ann)) === 0)
    assert(jobsOf(AnnIndex.centroidsOf(spark, roots.ann)) === 0)
    assert(jobsOf(Curate.segments.noteOf(spark, roots.curation, Some(0L))) === 0)
    assert(GrepIndex.catalogOf(spark, grep).size === 2)
    assert(AnnIndex.centroidsOf(spark, roots.ann).nonEmpty)
  }

  test("StatsIndex prunes on the driver and reads footers there: no job") {
    val posts = GrepIndex.catalogOf(spark, grepRoot).map(_.postings)
    var pruned = Seq.empty[(Seq[String], Seq[String])]
    assert(jobsOf { pruned = StatsIndex.prunedFilesInMany(spark, posts, "h", Seq(1L, 2L)) } === 0)
    assert(pruned.size === 2 && pruned.forall(_._2.nonEmpty))
    assert(jobsOf(StatsIndex.write(spark, posts.head, Seq("h"))) === 0)
  }

  test("one grep append starts a pinned number of jobs") {
    val root = s"$base/grep-append"
    GrepIndex.build(spark, texts, "doc_id", "text", root, nFiles = 2)
    assert(jobsOf(GrepIndex.append(spark, root,
      texts.select((col("doc_id") + 100).as("doc_id"), col("text")),
      "doc_id", "text", nFiles = 2)) === 8)
  }

  private def batch(off: Long) = texts.select((col("doc_id") + off).as("doc_id"),
    lit("s").as("source"), concat(col("text"), lit(s" batch$off")).as("text"))
  private def embs(off: Long) = (1L to 40L).map(i => (i + off, Array(i.toFloat, 1f, 0f, 0f)))
    .toDF("vec_id", "embedding")
  private def runBatch(roots: Curate.Roots, off: Long): Long =
    Curate.runBatch(spark, roots, batch(off), embs(off), qualityFloor = 0.0,
      budgetPerSource = 1000000L)

  private val markers = new AtomicInteger(0)

  /** The id of a one-job marker run now. Job ids are sequential, so two
    * markers bracket every job started between them, on any thread. */
  private def marker(): Int = {
    val sc = spark.sparkContext
    val group = s"metajobs-marker-${markers.incrementAndGet()}"
    sc.setJobGroup(group, "marker")
    try Profile.capture(spark)(sc.parallelize(Seq(1), 1).count())
    finally sc.clearJobGroup()
    val Array(id) = sc.statusTracker.getJobIdsForGroup(group)
    id
  }

  test("a warm curate batch starts a pinned number of jobs, index appends included") {
    val roots = Curate.tempRoots("metajobs-warm")
    runBatch(roots, 0L)
    // the second batch appends to both indexes built by the first
    assert(jobsOf(runBatch(roots, 100L)) === 22)
    assert(Curate.readCorpus(spark, roots).count() === 80L)
  }

  test("every job of a warm curate batch carries the caller's job group") {
    // the index appends run on another thread: it must take the
    // caller's local properties for each call, not keep the ones it
    // had when it was created
    val sc = spark.sparkContext
    val roots = Curate.tempRoots("metajobs-groups")
    runBatch(roots, 0L)
    for (off <- Seq(100L, 200L)) {
      val group = s"metajobs-batch-$off"
      val before = marker()
      sc.setJobGroup(group, "curate batch")
      try runBatch(roots, off) finally sc.clearJobGroup()
      val started = marker() - before - 1
      assert(started === 22, group)
      assert(sc.statusTracker.getJobIdsForGroup(group).length === started, group)
    }
  }

  test("two concurrent curate batches each capture their own jobs and decisions") {
    val sc = spark.sparkContext
    val roots = Seq("a", "b").map(t => Curate.tempRoots(s"metajobs-conc-$t"))
    roots.foreach(runBatch(_, 0L))
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val before = marker()
    val profiles = try {
      val runs = roots.zipWithIndex.map { case (r, i) =>
        pool.submit(new Callable[Profile] {
          def call(): Profile = {
            sc.setJobGroup(s"metajobs-conc-$i", "concurrent curate batch")
            start.await()
            try Profile.capture(spark)(runBatch(r, 100L))._2 finally sc.clearJobGroup()
          }
        })
      }
      start.countDown()
      runs.map(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdown()
    val started = marker() - before - 1
    for ((p, i) <- profiles.zipWithIndex) {
      assert(p.jobs === 22, s"batch $i")
      // the capture's jobs are exactly the ones its thread's group ran
      assert(sc.statusTracker.getJobIdsForGroup(s"metajobs-conc-$i").length === p.jobs)
      // the ANN append records on the other thread, the inverted one on the caller's
      assert(p.decisions.filter(_.op.startsWith("curate.")).sortBy(_.op) === Seq(
        Decision("curate.ann", "appended", 0, 0), Decision("curate.inv", "appended", 0, 0)))
    }
    assert(profiles.map(_.jobs).sum === started)
  }

  test("building the curated corpus frame starts no job") {
    val roots = curated
    assert(jobsOf(Curate.readCorpus(spark, roots)) === 0)
    assert(jobsOf(Curate.readLedger(spark, roots)) === 0)
    assert(Curate.readCorpus(spark, roots).count() === 40L)
  }

  test("base tables read their schema from a footer: same schema, no job") {
    val dir = sfDir10x
    val names = new java.io.File(dir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("documents") && names.contains("events"))
    Tables.events(spark, dir) // sets the session's nanosAsLong, as queries do
    for (name <- names)
      assert(Tables.table(spark, dir, name).schema ===
        spark.read.parquet(s"$dir/$name.parquet").schema, name)
    // a Spark-written directory of 4 files, with _SUCCESS and .crc
    // files that the listing rule skips
    Tables.documents(spark, dir).repartition(4)
      .write.parquet(s"$base/multi.parquet")
    assert(new java.io.File(s"$base/multi.parquet").list()
      .count(f => f.endsWith(".parquet") && !f.startsWith(".")) === 4)
    val multi = Tables.table(spark, base, "multi")
    assert(multi.schema === spark.read.parquet(s"$base/multi.parquet").schema)
    assert(multi.count() === 500L)
    assert(jobsOf(Tables.documents(spark, dir)) === 0)
    assert(jobsOf(Tables.events(spark, dir)) === 0)
  }
}
