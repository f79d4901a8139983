package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.Curate
import graft.sources.{AnnIndex, GrepIndex, InvertedIndex, StatsIndex}

/** Index and curation metadata is read and written on the driver
  * ([[graft.sources.MetaTable]]), and base tables take their schema
  * from one footer read there ([[graft.Tables]]): these calls start a
  * pinned number of Spark jobs, so a return to Spark-side metadata
  * I/O or schema inference fails here. Jobs are counted by a
  * listener, restricted to a job group set on the calling thread —
  * except for calls that start jobs on other threads
  * (`Curate.runBatch`'s index appends), where every job started
  * during the call counts. */
class MetadataJobsSpec extends SparkSpec {
  import spark.implicits._

  private val group = "metadata-jobs-spec"
  private val started = new AtomicInteger(0)
  private val startedAll = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      startedAll.incrementAndGet()
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        started.incrementAndGet()
    }
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Block until every posted listener event has been handled. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  private def jobsOf(body: => Any): Int = {
    drain()
    val n0 = started.get()
    spark.sparkContext.setJobGroup(group, "metadata job count")
    try body finally spark.sparkContext.clearJobGroup()
    drain()
    started.get() - n0
  }

  /** Every job started while `body` runs, on any thread. */
  private def allJobsOf(body: => Any): Int = {
    drain()
    val n0 = startedAll.get()
    body
    drain()
    startedAll.get() - n0
  }

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

  test("a warm curate batch starts a pinned number of jobs, index appends included") {
    val roots = Curate.tempRoots("metajobs-warm")
    def batch(off: Long) = texts.select((col("doc_id") + off).as("doc_id"),
      lit("s").as("source"), concat(col("text"), lit(s" batch$off")).as("text"))
    def embs(off: Long) = (1L to 40L).map(i => (i + off, Array(i.toFloat, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    Curate.runBatch(spark, roots, batch(0L), embs(0L), qualityFloor = 0.0,
      budgetPerSource = 1000000L)
    // the second batch appends to both indexes built by the first
    assert(allJobsOf(Curate.runBatch(spark, roots, batch(100L), embs(100L),
      qualityFloor = 0.0, budgetPerSource = 1000000L)) === 22)
    assert(Curate.readCorpus(spark, roots).count() === 80L)
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
