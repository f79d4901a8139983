package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.Curate
import graft.sources.{AnnIndex, GrepIndex, InvertedIndex, StatsIndex}

/** Index and curation metadata is read and written on the driver
  * ([[graft.sources.MetaTable]]): these calls start a pinned number of
  * Spark jobs, so a return to Spark-side metadata I/O fails here. Jobs
  * are counted by a listener, restricted to a job group set on the
  * calling thread. */
class MetadataJobsSpec extends SparkSpec {
  import spark.implicits._

  private val group = "metadata-jobs-spec"
  private val started = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        started.incrementAndGet()
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
    assert(jobsOf(GrepIndex.noteOf(spark, grep)) === 0)
    assert(jobsOf(InvertedIndex.catalogOf(spark, roots.inv)) === 0)
    assert(jobsOf(AnnIndex.catalogOf(spark, roots.ann)) === 0)
    assert(jobsOf(AnnIndex.centroidsOf(spark, roots.ann)) === 0)
    assert(jobsOf(Curate.noteOf(spark, roots, 0L)) === 0)
    assert(GrepIndex.catalogOf(spark, grep).size === 2)
    assert(AnnIndex.centroidsOf(spark, roots.ann).nonEmpty)
  }

  test("StatsIndex prunes on the driver and writes with one footer job") {
    val posts = GrepIndex.catalogOf(spark, grepRoot).map(_.postings)
    var pruned = Seq.empty[(Seq[String], Seq[String])]
    assert(jobsOf { pruned = StatsIndex.prunedFilesInMany(spark, posts, "h", Seq(1L, 2L)) } === 0)
    assert(pruned.size === 2 && pruned.forall(_._2.nonEmpty))
    assert(jobsOf(StatsIndex.write(spark, posts.head, Seq("h"))) === 1)
  }

  test("building the curated corpus frame starts no job") {
    val roots = curated
    assert(jobsOf(Curate.readCorpus(spark, roots)) === 0)
    assert(jobsOf(Curate.readLedger(spark, roots)) === 0)
    assert(Curate.readCorpus(spark, roots).count() === 40L)
  }
}
