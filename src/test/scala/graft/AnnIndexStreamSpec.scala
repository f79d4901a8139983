package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Similarity
import graft.sources.{AnnIndex, Manifest}
import graft.streaming.AnnIndexStream

class AnnIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed appends make every arrived vector retrievable (== brute force)") {
    val tmp = Files.createTempDirectory("annidx-stream").toString
    val root = s"$tmp/idx"
    val emb = Tables.embeddings(spark, sfDir)
    // build on the first half; stream the second half in two files
    // (micro-batches bounded by maxFilesPerTrigger)
    AnnIndex.build(spark, emb.where(col("vec_id") < 30), root,
      cells = 8, nFiles = 8)
    emb.where(col("vec_id") >= 30 && col("vec_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$tmp/in")
    emb.where(col("vec_id") >= 30 && col("vec_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")

    var drifts = List.empty[(Long, AnnIndex.AppendResult)]
    val q = AnnIndexStream.appendTo(root,
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$tmp/in"),
        onBatch = (id, r) => drifts ::= (id, r))
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // every arrived vector is now retrievable: full probe == brute force
    val queries = emb.where(col("vec_id") < 5)
    val got = AnnIndex.probe(spark, root, queries, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === bf)
    // one version per non-empty micro-batch, each drift-reported
    assert(drifts.size >= 1)
    assert(Manifest.currentVersion(spark, root).get >= 1L)
    // centroids never moved
    assert(AnnIndex.centroidsOf(spark, root).size === 8)
  }

  test("a replayed micro-batch is skipped: batch-id notes dedupe appends") {
    val tmp = Files.createTempDirectory("annidx-replay").toString
    val root = s"$tmp/idx"
    val emb = Tables.embeddings(spark, sfDir)
    AnnIndex.build(spark, emb.where(col("vec_id") < 30), root,
      cells = 4, nFiles = 2)
    val batch = emb.where(col("vec_id") >= 30 && col("vec_id") < 40)
    val first = AnnIndexStream.appendBatch(root, batch, batchId = 7L)
    assert(first.nonEmpty)
    val vAfter = Manifest.currentVersion(spark, root).get
    assert(AnnIndex.segments.noteOf(spark, root, Some(vAfter)) === "stream-batch-7")
    // the replay: same batchId → no new version, no duplicate vectors
    val replay = AnnIndexStream.appendBatch(root, batch, batchId = 7L)
    assert(replay.isEmpty)
    assert(Manifest.currentVersion(spark, root).get === vAfter)
    val n = AnnIndex.probe(spark, root,
        emb.where(col("vec_id") === 35), k = 3, nprobe = 4)
      .where(col("neighbor_id") === 35).count()
    assert(n === 1, "vector 35 must appear exactly once")
    // a DIFFERENT batch id appends normally
    assert(AnnIndexStream.appendBatch(root,
      emb.where(col("vec_id") >= 40 && col("vec_id") < 45),
      batchId = 8L).nonEmpty)
    assert(Manifest.currentVersion(spark, root).get === vAfter + 1)
  }
}
