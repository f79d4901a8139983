package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventsStream

class StreamingSpec extends SparkSpec {

  private def eventCols(df: org.apache.spark.sql.DataFrame) =
    df.select("event_id", "ts", "user_id", "event_type", "value")

  test("streaming hourly counts equal the batch rollup (complete mode)") {
    val tmp = Files.createTempDirectory("stream-hourly").toString
    eventCols(Tables.events(spark, sfDir)).write.parquet(s"$tmp/in")
    val stream = EventsStream.fromParquetDir(spark, s"$tmp/in",
      eventCols(Tables.events(spark, sfDir)))
    val q = EventsStream.hourlyCounts(stream).writeStream
      .format("memory").queryName("hourly_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_t")
      .select("bucket", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.Sessionize
      .timeBucketed(Tables.events(spark, sfDir), "hour")
      .select("bucket", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("streaming sliding-window counts equal the batch sliding window") {
    val tmp = Files.createTempDirectory("stream-sliding").toString
    val base = eventCols(Tables.events(spark, sfDir))
    base.write.parquet(s"$tmp/in")
    val stream = EventsStream.fromParquetDir(spark, s"$tmp/in", base)
    val q = EventsStream.slidingCounts(stream).writeStream
      .format("memory").queryName("sliding_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket_start", "bucket_end", "event_type", "n_events")
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3)))
        .toSet
    val streamed = key(spark.table("sliding_t"))
    val batch = key(base
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket_start"),
              col("window.end").as("bucket_end"), col("event_type"),
              col("n_events")))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // each event lands in exactly length/slide = 4 overlapping windows
    assert(streamed.toSeq.map(_._4).sum === 4 * base.count())
  }

  test("streaming sessionize with keyed state matches batch gap sessions") {
    val tmp = Files.createTempDirectory("stream-sess").toString
    val cp = s"$tmp/cp"
    val base = eventCols(Tables.events(spark, sfDir))
    base.write.parquet(s"$tmp/in")

    // run 1: real events only — closes all but each user's last session.
    // file sink (memory sink can't recover from a checkpoint).
    def run(): Unit = {
      val stream = EventsStream.fromParquetDir(spark, s"$tmp/in", base)
      val q = EventsStream.sessionize(spark, stream, 30).writeStream
        .format("parquet").option("path", s"$tmp/out")
        .option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
    }
    run()

    // run 2 (same checkpoint → state carries over): one sentinel per
    // user 2h after that user's last event closes the open sessions
    base.groupBy("user_id")
      .agg(max("ts").as("maxts"), max("event_id").as("maxid"))
      .select((col("maxid") + 1000000L).as("event_id"),
              (col("maxts") + expr("INTERVAL 2 HOURS")).as("ts"),
              col("user_id"), lit("sentinel").as("event_type"), lit(0.0).as("value"))
      .write.mode("append").parquet(s"$tmp/in")
    run()

    // sentinel sessions themselves may close via event-time timeout
    // (users whose sentinel is behind the global watermark) — exclude
    val sentinelStarts = base.groupBy("user_id")
      .agg((max("ts") + expr("INTERVAL 2 HOURS")).as("sts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    val streamed = spark.read.parquet(s"$tmp/out")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .filterNot(s => sentinelStarts.contains((s._1, s._2))).toSet
    val batch = graft.operators.Sessionize
      .gapSessions(Tables.events(spark, sfDir), 30)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val missing = batch -- streamed
    val extra = streamed -- batch
    assert(streamed === batch,
      s"\nmissing(${missing.size}): ${missing.take(5)}\nextra(${extra.size}): ${extra.take(5)}")
  }

  test("streaming compact-changes matches the batch twin in event-time order") {
    val tmp = Files.createTempDirectory("stream-compact").toString
    val cp = s"$tmp/cp"
    val base = eventCols(Tables.events(spark, sfDir))
    base.write.parquet(s"$tmp/in")

    def run(): Unit = {
      val stream = EventsStream.fromParquetDir(spark, s"$tmp/in", base)
      val q = EventsStream.compactChanges(spark, stream, 30).writeStream
        .format("parquet").option("path", s"$tmp/out")
        .option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
    }
    run()
    // sentinels 2h past each user's last event push the watermark past
    // every real event, flushing all buffered state
    base.groupBy("user_id")
      .agg(max("ts").as("maxts"), max("event_id").as("maxid"))
      .select((col("maxid") + 1000000L).as("event_id"),
              (col("maxts") + expr("INTERVAL 2 HOURS")).as("ts"),
              col("user_id"), lit("sentinel").as("event_type"),
              lit(0.0).as("value"))
      .write.mode("append").parquet(s"$tmp/in")
    run()

    val streamed = spark.read.parquet(s"$tmp/out")
      .where(col("event_type") =!= "sentinel")
      .select("event_id", "user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = SparkEntry.queries("events_compact_changes")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val missing = batch -- streamed
    val extra = streamed -- batch
    assert(streamed === batch,
      s"\nmissing(${missing.size}): ${missing.take(5)}\nextra(${extra.size}): ${extra.take(5)}")
  }

  test("stream-stream interval join matches the batch join") {
    val tmp = Files.createTempDirectory("stream-join").toString
    val base = eventCols(Tables.events(spark, sfDir))
    base.write.parquet(s"$tmp/in")
    val stream = EventsStream.fromParquetDir(spark, s"$tmp/in", base)
    val q = EventsStream.purchaseClickJoin(stream, 60).writeStream
      .format("memory").queryName("ssjoin_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssjoin_t")
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventsStream.purchaseClickJoin(base, 60)
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming CDC apply equals the batch merge (manifest commits)") {
    import spark.implicits._
    import graft.sources.Manifest
    val tmp = Files.createTempDirectory("stream-cdc").toString
    val root = s"$tmp/target"
    val target = Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C"))
      .toDF("id", "amount", "status")
    assert(Manifest.commit(spark, root, target) === 0L)
    val changes = Seq(
      (2L, "U", 25.0, "B2", 1L), // update
      (3L, "D", 0.0, "", 2L),    // delete
      (4L, "I", 40.0, "D", 3L),  // insert
      (4L, "I", 45.0, "D2", 4L)  // later change to the same key wins
    ).toDF("id", "op", "amount", "status", "seq")
    changes.write.parquet(s"$tmp/changes")
    val stream = spark.readStream.schema(changes.schema).parquet(s"$tmp/changes")
    val q = EventsStream.cdcApplyStream(stream, root, "id", "seq", s"$tmp/cp")
    q.processAllAvailable(); q.stop()
    val got = Manifest.read(spark, root).get
      .as[(Long, Double, String)].collect().toSet
    assert(got === Set((1L, 10.0, "A"), (2L, 25.0, "B2"), (4L, 45.0, "D2")))
    // the previous version stays readable for in-flight readers
    assert(Manifest.currentVersion(spark, root) === Some(1L))
    assert(spark.read.parquet(Manifest.resolvedDataDir(spark, root, 0)).count() === 3)
  }

  test("manifest CDC bootstraps a fresh table; a crash window never loses the target") {
    import spark.implicits._
    import graft.sources.Manifest
    val tmp = Files.createTempDirectory("stream-cdc-boot").toString
    val root = s"$tmp/target" // does not exist: first batch founds it
    val changes = Seq(
      (1L, "I", 1.0, "A", 1L),
      (2L, "I", 2.0, "B", 2L),
      (2L, "D", 0.0, "", 3L) // latest change for key 2 is a delete
    ).toDF("id", "op", "amount", "status", "seq")
    changes.write.parquet(s"$tmp/changes")
    val stream = spark.readStream.schema(changes.schema).parquet(s"$tmp/changes")
    val q = EventsStream.cdcApplyStream(stream, root, "id", "seq", s"$tmp/cp")
    q.processAllAvailable(); q.stop()
    def state() = Manifest.read(spark, root).get
      .as[(Long, Double, String)].collect().toSet
    assert(state() === Set((1L, 1.0, "A")))
    val v = Manifest.currentVersion(spark, root).get
    // crash between data write and marker publish: an orphaned data
    // dir exists but readers still resolve the committed version
    Seq((9L, 9.9, "X")).toDF("id", "amount", "status")
      .write.mode("overwrite").parquet(Manifest.dataDir(root, v + 1))
    assert(Manifest.currentVersion(spark, root) === Some(v))
    assert(state() === Set((1L, 1.0, "A")))
    // the replayed commit claims the orphan's version (in its own
    // uniquely-staged dir — the orphan is garbage awaiting GC)
    val next = Manifest.commit(spark, root,
      Seq((5L, 5.0, "E")).toDF("id", "amount", "status"))
    assert(next === v + 1)
    assert(state() === Set((5L, 5.0, "E")))
    // GC horizon: after another commit, version v is dropped but the
    // immediately-previous version survives for in-flight readers
    val dirV = Manifest.resolvedDataDir(spark, root, v)
    val dirV1 = Manifest.resolvedDataDir(spark, root, v + 1)
    Manifest.commit(spark, root, Seq((6L, 6.0, "F")).toDF("id", "amount", "status"))
    assert(!new java.io.File(dirV).exists())
    assert(new java.io.File(dirV1).exists())
  }

  test("manifest CAS: of two interleaved committers one wins, one cleanly loses") {
    import spark.implicits._
    import graft.sources.Manifest
    val root = Files.createTempDirectory("manifest-cas").toString + "/t"
    Manifest.commit(spark, root, Seq((0L, "base")).toDF("k", "tag"), retain = 4)
    // both committers observe version 0 and race for version 1; the
    // interleaving is made deterministic by driving commitAt directly
    val next = Manifest.currentVersion(spark, root).get + 1
    assert(Manifest.commitAt(spark, root,
      Seq((1L, "winner")).toDF("k", "tag"), next, retain = 4) === 1L)
    val lost = intercept[java.util.ConcurrentModificationException] {
      Manifest.commitAt(spark, root,
        Seq((1L, "loser")).toDF("k", "tag"), next, retain = 4)
    }
    assert(lost.getMessage.contains("committed concurrently"))
    // the winner's publish is untouched and the loser staged nothing
    assert(Manifest.read(spark, root).get
      .as[(Long, String)].collect().toSeq === Seq((1L, "winner")))
    val staged = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("data-1")).toSeq
    assert(staged.size === 1, s"loser's staging dir not cleaned: $staged")
    // a retry-enabled loser republishes at the NEXT version instead
    val v2 = Manifest.commit(spark, root,
      Seq((2L, "retried")).toDF("k", "tag"), retain = 4, maxRetries = 1)
    assert(v2 === 2L)
    assert(Manifest.readVersion(spark, root, 1L)
      .as[(Long, String)].collect().toSeq === Seq((1L, "winner")))
  }

  test("manifest time travel: readVersion + retain window + vacuum") {
    import spark.implicits._
    import graft.sources.Manifest
    val root = Files.createTempDirectory("manifest-tt").toString + "/t"
    // retain=4 keeps a time-travel window across commits
    for (i <- 0 to 3)
      Manifest.commit(spark, root, Seq((i.toLong, s"v$i")).toDF("k", "tag"),
                      retain = 4)
    assert(Manifest.versions(spark, root) === Seq(0L, 1L, 2L, 3L))
    // every retained version readable AT its version
    for (i <- 0 to 3)
      assert(Manifest.readVersion(spark, root, i.toLong)
        .as[(Long, String)].collect().toSeq === Seq((i.toLong, s"v$i")))
    // a fifth commit at retain=4 rolls version 0 out of the window
    Manifest.commit(spark, root, Seq((4L, "v4")).toDF("k", "tag"), retain = 4)
    assert(Manifest.versions(spark, root) === Seq(1L, 2L, 3L, 4L))
    val gone = intercept[IllegalArgumentException](
      Manifest.readVersion(spark, root, 0L))
    assert(gone.getMessage.contains("vacuumed"))
    // explicit vacuum shrinks the window; data dirs drop with markers
    val dir2 = Manifest.resolvedDataDir(spark, root, 2L)
    assert(Manifest.vacuum(spark, root, retain = 2) === Seq(1L, 2L))
    assert(Manifest.versions(spark, root) === Seq(3L, 4L))
    assert(!new java.io.File(dir2).exists())
    assert(Manifest.readVersion(spark, root, 3L)
      .as[(Long, String)].collect().toSeq === Seq((3L, "v3")))
    // current read unaffected
    assert(Manifest.read(spark, root).get
      .as[(Long, String)].collect().toSeq === Seq((4L, "v4")))
    // vacuum with nothing to drop is a no-op
    assert(Manifest.vacuum(spark, root, retain = 5) === Seq.empty)
  }

  test("manifest readRange unions versions by name across schema evolution") {
    import spark.implicits._
    import graft.sources.Manifest
    val root = Files.createTempDirectory("manifest-range").toString + "/t"
    Manifest.commit(spark, root, Seq((1L, "a")).toDF("k", "s"), retain = 4)
    // v1 adds a column; v2 drops the original one
    Manifest.commit(spark, root,
      Seq((2L, "b", 9.5)).toDF("k", "s", "score"), retain = 4)
    Manifest.commit(spark, root,
      Seq((3L, 7.5)).toDF("k", "score"), retain = 4)
    val got = Manifest.readRange(spark, root, 0L, 2L)
      .select("_version", "k", "s", "score")
      .as[(Long, Long, Option[String], Option[Double])].collect().toSet
    assert(got === Set(
      (0L, 1L, Some("a"), None),
      (1L, 2L, Some("b"), Some(9.5)),
      (2L, 3L, None, Some(7.5))))
    // a sub-range reads only its versions
    assert(Manifest.readRange(spark, root, 1L, 2L)
      .select("_version").distinct().as[Long].collect().toSet === Set(1L, 2L))
    val bad = intercept[IllegalArgumentException](
      Manifest.readRange(spark, root, 90L, 99L))
    assert(bad.getMessage.contains("no retained versions"))
  }

  test("manifest diff classifies inserted/deleted/updated/unchanged keys") {
    import spark.implicits._
    import graft.sources.Manifest
    val root = Files.createTempDirectory("manifest-diff").toString + "/t"
    Manifest.commit(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "s", "v"),
      retain = 4)
    Manifest.commit(spark, root,
      Seq((2L, "b", 20), (3L, "CHANGED", 30), (4L, "d", 40))
        .toDF("k", "s", "v"),
      retain = 4)
    val got = Manifest.diff(spark, root, "k", fromV = 0L, toV = 1L)
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "deleted", 2L -> "unchanged",
                       3L -> "updated", 4L -> "inserted"))
  }

  test("streaming dedup drops within-watermark duplicates with bounded state") {
    val tmp = Files.createTempDirectory("stream-dedup").toString
    val base = eventCols(Tables.events(spark, sfDir))
    // every event twice → stream must emit each exactly once
    base.union(base).write.parquet(s"$tmp/in")
    val stream = EventsStream.fromParquetDir(spark, s"$tmp/in", base)
    val q = EventsStream.dedupStream(stream, "1 hour").writeStream
      .format("memory").queryName("dedup_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val n = spark.table("dedup_t").count()
    assert(n === base.count())
    assert(spark.table("dedup_t").select("event_id").distinct().count() === n)
  }
}
