package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Csv, Json, Lake, StatsIndex}

class SourcesSpec extends SparkSpec {

  test("Lake round-trips year/month partitions and prunes reads") {
    val tmp = Files.createTempDirectory("lake").toString
    val orders = Tables.orders(spark, sfDir)
    Lake.writePartitioned(orders, tmp, "o_orderdate")

    // layout on disk is the reference's %Y/%m sessioning
    val dirs = new java.io.File(tmp).listFiles().map(_.getName).filter(_.startsWith("year="))
    assert(dirs.nonEmpty)

    val month = Lake.readMonth(spark, tmp, 1995, 3)
    val expected = orders.where(year(col("o_orderdate")) === 1995 &&
                                month1(col("o_orderdate")) === 3).count()
    assert(month.count() === expected)
    // partition filter must prune, not scan-and-filter
    val scan = month.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || !scan.contains("year="))
  }

  private def month1(c: org.apache.spark.sql.Column) = month(c)

  test("Lake.compact collapses a many-small-file dir, preserving rows") {
    val tmp = Files.createTempDirectory("compact").toString
    val orders = Tables.orders(spark, sfDir)
    orders.repartition(40).write.parquet(s"$tmp/small") // 40 tiny files
    Lake.compact(spark, s"$tmp/small", s"$tmp/big", targetFileBytes = 1L << 30)
    def parquets(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquets(s"$tmp/small") === 40)
    assert(parquets(s"$tmp/big") === 1) // total bytes << 1 GiB target
    assert(spark.read.parquet(s"$tmp/big").count() === orders.count())
  }

  test("Lake.compact with sortCol range-clusters while compacting") {
    val tmp = Files.createTempDirectory("compactsort").toString
    val orders = Tables.orders(spark, sfDir)
    orders.repartition(20).write.parquet(s"$tmp/small")
    Lake.compact(spark, s"$tmp/small", s"$tmp/big",
                 targetFileBytes = 1L << 30, sortCol = Some("o_orderkey"))
    val out = spark.read.parquet(s"$tmp/big")
    assert(out.count() === orders.count())
    // single output file at this size: rows inside must be sorted
    import spark.implicits._
    val keys = out.select("o_orderkey").as[Long].collect()
    assert(keys.sameElements(keys.sorted), "compacted file not clustered")
  }

  test("Lake.writeSorted yields disjoint per-file ranges parquet stats can skip") {
    val tmp = Files.createTempDirectory("sorted").toString
    val orders = Tables.orders(spark, sfDir)
    Lake.writeSorted(orders, s"$tmp/sorted", "o_orderkey", nFiles = 4)
    // read each file's footer: row-group min/max on the sort column
    // must be tight and non-overlapping ACROSS files — the property
    // that lets a pushed-down range filter skip whole files/row groups
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(s"$tmp/sorted").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length === 4, files.map(_.getName).mkString(","))
    val ranges = files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks
        import scala.jdk.CollectionConverters._
        val stats = blocks.asScala.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "o_orderkey").get.getStatistics
          (c.genericGetMin.asInstanceOf[Long], c.genericGetMax.asInstanceOf[Long])
        }
        (stats.map(_._1).min, stats.map(_._2).max)
      } finally reader.close()
    }
    // files sorted by name ≠ sorted by range; sort by min and check disjoint
    val sorted = ranges.sortBy(_._1).toSeq
    sorted.sliding(2).foreach {
      case Seq((_, maxA), (minB, _)) =>
        assert(maxA <= minB, s"overlapping file ranges: $sorted")
      case _ =>
    }
    // round-trip intact
    assert(spark.read.parquet(s"$tmp/sorted").count() === orders.count())
  }

  test("Lake.writeZOrdered keeps per-file ranges tight on BOTH z columns") {
    val tmp = Files.createTempDirectory("zorder").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val nFiles = 8
    Lake.writeZOrdered(li, s"$tmp/z", Seq("l_partkey", "l_suppkey"), nFiles)
    Lake.writeSorted(li, s"$tmp/s", "l_partkey", nFiles)

    val conf = spark.sparkContext.hadoopConfiguration
    def fileRanges(dir: String, column: String): Seq[(Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            val stats = reader.getFooter.getBlocks.asScala.map { b =>
              val c = b.getColumns.asScala
                .find(_.getPath.toDotString == column).get.getStatistics
              (c.genericGetMin.asInstanceOf[Long],
               c.genericGetMax.asInstanceOf[Long])
            }
            (stats.map(_._1).min, stats.map(_._2).max)
          } finally reader.close()
        }
    // average covered fraction of the column's global range, per file —
    // the probability a uniform point filter on that column CANNOT
    // skip a given file
    def meanFrac(dir: String, column: String): Double = {
      val rs = fileRanges(dir, column)
      val (lo, hi) = (rs.map(_._1).min, rs.map(_._2).max)
      val span = (hi - lo).toDouble.max(1.0)
      rs.map(r => (r._2 - r._1).toDouble / span).sum / rs.size
    }
    // single-column sort: tight on the sort column, useless on the other
    assert(meanFrac(s"$tmp/s", "l_partkey") < 0.3)
    assert(meanFrac(s"$tmp/s", "l_suppkey") > 0.8)
    // z-order: materially tight on BOTH (≤ ~n^(1-1/2)/n + slack)
    assert(meanFrac(s"$tmp/z", "l_partkey") < 0.6)
    assert(meanFrac(s"$tmp/z", "l_suppkey") < 0.6)
    // and the data survives intact
    assert(spark.read.parquet(s"$tmp/z").count() === li.count())
  }

  test("Lake.writeZOrdered handles DATE z-columns and rejects empty input clearly") {
    import org.apache.spark.sql.functions.{col, to_date}
    val tmp = Files.createTempDirectory("zorder-date").toString
    // a DATE z-column: cast(DATE AS DOUBLE) is disallowed in Spark, so
    // the quantizer must route dates through unix_date (r8 advice)
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_day"))
    Lake.writeZOrdered(orders, s"$tmp/zd", Seq("o_day", "o_orderkey"), 4)
    assert(spark.read.parquet(s"$tmp/zd").count() === orders.count())
    // empty input: a clear requirement failure, not a getDouble NPE
    val err = intercept[IllegalArgumentException] {
      Lake.writeZOrdered(orders.limit(0), s"$tmp/ze", Seq("o_orderkey"), 2)
    }
    assert(err.getMessage.contains("empty input or all-null"))
  }

  test("Lake.writeZOrdered quantile boundaries beat linear on a skewed column") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("zorder-q").toString
    // heavy right skew: density concentrated near 0 with a long tail
    // (pow of a uniform), plus an independent uniform second column
    val df = spark.range(40000).select(
      (pow(col("id").cast("double") / 40000.0, 8.0) * 1e9).cast("long").as("skew"),
      pmod(hash(col("id")), lit(100000)).cast("long").as("uni"))
    Lake.writeZOrdered(df, s"$tmp/lin", Seq("skew", "uni"), 16)
    Lake.writeZOrdered(df, s"$tmp/qnt", Seq("skew", "uni"), 16, quantile = true)

    val conf = spark.sparkContext.hadoopConfiguration
    def meanFrac(dir: String, column: String): Double = {
      val rs = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            val stats = reader.getFooter.getBlocks.asScala.map { b =>
              val c = b.getColumns.asScala
                .find(_.getPath.toDotString == column).get.getStatistics
              (c.genericGetMin.asInstanceOf[Long],
               c.genericGetMax.asInstanceOf[Long])
            }
            (stats.map(_._1).min, stats.map(_._2).max)
          } finally reader.close()
        }
      val (lo, hi) = (rs.map(_._1).min, rs.map(_._2).max)
      val span = (hi - lo).toDouble.max(1.0)
      rs.map(r => (r._2 - r._1).toDouble / span).sum / rs.size
    }
    // RANGE tightness on the skewed column is meaningless for linear
    // (one linear cell holds ~97% of rows, so file ranges look "tight"
    // in value space while being useless in ROW space). The honest
    // metric: how many files does the p50-row point filter touch?
    // Median row value sits in the dense head; quantile boundaries
    // separate the head into many files, linear lumps it into few
    // wide-ROW-coverage files. Check row-coverage of the file whose
    // range contains the median value.
    val med = df.stat.approxQuantile("skew", Array(0.5), 0.0).head.toLong
    def rowsInFilesCovering(dir: String, v: Long): Long =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            val blocks = reader.getFooter.getBlocks.asScala
            val covers = blocks.exists { b =>
              val c = b.getColumns.asScala
                .find(_.getPath.toDotString == "skew").get.getStatistics
              c.genericGetMin.asInstanceOf[Long] <= v &&
                v <= c.genericGetMax.asInstanceOf[Long]
            }
            if (covers) blocks.map(_.getRowCount).sum else 0L
          } finally reader.close()
        }.sum
    val linRows = rowsInFilesCovering(s"$tmp/lin", med)
    val qntRows = rowsInFilesCovering(s"$tmp/qnt", med)
    // a median-value point filter must scan materially fewer rows
    // under quantile cells than linear cells on this skew
    assert(qntRows * 2 <= linRows,
      s"quantile=$qntRows vs linear=$linRows rows for the median filter")
    // the uniform column keeps its multi-column skipping either way
    assert(meanFrac(s"$tmp/qnt", "uni") < 0.6)
    // and the data survives intact
    assert(spark.read.parquet(s"$tmp/qnt").count() === 40000)
  }

  test("Lake.writeShuffled: same seed reproduces the epoch order, different seed decorrelates") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("shuffled").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source")

    // read back IN FILE+ROW ORDER: part files sorted lexicographically,
    // rows in parquet order — the sequence a training loader streams
    def sequence(dir: String): Seq[Long] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
        .flatMap { f =>
          spark.read.parquet(f.getAbsolutePath)
            .select("doc_id").collect().map(_.getLong(0)).toSeq
        }

    Lake.writeShuffled(docs, s"$tmp/e1", "doc_id", seed = 1L, nFiles = 4)
    Lake.writeShuffled(docs, s"$tmp/e1b", "doc_id", seed = 1L, nFiles = 4)
    Lake.writeShuffled(docs, s"$tmp/e2", "doc_id", seed = 2L, nFiles = 4)
    val (s1, s1b, s2) = (sequence(s"$tmp/e1"), sequence(s"$tmp/e1b"),
                         sequence(s"$tmp/e2"))
    // reproducible: same seed, same permutation
    assert(s1 === s1b)
    // complete: a permutation, not a sample
    assert(s1.sorted === docs.select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq)
    // the order IS sort-by-md5(seed:id) — recomputed independently in
    // plain Java, so the permutation is engine-portable as documented
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(seed: Long, id: Long): String =
      md.digest(s"$seed:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(s1 === s1.sortBy(id => key(1L, id)))
    // decorrelated: another seed is not the same order (nor reversed)
    assert(s1 !== s2)
    assert(s1.reverse !== s2)
  }

  test("Lake.writeSharded caps rows per file inside per-shard dirs") {
    val tmp = Files.createTempDirectory("sharded").toString
    val docs = Tables.documents(spark, sfDir)
    Lake.writeSharded(docs, s"$tmp/shards", "source",
      maxRowsPerFile = 7, tasksPerShard = 3)
    val root = new java.io.File(s"$tmp/shards")
    val shardDirs = root.listFiles().filter(_.getName.startsWith("source="))
    // one directory per source value
    val sources = docs.select("source").distinct()
      .collect().map(_.getString(0)).toSet
    assert(shardDirs.map(_.getName.stripPrefix("source=")).toSet === sources)
    // every file respects the row cap, and each shard got parallel
    // writers (more than one file even below the cap-induced minimum)
    for (d <- shardDirs) {
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty, d.getName)
      for (f <- files) {
        val n = spark.read.parquet(f.getAbsolutePath).count()
        assert(n <= 7, s"${f.getName}: $n rows > cap")
      }
    }
    // round-trip intact including the partition column
    val back = spark.read.parquet(s"$tmp/shards")
    assert(back.count() === docs.count())
    assert(back.select("doc_id", "source").collect().toSet ===
           docs.select("doc_id", "source").collect().toSet)
  }

  test("Json round-trips with explicit schema and quarantines bad lines") {
    val tmp = Files.createTempDirectory("json").toString
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    Json.write(df, s"$tmp/out")
    // append a malformed line to exercise the quarantine path
    val extra = new java.io.FileWriter(s"$tmp/out/bad.json")
    extra.write("{not json at all\n"); extra.close()
    // Quarantine.split owns the cache the corrupt-only projection needs
    val (good, bad) = graft.sources.Quarantine.split(
      Json.read(spark, s"$tmp/out", df.schema))
    assert(good.count() === 2)
    assert(bad.count() === 1)
    assert(good.agg(sum("v")).first().getDouble(0) === 4.0)
    assert(!good.columns.contains(Json.CorruptCol))
  }

  test("Orc round-trips losslessly") {
    val tmp = Files.createTempDirectory("orc").toString
    val orders = Tables.orders(spark, sfDir)
    orders.write.orc(s"$tmp/orc")
    val back = spark.read.orc(s"$tmp/orc")
    assert(back.schema === orders.schema)
    assert(back.count() === orders.count())
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
  }

  test("StatsIndex prunes files by range and never changes results") {
    val tmp = Files.createTempDirectory("statsidx").toString
    val orders = Tables.orders(spark, sfDir)
    Lake.writeSorted(orders, s"$tmp/t", "o_orderkey", nFiles = 8)
    StatsIndex.write(spark, s"$tmp/t", Seq("o_orderkey", "o_orderstatus"))
    // string column gets string stats, numeric column numeric stats
    val idx = StatsIndex.read(spark, s"$tmp/t")
    assert(idx.where(col("col") === "o_orderstatus" &&
                     col("min_str").isNotNull).count() === 8)
    assert(idx.where(col("col") === "o_orderkey" &&
                     col("min_num").isNotNull).count() === 8)
    // a narrow range on the sorted column: identical rows, fewer files
    val keys = orders.select("o_orderkey").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    val (lo, hi) = (keys(keys.length / 4).toDouble,
                    keys(keys.length / 3).toDouble)
    val pruned = StatsIndex.readPruned(spark, s"$tmp/t", "o_orderkey", lo, hi)
    val full = spark.read.parquet(s"$tmp/t")
      .where(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
    assert(pruned.count() === full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    val Array(kept, total) = spark.conf
      .get("spark.graft.lake.lastPruned").split("/").map(_.toInt)
    assert(total === 8 && kept < total, s"expected pruning, got $kept/$total")
    // staleness: a file written AFTER the index must still be scanned
    orders.where(col("o_orderkey") === lo.toLong).limit(1)
      .withColumn("o_orderstatus", lit("STALE"))
      .write.mode("append").parquet(s"$tmp/t")
    val afterStale = StatsIndex.readPruned(spark, s"$tmp/t", "o_orderkey", lo, hi)
    assert(afterStale.where(col("o_orderstatus") === "STALE").count() === 1)
    // a range past every file's max keeps zero files, empty result
    val none = StatsIndex.readPruned(spark, s"$tmp/t", "o_orderkey",
                                     keys.last + 1e6, keys.last + 2e6)
    assert(none.count() === 0)
    // incremental update: the stale file gets indexed (9 files now),
    // and an out-of-its-range query prunes it again
    StatsIndex.update(spark, s"$tmp/t")
    assert(StatsIndex.read(spark, s"$tmp/t")
      .select("file").distinct().count() === 9)
    StatsIndex.readPruned(spark, s"$tmp/t", "o_orderkey",
                          keys.last.toDouble, keys.last.toDouble)
    val Array(kept2, total2) = spark.conf
      .get("spark.graft.lake.lastPruned").split("/").map(_.toInt)
    assert(total2 === 9 && kept2 < total2)
    // and the stale row is STILL found when its range is queried
    val again = StatsIndex.readPruned(spark, s"$tmp/t", "o_orderkey", lo, hi)
    assert(again.where(col("o_orderstatus") === "STALE").count() === 1)
    // driver-list cap guard: a non-selective range over the cap fails
    // loudly instead of ballooning the driver's path list
    val wide = intercept[IllegalArgumentException] {
      StatsIndex.readPruned(spark, s"$tmp/t", "o_orderkey",
                            keys.head.toDouble, keys.last.toDouble,
                            maxKeptFiles = 2)
    }
    assert(wide.getMessage.contains("maxKeptFiles"))
  }

  test("Lake.writeBloomIndexed plants row-group bloom filters; lookups stay exact") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("bloomidx").toString
    val orders = Tables.orders(spark, sfDir)
    Lake.writeBloomIndexed(orders, s"$tmp/t", Seq("o_custkey"), nFiles = 4)
    // every file's o_custkey chunks carry a bloom filter; others none
    val files = new java.io.File(s"$tmp/t").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 4)
    for (f <- files) {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.toString), new Configuration()))
      try {
        val block = reader.getFooter.getBlocks.asScala.head
        val byName = block.getColumns.asScala
          .map(c => c.getPath.toDotString -> c).toMap
        assert(reader.getBloomFilterDataReader(block)
          .readBloomFilter(byName("o_custkey")) != null,
          s"no bloom filter on o_custkey in ${f.getName}")
        assert(reader.getBloomFilterDataReader(block)
          .readBloomFilter(byName("o_orderkey")) == null,
          "bloom filter leaked onto a non-indexed column")
      } finally reader.close()
    }
    // a point lookup through the bloom-indexed table is exact
    val key = orders.select("o_custkey").limit(1)
      .collect().head.getLong(0)
    val viaBloom = spark.read.parquet(s"$tmp/t")
      .where(col("o_custkey") === key)
    val direct = orders.where(col("o_custkey") === key)
    assert(viaBloom.count() === direct.count())
    assert(viaBloom.exceptAll(direct).isEmpty)
  }

  test("StatsIndex.prunedFilesInMany matches per-table semantics in one pass") {
    val tmp = Files.createTempDirectory("statsmany").toString
    val orders = Tables.orders(spark, sfDir)
    val keys = orders.select("o_orderkey").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    val mid = keys(keys.length / 2)
    // two disjoint key-range tables, both key-clustered
    Lake.writeSorted(orders.where(col("o_orderkey") < mid),
      s"$tmp/lo", "o_orderkey", nFiles = 4)
    Lake.writeSorted(orders.where(col("o_orderkey") >= mid),
      s"$tmp/hi", "o_orderkey", nFiles = 4)
    StatsIndex.write(spark, s"$tmp/lo", Seq("o_orderkey"))
    StatsIndex.write(spark, s"$tmp/hi", Seq("o_orderkey"))
    val probe = Seq(keys.head, keys.head + 1)
    val many = StatsIndex.prunedFilesInMany(
      spark, Seq(s"$tmp/lo", s"$tmp/hi"), "o_orderkey", probe)
    // positional alignment + per-table totals
    assert(many.size === 2)
    assert(many(0)._2.size === 4 && many(1)._2.size === 4)
    // the low table prunes to the file(s) holding the head key; the
    // high table (disjoint range) keeps nothing
    assert(many(0)._1.nonEmpty && many(0)._1.size < 4)
    assert(many(1)._1.isEmpty)
    // conservative correctness: every probed row is inside kept files
    val hits = spark.read.parquet(many(0)._1: _*)
      .where(col("o_orderkey").isin(probe: _*)).count()
    val truth = orders.where(col("o_orderkey").isin(probe: _*)).count()
    assert(hits === truth)
    // the single-table wrapper returns the identical decision
    val single = StatsIndex.prunedFilesIn(spark, s"$tmp/lo", "o_orderkey", probe)
    assert(single._1.toSet === many(0)._1.toSet && single._2.size === 4)
    // a file written AFTER the index (stale) is conservatively kept
    orders.limit(1).write.mode("append").parquet(s"$tmp/hi")
    val afterStale = StatsIndex.prunedFilesInMany(
      spark, Seq(s"$tmp/lo", s"$tmp/hi"), "o_orderkey", probe)
    assert(afterStale(1)._2.size === 5 && afterStale(1)._1.size === 1)
    // a column with no stats rows keeps every file (no numeric claim)
    val noStats = StatsIndex.prunedFilesInMany(
      spark, Seq(s"$tmp/lo"), "o_custkey", probe)
    assert(noStats(0)._1.size === noStats(0)._2.size)
  }

  test("StatsIndex.prunedFilesInMany over no tables returns no decisions") {
    assert(StatsIndex.prunedFilesInMany(spark, Seq.empty, "k", Seq(1L)) === Seq.empty)
  }

  test("StatsIndex.deleteByKeys rewrites only the files holding the keys") {
    val tmp = Files.createTempDirectory("delkeys").toString
    val orders = Tables.orders(spark, sfDir)
    Lake.writeSorted(orders, s"$tmp/t", "o_orderkey", nFiles = 8)
    StatsIndex.write(spark, s"$tmp/t", Seq("o_orderkey"))
    import spark.implicits._
    val keys = orders.select("o_orderkey").as[Long].collect().sorted
    val total = keys.length
    // three adjacent keys: on a sorted table they live in ONE file
    val victims = keys.slice(total / 2, total / 2 + 3).toSeq
    val before = new java.io.File(s"$tmp/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val (rewritten, untouched) =
      StatsIndex.deleteByKeys(spark, s"$tmp/t", "o_orderkey", victims)
    assert(rewritten === 1 && untouched === 7, s"$rewritten/$untouched")
    val after = new java.io.File(s"$tmp/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // 7 original files survive untouched; 1 replaced by new part files
    assert((before intersect after).size === 7)
    val remaining = spark.read.parquet(s"$tmp/t")
      .select("o_orderkey").as[Long].collect().sorted
    assert(remaining.length === total - 3)
    assert(victims.forall(v => !remaining.contains(v)))
    assert(remaining.toSet === keys.toSet -- victims)
  }

  test("StatsIndex.deleteByKeys preserves NULL-key rows") {
    val tmp = Files.createTempDirectory("delnull").toString
    import spark.implicits._
    Seq(Some(1L), Some(2L), None, Some(4L)).toDF("k")
      .repartition(1).write.parquet(s"$tmp/t")
    StatsIndex.write(spark, s"$tmp/t", Seq("k"))
    StatsIndex.deleteByKeys(spark, s"$tmp/t", "k", Seq(2L))
    val left = spark.read.parquet(s"$tmp/t").select("k")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(left.toSet === Set(Some(1L), None, Some(4L)))
  }

  test("Csv round-trips with explicit schema and quarantines corrupt rows") {
    val tmp = Files.createTempDirectory("csv").toString
    val schema = StructType(Seq(
      StructField("shop_id", StringType),
      StructField("demand_kg", DoubleType)))
    import spark.implicits._
    val df = Seq(("s1", 1.5), ("s2", 2.5)).toDF("shop_id", "demand_kg")
    Csv.write(df, s"$tmp/out")
    // cache first: Spark disallows raw-CSV queries whose referenced
    // columns are only the corrupt-record column
    val back = Csv.read(spark, s"$tmp/out", schema).cache()
    assert(back.where(col(Csv.CorruptCol).isNull).count() === 2)
    assert(back.agg(sum("demand_kg")).first().getDouble(0) === 4.0)
    back.unpersist()
  }

  test("GrepIndex: both routes equal a contains() scan; rarest-gram prune engages; short patterns rejected") {
    import spark.implicits._
    val root = Files.createTempDirectory("grep-index").toString + "/idx"
    val docs = (Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
        unionAll Seq(
          (900001L, "päivää maailma terve ja kiitos"), // multibyte grams
          (900002L, "overlap overlap overlap exact"),
          (900003L, "abc")).toDF("doc_id", "text"))
    graft.sources.GrepIndex.build(spark, docs, "doc_id", "text", root,
      nFiles = 8)
    val pats = Seq((0L, "merge part"), (1L, "päivää maailma"),
                   (2L, "overlap overlap overlap"), (3L, "never-present-zzz"),
                   (4L, "abc"))
    val want = pats.flatMap { case (pid, p) =>
      docs.where(col("text").contains(p)).select(col("doc_id"))
        .as[Long].collect().map(d => (pid, d))
    }.toSet
    assert(want.exists(_._1 == 1L) && want.exists(_._1 == 2L) &&
           !want.exists(_._1 == 3L) && want.contains((4L, 900003L)))
    // forced INDEX route: posting-list candidates + exact verify
    val gotIdx = graft.sources.GrepIndex.probe(spark, root, pats,
        scanFraction = Double.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(spark.conf.get("spark.graft.grep.lastRoute") === "index")
    assert(gotIdx === want)
    assert(spark.conf.get("spark.graft.grep.lastPruned").matches("\\d+/\\d+"))
    // forced SCAN route (the degenerate-selectivity fallback): same
    // exact result by construction
    val gotScan = graft.sources.GrepIndex.probe(spark, root, pats,
        scanFraction = -1.0)
      .as[(Long, Long)].collect().toSet
    assert(spark.conf.get("spark.graft.grep.lastRoute") === "scan")
    assert(gotScan === want)
    // r19: the scan leg's default is ONE Aho-Corasick pass; the
    // crossJoin+contains fallback (conf-off, and the over-byte-bound
    // path) must produce the identical set — including the duplicate
    // pattern-STRING case the automaton dedupes and the join fans
    // back out to every pattern_id
    val dupPats = pats :+ (5L, "abc")
    val wantDup = want ++ want.filter(_._1 == 4L).map(t => (5L, t._2))
    val gotScanAc = graft.sources.GrepIndex.probe(spark, root, dupPats,
        scanFraction = -1.0)
      .as[(Long, Long)].collect().toSet
    spark.conf.set("spark.graft.grep.scanAhoCorasick", "false")
    val gotScanCj = try graft.sources.GrepIndex.probe(spark, root, dupPats,
          scanFraction = -1.0)
        .as[(Long, Long)].collect().toSet
      finally spark.conf.unset("spark.graft.grep.scanAhoCorasick")
    assert(gotScanAc === wantDup)
    assert(gotScanCj === wantDup)
    // default auto-route picks one of the two and stays exact
    val gotAuto = graft.sources.GrepIndex.probe(spark, root, pats)
      .as[(Long, Long)].collect().toSet
    assert(gotAuto === want)
    // a pattern with an absent trigram settles matchless WITHOUT
    // touching a posting list (df-0 short circuit)
    val none = graft.sources.GrepIndex.probe(spark, root, Seq((9L, "zzz")))
    assert(none.count() === 0L)
    assert(spark.conf.get("spark.graft.grep.lastPruned") === "0/0")
    // rarest-gram selectivity: a present single-trigram probe forced
    // through the index keeps strictly fewer postings files than the
    // fleet (one hash = the one range-clustered file covering it)
    val one = graft.sources.GrepIndex.probe(spark, root, Seq((4L, "abc")),
      maxProbeGrams = 1, scanFraction = Double.MaxValue)
    assert(one.as[(Long, Long)].collect().toSet === Set((4L, 900003L)))
    val Array(k, t) = spark.conf.get("spark.graft.grep.lastPruned")
      .split("/").map(_.toInt)
    assert(k < t, s"no file pruning: $k/$t")
    // sub-trigram patterns are loudly rejected, not silently empty
    intercept[IllegalArgumentException] {
      graft.sources.GrepIndex.probe(spark, root, Seq((9L, "ab")))
    }
    // append == rebuild: index half, append half — every probe (both
    // routes) answers identically to the full build above, and the
    // folded df stats keep the route decision identical too
    val root2 = Files.createTempDirectory("grep-append").toString + "/idx"
    graft.sources.GrepIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text", root2,
      nFiles = 8)
    graft.sources.GrepIndex.append(spark, root2,
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
    for (sf <- Seq(Double.MaxValue, -1.0)) {
      val g = graft.sources.GrepIndex.probe(spark, root2, pats,
          scanFraction = sf)
        .as[(Long, Long)].collect().toSet
      assert(g === want, s"appended index diverges at scanFraction=$sf")
    }
    graft.Blocks.freeAll(spark)
  }

  test("GrepIndex: per-pattern split routing - a common literal scans, rare needles keep the index") {
    import spark.implicits._
    val root = Files.createTempDirectory("grep-split").toString + "/idx"
    // 200 docs share a boilerplate literal (its trigram mass rivals
    // the corpus); exactly one doc holds each rare needle — the mixed
    // decontamination sweep the r17 sweep-global routing got wrong
    val docs = ((0L until 200L)
        .map(i => (i, s"common boilerplate segment number $i"))
      :+ (900L, "rare zebra needle xq hides here")
      :+ (901L, "qwxyz unique marker doc")).toDF("doc_id", "text")
    graft.sources.GrepIndex.build(spark, docs, "doc_id", "text", root,
      nFiles = 4)
    val pats = Seq((0L, "common boilerplate"), (1L, "zebra needle"),
                   (2L, "qwxyz unique"))
    val want = pats.flatMap { case (pid, p) =>
      docs.where(col("text").contains(p)).select(col("doc_id"))
        .as[Long].collect().map(d => (pid, d))
    }.toSet
    // threshold 0.5x201 docs: pattern 0's mass (~8 grams x df 200)
    // exceeds it, the needles' (~df 1) do not. DEFAULT behavior since
    // r19 is fold-all: the routing verdict still says index=2 scan=1,
    // but because one pattern pays the corpus scan, the automaton
    // answers the needles too and the index legs are dropped
    val got = graft.sources.GrepIndex.probe(spark, root, pats,
        scanFraction = 0.5)
      .as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(spark.conf.get("spark.graft.grep.lastRoute") === "scan")
    assert(spark.conf.get("spark.graft.grep.lastSplit") ===
      "index=2 scan=1")
    assert(spark.conf.get("spark.graft.grep.lastScanFolded") === "2")
    // conf-off restores the true split: needles keep the index leg,
    // and that leg really runs pruned (not the old all-scan route)
    spark.conf.set("spark.graft.grep.scanFoldAll", "false")
    val gotSplit = try graft.sources.GrepIndex.probe(spark, root, pats,
          scanFraction = 0.5)
        .as[(Long, Long)].collect().toSet
      finally spark.conf.unset("spark.graft.grep.scanFoldAll")
    assert(gotSplit === want)
    assert(spark.conf.get("spark.graft.grep.lastRoute") === "split")
    assert(spark.conf.get("spark.graft.grep.lastSplit") ===
      "index=2 scan=1")
    assert(spark.conf.get("spark.graft.grep.lastScanFolded") === "0")
    // the index leg really ran pruned (not the old all-scan route)
    assert(spark.conf.get("spark.graft.grep.lastPruned").matches("\\d+/\\d+"))
    // conf hygiene: an early-exit probe (df-0 settle) reports n/a for
    // stages it never ran instead of leaking the previous probe's
    // values (r17 staleness finding)
    val none = graft.sources.GrepIndex.probe(spark, root,
      Seq((9L, "zzzqqq-absent")))
    assert(none.count() === 0L)
    assert(spark.conf.get("spark.graft.grep.lastRoute") === "index")
    assert(spark.conf.get("spark.graft.grep.lastPruned") === "0/0")
    assert(spark.conf.get("spark.graft.grep.lastDocsPruned") === "n/a")
    graft.Blocks.freeAll(spark)
  }

  test("GrepIndex: scatter-shaped candidate fetch routes to the scan leg") {
    import spark.implicits._
    val root = Files.createTempDirectory("grep-local").toString + "/idx"
    // 12000 docs; a SCATTERED marker sits in 300 docs spread uniformly
    // over the id range (>= FetchScatterMinDocs, touches every
    // clustered docs file — yet rare enough that its posting MASS
    // stays under the pattern-level scanFraction, so it reaches the
    // candidate fetch at all), a CLUSTERED marker in 40 contiguous docs
    val docs = (0L until 12000L).map { i =>
      val scat = if (i % 40 == 0) " scatmark_xq" else ""
      val clus = if (i >= 100 && i < 140) " clusmark_zv" else ""
      (i, s"filler text segment number $i$scat$clus")
    }.toDF("doc_id", "text")
    graft.sources.GrepIndex.build(spark, docs, "doc_id", "text", root,
      nFiles = 8)
    def wanted(p: String): Set[(Long, Long)] =
      docs.where(col("text").contains(p)).select(col("doc_id"))
        .as[Long].collect().map(d => (0L, d)).toSet
    // scattered, DEFAULT config: the point fetch stays (the r19 tier
    // A/B measured it beating the scan leg even at 32/32 files kept —
    // the router defaults off, GrepIndex.FetchLocalityFraction doc)
    val gotScat = graft.sources.GrepIndex.probe(spark, root,
      Seq((0L, "scatmark_xq"))).as[(Long, Long)].collect().toSet
    assert(gotScat === wanted("scatmark_xq"))
    assert(spark.conf.get("spark.graft.grep.lastFetchRoute") === "point")
    // opted in: 300 candidates across all 8 docs files -> scan leg,
    // results identical (exactness is never routing-dependent)
    spark.conf.set("spark.graft.grep.fetchLocalityFraction", "0.5")
    val gotRouted = try graft.sources.GrepIndex.probe(spark, root,
        Seq((0L, "scatmark_xq"))).as[(Long, Long)].collect().toSet
      finally spark.conf.unset("spark.graft.grep.fetchLocalityFraction")
    assert(spark.conf.get("spark.graft.grep.lastFetchRoute") === "scan")
    assert(gotRouted === gotScat)
    // clustered: 40 candidates in one id range -> point fetch, pruned,
    // router or not
    spark.conf.set("spark.graft.grep.fetchLocalityFraction", "0.5")
    val gotClus = try graft.sources.GrepIndex.probe(spark, root,
        Seq((0L, "clusmark_zv"))).as[(Long, Long)].collect().toSet
      finally spark.conf.unset("spark.graft.grep.fetchLocalityFraction")
    assert(gotClus === wanted("clusmark_zv"))
    assert(spark.conf.get("spark.graft.grep.lastFetchRoute") === "point")
    val Array(k, t) = spark.conf.get("spark.graft.grep.lastDocsPruned")
      .split("/").map(_.toInt)
    assert(k < t, s"clustered fetch must prune docs files ($k/$t)")
    graft.Blocks.freeAll(spark)
  }
}
