package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** File-level min/max stats index + stats-pruned reads — the
  * Delta/Iceberg data-skipping manifest built from public first
  * principles. Parquet footers already carry per-row-group min/max;
  * what a 100 TB table needs is those stats OUTSIDE the files, so a
  * query planner can drop files WITHOUT opening any of them — footer
  * reads are one metadata round-trip per file, which at
  * object-store latency is the difference between a millisecond
  * planning step against a small index and minutes of S3 HEADs
  * against a million files.
  *
  * Build cost is file-COUNT-bound, not byte-bound: [[write]] ships
  * the file list to executors and each task reads only footers (no
  * data pages). Pruning is CONSERVATIVE by construction: a file
  * missing from the index (written after the index — staleness), a
  * column without stats, or a non-indexed type keeps the file; the
  * predicate is always re-applied after the scan, so the index can
  * only skip work, never change results. Numeric stats are widened
  * to double — exact for ids below 2^53 and for every date/epoch;
  * beyond that the widening rounds OUTWARD per IEEE and the file is
  * kept, again conservative.
  *
  * Composes with the clustered writers: [[Lake.writeSorted]] /
  * [[Lake.writeZOrdered]] make per-file ranges tight, this index
  * makes them addressable without touching the files.
  */
object StatsIndex {

  private val IndexDir = "_graft_stats" // underscore: data reads skip it

  /** Unsigned-byte lexicographic order — parquet's BINARY stats order. */
  private val unsignedBytes: Ordering[Array[Byte]] = (a, b) => {
    val n = math.min(a.length, b.length)
    var i = 0
    var d = 0
    while (i < n && d == 0) {
      d = (a(i) & 0xff) - (b(i) & 0xff)
      i += 1
    }
    if (d != 0) d else a.length - b.length
  }

  private def listDataFiles(spark: SparkSession, table: String): Seq[String] = {
    val p = new Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
  }

  /** One task per file batch: open the footer, fold row-group stats
    * into per-file (min, max) per requested column. Runs on
    * executors — `new Configuration()` picks up the cluster's
    * core-site from the executor classpath, matching how Spark's own
    * readers resolve the filesystem. */
  private def footerStats(path: String, cols: Set[String])
      : Seq[(String, Long, String, Option[Double], Option[Double],
             Option[String], Option[String])] = {
    val in = HadoopInputFile.fromPath(new Path(path), new Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      val byCol = blocks.flatMap(_.getColumns.asScala)
        .filter(c => cols.contains(c.getPath.toDotString))
        .groupBy(_.getPath.toDotString)
      byCol.toSeq.map { case (name, chunks) =>
        val stats = chunks.map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
        if (stats.size < chunks.size || stats.isEmpty)
          // any chunk without stats -> no file-level claim (conservative)
          (path, nRows, name, None, None, None, None)
        else chunks.head.getPrimitiveType.getPrimitiveTypeName match {
          case INT32 =>
            val mn = stats.map(_.genericGetMin.asInstanceOf[Integer].toDouble).min
            val mx = stats.map(_.genericGetMax.asInstanceOf[Integer].toDouble).max
            (path, nRows, name, Some(mn), Some(mx), None, None)
          case INT64 =>
            val mn = stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].toDouble).min
            val mx = stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].toDouble).max
            (path, nRows, name, Some(mn), Some(mx), None, None)
          case FLOAT =>
            val mn = stats.map(_.genericGetMin.asInstanceOf[java.lang.Float].toDouble).min
            val mx = stats.map(_.genericGetMax.asInstanceOf[java.lang.Float].toDouble).max
            (path, nRows, name, Some(mn), Some(mx), None, None)
          case DOUBLE =>
            val mn = stats.map(_.genericGetMin.asInstanceOf[java.lang.Double].doubleValue).min
            val mx = stats.map(_.genericGetMax.asInstanceOf[java.lang.Double].doubleValue).max
            (path, nRows, name, Some(mn), Some(mx), None, None)
          case BINARY =>
            // Parquet binary min/max are ordered by UNSIGNED-byte
            // lexicographic comparison; folding chunk stats with Java
            // String ordering (UTF-16 code units) would pick the wrong
            // chunk for supplementary-plane or non-UTF8 data. Select
            // the winning chunk by raw bytes, then store its UTF-8
            // rendering. The stored string is ADVISORY (profiling/
            // debugging) — readPruned/deleteByKeys prune on numeric
            // stats only and must stay that way unless pruning learns
            // to compare raw bytes end-to-end.
            val mnB = stats.map(_.getMinBytes).minBy(identity)(unsignedBytes)
            val mxB = stats.map(_.getMaxBytes).maxBy(identity)(unsignedBytes)
            (path, nRows, name, None, None,
             Some(new String(mnB, java.nio.charset.StandardCharsets.UTF_8)),
             Some(new String(mxB, java.nio.charset.StandardCharsets.UTF_8)))
          case _ => (path, nRows, name, None, None, None, None)
        }
      } ++ (if (byCol.isEmpty)
              Seq((path, nRows, "", None, None, None, None)) else Nil)
    } finally reader.close()
  }

  /** The index table's schema: one row per (file, column); `col` is
    * "" for a file none of whose requested columns exist. */
  private val IndexSchema = StructType(Seq(
    StructField("file", StringType), StructField("n_rows", LongType),
    StructField("col", StringType),
    StructField("min_num", DoubleType), StructField("max_num", DoubleType),
    StructField("min_str", StringType), StructField("max_str", StringType)))

  /** Footer stats of `files` as index rows: ONE job whose tasks read
    * only footers; the rows come back to the driver (file-count-bounded
    * metadata). */
  private def footerRows(spark: SparkSession, files: Seq[String],
                         cols: Set[String]): Seq[Row] =
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size,
        spark.sparkContext.defaultParallelism)))
      .flatMap(p => footerStats(p, cols))
      .collect().toSeq
      .map { case (f, n, c, mn, mx, smn, smx) =>
        Row(f, n, c, mn.orNull, mx.orNull, smn.orNull, smx.orNull) }

  /** Build (or rebuild) the index for `cols` of the parquet table at
    * `table`, stored under `table/_graft_stats`: one footer job, the
    * rows written from the driver. */
  def write(spark: SparkSession, table: String, cols: Seq[String]): Unit =
    MetaTable.write(spark, s"$table/$IndexDir", IndexSchema,
      footerRows(spark, listDataFiles(spark, table), cols.toSet),
      overwrite = true)

  /** The index frame. */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.schema(IndexSchema).parquet(s"$table/$IndexDir")

  /** Incremental maintenance for append-only tables: index ONLY the
    * files not yet covered (the common case — a day's append adds a
    * handful of files to a million-file table; re-footering
    * everything would make index cost grow with table age instead of
    * append size). Columns come from the existing index, so the
    * covered set stays consistent. Rewrites the (tiny) index table
    * from the driver. */
  def update(spark: SparkSession, table: String): Unit = {
    val existing = MetaTable.read(spark, s"$table/$IndexDir", IndexSchema)
    val cols = existing.map(_.getString(2)).filter(_ != "").toSet
    val indexed = existing.map(_.getString(0)).toSet
    val fresh = listDataFiles(spark, table).filterNot(indexed)
    if (fresh.nonEmpty)
      MetaTable.write(spark, s"$table/$IndexDir", IndexSchema,
        existing ++ footerRows(spark, fresh, cols), overwrite = true)
  }

  /** (min_num, max_num) rows of column `c` per indexed file, read from
    * every table's index on the driver. A file may carry several rows
    * (an index rebuilt by [[update]] after a rewrite). */
  private def numericStats(spark: SparkSession, tables: Seq[String],
                           c: String)
      : Map[String, Seq[(Option[Double], Option[Double])]] =
    tables.flatMap(t => MetaTable.read(spark, s"$t/$IndexDir", IndexSchema))
      .filter(_.getString(2) == c)
      .groupBy(_.getString(0))
      .map { case (f, rs) => (f, rs.map(r =>
        (Option(r.get(3)).map(_.asInstanceOf[Double]),
         Option(r.get(4)).map(_.asInstanceOf[Double])))) }

  /** Files of `table` whose indexed [min, max] on `c` may contain ANY
    * of `values` — the set-valued sibling of [[readPruned]]'s interval
    * test (probe cells of an ANN index, a GDPR key batch). Files
    * absent from the index or without stats for `c` are KEPT
    * (conservative, like every prune here); callers must re-apply
    * their predicate. Returns (kept files, total files). Delegates to
    * [[prunedFilesInMany]]: the index rows are read and the decision
    * is made on the driver, with no Spark job. */
  def prunedFilesIn(spark: SparkSession, table: String, c: String,
                    values: Seq[Long]): (Seq[String], Seq[String]) =
    prunedFilesInMany(spark, Seq(table), c, values).head

  /** Batched [[prunedFilesIn]] over MANY segment tables: every probe
    * of a multi-segment index (ANN cells, inverted-index buckets, grep
    * trigrams) needs the same set-membership prune per segment. The
    * stats indexes are file-count-bounded metadata (see [[write]]), so
    * they are read on the driver and the decision runs there — zero
    * Spark jobs, however many segments. Results are positionally
    * aligned with `tables` (empty `tables` → empty result): a file
    * absent from its index, or without numeric stats for `c`, is KEPT
    * (conservative); callers re-apply their predicate. */
  def prunedFilesInMany(spark: SparkSession, tables: Seq[String], c: String,
                        values: Seq[Long])
      : Seq[(Seq[String], Seq[String])] = {
    if (tables.isEmpty) return Seq.empty
    require(values.nonEmpty, "no values to prune by")
    val stats = numericStats(spark, tables, c)
    tables.map(listDataFiles(spark, _)).map(files =>
      (unprunable(stats, files)((mn, mx) => values.exists(v => v >= mn && v <= mx)),
       files))
  }

  /** The `files` the index cannot rule out: kept when `mayHold(min,
    * max)` holds for ANY of the file's rows, and — conservatively —
    * when the file is not indexed (stale index) or a row carries no
    * numeric stats. */
  private def unprunable(stats: Map[String, Seq[(Option[Double], Option[Double])]],
                         files: Seq[String])
                        (mayHold: (Double, Double) => Boolean): Seq[String] =
    files.filter(f => stats.get(f).forall(_.exists {
      case (Some(mn), Some(mx)) => mayHold(mn, mx)
      case _ => true
    }))

  /** Targeted delete (GDPR / right-to-be-forgotten): remove every row
    * whose `keyCol` is in `keys`, REWRITING ONLY the files whose
    * indexed [min, max] can contain one of the keys — on a clustered
    * table (writeSorted / writeZOrdered) a handful of ids touches a
    * handful of files, not 100 TB. Files without stats (or absent
    * from the index) are rewritten conservatively. Returns
    * (filesRewritten, filesUntouched).
    *
    * In-place semantics: replacements land under unique part names
    * before the originals are removed, so a concurrent reader sees
    * duplicates for a moment rather than losing rows; for atomic
    * cutover publish through Manifest versions instead. The index
    * entries of removed files become inert (pruning consults the
    * live file list); run [[update]] afterwards to cover the
    * replacement files. */
  def deleteByKeys(spark: SparkSession, table: String, keyCol: String,
                   keys: Seq[Long]): (Int, Int) = {
    require(keys.nonEmpty, "no keys to delete")
    val (touched, all) = prunedFilesIn(spark, table, keyCol, keys)
    val untouched = all.filterNot(touched.toSet)
    if (touched.nonEmpty) {
      // NULL keys survive explicitly: `!isin` evaluates to NULL for a
      // NULL key and the filter would silently drop those rows too
      spark.read.parquet(touched: _*)
        .where(col(keyCol).isNull || !col(keyCol).isin(keys: _*))
        .write.mode("append").parquet(table)
      val fs = new Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.foreach(f => fs.delete(new Path(f), false))
    }
    (touched.size, untouched.size)
  }

  /** Read `table` with a numeric range predicate `lo <= c <= hi`,
    * scanning ONLY files whose indexed [min, max] intersects the
    * range. Files absent from the index or without stats for `c` are
    * scanned (conservative); the predicate is re-applied, so the
    * result equals the unpruned read filtered. Records the skip
    * ratio in `spark.graft.lake.lastPruned` as "kept/total". */
  def readPruned(spark: SparkSession, table: String, c: String,
                 lo: Double, hi: Double, maxKeptFiles: Int = 1000000): DataFrame = {
    val all = listDataFiles(spark, table)
    // interval test on the driver against the index rows; the kept
    // list is what Spark's reader takes anyway (paths are driver-side,
    // like its own InMemoryFileIndex listing). `maxKeptFiles` caps
    // that list: a range too wide to prune fails loudly instead of
    // ballooning the driver.
    val kept = unprunable(numericStats(spark, Seq(table), c), all)(
      (mn, mx) => !(mx < lo || mn > hi))
    require(kept.length <= maxKeptFiles,
      s"range [$lo, $hi] on '$c' keeps ${kept.length} files " +
        s"(> maxKeptFiles=$maxKeptFiles) - the prune is not selective " +
        "enough to hold the path list on the driver; narrow the range, " +
        "re-cluster the table, or raise the cap")
    spark.conf.set("spark.graft.lake.lastPruned", s"${kept.size}/${all.size}")
    val base =
      if (kept.isEmpty)
        spark.read.parquet(table).limit(0) // keep the schema, read nothing
      else spark.read.parquet(kept: _*)
    base.where(col(c) >= lo && col(c) <= hi)
  }
}
