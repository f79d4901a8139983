package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions

/** Persisted inverted index: build-once / probe-many BM25 over the
  * lake — the lexical sibling of [[AnnIndex]].
  *
  * The in-query retriever (`bm25Search`, reference analytics surface:
  * find docs like the benchmark / audit a topic) tokenizes and
  * df-counts the corpus INSIDE every query. Fine once; wrong
  * economics at 100 TB, where term statistics are corpus-wide
  * aggregates that never change between queries — the index IS the
  * product. This source publishes them once:
  *
  *  - `<root>/_commits/N` + `<root>/data-N-<tok>/` — [[Manifest]] CAS
  *    versions; the version dir holds only the tiny `catalog/` table
  *    (segment paths + exact corpus stats: per-segment doc count and
  *    summed doc length, so n_docs/avgdl recompose EXACTLY across
  *    appends by integer addition).
  *  - `<root>/segments/post-<tok>/` — (bucket, term, doc_id, tf, dl,
  *    d0) posting rows (d0 flags one designated row per doc so segment
  *    stats re-derive from the written file by a flat filtered scan;
  *    compacted segments drop it — their stats are integer sums),
  *    bucket = pmod(xxhash64(term), nBuckets), clustered
  *    via repartitionByRange(bucket, term) + sortWithinPartitions so a
  *    probe's bucket set prunes FILES ([[StatsIndex]] over `bucket`)
  *    and its term set prunes row groups (terms are sorted within
  *    files, so parquet min/max on `term` bites).
  *  - `<root>/segments/dict-<tok>/` — (bucket, term, df) document
  *    frequencies in the same bucket-clustered layout. df is a
  *    per-segment count; the probe sums it across segments — exact
  *    integer arithmetic, so incremental appends never drift the
  *    statistics (the `dedup_incremental` ledger discipline).
  *
  * Probe cost: |terms| bucket ids (driver-side, bounded by the query
  * literal), a stats-pruned read of those buckets' posting+dict files,
  * then the SAME score arithmetic as the in-query retriever — tf, df,
  * dl, n_docs and avgdl are all exact integers or single IEEE
  * divisions of them, so the probe is BIT-EXACT vs `bm25Search` and
  * the driver's DuckDB oracle gates the whole artifact path
  * (`bm25_index_probe` / `bm25_index_incremental`).
  *
  * Incremental maintenance: [[append]] tokenizes only the batch,
  * writes one new posting+dict segment pair, and re-publishes the
  * catalog referencing old segments + the new one — zero data copy.
  * Unlike ANN centroids there is no trained state to drift: BM25's
  * corpus statistics are exact sums, so appended indexes equal
  * from-scratch builds exactly (spec-gated).
  */
object InvertedIndex {

  private val SegmentsDir = "segments"

  /** One immutable posting+dictionary segment pair with its exact
    * corpus contribution. */
  final case class Segment(postings: String, dictionary: String,
                           nDocs: Long, sumDl: Long, nBuckets: Int)

  private def catalogPath(dataDir: String) = s"$dataDir/catalog"

  private val CatalogSchema = StructType(Seq(
    StructField("postings", StringType), StructField("dictionary", StringType),
    StructField("n_docs", LongType), StructField("sum_dl", LongType),
    StructField("n_buckets", IntegerType)))

  /** The term→bucket map — xxhash64 so engine-side bucket derivation
    * at probe time is the same expression that clustered the write. */
  def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** Tokenize `docs` (the bm25Search normalize+split, so index scores
    * replay the in-query retriever exactly), write one bucket-clustered
    * posting segment + its dictionary, both stats-indexed on bucket.
    *
    * Layout (r18 verdict item 4 — inv-append was the flagship batch
    * loop's dominant stage at 22-23 s/batch, and `repartitionByRange`
    * is the suspect: its RangePartitioner samples the child in a
    * SEPARATE job, so the whole tokenize chain runs TWICE per
    * segment): `hashLayout = true` hash-partitions on bucket instead
    * — one tokenize pass, no sampling job. The trade: a hash file
    * holds the buckets of one pmod class, so its bucket [min, max]
    * spans wide and file-level StatsIndex pruning degrades for that
    * segment; ROW-GROUP skipping survives (rows stay sorted by
    * (bucket, term) within each file), and compaction re-sorts
    * globally anyway — appends are exactly the segments compaction
    * folds. Probes are unchanged either way (pruning only skips;
    * predicates re-apply). `spark.graft.inv.segmentCkpt = true` is
    * the attribution lever for the range path: localCheckpoint the
    * tokenized frame before the range partition, paying
    * materialization to avoid the double tokenize. */
  private def writeSegment(spark: SparkSession, root: String,
                           docs: DataFrame, idCol: String, textCol: String,
                           nBuckets: Int, nFiles: Int,
                           hashLayout: Boolean = false): Segment = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val post = s"$root/$SegmentsDir/post-$token"
    val dict = s"$root/$SegmentsDir/dict-$token"
    val toks = docs.select(col(idCol).as("doc_id"),
      split(TextFunctions.normalize(col(textCol)), " ").as("toks"))
    // tf is a PER-DOCUMENT statistic — count it inside the row (one
    // native hash-map scan of the token array, graft_term_counts)
    // instead of explode + groupBy(doc_id, term): at the 1000× tier
    // (5M docs) that corpus-wide re-grouping carried ~1B exploded rows
    // into ~500M groups and spilled 53.7 GB mem / 8.3 GB disk
    // (SCALE1000.md). Per-row counting shuffles NOTHING for tf; the
    // only exchange left is the bucket-clustering repartition the
    // layout requires. `d0` marks one designated row per doc (the
    // first term entry) so corpus stats re-derive from the written
    // postings by a flat filtered scan, never a 500M-row distinct.
    val posting0 = toks.select(col("doc_id"), size(col("toks")).as("dl"),
        posexplode(graft.functions.GraftFunctions.termCounts(col("toks"))))
      .select(col("doc_id"), col("dl"),
        col("col.term").as("term"), col("col.tf").as("tf"),
        (col("pos") === 0).as("d0"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
    val posting =
      if (hashLayout || !spark.conf
            .get("spark.graft.inv.segmentCkpt", "false").toBoolean) posting0
      else posting0.localCheckpoint()
    val laid =
      if (hashLayout)
        posting.repartition(math.max(nFiles, 1), col("bucket"))
          .sortWithinPartitions("bucket", "term")
      else
        // bucket-range clustering WITHOUT the RangePartitioner
        // sampling pass (r19, guide §2.4 — the r18-verdict-item-4
        // residual closed structurally): buckets are an enumerable
        // [0, nBuckets) domain, so boundaries need no sampling —
        // repartitionByRange ran the whole tokenize+term-count chain
        // TWICE per segment (once for the sampler, once for the
        // write). Files hold contiguous whole buckets, so StatsIndex
        // file pruning is as tight as the range layout's (tighter: a
        // bucket never straddles files) and probes are unchanged.
        Layout.repartitionByKeyRange(posting, col("bucket"), nBuckets,
            math.max(nFiles, 1))
          .sortWithinPartitions("bucket", "term")
    // segment stats ride the write's own execution via observe (the
    // Curate.writeSegment r14 discipline, applied here in r19): n_docs
    // and sum_dl are exact INTEGER sums — order-independent, so the
    // observed values are byte-identical to the old post-write
    // `where(d0).agg(...)` re-read they replace, minus one scan job
    // per segment (this path runs twice per bm25_index_incremental
    // and once per curate batch).
    val obs = org.apache.spark.sql.Observation()
    val postings = laid.select("bucket", "term", "doc_id", "tf", "dl", "d0")
    postings
      .observe(obs,
        count(when(col("d0"), lit(1))).as("n"),
        sum(when(col("d0"), col("dl"))).as("s"))
      .write.mode("errorifexists").parquet(post)
    StatsIndex.write(spark, post, Seq("bucket"))
    // dictionary + stats from the WRITTEN postings (one cheap re-agg
    // of what was persisted, never a recompute of the tokenization):
    // postings carry one row per (doc, term), so count = df; the
    // re-read takes the written frame's schema (no inference job)
    val written = spark.read.schema(postings.schema).parquet(post)
    Layout.repartitionByKeyRange(
        written.groupBy(col("bucket"), col("term"))
          .agg(count(lit(1)).as("df")),
        col("bucket"), nBuckets, math.max(math.min(nFiles, nBuckets), 1))
      .sortWithinPartitions("bucket", "term")
      .write.mode("errorifexists").parquet(dict)
    StatsIndex.write(spark, dict, Seq("bucket"))
    // exactly one d0=true row per doc (every doc has >= 1 token: split
    // of even an empty string yields [""]), so n_docs/sum_dl are the
    // observed flat sums over exactly the written rows
    val n = obs.get("n").asInstanceOf[Long]
    val s = obs.get("s") match { case null => 0L; case v => v.asInstanceOf[Long] }
    val seg = Segment(post, dict, n, s, nBuckets)
    // staging sentinel: complete but unreferenced until the catalog
    // CAS — exempt from vacuum's minAge for stagings of any duration
    Manifest.markStaging(spark, segDirs(seg))
    seg
  }

  private def segDirs(g: Segment): Seq[String] =
    Seq(g.postings, g.dictionary)

  /** CAS-publish a catalog version; `catalog` is a THUNK re-evaluated
    * per attempt so retries merge with concurrent commits instead of
    * re-staging a stale pre-read catalog (see
    * [[GrepIndex.commitMeta]] — the r18 lost-update guard). */
  private[graft] def commitMeta(spark: SparkSession, root: String,
                                catalog: () => Seq[Segment], retain: Int,
                                note: String = "",
                                maxRetries: Int = 0): Long =
    Manifest.commitWith(spark, root, retain, maxRetries) { dir =>
      // streaming appends dedupe micro-batch replays against the note
      if (note.nonEmpty) MetaTable.writeNote(spark, dir, note)
      MetaTable.write(spark, catalogPath(dir), CatalogSchema,
        catalog().map(g =>
          Row(g.postings, g.dictionary, g.nDocs, g.sumDl, g.nBuckets)))
    }

  /** Commit with staged-segment lifecycle: sentinels cleared on
    * success, this writer's staged dirs discarded on failure. */
  private def commitStaged(spark: SparkSession, root: String,
                           staged: Seq[String],
                           catalog: () => Seq[Segment], retain: Int,
                           note: String, maxRetries: Int): Long = {
    val v =
      try commitMeta(spark, root, catalog, retain, note, maxRetries)
      catch { case e: Throwable =>
        Manifest.discardStaged(spark, staged); throw e }
    Manifest.clearStaging(spark, staged)
    v
  }

  /** See [[GrepIndex.mergedCatalog]] — compaction's per-attempt
    * catalog: concurrent appends survive, a concurrent compaction of
    * the same segments throws (merging would duplicate rows). */
  private[graft] def mergedCatalog(current: Seq[Segment],
                                   foldedKeys: Set[String],
                                   compacted: Segment): Seq[Segment] = {
    val present = current.map(_.postings).toSet
    if (!foldedKeys.subsetOf(present))
      throw new java.util.ConcurrentModificationException(
        "a concurrent compaction removed folded segments from the " +
          "catalog - publishing would duplicate their rows; re-run " +
          "compaction from the current catalog")
    current.filterNot(s => foldedKeys.contains(s.postings)) :+ compacted
  }

  /** The commit note of `version` ("" when none) — set by writers that
    * need replay dedup. */
  def noteOf(spark: SparkSession, root: String,
             version: Option[Long] = None): String =
    MetaTable.readNote(spark, dataDirOf(spark, root, version)).getOrElse("")

  private def dataDirOf(spark: SparkSession, root: String,
                        version: Option[Long]): String = {
    val v = version.orElse(Manifest.currentVersion(spark, root))
      .getOrElse(throw new IllegalStateException(
        s"no inverted index at $root"))
    Manifest.resolvedDataDir(spark, root, v)
  }

  /** The segment catalog of `version` (default: current), read on the
    * driver. */
  def catalogOf(spark: SparkSession, root: String,
                version: Option[Long] = None): Seq[Segment] =
    MetaTable.read(spark, catalogPath(dataDirOf(spark, root, version)),
        CatalogSchema)
      .map(r => Segment(r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
      .sortBy(_.postings)

  /** Tokenize the corpus once, publish version 0-or-next. `nFiles`
    * sizes the posting segment (nFiles ≈ nBuckets gives ~1 bucket per
    * file — maximal probe pruning; at 100 TB size it as
    * corpusBytes/targetFileBytes like every clustered write). */
  def build(spark: SparkSession, corpus: DataFrame, root: String,
            idCol: String = "doc_id", textCol: String = "text",
            nBuckets: Int = 16, nFiles: Int = 16, retain: Int = 2,
            note: String = ""): Long = {
    val seg = writeSegment(spark, root, corpus, idCol, textCol, nBuckets,
      nFiles)
    // a build DEFINES the catalog — no merge with concurrent appends,
    // maxRetries stays 0 (lost CAS throws)
    commitStaged(spark, root, segDirs(seg), () => Seq(seg), retain, note,
      maxRetries = 0)
  }

  /** Tokenize only `batch`, publish a new catalog referencing every
    * prior segment plus the new pair. Buckets inherit the existing
    * index's layout so one probe prunes uniformly across segments.
    *
    * Batches must be doc-disjoint from prior segments (re-appending a
    * doc would double its postings and corpus stats) — the streaming
    * writer's batch-id notes enforce this against replays; batch
    * ingestion owns it the same way `dedup_incremental`'s ledger
    * owns arrival uniqueness. */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             nFiles: Int = 16, retain: Int = 2, note: String = "",
             maxRetries: Int = 0): Long = {
    val prior = catalogOf(spark, root)
    require(prior.nonEmpty, s"no inverted index at $root")
    // `spark.graft.inv.appendHashLayout=true` lays the APPEND segment
    // out by bucket hash (one tokenize pass, no range-sampling job —
    // see writeSegment; builds and compactions keep the range layout,
    // and compaction restores it for appended segments)
    val hashLayout = spark.conf
      .get("spark.graft.inv.appendHashLayout", "false").toBoolean
    val seg = writeSegment(spark, root, batch, idCol, textCol,
      prior.head.nBuckets, nFiles, hashLayout)
    // catalog re-read per CAS attempt: a retry after a lost race
    // merges the concurrent winner's segments instead of dropping them
    commitStaged(spark, root, segDirs(seg),
      () => catalogOf(spark, root) :+ seg, retain, note, maxRetries)
  }

  /** Stats-pruned bucket-filtered read across segment tables — only
    * files whose [min, max] bucket range intersects the query's
    * buckets are scanned; the predicate is re-applied (and pushed to
    * parquet) so pruning can only skip work, never change results.
    * Records "kept/total" in `spark.graft.inv.lastPruned`. */
  private def prunedBucketRead(spark: SparkSession, segPaths: Seq[String],
                               buckets: Seq[Long]): DataFrame = {
    // one metadata scan for ALL segments (r20) — the per-segment form
    // cost one driver-serial job per segment per probe
    val pruned = StatsIndex.prunedFilesInMany(spark, segPaths, "bucket",
      buckets)
    val kept = pruned.flatMap(_._1)
    val total = pruned.map(_._2.size).sum
    spark.conf.set("spark.graft.inv.lastPruned", s"${kept.size}/$total")
    (if (kept.isEmpty)
       spark.read.parquet(segPaths.head).limit(0)
     else spark.read.parquet(kept: _*))
      .where(col("bucket").isInCollection(buckets.map(_.toInt)))
  }

  /** BM25 top-k against the persisted index — bit-exact vs the
    * in-query `bm25Search` by construction: same tokenization at
    * build, same tf/df/dl integers, n_docs and avgdl recomposed by
    * exact integer sums, and the identical score expression with the
    * identical fixed-term-order float sum. Output (doc_id, score, rk),
    * the retriever's shape. */
  def probe(spark: SparkSession, root: String, terms0: Seq[String],
            k: Int, k1: Double = 1.2, b: Double = 0.75,
            version: Option[Long] = None): DataFrame = {
    // Dedup up front: the fixed-term-order sum pivots on the term
    // list, and a duplicated query term would create duplicate pivot
    // columns (ambiguous at analysis time). BM25 over a set of terms
    // is dedup-idempotent, so distinct preserves scores. A term
    // literally named like the grouping column can't be referenced
    // unambiguously post-pivot — reject it loudly.
    val terms = terms0.distinct
    require(terms.nonEmpty, "probe needs at least one term")
    require(!terms.contains("doc_id"),
      "probe cannot score the literal term 'doc_id' (pivot column collision)")
    val catalog = catalogOf(spark, root, version)
    require(catalog.map(_.nBuckets).distinct.size == 1,
      s"inconsistent bucket counts in catalog at $root")
    val nBuckets = catalog.head.nBuckets
    // the query's bucket set, derived by the SAME engine expression
    // that clustered the write — bounded by the term literal
    import spark.implicits._
    val buckets = terms.toDF("term")
      .select(bucketOf(col("term"), nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0).toLong).sorted.toSeq
    val nDocs = catalog.map(_.nDocs).sum
    val avgdl = catalog.map(_.sumDl).sum.toDouble / nDocs.toDouble
    val post = prunedBucketRead(spark, catalog.map(_.postings), buckets)
      .where(col("term").isInCollection(terms))
    // global df = exact per-segment sums; |terms| rows → broadcast
    val df = prunedBucketRead(spark, catalog.map(_.dictionary), buckets)
      .where(col("term").isInCollection(terms))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val perTerm = post.join(broadcast(df), "term")
      .withColumn("idf",
        (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("s", col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) *
          (lit(1 - b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
    // fixed-term-order float sum via pivot — the bm25Search discipline:
    // an addition order no partitioning can change
    val scored = perTerm.groupBy(col("doc_id"))
      .pivot("term", terms).agg(first(col("s")))
      .select(col("doc_id"),
        // backticked refs: corpus terms may contain '.' or other
        // chars col() would parse as field access
        terms.map(t => coalesce(col(s"`${t.replace("`", "``")}`"), lit(0.0)))
          .reduceLeft(_ + _).as("score"))
    // limit BEFORE the window (vocab_top_words discipline): probe
    // candidates are posting-list-sized — corpus-scale on common
    // terms — and a bare global window funnels them through one task;
    // TakeOrdered heads run in parallel, the window numbers only the
    // k survivors. Total order → identical rows.
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Compact every segment of the current version into ONE freshly
    * bucket-clustered posting+dictionary pair — the index's OPTIMIZE
    * step (the [[AnnIndex.compactSegments]] economics: streamed
    * appends leave one small segment pair per micro-batch, and each
    * probe then pays per-segment stats lookups and opens many small
    * files per probed bucket). Posting rows are the atoms — (doc,
    * term, tf, dl) never changes meaning across segments — so
    * compaction is a pure re-layout of their union; the dictionary
    * and stats are re-derived from the compacted postings exactly as
    * [[build]] derives them, so probes are unchanged by construction.
    * Publishes a single-segment catalog as the next version; old
    * segments fall to [[vacuumSegments]] once retention drops the
    * versions naming them. */
  def compactSegments(spark: SparkSession, root: String,
                      nFiles: Int = 16, retain: Int = 2,
                      maxRetries: Int = 0): Long = {
    val catalog = catalogOf(spark, root)
    require(catalog.nonEmpty, s"no inverted index at $root")
    val nBuckets = catalog.head.nBuckets
    val token = java.util.UUID.randomUUID().toString.take(8)
    val post = s"$root/$SegmentsDir/post-$token"
    val dict = s"$root/$SegmentsDir/dict-$token"
    val postings = Layout.repartitionByKeyRange(
        spark.read.parquet(catalog.map(_.postings): _*),
        col("bucket"), nBuckets, math.max(nFiles, 1))
      .sortWithinPartitions("bucket", "term")
      .select("bucket", "term", "doc_id", "tf", "dl")
    postings.write.mode("errorifexists").parquet(post)
    StatsIndex.write(spark, post, Seq("bucket"))
    val written = spark.read.schema(postings.schema).parquet(post)
    Layout.repartitionByKeyRange(
        written.groupBy(col("bucket"), col("term"))
          .agg(count(lit(1)).as("df")),
        col("bucket"), nBuckets, math.max(math.min(nFiles, nBuckets), 1))
      .sortWithinPartitions("bucket", "term")
      .write.mode("errorifexists").parquet(dict)
    StatsIndex.write(spark, dict, Seq("bucket"))
    // exact stats recompose by integer addition — no rescan needed
    val seg = Segment(post, dict, catalog.map(_.nDocs).sum,
      catalog.map(_.sumDl).sum, nBuckets)
    Manifest.markStaging(spark, segDirs(seg))
    val foldedKeys = catalog.map(_.postings).toSet
    commitStaged(spark, root, segDirs(seg),
      () => mergedCatalog(catalogOf(spark, root), foldedKeys, seg),
      retain, "", maxRetries)
  }

  /** Compact only when the live catalog exceeds `maxSegments` (r18
    * segment-count economics, SCALE1000.md: probe 7.4 → 13.7 s from
    * 1 → 32 segments; compaction cost 14.5 s at the 5M-doc tier —
    * postings fold by bucket without a global re-sort — so it pays
    * for itself within ~2 probes). Returns Some(version) when
    * compaction ran. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      maxSegments: Int = 8, nFiles: Int = 16,
                      retain: Int = 2): Option[Long] = {
    require(maxSegments >= 1, s"maxSegments must be >= 1, got $maxSegments")
    if (catalogOf(spark, root).size <= maxSegments) None
    else Some(compactSegments(spark, root, nFiles, retain))
  }

  /** Delete segments referenced by NO retained version — the payload
    * half of [[Manifest.vacuum]]. `minAgeMs` guards the live race
    * documented at [[Manifest.vacuumUnreferenced]]. Returns removed
    * segment paths. */
  def vacuumSegments(spark: SparkSession, root: String,
                     minAgeMs: Long = Manifest.DefaultVacuumAgeMs,
                     staleStagingMs: Long = Manifest.DefaultStaleStagingMs)
      : Seq[String] = {
    val referenced = Manifest.versions(spark, root)
      .flatMap(v => catalogOf(spark, root, Some(v))
        .flatMap(g => Seq(g.postings, g.dictionary)))
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    Manifest.vacuumUnreferenced(spark, s"$root/$SegmentsDir",
      referenced, minAgeMs, staleStagingMs)
  }
}
