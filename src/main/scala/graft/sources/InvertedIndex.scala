package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.Decision

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
  *    stats re-derive from the written file by a flat filtered scan),
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
object InvertedIndex extends SegmentIndex {

  private val SegmentsDir = "segments"

  /** One immutable posting+dictionary segment pair with its exact
    * corpus contribution. */
  final case class Segment(postings: String, dictionary: String,
                           nDocs: Long, sumDl: Long, nBuckets: Int)

  protected def defaultRetain = 2

  /** The catalog lifecycle: `catalog/` rows (postings, dictionary,
    * n_docs, sum_dl, n_buckets) sorted by postings path, segments
    * under `segments/`. */
  private[graft] val segments = new SegmentCatalog[Segment](
    "inverted index", SegmentsDir,
    StructType(Seq(
      StructField("postings", StringType), StructField("dictionary", StringType),
      StructField("n_docs", LongType), StructField("sum_dl", LongType),
      StructField("n_buckets", IntegerType))),
    g => Row(g.postings, g.dictionary, g.nDocs, g.sumDl, g.nBuckets),
    r => Segment(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getInt(4)),
    _.postings, g => Seq(g.postings, g.dictionary), _.nDocs)

  // the segment tables' schemas, fixed by the layout writers below:
  // reads pass them, so no scan starts a schema-inference job
  private val PostingsSchema = StructType(Seq(
    StructField("bucket", IntegerType), StructField("term", StringType),
    StructField("doc_id", LongType), StructField("tf", LongType),
    StructField("dl", IntegerType), StructField("d0", BooleanType)))
  private val DictionarySchema = StructType(Seq(
    StructField("bucket", IntegerType), StructField("term", StringType),
    StructField("df", LongType)))

  /** The term→bucket map — xxhash64 so engine-side bucket derivation
    * at probe time is the same expression that clustered the write. */
  def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** Fresh, uniquely named segment dirs under `root`; the corpus stats
    * are filled in by the caller. */
  private def freshSegment(root: String, nBuckets: Int): Segment = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    Segment(s"$root/$SegmentsDir/post-$token",
      s"$root/$SegmentsDir/dict-$token", 0L, 0L, nBuckets)
  }

  /** The postings layout, shared by append and compaction. Bucket-range
    * clustering WITHOUT the RangePartitioner sampling pass: buckets
    * are an enumerable [0, nBuckets) domain, so boundaries need no
    * sampling — repartitionByRange ran the whole tokenize+term-count
    * chain TWICE per segment (once for the sampler, once for the
    * write). Files hold contiguous whole buckets, so StatsIndex file
    * pruning is as tight as the range layout's (tighter: a bucket
    * never straddles files). `obs`, when given, observes n_docs (`n`)
    * and sum_dl (`s`) on the write's own execution (the
    * Curate.writeSegment r14 discipline, applied here in r19): exact
    * INTEGER sums over the d0 rows, order-independent, so the values
    * are byte-identical to a post-write `where(d0).agg(...)` re-read,
    * minus one scan job per segment. */
  private def writePostings(spark: SparkSession, postings: DataFrame,
                            path: String, nBuckets: Int, nFiles: Int,
                            obs: Option[Observation]): Unit = {
    val laid = Layout.repartitionByKeyRange(postings, col("bucket"),
        nBuckets, math.max(nFiles, 1))
      .sortWithinPartitions("bucket", "term")
      .select("bucket", "term", "doc_id", "tf", "dl", "d0")
    obs.fold(laid)(o => laid.observe(o,
        count(when(col("d0"), lit(1))).as("n"),
        sum(when(col("d0"), col("dl"))).as("s")))
      .write.mode("errorifexists").parquet(path)
    StatsIndex.write(spark, path, Seq("bucket"))
  }

  /** The dictionary layout: (bucket, term, df) from the WRITTEN
    * postings at `post` (one cheap re-agg of what was persisted, never
    * a recompute of the tokenization): postings carry one row per
    * (doc, term), so count = df. Same bucket clustering, stats-indexed
    * on bucket. */
  private def writeDictionary(spark: SparkSession, post: String,
                              path: String, nBuckets: Int,
                              nFiles: Int): Unit = {
    Layout.repartitionByKeyRange(
        spark.read.schema(PostingsSchema).parquet(post)
          .groupBy(col("bucket"), col("term")).agg(count(lit(1)).as("df")),
        col("bucket"), nBuckets, math.max(math.min(nFiles, nBuckets), 1))
      .sortWithinPartitions("bucket", "term")
      .write.mode("errorifexists").parquet(path)
    StatsIndex.write(spark, path, Seq("bucket"))
  }

  /** Tokenize `docs` (the bm25Search normalize+split, so index scores
    * replay the in-query retriever exactly), write one bucket-clustered
    * posting segment + its dictionary, both stats-indexed on bucket. */
  private def writeSegment(spark: SparkSession, root: String,
                           docs: DataFrame, idCol: String, textCol: String,
                           nBuckets: Int, nFiles: Int): Segment = {
    val seg = freshSegment(root, nBuckets)
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
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
    val posting = toks.select(col("doc_id"), size(col("toks")).as("dl"),
        posexplode(graft.functions.GraftFunctions.termCounts(col("toks"))))
      .select(col("doc_id"), col("dl"),
        col("col.term").as("term"), col("col.tf").as("tf"),
        (col("pos") === 0).as("d0"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
    val obs = Observation()
    writePostings(spark, posting, seg.postings, nBuckets, nFiles, Some(obs))
    writeDictionary(spark, seg.postings, seg.dictionary, nBuckets, nFiles)
    // exactly one d0=true row per doc (every doc has >= 1 token: split
    // of even an empty string yields [""]), so n_docs/sum_dl are the
    // observed flat sums over exactly the written rows
    val n = obs.get("n").asInstanceOf[Long]
    val s = obs.get("s") match { case null => 0L; case v => v.asInstanceOf[Long] }
    segments.stage(spark, seg.copy(nDocs = n, sumDl = s))
  }

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
    segments.replace(spark, root, Seq(seg), retain, note, _ => ())
  }

  /** Tokenize only `batch`, publish a new catalog referencing every
    * prior segment plus the new pair. Buckets inherit the existing
    * index's layout so one probe prunes uniformly across segments.
    *
    * Batches must be doc-disjoint from prior segments (re-appending a
    * doc would double its postings and corpus stats) — the streaming
    * writer's batch-id notes enforce this against replays; batch
    * ingestion owns it the same way `dedup_incremental`'s ledger
    * owns arrival uniqueness. An empty batch publishes nothing and
    * returns the current version. */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             nFiles: Int = 16, retain: Int = 2, note: String = "",
             maxRetries: Int = 0): Long = {
    val prior = catalogOf(spark, root)
    require(prior.nonEmpty, s"no inverted index at $root")
    val seg = writeSegment(spark, root, batch, idCol, textCol,
      prior.head.nBuckets, nFiles)
    segments.append(spark, root, seg, retain, note, maxRetries, _ => ())
  }

  /** Stats-pruned bucket-filtered read across segment tables — only
    * files whose [min, max] bucket range intersects the query's
    * buckets are scanned; the predicate is re-applied (and pushed to
    * parquet) so pruning can only skip work, never change results.
    * Records files kept/total as an `inv.buckets` [[graft.Decision]]. */
  private def prunedBucketRead(spark: SparkSession, segPaths: Seq[String],
                               schema: StructType,
                               buckets: Seq[Long]): DataFrame = {
    // one metadata scan for ALL segments (r20) — the per-segment form
    // cost one driver-serial job per segment per probe
    val pruned = StatsIndex.prunedFilesInMany(spark, segPaths, "bucket",
      buckets)
    val kept = pruned.flatMap(_._1)
    Decision.record(Decision("inv.buckets", "pruned", kept.size,
      pruned.map(_._2.size).sum))
    (if (kept.isEmpty)
       spark.read.schema(schema).parquet(segPaths.head).limit(0)
     else spark.read.schema(schema).parquet(kept: _*))
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
    val post = prunedBucketRead(spark, catalog.map(_.postings), PostingsSchema,
      buckets)
      .where(col("term").isInCollection(terms))
    // global df = exact per-segment sums; |terms| rows → broadcast
    val df = prunedBucketRead(spark, catalog.map(_.dictionary), DictionarySchema,
      buckets)
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

  /** Inverted compaction: streamed appends leave one small segment
    * pair per micro-batch, and each probe then pays per-segment stats
    * lookups and opens many small files per probed bucket. Posting
    * rows are the atoms — (doc, term, tf, dl, d0) never changes meaning
    * across segments — so compaction is a pure re-layout of their
    * union through the append path's postings writer; the dictionary
    * re-derives from the compacted postings exactly as [[build]]
    * derives it, and n_docs/sum_dl fold by integer sums, so probes are
    * unchanged by construction. Cost (r18, SCALE1000.md): probe
    * 7.4 → 13.7 s from 1 → 32 segments; compaction 14.5 s at the
    * 5M-doc tier — postings fold by bucket without a global re-sort —
    * so it pays for itself within ~2 probes. */
  def compactSegments(spark: SparkSession, root: String, nFiles: Int,
                      retain: Int, maxRetries: Int): Long = {
    val catalog = catalogOf(spark, root)
    require(catalog.nonEmpty, s"no inverted index at $root")
    val nBuckets = catalog.head.nBuckets
    val seg = freshSegment(root, nBuckets).copy(
      nDocs = catalog.map(_.nDocs).sum, sumDl = catalog.map(_.sumDl).sum)
    writePostings(spark, spark.read.schema(PostingsSchema)
        .parquet(catalog.map(_.postings): _*),
      seg.postings, nBuckets, nFiles, None)
    writeDictionary(spark, seg.postings, seg.dictionary, nBuckets, nFiles)
    segments.fold(spark, root, catalog, segments.stage(spark, seg), retain,
      "", maxRetries, _ => ())
  }
}
