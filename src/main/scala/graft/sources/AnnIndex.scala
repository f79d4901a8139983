package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}

/** Persisted ANN index: build-once / probe-many IVF over the lake.
  *
  * [[graft.operators.Similarity.ivfTopK]] trains centroids and assigns
  * the corpus INSIDE every query — the right shape for a one-off
  * search, the wrong economics at 100 TB, where the assignment pass is
  * a full-corpus scan+shuffle and the index IS the product. This
  * source publishes that work once as a Manifest-versioned artifact
  * and gives probes a path that reads only the probed cells' FILES:
  *
  *  - `<root>/_commits/N` + `<root>/data-N-<tok>/` — the usual
  *    [[Manifest]] CAS versions; a version's data dir holds the
  *    metadata tables `centroids/` (cell, centroid — cells×dim floats,
  *    always tiny), `catalog/` (segment path, row count, mean
  *    assignment cosine, code-table path), optionally `codebooks/`
  *    (the PQ codebooks when built with `pqSubspaces > 0`) and a
  *    commit `note` (streaming micro-batch dedup anchor).
  *  - `<root>/segments/seg-<tok>/` — the corpus payload: (cell,
  *    vec_id, embedding) CELL-CLUSTERED via repartitionByRange(cell) +
  *    sortWithinPartitions, each segment carrying its own
  *    [[StatsIndex]] over `cell`; a PQ index adds the parallel
  *    `seg-<tok>-codes/` table (cell, vec_id, codes) that [[probePq]]
  *    scans instead of the vectors. Segments are immutable and live
  *    OUTSIDE the version dirs, so an append publishes a new metadata
  *    version referencing old segments + one new one — zero data
  *    copy, the Delta/Iceberg economics. They are indexed by the same
  *    writer that creates them, so index coverage is total by
  *    construction (no staleness window). [[compactSegments]] is the
  *    OPTIMIZE step after many small (streamed) appends;
  *    [[vacuumSegments]] GCs segments no retained version names.
  *
  * Probe cost: rank the persisted centroids per query (broadcast,
  * tiny), collect the ≤`cells` distinct probed cell ids, keep only
  * the segment files whose [min, max] cell range intersects them
  * ([[StatsIndex.prunedFilesIn]]), scan those. With the cell-clustered
  * layout that is ~nprobe/cells of the corpus BYTES, not just rows —
  * the predicate is still re-applied, so pruning can only skip work,
  * never change results. With nprobe = cells the probe degenerates to
  * exact brute force — the driver's `ann_index_probe` /
  * `ann_index_append` oracles gate exactly that.
  *
  * Incremental maintenance: [[append]] assigns an arriving batch to
  * the EXISTING centroids (no retrain — the `dedup_incremental` ledger
  * discipline applied to ANN), writes one new segment, and re-publishes
  * metadata. It also measures drift: if the batch's mean assignment
  * cosine falls more than `driftTolerance` below the index's running
  * mean, the result recommends a refit ([[build]] again) — appends
  * stay correct regardless (probes re-rank with true cosines; stale
  * centroids only cost recall at narrow nprobe, never correctness).
  */
object AnnIndex {

  private val SegmentsDir = "segments"

  final case class AppendResult(version: Long, segment: String,
                                batchMeanCos: Double, indexMeanCos: Double,
                                refitRecommended: Boolean)

  /** One immutable corpus segment: the raw cell-clustered vectors at
    * `path`, plus (when the index was built with PQ) the parallel
    * cell-clustered code table at `codesPath` — the ~32×-smaller
    * artifact [[probePq]] scans instead of the vectors. Empty
    * `codesPath` = no codes for this segment. */
  final case class Segment(path: String, nRows: Long, meanCos: Double,
                           codesPath: String)

  private def centroidsPath(dataDir: String) = s"$dataDir/centroids"
  private def catalogPath(dataDir: String) = s"$dataDir/catalog"
  private def codebooksPath(dataDir: String) = s"$dataDir/codebooks"

  private val CentroidsSchema = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("centroid", ArrayType(FloatType, containsNull = false))))
  // `codes_segment` is absent from catalogs written before PQ codes
  private val CatalogSchema = StructType(Seq(
    StructField("segment", StringType), StructField("n_rows", LongType),
    StructField("mean_cos", DoubleType), StructField("codes_segment", StringType)))
  private val CodebooksSchema = StructType(Seq(
    StructField("subspace", IntegerType), StructField("code", IntegerType),
    StructField("codeword", ArrayType(FloatType, containsNull = false))))

  /** One immutable cell-clustered segment + its stats index (and,
    * with codebooks, the parallel PQ code table). */
  private def writeSegment(spark: SparkSession, root: String, df: DataFrame,
                           idCol: String, vecCol: String,
                           centroids: Seq[(Int, Array[Float])],
                           nFiles: Int,
                           codebooks: Option[Seq[Seq[(Int, Array[Float])]]])
      : Segment = {
    graft.functions.GraftFunctions.register(spark)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val seg = s"$root/$SegmentsDir/seg-$token"
    // nearest-cell assignment is the zero-exchange literal-centroid
    // argmax (Similarity.assignCells); the only shuffle is the range
    // partition that CREATES the cell clustering the probes prune on
    val assigned = df.select(col(idCol).as("vec_id"),
        col(vecCol).as("embedding"))
      // `cosine` mode: identical argmax to ivfTopK's dot_norm (the
      // scores differ by the row-constant positive ‖x‖), and the score
      // IS the assignment cosine the drift stat needs
      .withColumn("nc", graft.functions.GraftFunctions
        .nearestCentroid(col("embedding"), centroids, "cosine"))
      .select(col("nc").getField("cell").as("cell"),
        col("vec_id"), col("embedding"),
        col("nc").getField("score").as("ccos"))
    // cell-range clustering WITHOUT the RangePartitioner sampling
    // pass (r19, guide §2.4): cells are an enumerable [0, nCells)
    // domain, so boundaries need no sampling — repartitionByRange ran
    // the nearest-centroid assignment TWICE per segment (once for the
    // sampler, once for the write)
    val laid = Layout.repartitionByKeyRange(assigned, col("cell"),
        centroids.size, math.max(nFiles, 1))
      .sortWithinPartitions("cell")
    laid.write.mode("errorifexists").parquet(seg)
    StatsIndex.write(spark, seg, Seq("cell"))
    // stats come from the WRITTEN segment (one cheap agg over what was
    // persisted, not a recompute of the assignment expression), read
    // with the written frame's schema (no inference job)
    def written = spark.read.schema(laid.schema).parquet(seg)
    val row = written
      .agg(count(lit(1)).as("n"), avg(col("ccos")).as("mc")).head()
    val codesSeg = codebooks match {
      case Some(cbs) =>
        // encode from the WRITTEN segment (assignment not recomputed);
        // the codes ride their own cell-clustered table + stats index,
        // so probePq prunes code FILES exactly like probe prunes
        // vector files — and reads ~dim·32/(m·log2 ksub) times fewer
        // bytes per surviving file
        val cs = s"$seg-codes"
        // enumerated cell layout — the range sampler re-ran pqEncode
        Layout.repartitionByKeyRange(
            Similarity.pqEncode(
              written.select(col("cell"), col("vec_id"),
                col("embedding")),
              "embedding", cbs)
              .select(col("cell"), col("vec_id"), col("codes")),
            col("cell"), centroids.size, math.max(nFiles, 1))
          .sortWithinPartitions("cell")
          .write.mode("errorifexists").parquet(cs)
        StatsIndex.write(spark, cs, Seq("cell"))
        cs
      case None => ""
    }
    val out = Segment(seg, row.getLong(0),
      if (row.isNullAt(1)) 0.0 else row.getDouble(1), codesSeg)
    // staging sentinel: complete but unreferenced until the catalog
    // CAS — exempt from vacuum's minAge for stagings of any duration
    Manifest.markStaging(spark, segDirs(out))
    out
  }

  private def segDirs(g: Segment): Seq[String] =
    Seq(g.path, g.codesPath).filter(_.nonEmpty)

  /** CAS-publish a catalog version; `catalog` is a THUNK re-evaluated
    * per attempt so retries merge with concurrent commits instead of
    * re-staging a stale pre-read catalog (see
    * [[GrepIndex.commitMeta]] — the r18 lost-update guard). */
  private[graft] def commitMeta(spark: SparkSession, root: String,
                                centroids: Seq[(Int, Array[Float])],
                                catalog: () => Seq[Segment],
                                codebooks: Option[Seq[Seq[(Int, Array[Float])]]],
                                retain: Int, note: String = "",
                                maxRetries: Int = 0): Long =
    Manifest.commitWith(spark, root, retain, maxRetries) { dir =>
      // the note is the anchor streaming ingestion dedupes
      // micro-batch retries against
      if (note.nonEmpty) MetaTable.writeNote(spark, dir, note)
      MetaTable.write(spark, centroidsPath(dir), CentroidsSchema,
        centroids.map { case (cell, c) => Row(cell, c) })
      MetaTable.write(spark, catalogPath(dir), CatalogSchema,
        catalog().map(g => Row(g.path, g.nRows, g.meanCos, g.codesPath)))
      codebooks.foreach { cbs =>
        MetaTable.write(spark, codebooksPath(dir), CodebooksSchema,
          for ((cb, sub) <- cbs.zipWithIndex; (code, word) <- cb)
            yield Row(sub, code, word))
      }
    }

  /** Commit with staged-segment lifecycle: sentinels cleared on
    * success, this writer's staged dirs discarded on failure. */
  private def commitStaged(spark: SparkSession, root: String,
                           staged: Seq[String],
                           centroids: Seq[(Int, Array[Float])],
                           catalog: () => Seq[Segment],
                           codebooks: Option[Seq[Seq[(Int, Array[Float])]]],
                           retain: Int, note: String,
                           maxRetries: Int): Long = {
    val v =
      try commitMeta(spark, root, centroids, catalog, codebooks, retain,
        note, maxRetries)
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
    val present = current.map(_.path).toSet
    if (!foldedKeys.subsetOf(present))
      throw new java.util.ConcurrentModificationException(
        "a concurrent compaction removed folded segments from the " +
          "catalog - publishing would duplicate their rows; re-run " +
          "compaction from the current catalog")
    current.filterNot(s => foldedKeys.contains(s.path)) :+ compacted
  }

  private def dataDirOf(spark: SparkSession, root: String,
                        version: Option[Long]): String = {
    val v = version.orElse(Manifest.currentVersion(spark, root))
      .getOrElse(throw new IllegalStateException(s"no ANN index at $root"))
    Manifest.resolvedDataDir(spark, root, v)
  }

  /** The persisted centroids of `version` (default: current), as the
    * literal Seq the zero-exchange argmax takes. Always tiny —
    * cells × dim floats. */
  def centroidsOf(spark: SparkSession, root: String,
                  version: Option[Long] = None): Seq[(Int, Array[Float])] =
    MetaTable.read(spark, centroidsPath(dataDirOf(spark, root, version)),
        CentroidsSchema)
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** The segment catalog of `version`, read on the driver. */
  def catalogOf(spark: SparkSession, root: String,
                version: Option[Long] = None): Seq[Segment] =
    MetaTable.read(spark, catalogPath(dataDirOf(spark, root, version)),
        CatalogSchema)
      .map(r => Segment(r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)).getOrElse("")))
      .sortBy(_.path)

  /** The commit note of `version` ("" when none) — set by writers
    * that need replay dedup (streaming appends tag versions with
    * their micro-batch id). */
  def noteOf(spark: SparkSession, root: String,
             version: Option[Long] = None): String =
    MetaTable.readNote(spark, dataDirOf(spark, root, version)).getOrElse("")

  /** The persisted PQ codebooks of `version`, if the index carries
    * them (always tiny: m × ksub × dim/m floats). */
  def codebooksOf(spark: SparkSession, root: String,
                  version: Option[Long] = None)
      : Option[Seq[Seq[(Int, Array[Float])]]] = {
    val p = codebooksPath(dataDirOf(spark, root, version))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(p))) None
    else Some(
      MetaTable.read(spark, p, CodebooksSchema)
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(t => (t._2, t._3)).sortBy(_._1).toSeq))
  }

  /** Train centroids (bounded sample, driver k-means — the
    * [[graft.operators.Similarity.trainCentroids]] machinery), assign
    * the corpus once, publish version 0-or-next of the index. Returns
    * the committed version. `nFiles` sizes the segment so cells map to
    * few files each (nFiles ≈ cells gives ~1 cell/file — maximal probe
    * pruning; at 100 TB size it as corpusBytes/targetFileBytes like
    * every clustered write, pruning then keeps ~nprobe/cells of it). */
  def build(spark: SparkSession, corpus: DataFrame, root: String,
            idCol: String = "vec_id", vecCol: String = "embedding",
            cells: Int = 16, nFiles: Int = 16, retain: Int = 2,
            seed: Long = 42L,
            pqSubspaces: Int = 0, pqCodes: Int = 16,
            note: String = ""): Long = {
    val sample = Similarity.sampleVectors(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      math.max(math.max(cells, pqCodes) * 256, 2048))
    val centroids = Similarity.trainCentroids(sample, cells, seed = seed)
    // pqSubspaces > 0 additionally trains per-subspace codebooks from
    // the SAME sample and persists a parallel code table per segment —
    // at 100 TB the codes are the artifact ADC probes scan
    val codebooks =
      if (pqSubspaces > 0)
        Some(Similarity.trainPqCodebooks(sample, pqSubspaces, pqCodes))
      else None
    val seg = writeSegment(spark, root, corpus, idCol, vecCol, centroids,
      nFiles, codebooks)
    // a build DEFINES the catalog — no merge with concurrent appends,
    // maxRetries stays 0 (lost CAS throws)
    commitStaged(spark, root, segDirs(seg), centroids, () => Seq(seg),
      codebooks, retain, note, maxRetries = 0)
  }

  /** Assign `batch` to the EXISTING centroids (no retrain), publish a
    * new metadata version referencing every prior segment plus the new
    * one, and report drift. Old versions stay readable per Manifest
    * retention; the data copied is exactly the batch. */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding",
             nFiles: Int = 16, driftTolerance: Double = 0.05,
             retain: Int = 2, note: String = "",
             maxRetries: Int = 0): AppendResult = {
    val centroids = centroidsOf(spark, root)
    val prior = catalogOf(spark, root)
    // the batch inherits the index's code layout: a PQ index keeps
    // every segment ADC-searchable, a plain index stays plain
    val codebooks = codebooksOf(spark, root)
    val seg = writeSegment(spark, root, batch, idCol, vecCol, centroids,
      nFiles, codebooks)
    // catalog re-read per CAS attempt: a retry after a lost race
    // merges the concurrent winner's segments instead of dropping them
    val version = commitStaged(spark, root, segDirs(seg), centroids,
      () => catalogOf(spark, root) :+ seg, codebooks, retain, note,
      maxRetries)
    // index mean weighted over PRIOR segments: the baseline the batch
    // is compared against (including the batch would mask its own drift)
    val priorRows = prior.map(_.nRows).sum
    val indexMean =
      if (priorRows == 0) seg.meanCos
      else prior.map(g => g.meanCos * g.nRows).sum / priorRows
    AppendResult(version, seg.path, seg.meanCos, indexMean,
      refitRecommended = seg.meanCos < indexMean - driftTolerance)
  }

  /** Top-k cosine search against the persisted index. Reads the
    * centroid table (tiny), ranks it per query broadcast-side, then
    * scans ONLY the segment files whose cell range intersects the
    * probed cells — recording "kept/total" in
    * `spark.graft.ann.lastPruned`. Output shape matches
    * [[graft.operators.Similarity.ivfTopK]]; with nprobe = cells it is
    * exactly brute force over everything ever built+appended. */
  /** Centroid-ranked probe frame (broadcast) + the probed cell set.
    * The cell set is bounded by the centroid count, so it is a
    * legitimate driver-side plan input (the same discipline as the
    * pruned file list itself). */
  private def rankProbes(spark: SparkSession, dataDir: String,
                         queries: DataFrame, idCol: String, vecCol: String,
                         nprobe: Int): (DataFrame, Seq[Long]) = {
    // broadcast the QUERY side of the centroid ranking, not the
    // centroid scan: the probe set is the contractually-small side
    // (callers declare its bound in-plan), while cells ≈ √n can reach
    // tens of thousands on a production index — streaming centroids
    // against a broadcast probe set is the shape that survives that
    val centroidDf = spark.read.schema(CentroidsSchema)
      .parquet(centroidsPath(dataDir))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("centroid_cos").desc, col("cell"))
    val probes = broadcast(
      broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")))
        .crossJoin(centroidDf)
        .withColumn("centroid_cos", Dedup.cosine(col("qvec"), col("centroid")))
        .withColumn("prk", row_number().over(probeW))
        .where(col("prk") <= nprobe)
        .select(col("query_id"), col("qvec"), col("cell")))
    val probeCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0).toLong).sorted.toSeq
    (probes, probeCells)
  }

  /** Stats-pruned cell-filtered read across segment tables: only files
    * whose [min, max] cell range intersects the probed cells are
    * scanned; the cell predicate is re-applied (and pushed to the
    * parquet scan) so pruning can only skip work, never change
    * results. Records "kept/total" in `spark.graft.ann.lastPruned`. */
  private def prunedCellRead(spark: SparkSession, segPaths: Seq[String],
                             probeCells: Seq[Long]): DataFrame = {
    // one metadata scan for ALL segments (r20) — the per-segment form
    // cost one driver-serial job per segment per probe
    val pruned = StatsIndex.prunedFilesInMany(spark, segPaths, "cell",
      probeCells)
    val kept = pruned.flatMap(_._1)
    val total = pruned.map(_._2.size).sum
    spark.conf.set("spark.graft.ann.lastPruned", s"${kept.size}/$total")
    (if (kept.isEmpty)
       spark.read.parquet(segPaths.head).limit(0) // schema, no rows
     else spark.read.parquet(kept: _*))
      .where(col("cell").isInCollection(probeCells.map(_.toInt)))
  }

  def probe(spark: SparkSession, root: String, queries: DataFrame,
            k: Int, nprobe: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            version: Option[Long] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val dataDir = dataDirOf(spark, root, version)
    val (probes, probeCells) =
      rankProbes(spark, dataDir, queries, idCol, vecCol, nprobe)
    val segments = catalogOf(spark, root, version).map(_.path)
    val corpus = prunedCellRead(spark, segments, probeCells)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(corpus, "cell")
      .withColumn("cos", Dedup.cosine(col("qvec"), col("cvec")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cos"))
  }

  /** ADC search against the persisted PQ codes — the probe that never
    * touches the raw vectors until the final re-rank. Stage 1: rank
    * the persisted centroids per query. Stage 2: stats-pruned read of
    * the probed cells' CODE files (the ~32×-smaller artifact), score
    * by asymmetric distance — cosine of the query against the decoded
    * codeword concatenation (codebooks ride as plan literals from the
    * metadata table) — and keep the top `rerank` per query. Stage 3:
    * fetch exactly those candidates' raw vectors back from the probed
    * cells of the VECTOR segments and re-score exactly. With
    * nprobe = cells and rerank ≥ corpus the stages are lossless
    * plumbing and the result is exactly brute force — the
    * `ann_index_pq` driver gate. */
  def probePq(spark: SparkSession, root: String, queries: DataFrame,
              k: Int, nprobe: Int, rerank: Int = 50,
              idCol: String = "vec_id", vecCol: String = "embedding",
              version: Option[Long] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val dataDir = dataDirOf(spark, root, version)
    val codebooks = codebooksOf(spark, root, version).getOrElse(
      throw new IllegalStateException(
        s"index at $root carries no PQ codes - build with pqSubspaces > 0"))
    val catalog = catalogOf(spark, root, version)
    require(catalog.forall(_.codesPath.nonEmpty),
      s"index at $root has segments without code tables")
    val (probes, probeCells) =
      rankProbes(spark, dataDir, queries, idCol, vecCol, nprobe)
    // ADC stage: decode corpus-side of the join (once per corpus row,
    // not once per (query, row) pair — the pqTopK lesson)
    val codes = prunedCellRead(spark, catalog.map(_.codesPath), probeCells)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        Similarity.pqDecode(col("codes"), codebooks).as("xhat"))
    val approxW = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val cands = probes.join(codes, "cell")
      .withColumn("acos", Dedup.cosine(col("qvec"), col("xhat")))
      .withColumn("ark", row_number().over(approxW))
      .where(col("ark") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank: candidates came from probed cells, so the raw
    // fetch prunes to the SAME cell files (bounded id join on top)
    val raw = prunedCellRead(spark, catalog.map(_.path), probeCells)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cands.join(raw, "neighbor_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qvec"))), "query_id")
      .withColumn("cos", Dedup.cosine(col("qvec"), col("cvec")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cos"))
  }

  /** Compact every segment of the current version into ONE freshly
    * cell-clustered segment — the index's OPTIMIZE step. Streaming
    * ingestion leaves one small segment per micro-batch; each probe
    * then pays per-segment stats lookups and opens many small files
    * per probed cell. Compaction rewrites the union under the SAME
    * frozen centroids (and codebooks — the code table is re-derived,
    * so a PQ index stays ADC-searchable), publishes a single-segment
    * catalog as the next version, and leaves the old segments to
    * [[vacuumSegments]] once retention drops the versions naming
    * them. Results are unchanged by construction: same rows, same
    * assignment expression, same probe path. `nFiles` re-sizes the
    * layout for the COMPACTED row count — the moment to restore
    * ~1 cell/file after many tiny appends. */
  def compactSegments(spark: SparkSession, root: String,
                      nFiles: Int = 16, retain: Int = 2,
                      maxRetries: Int = 0): Long = {
    val centroids = centroidsOf(spark, root)
    val catalog = catalogOf(spark, root)
    require(catalog.nonEmpty, s"no ANN index at $root")
    val codebooks = codebooksOf(spark, root)
    val union = spark.read.parquet(catalog.map(_.path): _*)
      .select(col("vec_id"), col("embedding"))
    val seg = writeSegment(spark, root, union, "vec_id", "embedding",
      centroids, nFiles, codebooks)
    val foldedKeys = catalog.map(_.path).toSet
    commitStaged(spark, root, segDirs(seg), centroids,
      () => mergedCatalog(catalogOf(spark, root), foldedKeys, seg),
      codebooks, retain, s"compaction-of-${catalog.size}", maxRetries)
  }

  /** Compact only when the live catalog exceeds `maxSegments` (r18
    * segment-count economics, SCALE1000.md: lossless probe 3.4 →
    * 8.8 s from 1 → 32 segments; compaction cost 4.6 s at the
    * 2M-vector tier — cells re-cluster against the FROZEN centroids,
    * no retrain — so it pays for itself within a probe or two).
    * Returns Some(version) when compaction ran. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      maxSegments: Int = 8, nFiles: Int = 16,
                      retain: Int = 2): Option[Long] = {
    require(maxSegments >= 1, s"maxSegments must be >= 1, got $maxSegments")
    if (catalogOf(spark, root).size <= maxSegments) None
    else Some(compactSegments(spark, root, nFiles, retain))
  }

  /** Delete segments referenced by NO retained version — the payload
    * half of [[Manifest.vacuum]] (which only GCs metadata dirs).
    * `minAgeMs` guards the live race documented at
    * [[Manifest.vacuumUnreferenced]]. Returns the removed paths. */
  def vacuumSegments(spark: SparkSession, root: String,
                     minAgeMs: Long = Manifest.DefaultVacuumAgeMs,
                     staleStagingMs: Long = Manifest.DefaultStaleStagingMs)
      : Seq[String] = {
    val referenced = Manifest.versions(spark, root)
      .flatMap(v => catalogOf(spark, root, Some(v))
        .flatMap(g => Seq(g.path, g.codesPath).filter(_.nonEmpty)))
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    Manifest.vacuumUnreferenced(spark, s"$root/$SegmentsDir",
      referenced, minAgeMs, staleStagingMs)
  }
}
