package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The segment-catalog lifecycle of a [[Manifest]]-versioned root
  * whose payload lives in immutable segment dirs OUTSIDE the version
  * dirs — the layout of [[GrepIndex]], [[InvertedIndex]], [[AnnIndex]]
  * and the [[graft.operators.Curate]] log. One instance per root kind,
  * built from what really differs between them (catalog schema and
  * row mapping, sort key, payload dirs); everything else is here once:
  *
  *  - a version's data dir holds the `catalog/` table (one row per
  *    live segment) and the optional commit `note` (the replay-dedup
  *    anchor of streaming and batch ingestion), written on the driver
  *    ([[MetaTable]]);
  *  - segment dirs live under `<root>/<segmentsDir>/`; a writer marks
  *    them with the [[Manifest.StagingSentinel]] the moment their
  *    payload is complete ([[stage]]), and the staged publish clears
  *    the sentinels once the catalog CAS lands, or deletes the dirs
  *    when the publish fails (nothing references them);
  *  - the publish comes in three shapes: [[replace]] (a build defines
  *    the catalog), [[append]] (prior catalog plus one segment) and
  *    [[fold]] (compaction, through [[mergedCatalog]]);
  *  - [[vacuum]] deletes segment dirs no retained version names;
  *  - [[SegmentIndex]] is the maintenance an index exposes on top.
  *
  * This is the only caller of Manifest's commit and staging
  * primitives outside Manifest itself, so every write path crosses the
  * same stage boundaries: sentinel, payload write, marker create,
  * catalog merge, extra tables. */
final class SegmentCatalog[S](
    what: String,
    segmentsDir: String,
    schema: StructType,
    toRow: S => Row,
    fromRow: Row => S,
    val key: S => String,
    val dirsOf: S => Seq[String],
    rowsOf: S => Long) {

  private def catalogPath(dataDir: String) = s"$dataDir/catalog"

  /** The dir segment payloads are staged under. */
  def segmentRoot(root: String): String = s"$root/$segmentsDir"

  /** `version`, or the current one; fails when the root has none. */
  def resolve(spark: SparkSession, root: String,
              version: Option[Long]): Long =
    version.orElse(Manifest.currentVersion(spark, root))
      .getOrElse(throw new IllegalStateException(s"no $what at $root"))

  /** The data dir of `version` (default: current). */
  def dataDir(spark: SparkSession, root: String,
              version: Option[Long]): String =
    Manifest.resolvedDataDir(spark, root, resolve(spark, root, version))

  /** The commit note of `version` ("" when none). */
  def noteOf(spark: SparkSession, root: String,
             version: Option[Long]): String =
    MetaTable.readNote(spark, dataDir(spark, root, version)).getOrElse("")

  /** The oldest retained version carrying `note`: a replayed batch
    * finds its earlier publish here and returns it instead of writing
    * again. None when the root has no versions. */
  def notedVersion(spark: SparkSession, root: String,
                   note: String): Option[Long] =
    Manifest.versions(spark, root)
      .find(v => noteOf(spark, root, Some(v)) == note)

  /** The segment catalog of `version` (default: current), read on the
    * driver, sorted by [[key]]. */
  def catalogOf(spark: SparkSession, root: String,
                version: Option[Long]): Seq[S] =
    MetaTable.read(spark, catalogPath(dataDir(spark, root, version)), schema)
      .map(fromRow).sortBy(key)

  /** Mark a freshly written segment's dirs as staged: complete but
    * unreferenced until the catalog CAS lands. The sentinel exempts
    * them from vacuum's minAge cutoff for stagings of any duration. */
  def stage(spark: SparkSession, seg: S): S = {
    Manifest.markStaging(spark, dirsOf(seg))
    seg
  }

  /** CAS-publish a catalog version holding `note`, the catalog and
    * whatever `extra` lays out in the staged version dir; then clear
    * the sentinels of `staged`, or delete its dirs when the publish
    * fails.
    *
    * `catalog` is a THUNK evaluated inside every CAS attempt (the r18
    * lost-update guard): a catalog read once before the commit would
    * re-stage STALE state when a lost CAS retried, silently dropping
    * the concurrent writer's segment. With the thunk, winning the CAS
    * at currentVersion+1 certifies that the catalog read inside that
    * attempt was current, so a retry merges instead of clobbering. */
  def publish(spark: SparkSession, root: String, staged: Seq[S],
              catalog: () => Seq[S], retain: Int, note: String,
              maxRetries: Int, extra: String => Unit): Long = {
    val dirs = staged.flatMap(dirsOf)
    val v =
      try Manifest.commitWith(spark, root, retain, maxRetries) { dir =>
        if (note.nonEmpty) MetaTable.writeNote(spark, dir, note)
        MetaTable.write(spark, catalogPath(dir), schema, catalog().map(toRow))
        extra(dir)
      } catch { case e: Throwable =>
        Manifest.discardStaged(spark, dirs); throw e }
    Manifest.clearStaging(spark, dirs)
    v
  }

  /** Publish `segs` as the whole catalog. A build DEFINES the catalog,
    * so it never merges with concurrent appends: a lost CAS throws. */
  def replace(spark: SparkSession, root: String, segs: Seq[S], retain: Int,
              note: String, extra: String => Unit): Long =
    publish(spark, root, segs, () => segs, retain, note, 0, extra)

  /** Publish the current catalog plus `seg`, re-read on every CAS
    * attempt. A segment of zero rows publishes nothing: its dirs are
    * deleted and the current version is returned. */
  def append(spark: SparkSession, root: String, seg: S, retain: Int,
             note: String, maxRetries: Int, extra: String => Unit): Long =
    if (rowsOf(seg) == 0) {
      Manifest.discardStaged(spark, dirsOf(seg))
      resolve(spark, root, None)
    } else
      publish(spark, root, Seq(seg), () => catalogOf(spark, root, None) :+ seg,
        retain, note, maxRetries, extra)

  /** Publish the compaction of `folded` into `compacted`; segments
    * appended since the fold began survive ([[mergedCatalog]]). */
  def fold(spark: SparkSession, root: String, folded: Seq[S], compacted: S,
           retain: Int, note: String, maxRetries: Int,
           extra: String => Unit): Long = {
    val foldedKeys = folded.map(key).toSet
    publish(spark, root, Seq(compacted),
      () => mergedCatalog(catalogOf(spark, root, None), foldedKeys, compacted),
      retain, note, maxRetries, extra)
  }

  /** The catalog a compaction publishes at a CAS attempt: segments
    * appended SINCE the fold began survive alongside the compacted
    * segment (they hold data the fold never saw); a current catalog
    * missing some folded segment means a concurrent compaction
    * already re-homed that data — merging would DOUBLE it, so the
    * attempt throws instead (retry from fresh state). */
  def mergedCatalog(current: Seq[S], foldedKeys: Set[String],
                    compacted: S): Seq[S] = {
    if (!foldedKeys.subsetOf(current.map(key).toSet))
      throw new java.util.ConcurrentModificationException(
        "a concurrent compaction removed folded segments from the " +
          "catalog - publishing would duplicate their rows; re-run " +
          "compaction from the current catalog")
    current.filterNot(s => foldedKeys.contains(key(s))) :+ compacted
  }

  /** Delete segment dirs referenced by NO retained version — the
    * payload half of [[Manifest.vacuum]] (also reclaims segments
    * orphaned by a crashed writer). `minAgeMs` guards the live race
    * documented at [[Manifest.vacuumUnreferenced]]: an in-flight
    * writer's staged segments are unreferenced until its CAS lands.
    * Returns the removed paths. */
  def vacuum(spark: SparkSession, root: String, minAgeMs: Long,
             staleStagingMs: Long): Seq[String] = {
    val referenced = Manifest.versions(spark, root)
      .flatMap(v => catalogOf(spark, root, Some(v)).flatMap(dirsOf))
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    Manifest.vacuumUnreferenced(spark, segmentRoot(root), referenced,
      minAgeMs, staleStagingMs)
  }
}

/** The maintenance half of an index's segment log, written once for
  * [[GrepIndex]], [[InvertedIndex]] and [[AnnIndex]]. An index gives
  * its [[segments]] catalog and its [[compactSegments]] (how its
  * segments re-derive as one); the catalog read, the compaction
  * policy and vacuum are here. Callers see one `retain` default per
  * index ([[defaultRetain]]). */
trait SegmentIndex {

  /** One immutable segment of the index. */
  type Segment

  private[graft] def segments: SegmentCatalog[Segment]

  /** The `retain` default of this index's writers and maintenance. */
  protected def defaultRetain: Int

  /** The segment catalog of `version` (default: current), read on the
    * driver. */
  def catalogOf(spark: SparkSession, root: String,
                version: Option[Long] = None): Seq[Segment] =
    segments.catalogOf(spark, root, version)

  /** Fold every live segment into ONE freshly laid-out segment and
    * publish it as the next version — the OPTIMIZE step after many
    * small (streamed) appends. Probes are unchanged. Old segments stay
    * until [[vacuumSegments]]. `maxRetries > 0` opts into CAS-retry:
    * segments appended since the fold began survive the merge
    * ([[SegmentCatalog.mergedCatalog]]); a conflicting concurrent
    * COMPACTION throws regardless (folding the same rows twice would
    * duplicate them). */
  def compactSegments(spark: SparkSession, root: String,
                      nFiles: Int = 16, retain: Int = defaultRetain,
                      maxRetries: Int = 0): Long

  /** Compact only when the live catalog exceeds `maxSegments` — the
    * policy the r18 segment-count economics justify (SCALE1000.md:
    * probe latency grows with segment count as StatsIndex pruning
    * degrades; each index's [[compactSegments]] gives its cost and
    * payback). Reads only the catalog, on the driver, below the
    * threshold. Returns Some(version) when compaction ran. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      maxSegments: Int = 8, nFiles: Int = 16,
                      retain: Int = defaultRetain): Option[Long] = {
    require(maxSegments >= 1, s"maxSegments must be >= 1, got $maxSegments")
    if (catalogOf(spark, root).size <= maxSegments) None
    else Some(compactSegments(spark, root, nFiles, retain))
  }

  /** Delete segments referenced by NO retained version
    * ([[SegmentCatalog.vacuum]]; [[Manifest.vacuum]] only GCs metadata
    * dirs). Returns the removed paths. */
  def vacuumSegments(spark: SparkSession, root: String,
                     minAgeMs: Long = Manifest.DefaultVacuumAgeMs,
                     staleStagingMs: Long = Manifest.DefaultStaleStagingMs)
      : Seq[String] =
    segments.vacuum(spark, root, minAgeMs, staleStagingMs)
}
