package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}

/** ONE parsed manifest snapshot: what a lake operation knows about a
  * table state, from a single read of one manifest file (the live
  * `manifest.json` or an archived `_snapshots/manifest-<g>.json`). The
  * manifest swap is atomic and segments are immutable, so one read is
  * one committed state. An operation that takes its files, stats,
  * tombstones, position deletes and aliases from ONE state can never
  * pair one commit's files with another commit's deletes.
  *
  * Eager: the raw list lines (`#seg:` refs unresolved), the DDL and
  * schema, and the `#g:`/`#t:` stamps. Lazy: every facet that needs
  * segments resolved (names, stats, deletes by file) or a parse of the
  * ledger lines, so a facet nobody asks for costs nothing and the scan
  * planner can still resolve segments selectively off [[rawTail]].
  * Tombstones, position deletes and evolution lines live at LIST level
  * (segments hold only file names and `#s:` stats), so detecting them
  * never resolves a segment.
  *
  * Every facet is in the LIVE column space of `evolution` (this
  * manifest's own rename ledger unless [[under]] says otherwise): stats
  * keys, sort claims and tombstone predicates written under prior names
  * are remapped once, here.
  */
final class ManifestState private[sources] (val root: Path, val ddl: String,
    val rawTail: Seq[String], evolution: Option[Seq[String]] = None) {

  val schema: StructType = StructType.fromDDL(ddl)

  private def stamp(prefix: String): Option[Long] =
    rawTail.find(_.startsWith(prefix)).flatMap(_.stripPrefix(prefix).toLongOption)

  /** The `#g:` main-lineage generation this file recorded for itself
    * (absent on pre-branch manifests).
    */
  val gen: Option[Long] = stamp("#g:")

  /** The `#t:` commit instant (absent only on pre-r15 manifests). */
  val millis: Option[Long] = stamp("#t:")

  /** Segment-resolved list tail: file names, stats and ledger lines. */
  lazy val tail: Seq[String] = ManifestSink.resolveLines(root, rawTail)

  /** Committed data-file names, in list order. */
  lazy val names: Seq[String] = tail.filterNot(_.startsWith("#"))

  def dataPath(name: String): String = root.resolve("data").resolve(name).toString

  /** Committed data files as absolute paths. */
  def files: Seq[String] = names.map(dataPath)

  /** prior column name → live name. */
  private lazy val p2c: Map[String, String] =
    ManifestEvolution.priorToCurrent(evolution.getOrElse(rawTail))

  /** Stats or an envelope written under prior names, in live names. */
  def remap(fs: ManifestMeta.FileStats): ManifestMeta.FileStats =
    ManifestEvolution.remapStats(fs, p2c)

  /** live column → its prior names: the read schema widens with these
    * and each aliased column coalesces over its chain.
    */
  lazy val aliases: Map[String, Seq[String]] =
    p2c.toSeq.groupBy(_._2).view.mapValues(_.map(_._1)).toMap

  /** Per-file stats keyed by bare name; files without a stats line are
    * absent (and never skipped).
    */
  lazy val stats: Map[String, ManifestMeta.FileStats] =
    ManifestMeta.statsOf(tail).map { case (n, fs) => n -> remap(fs) }

  /** Standing predicate tombstones, predicates in live names. */
  lazy val tombstones: Seq[ManifestDeletes.Tombstone] =
    ManifestDeletes.of(rawTail).map(t =>
      t.copy(filter = ManifestEvolution.remapFilter(t.filter, p2c)))

  /** Standing position-delete lines. */
  lazy val posDeleteLines: Seq[ManifestPosDeletes.PosDelete] =
    ManifestPosDeletes.of(rawTail)

  /** Tombstone predicates by the committed file they scope. */
  lazy val deletes: Map[String, Seq[Filter]] =
    ManifestDeletes.byFile(tombstones, names)

  /** Position-delete files (absolute paths) by the committed file they
    * scope.
    */
  lazy val posDeletes: Map[String, Seq[String]] =
    ManifestPosDeletes.byFile(posDeleteLines, names)
      .map { case (n, dels) => n -> dels.map(dataPath) }

  /** Epoch ids published to this state: the `e<epoch>-` prefix of
    * streaming file names plus `#e:` lines that carried them through a
    * rewrite.
    */
  lazy val epochs: Set[Long] =
    (names.flatMap { n =>
      if (n.startsWith("e")) n.drop(1).takeWhile(_ != '-').toLongOption else None
    } ++ rawTail.flatMap(_.stripPrefix("#e:").toLongOption)).toSet

  /** Committed files whose stats cannot refute every one of `filters`
    * (a file without stats always qualifies): the files a delete must
    * touch. Column types default to this state's schema.
    */
  def candidates(filters: Seq[Filter],
      types: Map[String, DataType] = schema.fields.map(f => f.name -> f.dataType).toMap):
      Seq[String] =
    names.filter(n => stats.get(n).forall(fs =>
      filters.forall(ManifestMeta.mayMatch(_, fs, types))))

  /** A rename/drop ledger is live (a full rewrite clears it). */
  lazy val evolutionLive: Boolean = rawTail.exists(ManifestEvolution.isLine)

  // -------------------------------------------------------------
  // The layout a rewrite keeps, derived from the committed files
  // themselves so a rewrite needs no catalog handle.
  // -------------------------------------------------------------

  /** Payload format: parquet when every committed file is parquet, else
    * the inspectable JSON default (a mixed table reads either way).
    */
  lazy val format: String =
    if (names.nonEmpty && names.forall(_.endsWith(".parquet"))) "parquet"
    else "json"

  /** The columns every committed file recorded a bloom for: a rewrite
    * must not strip the table's point-lookup skipping.
    */
  lazy val bloomCols: Seq[String] =
    if (names.isEmpty || !names.forall(stats.contains)) Seq.empty
    else {
      val fss = names.map(stats)
      fss.head.cols.keys.toSeq.sorted.filter(c =>
        fss.forall(_.cols.get(c).exists(_.bloom.isDefined)))
    }

  /** (partitionBy, orderBy) a rewrite redeclares: the common `sorted`
    * prefix every file claims, split at the purity boundary — a sort
    * column on which every file is pure (null-free, min==max) was a
    * partition/cluster key of the original write; the rest is in-file
    * ordering. Files without stats (or with no common claim) derive an
    * empty layout: the rewrite is then as unordered as the table was.
    */
  lazy val layout: (Seq[String], Seq[String]) =
    if (names.isEmpty || !names.forall(stats.contains)) (Seq.empty, Seq.empty)
    else {
      val fss = names.map(stats)
      val common = fss.map(_.sorted).reduce { (a, b) =>
        a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)
      }.filter(schema.fieldNames.contains)
      def pureEverywhere(c: String): Boolean = fss.forall(fs =>
        fs.cols.get(c).exists(s =>
          s.nulls == 0L && s.min.isDefined && s.min == s.max))
      val pBy = common.takeWhile(pureEverywhere)
      (pBy, common.drop(pBy.length))
    }

  /** The whole manifest file's lines, for a commit that republishes
    * this state (fast-forward, rollback).
    */
  def lines: Seq[String] = ddl +: rawTail

  /** This state read in another column space: `schemaDdl` is the
    * schema every read projects to and `evo` the ledger whose renames
    * remap tombstones and resolve aliases — the change feeds' ledger
    * accumulated over a generation range, or an ALTER's pending lines.
    */
  def under(evo: Seq[String], schemaDdl: String = ddl): ManifestState =
    new ManifestState(root, schemaDdl, rawTail, Some(evo))

  /** The rows of this state: its files read with its tombstones,
    * position deletes and aliases applied.
    */
  def read(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    ManifestSink.readDataFiles(spark, this, files)
}

object ManifestState {

  private def read(root: Path, m: Path): Option[ManifestState] =
    if (!Files.exists(m)) None
    else {
      val raw = Files.readAllLines(m).toArray(Array.empty[String]).toSeq
      raw.headOption.map(new ManifestState(root, _, raw.tail))
    }

  /** The live state (`manifest.json`), None before the first commit. */
  def live(root: Path): Option[ManifestState] =
    read(root, root.resolve("manifest.json"))

  def live(root: String): Option[ManifestState] = live(Paths.get(root))

  /** The live state, or a loud error naming what could not be done. */
  def need(root: String, what: String): ManifestState =
    live(root).getOrElse(throw new IllegalArgumentException(
      s"no manifest at $root — $what"))

  /** Archived snapshot `gen`, None once expired (or never published). */
  def at(root: Path, gen: Long): Option[ManifestState] =
    read(root, root.resolve("_snapshots").resolve(s"manifest-$gen.json"))

  /** The state before the first commit (generation 0 of a feed). */
  def empty(root: Path, ddl: String): ManifestState =
    new ManifestState(root, ddl, Seq.empty)
}
