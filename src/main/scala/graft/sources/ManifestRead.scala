package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportOrdering, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The READ face of the manifest table — what turns the sink into a
  * full DSv2 TABLE (readable through the GraftCatalog with plain SQL,
  * not just via the [[ManifestSink.readCommitted]] helper):
  *
  *   - partition planning reads ONE [[ManifestState]] (the same
  *     one-snapshot contract as `readCommitted`) — one file per
  *     InputPartition, so a 1000-file table fans out to 1000
  *     independent readers and a concurrent overwrite/compaction can
  *     never tear the file list, its tombstones or its aliases mid-scan;
  *   - COLUMN PRUNING ([[SupportsPushDownRequiredColumns]]): parquet
  *     files decode ONLY the projected column chunks; JSON files decode
  *     only the pruned fields (plus tombstone columns) and skip the rest;
  *   - FILE SKIPPING ([[SupportsPushDownFilters]], VERDICT r14 Next #2):
  *     pushed predicates evaluate against each file's `#s:` min/max
  *     stats and files that cannot contain a match never become
  *     partitions (filters stay residual — Spark re-evaluates row-level,
  *     so skipping is pure pruning, never a correctness gate);
  *   - KEY-GROUPED PARTITIONING: a table PARTITIONED BY identity
  *     transforms whose files are all partition-PURE (stats min==max,
  *     null-free — verified, not trusted) reports
  *     KeyGroupedPartitioning, so partition-key rollups and
  *     storage-partitioned joins between lake tables plan exchange-free;
  *   - REPORTED ORDERING: files carrying a `sorted` stats claim report
  *     their common sort prefix, deleting the Sort over layout-aware
  *     windows;
  *   - exact [[SupportsReportStatistics]]: numRows from the per-file
  *     stats, bytes from committed file sizes.
  */
object ManifestRead {
  /** Spec ledger of the LAST build()'s file skipping: (kept, total). */
  val lastSkipLedger = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((-1, -1))

  /** Spec ledger of the LAST parquet partition reader's projected
    * columns — how the spec pins that a pruned read does not decode
    * unreferenced columns.
    */
  val lastParquetProjection = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Seq.empty)

  /** Spec ledger of the LAST runtime filter() call: (kept, before). */
  val lastRuntimeLedger = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((-1, -1))

  /** Spec ledger of the LAST build()'s SEGMENT pruning:
    * (segments resolved, segments total) — envelope-refuted segments
    * never resolve (r17).
    */
  val lastSegLedger = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((-1, -1))

  /** Spec ledger of the LAST filtered vectorized file open:
    * (row groups kept, row groups total) — footer min/max skipping
    * inside one parquet file (r17).
    */
  val lastRowGroupLedger = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((-1, -1))
}

class ManifestScanBuilder(path: String, tableSchema: StructType,
    partitionBy: Seq[String] = Seq.empty, snapshotGen: Option[Long] = None,
    splitConf: SplitConf = SplitConf.Default,
    /** GROUP-CANDIDATE mode for row-level operations (r17): pushed
      * filters prune whole FILES only — never rows inside kept files
      * (the ReplaceData plan rewrites every row of every scanned file,
      * so row-level filtering here would silently delete data), and
      * every filter stays residual (exactness removal assumes Spark's
      * keep-matching semantics, which a row-level plan inverts).
      */
    rowLevelMode: Boolean = false,
    /** The state a row-level operation already planned against (its CAS
      * base and write layout come from the same read); else the scan
      * reads the live manifest or the pinned snapshot itself.
      */
    planned: Option[ManifestState] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  /** Hook for the row-level operation to capture its built scan. */
  private[sources] def onBuilt(s: ManifestScan): Unit = ()
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedExact: Array[Filter] = Array.empty
  private var residualCount: Int = 0
  private var aggRows: Option[Seq[Seq[Any]]] = None
  private var limit: Option[Int] = None

  // ---------------------------------------------------------------
  // LIST-LEVEL planning model (VERDICT r16 Next #1): the manifest LIST
  // is read RAW — one small file — and each `#seg:` ref keeps its
  // embedded envelope. Segments resolve LAZILY and only when a pushed
  // filter cannot refute them from the envelope alone, so a selective
  // scan of an N-segment table parses only the matching segments'
  // stats; the untouched ones cost one ref line each. Tombstones and
  // ledger lines always live at LIST level (segments hold only file
  // names + `#s:` stats), so delete detection needs no resolution.
  // ---------------------------------------------------------------

  private sealed trait Ent
  private case class FileEnt(name: String) extends Ent
  private case class SegEnt(name: String, files: Long,
      env: Option[ManifestMeta.FileStats]) extends Ent

  /** ONE manifest read (live or a pinned snapshot generation) —
    * atomic-swap-consistent, segments NOT resolved. Ledger lines
    * (evolution, tombstones, position deletes) live at LIST level, so
    * the state serves them without resolving a segment.
    */
  private lazy val state: Option[ManifestState] = planned.orElse(snapshotGen match {
    case Some(g) => ManifestState.at(Paths.get(path), g)
    case None => ManifestState.live(Paths.get(path))
  })
  private lazy val rawTail: Seq[String] = state.fold(Seq.empty[String])(_.rawTail)
  /** Stats written under prior column names, in live names (r17). */
  private def remap(fs: ManifestMeta.FileStats): ManifestMeta.FileStats =
    state.fold(fs)(_.remap(fs))
  private[sources] lazy val aliases: Map[String, Seq[String]] =
    state.fold(Map.empty[String, Seq[String]])(_.aliases)

  private lazy val entries: Seq[Ent] = rawTail.flatMap { l =>
    if (l.startsWith(ManifestSink.SegPrefix)) {
      val sum = ManifestSink.segRefSummary(l)
      Some(SegEnt(ManifestSink.segRefName(l),
        sum.map(_._1).getOrElse(-1L),
        sum.map(s => remap(s._2))))
    } else if (!l.startsWith("#")) Some(FileEnt(l))
    else None
  }
  /** Stats of files named INLINE in the list (pre-segment manifests) —
    * keys remapped into the live column space (r17 evolution).
    */
  private lazy val inlineStats: Map[String, ManifestMeta.FileStats] =
    ManifestMeta.statsOf(rawTail).map { case (n, fs) => n -> remap(fs) }
  private lazy val tombstones: Seq[ManifestDeletes.Tombstone] =
    state.fold(Seq.empty[ManifestDeletes.Tombstone])(_.tombstones)
  private lazy val posDels: Seq[ManifestPosDeletes.PosDelete] =
    state.fold(Seq.empty[ManifestPosDeletes.PosDelete])(_.posDeleteLines)
  /** ANY standing row-removal metadata (predicate tombstones or
    * position deletes): stats then overcount — every exactness-claiming
    * path must refuse on this, not on `tombstones` alone (r17).
    */
  private def hasDeletes: Boolean = tombstones.nonEmpty || posDels.nonEmpty
  private lazy val types: Map[String, DataType] =
    tableSchema.fields.map(f => f.name -> f.dataType).toMap

  /** Resolve one entry to its (name, stats) files, in list order. */
  private def entryFiles(e: Ent): Seq[(String, Option[ManifestMeta.FileStats])] =
    e match {
      case FileEnt(n) => Seq((n, inlineStats.get(n)))
      case SegEnt(n, _, _) =>
        val (names, st) = ManifestSink.segmentData(Paths.get(path), n)
        names.map(x => (x, st.get(x).map(remap)))
    }

  /** FULL resolution — only the paths that genuinely need every file
    * (LIMIT prefix truncation) pay it.
    */
  private lazy val allFiles: Seq[(String, Option[ManifestMeta.FileStats])] =
    entries.flatMap(entryFiles)
  private lazy val allNames: Seq[String] = allFiles.map(_._1)
  private lazy val stats: Map[String, ManifestMeta.FileStats] =
    allFiles.collect { case (n, Some(s)) => n -> s }.toMap

  /** LIMIT pushdown as FILE-LIST truncation: a `LIMIT n` whose filters
    * were all EXACTLY pushed (or absent) plans only the file-name-
    * ordered prefix of KEPT files whose stats rows reach n — a
    * `LIMIT 10` over a 10,000-file table reads one file. Sound because
    * a kept file under exact filters contains ONLY matching rows, so
    * stats rows = surviving rows; with any residual filter Spark keeps
    * the Filter node and never offers the limit (and this refuses
    * defensively anyway). Partially-pushed semantics keep Spark's own
    * limit on top, so the row answer is exact regardless. Refused
    * unless every file carries stats (a statless file's contribution to
    * the prefix is unknowable).
    */
  override def pushLimit(n: Int): Boolean = {
    if (rowLevelMode) return false
    if (residualCount > 0 || aggRows.isDefined) return false
    if (allNames.isEmpty || !allNames.forall(stats.contains)) return false
    // MoR tombstones / position deletes make stats rows an overcount:
    // a truncated prefix could under-deliver — refuse (compaction folds
    // deletes and restores the fast path)
    if (hasDeletes) return false
    limit = Some(n)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    // with an aggregation pushed, the agg fixes the output schema
    if (aggRows.isEmpty) required = requiredSchema

  /** EXACT filter pushdown when file selection alone answers a filter
    * (VERDICT r15 Next #6): a filter every committed file either
    * REFUTES (skipped) or row-universally SATISFIES (kept whole) is
    * ACCEPTED — Spark removes it from the plan, which is what unlocks
    * metadata-only aggregates and LIMIT under partition-covering
    * predicates (`count(*) WHERE month = '2025-01'`). Every other
    * filter stays residual (Spark re-evaluates it row-level): for
    * those, min/max skipping is conservative pruning, never a claimed
    * semantics. `pushedFilters` reports the stats-usable subset for
    * plan display.
    */
  /** Exactness with SEGMENT-LEVEL short-circuit: an envelope that
    * REFUTES the filter proves every file in the segment fully-out, so
    * the dichotomy holds for the whole segment unresolved; only
    * envelope-straddling (or envelope-less) segments resolve to check
    * per-file. Envelope presence also certifies every file in the
    * segment carries stats (writeSegment only emits one then).
    */
  private def exactlySelectableEnt(f: Filter): Boolean = {
    if (entries.isEmpty) return false
    entries.forall {
      case FileEnt(n) => inlineStats.get(n).exists(fs =>
        !ManifestMeta.mayMatch(f, fs, types) ||
          ManifestMeta.mustMatch(f, fs, types))
      // envelope decides the whole segment: refuted → every file
      // fully-out; proven → every row (hence every file) fully-in
      case SegEnt(_, _, Some(env))
          if !ManifestMeta.mayMatch(f, env, types) ||
            ManifestMeta.mustMatch(f, env, types) => true
      case e: SegEnt =>
        entryFiles(e).forall { case (_, st) => st.exists(fs =>
          !ManifestMeta.mayMatch(f, fs, types) ||
            ManifestMeta.mustMatch(f, fs, types)) }
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (rowLevelMode) {
      // file-candidate pruning only; Spark keeps every filter
      pushed = ManifestMeta.skippable(filters)
      return filters
    }
    val (exact, residual) = filters.partition(exactlySelectableEnt)
    pushedExact = exact
    residualCount = residual.length
    pushed = ManifestMeta.skippable(filters)
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** METADATA-ONLY AGGREGATES: COUNT(*) / COUNT(col) / MIN(col) /
    * MAX(col), globally or grouped by the identity partition column,
    * answered EXACTLY from the per-file stats — the scan emits the
    * final row(s) without opening a single data file (the classic
    * `SELECT count(*) FROM t` lake fast path; at 100 TB it's the
    * difference between a manifest read and a table scan). Complete
    * pushdown is only claimed when it is exact: every file carries
    * stats, and min/max columns are unpoisoned (no NaN doubles, no
    * oversize strings — those files dropped their bounds and the
    * pushdown refuses). Filters never combine with this path: the scan
    * keeps every filter residual, so Spark only offers aggregation on
    * filter-free plans.
    */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryPlanAggregate(aggregation)

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryPlanAggregate(aggregation)

  private def tryPlanAggregate(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    // each probe re-plans from scratch: Spark may test complete pushdown
    // with one Aggregation and then push a different (partial) shape —
    // build() must reflect exactly the LAST accepted plan
    aggRows = None
    if (rowLevelMode) return false
    // residual filters mean rows the stats can't account for — refuse.
    // EXACTLY-pushed filters compose (VERDICT r15 Next #6): every kept
    // file then holds ONLY matching rows, so the fold over kept files
    // is still exact — the partition-pruned `count(*) WHERE month = X`
    // fast path
    if (residualCount > 0) return false
    if (state.isEmpty) return false // no manifest yet
    // MoR tombstones / position deletes: stats count rows already
    // deleted — the fold would overcount, so the metadata path refuses
    // until a compaction folds the deletes in
    if (hasDeletes) return false
    val typesMap = types
    // FOLD UNITS (r17): a segment whose envelope DECIDES every exact
    // filter contributes as ONE unit — refuted (some filter's mayMatch
    // false) drops whole, proven (every filter mustMatch) folds its
    // envelope (min/max/nulls/sum exactness per ManifestMeta.envelope's
    // contract) — so a filter-free `count(*)` or a partition-covering
    // rollup is O(segments) on the driver, never O(files). Straddling
    // or envelope-less segments resolve to per-file units; any file
    // without stats refuses the pushdown exactly as before (envelope
    // presence certifies stats-completeness for unresolved segments).
    def fieldOf(r: NamedReference): Option[org.apache.spark.sql.types.StructField] =
      if (r.fieldNames().length == 1)
        tableSchema.fields.find(_.name == r.fieldNames()(0))
      else None

    // group-key FIELDS resolve before unit building: an envelope that
    // is IMPURE on a group column may cover files that are each pure
    // (one multi-partition commit), so such segments must resolve to
    // per-file units rather than refuse the pushdown (r17)
    val groupFields: Seq[org.apache.spark.sql.types.StructField] =
      aggregation.groupByExpressions() match {
        case Array() => Seq.empty
        case refs if refs.forall(_.isInstanceOf[NamedReference]) =>
          refs.toSeq.map(r =>
            fieldOf(r.asInstanceOf[NamedReference]).getOrElse(return false))
        case _ => return false
      }
    def pureOn(fs: ManifestMeta.FileStats,
        fields: Seq[org.apache.spark.sql.types.StructField]): Boolean =
      fields.forall(f => fs.cols.get(f.name).exists(c =>
        c.nulls == 0L && c.min.isDefined && c.min == c.max))

    val unitsB = Seq.newBuilder[ManifestMeta.FileStats]
    entries.foreach {
      case FileEnt(n) => inlineStats.get(n) match {
        case None => return false
        case Some(fs) =>
          if (pushedExact.forall(ManifestMeta.mayMatch(_, fs, typesMap)))
            unitsB += fs
      }
      case e @ SegEnt(_, _, envOpt) =>
        if (envOpt.exists(env => pushedExact.exists(f =>
            !ManifestMeta.mayMatch(f, env, typesMap)))) {
          () // whole segment refuted from the list — contributes nothing
        } else if (envOpt.exists(env =>
            pushedExact.forall(f => ManifestMeta.mustMatch(f, env, typesMap)) &&
              pureOn(env, groupFields))) {
          unitsB += envOpt.get // whole segment proven in: fold the envelope
        } else {
          val fls = entryFiles(e)
          if (!fls.forall(_._2.isDefined)) return false
          fls.foreach { case (_, st) =>
            val fs = st.get
            if (pushedExact.forall(ManifestMeta.mayMatch(_, fs, typesMap)))
              unitsB += fs
          }
        }
    }
    val fileStats = unitsB.result()

    // group keys: none (global) or any column set on which EVERY fold
    // unit is verifiably pure (stats min==max, null-free) — a group is
    // then a union of whole units and the fold over their stats is
    // exact and final. Purity is VERIFIED from the committed stats,
    // never assumed from the declared partitioning, so this serves the
    // full partition set, any subset of it, in any order.
    val groupCols: Seq[org.apache.spark.sql.types.StructField] =
      if (groupFields.isEmpty) Seq.empty
      else {
        if (!fileStats.forall(pureOn(_, groupFields))) return false
        groupFields
      }

    sealed trait Spec
    case object CountAll extends Spec
    case class CountCol(name: String) extends Spec
    case class MinCol(f: org.apache.spark.sql.types.StructField) extends Spec
    case class MaxCol(f: org.apache.spark.sql.types.StructField) extends Spec
    case class SumCol(name: String) extends Spec

    val specs: Seq[Spec] = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => CountAll
      case c: Count if !c.isDistinct => c.column() match {
        case r: NamedReference => CountCol(fieldOf(r).getOrElse(return false).name)
        case _ => return false
      }
      // guard note (code-review r15): a file whose stats lack a column
      // ENTRY entirely predates that column (ALTER ADD COLUMN / renamed
      // re-attach) — it reads back all-null there, so it contributes
      // NOTHING to MIN/MAX/SUM and ZERO to COUNT(col): `forall` over the
      // Option accepts such files exactly, where `exists` would refuse
      // and a missing guard (the original COUNT bug) would over-count
      case s: Sum if !s.isDistinct => s.column() match {
        case r: NamedReference =>
          val f = fieldOf(r).getOrElse(return false)
          // only integral columns carry exact per-file sums, and every
          // non-all-null file must carry one (no overflow, no poison)
          if (f.dataType != LongType && f.dataType != IntegerType) return false
          if (!fileStats.forall(fs => fs.cols.get(f.name).forall(c =>
            c.sum.isDefined || c.nulls == fs.rows))) return false
          SumCol(f.name)
        case _ => return false
      }
      case m: Min => m.column() match {
        case r: NamedReference =>
          val f = fieldOf(r).getOrElse(return false)
          // bounds must be exact in every file holding non-null values
          if (!fileStats.forall(fs => fs.cols.get(f.name).forall(c =>
            c.min.isDefined || c.nulls == fs.rows))) return false
          MinCol(f)
        case _ => return false
      }
      case m: Max => m.column() match {
        case r: NamedReference =>
          val f = fieldOf(r).getOrElse(return false)
          if (!fileStats.forall(fs => fs.cols.get(f.name).forall(c =>
            c.max.isDefined || c.nulls == fs.rows))) return false
          MaxCol(f)
        case _ => return false
      }
      case _ => return false
    }

    def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
      case StringType => UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(UTF8String.fromString(b.asInstanceOf[String])) < 0
      case DoubleType => a.asInstanceOf[Double] < b.asInstanceOf[Double]
      case _ => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    }
    // stats store integral values as Long; an INT column's output cells
    // must narrow back to Int for the catalyst row
    def toCell(dt: DataType, v: Any): Any =
      if (v != null && dt == IntegerType) v.asInstanceOf[Long].toInt else v
    def fold(group: Seq[ManifestMeta.FileStats]): Seq[Any] = specs.map {
      case CountAll => group.map(_.rows).sum
      case CountCol(n) =>
        // a file with NO entry for the column predates it: every row
        // reads null there, so it contributes ZERO — not fs.rows
        // (code-review r15: the getOrElse(0 nulls) over-count bug)
        group.map(fs =>
          fs.cols.get(n).map(c => fs.rows - c.nulls).getOrElse(0L)).sum
      case MinCol(f) => toCell(f.dataType,
        group.flatMap(_.cols.get(f.name).flatMap(_.min))
          .reduceOption((a, b) => if (lt(f.dataType, a, b)) a else b).orNull)
      case MaxCol(f) => toCell(f.dataType,
        group.flatMap(_.cols.get(f.name).flatMap(_.max))
          .reduceOption((a, b) => if (lt(f.dataType, a, b)) b else a).orNull)
      case SumCol(n) =>
        // SQL SUM: null over zero non-null values; the cross-file fold
        // checks Long range via BigInt — an overflow throws and the
        // rows-builder's catch refuses the whole pushdown (Spark then
        // answers row-level with its own overflow semantics)
        val parts = group.flatMap(_.cols.get(n).flatMap(_.sum))
        if (parts.isEmpty) null
        else {
          val big = parts.map(BigInt(_)).sum
          if (!big.isValidLong) throw new ArithmeticException("sum overflow")
          java.lang.Long.valueOf(big.toLong)
        }
    }

    val rows: Seq[Seq[Any]] =
      try {
        if (groupCols.isEmpty) Seq(fold(fileStats))
        else fileStats
          .groupBy(fs => groupCols.map(f => fs.cols(f.name).min.get))
          .toSeq.map { case (ks, group) =>
            groupCols.zip(ks).map { case (f, k) =>
              toCell(f.dataType, k) } ++ fold(group)
          }
      } catch { case _: ArithmeticException => return false }

    // positional contract with V2ScanRelationPushDown: group cols first,
    // then one column per pushed aggregate
    def aggType(s: Spec): DataType = s match {
      case CountAll | _: CountCol => org.apache.spark.sql.types.LongType
      case _: SumCol => org.apache.spark.sql.types.LongType // SUM(int) widens
      case MinCol(f) => f.dataType
      case MaxCol(f) => f.dataType
    }
    required = StructType(
      groupCols.map(f => org.apache.spark.sql.types.StructField(
        f.name, f.dataType, nullable = false)) ++
        specs.zipWithIndex.map { case (s, i) =>
          org.apache.spark.sql.types.StructField(s"agg_$i", aggType(s),
            nullable = s.isInstanceOf[MinCol] || s.isInstanceOf[MaxCol] ||
              s.isInstanceOf[SumCol])
        })
    aggRows = Some(rows)
    true
  }

  override def build(): Scan = aggRows match {
    case Some(rows) => new ManifestAggScan(path, required, rows)
    case None =>
      // a file survives unless its stats REFUTE some pushed filter;
      // files without stats always survive. EXACTLY-pushed filters
      // (removed from the plan by Spark) MUST drop their non-matching
      // files here — for them skipping is semantics, not optimization;
      // sound because exactness required the full-in/full-out dichotomy
      // on every file. SEGMENT tier first (r17): a segment whose
      // ENVELOPE is refuted by any pushed filter drops whole — never
      // resolved, never parsed, never cached; only surviving segments
      // pay per-file evaluation. This kills the last O(files) driver
      // cost for selective scans (VERDICT r16 What's missing #1).
      val preds: Array[Filter] = pushed ++ pushedExact
      def keepFile(st: Option[ManifestMeta.FileStats]): Boolean =
        st.forall(fs => preds.forall(ManifestMeta.mayMatch(_, fs, types)))
      var totalFiles = 0L
      var totalSegs = 0
      var resolvedSegs = 0
      val keptB = Seq.newBuilder[(String, Option[ManifestMeta.FileStats])]
      entries.foreach {
        case FileEnt(n) =>
          totalFiles += 1L
          val st = inlineStats.get(n)
          if (keepFile(st)) keptB += ((n, st))
        case e @ SegEnt(_, nFiles, envOpt) =>
          totalSegs += 1
          if (envOpt.exists(env => preds.exists(f =>
              !ManifestMeta.mayMatch(f, env, types)))) {
            totalFiles += math.max(nFiles, 0L) // pruned whole, unresolved
          } else {
            resolvedSegs += 1
            val fls = entryFiles(e)
            totalFiles += fls.length
            fls.foreach { case (n, st) => if (keepFile(st)) keptB += ((n, st)) }
          }
      }
      val kept = keptB.result()
      // limit truncation: the name-ordered prefix whose stats rows
      // cover n. pushLimit already refuses when residual filters exist;
      // this build-side guard re-checks it (defensive against any
      // planner call-order change — a residually-filtered prefix of n
      // STORED rows is not n SURVIVING rows, so composing the two would
      // under-deliver; exactly-pushed filters compose fine: kept files
      // hold only surviving rows). pushLimit required stats on every
      // file, so `.get` is total here.
      val limited = limit.filter(_ => residualCount == 0) match {
        case Some(n) =>
          var acc = 0L
          kept.takeWhile { case (_, st) =>
            val take = acc < n
            acc += st.get.rows
            take
          }
        case None => kept
      }
      ManifestRead.lastSkipLedger.set((limited.length, totalFiles.toInt))
      ManifestRead.lastSegLedger.set((resolvedSegs, totalSegs))
      val dataDir = Paths.get(path).resolve("data")
      val scan = new ManifestScan(path, limited, tableSchema,
        required, partitionBy, splitConf,
        ManifestDeletes.byFile(tombstones, limited.map(_._1)),
        // row-level plans rewrite every row of every kept file: rows
        // must never be filtered inside the scan (see rowLevelMode)
        dataFilters = if (rowLevelMode) Seq.empty else preds.toSeq,
        posDeletes = ManifestPosDeletes.byFile(posDels, limited.map(_._1))
          .map { case (n, dels) =>
            n -> dels.map(d => dataDir.resolve(d).toString) },
        aliases = aliases)
      onBuilt(scan)
      scan
  }
}

/** The pushed-aggregate scan: the final row(s), computed on the driver
  * from the manifest stats, served through one InputPartition — zero
  * data files opened.
  */
class ManifestAggScan(path: String, schema: StructType, rows: Seq[Seq[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"ManifestAggScan(metadata-only, rows=${rows.length})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestAggPartition(rows.map(_.toArray).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val rs = p.asInstanceOf[ManifestAggPartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rs.length }
          override def get(): InternalRow =
            InternalRow.fromSeq(rs(i).toIndexedSeq.map {
              case s: String => UTF8String.fromString(s)
              case v => v
            })
          override def close(): Unit = ()
        }
      }
    }
}

case class ManifestAggPartition(rows: Array[Array[Any]]) extends InputPartition

class ManifestScan(path: String,
    allFiles: Seq[(String, Option[ManifestMeta.FileStats])],
    tableSchema: StructType, required: StructType,
    partitionBy: Seq[String] = Seq.empty,
    splitConf: SplitConf = SplitConf.Default,
    deletes: Map[String, Seq[Filter]] = Map.empty,
    dataFilters: Seq[Filter] = Seq.empty,
    posDeletes: Map[String, Seq[String]] = Map.empty,
    /** live column → prior names (r17 evolution): committed files may
      * store a renamed column under a prior name; readers resolve.
      */
    aliases: Map[String, Seq[String]] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ManifestScan(files=${files.size}, cols=${required.fieldNames.mkString(",")})"

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ManifestSnapshotStream(path, tableSchema, required, aliases)

  private def dataPath(n: String): String =
    Paths.get(path).resolve("data").resolve(n).toString

  /** File byte size: from the stats line when recorded (r16+ commits) —
    * plan-time sizing then costs zero syscalls; pre-r16 files fall back
    * to one stat call each. Shared by bin-packing and statistics
    * estimation (code-review r16: the two copies must not drift).
    */
  private def sizeOf(n: String, st: Option[ManifestMeta.FileStats]): Long =
    st.map(_.bytes).filter(_ > 0L).getOrElse {
      val p = Paths.get(dataPath(n))
      if (Files.exists(p)) Files.size(p) else 0L
    }

  /** RUNTIME FILTERING (the DSv2 face of dynamic partition pruning,
    * same shape as the synth scan): when this table is the fact side of
    * a join whose dim side is filtered on a non-join attribute, Spark
    * evaluates the surviving join keys at runtime and hands them here
    * as In/EqualTo filters BEFORE re-planning partitions — every
    * committed file whose stats refute the key set drops from the scan.
    * Any stats-bearing column can prune (the partition column is just
    * the tightest case); unrecognized runtime filters are advisory and
    * ignored (Spark re-applies them row-level, so pruning is never a
    * correctness gate).
    */
  @volatile private var files: Seq[(String, Option[ManifestMeta.FileStats])] =
    allFiles

  /** File names currently in the scan (post runtime filtering) — what
    * a row-level operation's write replaces (r17).
    */
  private[sources] def currentFileNames: Seq[String] = files.map(_._1)

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns in the SCAN OUTPUT: Spark resolves these references
    // against the pruned read schema, so a pruned-away column (even a
    // stats-bearing one) must not be offered. `_file` is offered when
    // selected — Spark's row-level GROUP filter names matched files
    // through it (r17).
    (tableSchema.fieldNames.filter(required.fieldNames.contains) ++
      Seq("_file").filter(required.fieldNames.contains))
      .map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val types = tableSchema.fields.map(f => f.name -> f.dataType).toMap
    // `_file` filters prune by NAME (the runtime group filter of a
    // row-level plan); anything else prunes via per-file stats
    def nameKeeps(f: Filter, n: String): Boolean = f match {
      case In("_file", vs) => vs.exists(v => v != null && v.toString == n)
      case EqualTo("_file", v) => v != null && v.toString == n
      case _ => true
    }
    val (nameFs, statFs) = filters.partition(_.references.sameElements(Array("_file")))
    val before = files.length
    files = files.filter { case (n, st) =>
      nameFs.forall(nameKeeps(_, n)) &&
        st.forall(fs => statFs.forall(ManifestMeta.mayMatch(_, fs, types)))
    }
    ManifestRead.lastRuntimeLedger.set((files.length, before))
  }

  /** Parsed partition specs — identity columns or transforms (r19). */
  private val partSpecs: Seq[PartitionTransforms.Spec] =
    partitionBy.map(PartitionTransforms.parse)

  /** Per-file partition-key rows (TRANSFORM values, spec order),
    * present only when EVERY file provably holds ONE value per spec:
    *
    *   - identity / days / truncate — VERIFIED from the committed
    *     per-file stats (null-free and transform(min) == transform(max);
    *     monotonic transforms make the order proof sound), never assumed
    *     from the write config;
    *   - bucket — a hash admits no order proof, so the value comes from
    *     the task writer's recorded `pv` claim under the EXACT current
    *     spec rendering (the same trust tier as the `sorted` claim the
    *     ordering report stands on), with the degenerate min==max case
    *     still verified directly.
    *
    * A file appended outside the partitioned write path — or written
    * under an older spec vintage — simply drops the claim and the scan
    * degrades to UnknownPartitioning.
    */
  private def computeFileKeys(
      fs: Seq[(String, Option[ManifestMeta.FileStats])]): Option[Seq[InternalRow]] = {
    if (partSpecs.isEmpty || fs.isEmpty ||
        !partSpecs.forall(t => tableSchema.fieldNames.contains(t.source))) None
    else {
      val srcTypes = partSpecs.map(t =>
        tableSchema.fields(tableSchema.fieldIndex(t.source)).dataType)
      val rows = fs.map { case (_, st) =>
        st.flatMap { s =>
          val vals = partSpecs.zip(srcTypes).map { case (t, dt) =>
            val verified = s.cols.get(t.source).flatMap { cs =>
              for {
                mn <- cs.min; mx <- cs.max
                if cs.nulls == 0L
                v <- t.pureValue(mn, mx)
              } yield v
            }
            verified.orElse(
              if (t.monotonic) None else s.pv.get(t.render))
              .map(v => keyValue(t, dt, v))
          }
          if (vals.forall(_.isDefined))
            Some(InternalRow.fromSeq(vals.map(_.get)))
          else None
        }
      }
      if (rows.forall(_.isDefined)) Some(rows.map(_.get)) else None
    }
  }

  /** A value derived from the current file list, built once per list
    * and keyed on its reference: runtime filtering replaces `files`,
    * which rebuilds it, and every other call reuses it. The memo lives
    * and dies with this scan.
    */
  private final class PerFileSet[T](
      build: Seq[(String, Option[ManifestMeta.FileStats])] => T) {
    @volatile private var memo: (AnyRef, T) = null
    def apply(): T = {
      val f = files
      val m = memo
      if (m != null && (m._1 eq f)) m._2
      else { val v = build(f); memo = (f, v); v }
    }
  }

  /** MEMOIZED claims: one (keys, bins) computation — with its
    * Files.exists/size sweep — per runtime-filter version of the plan,
    * instead of one per outputPartitioning/outputOrdering/
    * planInputPartitions call (code-review r15: a 100k-file scan was
    * paying 4-5 stat sweeps per plan).
    */
  private val claimsMemo = new PerFileSet({ f =>
    val keys = computeFileKeys(f)
    (keys, if (keys.isDefined) Seq.empty[Seq[String]] else computeBins(f))
  })
  private def claims: (Option[Seq[InternalRow]], Seq[Seq[String]]) =
    claimsMemo()

  /** The partition-key CELL for spec `t` over a source of type `dt`,
    * typed to match the reported transform expression's result type —
    * Spark's key-grouped planning compares both sides' partition values
    * with InternalRow orderings over those types, so the cell type is a
    * contract, not a convenience: identity keeps the column type,
    * `bucket` is the function's INT bucket number, the temporal
    * transforms their LONG ordinal (epoch day/hour, calendar
    * month/year count), `truncate` the LONG floor or the UTF8String
    * prefix.
    */
  private def keyValue(t: PartitionTransforms.Spec, dt: DataType,
      v: Any): Any = t match {
    case _: PartitionTransforms.Identity => dt match {
      case LongType => v.asInstanceOf[Long]
      case IntegerType => v.asInstanceOf[Long].toInt
      case DoubleType => v.asInstanceOf[Double]
      case StringType => UTF8String.fromString(v.asInstanceOf[String])
      case other => throw new IllegalArgumentException(s"unsupported key type $other")
    }
    case _: PartitionTransforms.Bucket => v.asInstanceOf[Long].toInt
    case _: PartitionTransforms.Days | _: PartitionTransforms.Hours |
        _: PartitionTransforms.Months | _: PartitionTransforms.Years =>
      v.asInstanceOf[Long]
    case _: PartitionTransforms.Truncate => v match {
      case s: String => UTF8String.fromString(s)
      case u: UTF8String => u
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"unsupported truncate key $other")
    }
  }

  /** TASK SIZING for non-key-grouped reads: files bin-pack (in name
    * order) into partitions of ~targetBytes with an openCost floor per
    * file — a 100,000-tiny-file table plans a bounded task count instead
    * of 100,000 single-file tasks, and a handful of big files still get
    * one task each. Key-grouped reads stay one partition per file (the
    * partition-key claim needs it; Spark itself groups same-key
    * partitions into tasks).
    */
  private def computeBins(
      fs: Seq[(String, Option[ManifestMeta.FileStats])]): Seq[Seq[String]] = {
    val bins = Seq.newBuilder[Seq[String]]
    var cur = Seq.newBuilder[String]
    var curBytes = 0L
    var curN = 0
    fs.foreach { case (n, st) =>
      val cost = math.max(sizeOf(n, st), splitConf.openCostBytes)
      if (curN > 0 && curBytes + cost > splitConf.targetBytes) {
        bins += cur.result(); cur = Seq.newBuilder[String]
        curBytes = 0L; curN = 0
      }
      cur += n; curBytes += cost; curN += 1
    }
    if (curN > 0) bins += cur.result()
    bins.result()
  }

  override def planInputPartitions(): Array[InputPartition] =
    claims match {
      case (Some(keys), _) =>
        files.zip(keys).map { case ((n, _), k) =>
          ManifestKeyedFilePartition(dataPath(n), k): InputPartition
        }.toArray
      case (None, bins) =>
        bins.map { bin =>
          if (bin.length == 1)
            ManifestFilePartition(dataPath(bin.head)): InputPartition
          else
            ManifestFilesPartition(bin.map(dataPath)): InputPartition
        }.toArray
    }

  /** KeyGroupedPartitioning over the partition SPECS when every file
    * holds one proven transform value per spec and the source columns
    * survive pruning — a GROUP BY the partition key (or a
    * storage-partitioned join between two lake tables) then plans with
    * NO exchange. Non-identity specs report their V2 transform
    * expressions (`bucket(n, col)`, `days(col)`, `truncate(w, col)`);
    * Spark resolves the named functions through the owning catalog's
    * FunctionCatalog face ([[TransformFunctions]]) and, with
    * `spark.sql.sources.v2.bucketing.enabled`, plans the shuffle-free
    * SPJ between two tables bucketed the same way — THE join shape for
    * two co-bucketed 50 TB fact tables.
    */
  override def outputPartitioning(): Partitioning = claims match {
    case (Some(_), _)
        if partSpecs.map(_.source).forall(required.fieldNames.contains) =>
      new KeyGroupedPartitioning(
        partSpecs.map(v2Transform).toArray, files.length)
    case (Some(_), _) => new UnknownPartitioning(files.length)
    case (None, bins) => new UnknownPartitioning(bins.length)
  }

  private def v2Transform(t: PartitionTransforms.Spec):
      org.apache.spark.sql.connector.expressions.Expression =
    PartitionTransforms.v2Expression(t)

  /** Per-partition ordering: the longest common prefix of the files'
    * `sorted` stats claims that survives pruning. A partition is one
    * file, so a file's internal sort order IS the partition's — except
    * when Spark GROUPS same-key partitions (storage-partitioned reads):
    * concatenated files lose row order, so with duplicate keys the
    * claim drops.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (files.isEmpty) return Array.empty
    val sortedLists = files.map(_._2.map(_.sorted).getOrElse(Seq.empty))
    if (sortedLists.exists(_.isEmpty)) return Array.empty
    val (keys, bins) = claims
    // grouping risk: duplicate partition keys merge files into one task
    if (keys.exists(ks => ks.map(_.toString).distinct.length != ks.length))
      return Array.empty
    // packing risk: a multi-file bin concatenates sorted files, which is
    // not sorted — only singleton bins keep the per-partition claim
    if (keys.isEmpty && bins.exists(_.length > 1))
      return Array.empty
    val prefix = sortedLists.reduce { (a, b) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)
    }.takeWhile(required.fieldNames.contains)
    prefix.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the columnar decision is SCAN-GLOBAL (code-review r16): Spark's
    // PARTITION_DEFINED mode REQUIRES every partition of a scan to
    // agree (`Cannot mix row-based and columnar input partitions`), so
    // one tombstoned or JSON file among many parquet files must demote
    // the WHOLE scan to rows, not just its own partition
    val columnarOk =
      files.nonEmpty && files.forall(_._1.endsWith(".parquet")) &&
      deletes.isEmpty && posDeletes.isEmpty &&
      // a live rename demotes to the row path (its per-file phys-name
      // resolution is alias-aware); compaction materializes live names
      // and restores the columnar read (r17 evolution)
      aliases.isEmpty &&
      !required.fieldNames.contains("_pos") &&
      required.fields.exists(f => f.name != "_file" && f.name != "_epoch")
    new ManifestReaderFactory(tableSchema, required, deletes, columnarOk,
      dataFilters, posDeletes, aliases)
  }

  /** PLANNING STATISTICS, once per file set: Catalyst asks for `.stats`
    * many times while it optimizes and plans one query.
    */
  private val statsMemo = new PerFileSet[Statistics](new ScanStatistics(_))
  override def estimateStatistics(): Statistics = statsMemo()

  private final class ScanStatistics(
      files: Seq[(String, Option[ManifestMeta.FileStats])]) extends Statistics {
    private val bytes = files.map { case (n, st) => sizeOf(n, st) }.sum
    // exact when every kept file carries stats (post-skip, pre-residual)
    // and no MoR tombstone or position delete applies (deleted rows
    // would overcount)
    private val rows: Option[Long] =
      if (deletes.isEmpty && posDeletes.isEmpty && files.forall(_._2.isDefined))
        Some(files.map(_._2.get.rows).sum)
      else None
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows(): util.OptionalLong =
      rows.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
    // COLUMN STATISTICS to the CBO (r18, VERDICT r17 Next #6): per-file
    // KMV sketches merge across the kept files (union, K smallest) into
    // a distinct-count estimate, plus the exact null count — translated
    // by Spark's transformV2Stats into logical column stats, so
    // CostBasedJoinReorder can order two-lake-table joins by estimated
    // cardinality instead of defaults. Served only when EVERY kept file
    // sketches the column (a gap would silently undercount). Only the
    // required columns fold, once per file set: per column, O(kept
    // files × K) for the sketches and O(kept files × B² × 40) for the
    // histogram merge, no data touched.
    override def columnStats():
        util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
    private lazy val cols = util.Collections.unmodifiableMap(foldColumns())
    private def foldColumns():
        util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (deletes.nonEmpty || posDeletes.nonEmpty ||
          !files.forall(_._2.isDefined)) return out
      // the SAME conservative cross-file fold the segment envelopes use:
      // exact nulls, union bounds (absent unless every value-holding
      // file has them), merged KMV (absent unless every file sketches)
      val env = ManifestMeta.envelope(files.map(_._2.get),
        required.fieldNames.toSet)
      required.fields.foreach { f =>
        env.cols.get(f.name).filter(_.kmv.isDefined).foreach { c =>
          val ndv = ManifestMeta.Kmv.estimate(c.kmv.get)
          // min/max as the CATALYST value of the column type — numbers
          // for the range math, UTF8String for strings (r19: catalyst
          // ColumnStat stores string bounds as UTF8String, and the
          // writer recorded them in the same binary order, so the
          // NDV-only string estimate regains its min/max sanity bound)
          def asTyped(v: Any): Option[Object] = (f.dataType, v) match {
            case (org.apache.spark.sql.types.LongType, l: Long) =>
              Some(java.lang.Long.valueOf(l))
            case (org.apache.spark.sql.types.IntegerType, l: Long) =>
              Some(java.lang.Integer.valueOf(l.toInt))
            case (org.apache.spark.sql.types.DoubleType, d: Double) =>
              Some(java.lang.Double.valueOf(d))
            case (org.apache.spark.sql.types.StringType, s: String) =>
              Some(UTF8String.fromString(s))
            case _ => None
          }
          val mn = c.min.flatMap(asTyped)
          val mx = c.max.flatMap(asTyped)
          // EQUI-HEIGHT HISTOGRAM to the estimator (r19, VERDICT r18
          // Next #2): the merged boundary mixture serves through the
          // connector Histogram face; transformV2Stats turns it into a
          // catalyst Histogram and FilterEstimation's range math reads
          // actual mass instead of assuming uniform density over
          // [min,max]. Bin NDV is the merged-sketch estimate spread
          // evenly (equality estimates inside bins stay order-of-
          // magnitude; the skew win is in the bin BOUNDARIES).
          val histOpt: Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
            c.hist.filter(h => h.size >= 2 && env.rows > c.nulls).map { bounds =>
              val binN = bounds.size - 1
              val perBinNdv = math.max(1L, ndv / binN)
              val binArr = Array.tabulate(binN) { i =>
                new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                  override def lo(): Double = bounds(i)
                  override def hi(): Double = bounds(i + 1)
                  override def ndv(): Long = perBinNdv
                }
              }
              new org.apache.spark.sql.connector.read.colstats.Histogram {
                override def height(): Double =
                  (env.rows - c.nulls).toDouble / binN
                override def bins():
                    Array[org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                  binArr
              }
            }
          out.put(Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): util.OptionalLong =
                util.OptionalLong.of(ndv)
              override def nullCount(): util.OptionalLong =
                util.OptionalLong.of(c.nulls)
              override def min(): java.util.Optional[Object] =
                mn.map(java.util.Optional.of[Object])
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                mx.map(java.util.Optional.of[Object])
                  .getOrElse(java.util.Optional.empty[Object]())
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                histOpt.map(java.util.Optional.of[
                  org.apache.spark.sql.connector.read.colstats.Histogram])
                  .getOrElse(java.util.Optional.empty())
            })
        }
      }
      out
    }
  }
}

case class ManifestFilePartition(file: String) extends InputPartition

/** A bin of small files one task reads sequentially (task sizing). */
case class ManifestFilesPartition(files: Seq[String]) extends InputPartition

/** A verified partition-pure file: its single partition-key tuple is
  * the key Spark's key-grouped planning reads.
  */
case class ManifestKeyedFilePartition(file: String, key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** STREAMING FROM THE LAKE TABLE — the Delta/Iceberg streaming-source
  * shape: every committed generation is a replayable CHANGE SET, and a
  * streaming query consumes the table one snapshot per micro-batch.
  * Offsets are snapshot generation numbers (checkpoint-durable longs);
  * batch (start, end] reads exactly the files end's manifest added over
  * start's — append-only deltas, each committed row delivered exactly
  * once across the feed. Admission control advances ONE generation per
  * batch, so commit boundaries are batch boundaries (the property a CDC
  * consumer keys on).
  *
  * RETENTION CONTRACT: the feed resolves historical generations via the
  * `_snapshots/` manifests, so `vacuum(root, retainSnapshots = N)` must
  * retain at least the generations an active consumer has not yet read
  * — the same snapshot-expiry discipline every lake streaming source
  * imposes (a pruned snapshot fails the read LOUDLY, never silently).
  */
class ManifestSnapshotStream(path: String, tableSchema: StructType,
    required: StructType,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  // AvailableNow: drain up to the generation observed at trigger time,
  // one generation per batch — later commits wait for the next trigger
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(gens.lastOption.getOrElse(0L))
  override def reportLatestOffset(): Offset =
    SnapshotOffset(gens.lastOption.getOrElse(0L))

  // MAIN lineage only (r19): the snapshot feed walks table history;
  // branch commits surface only via their fast-forward publish
  private def gens: Seq[Long] = ManifestSink.mainSnapshots(path)

  // evolution lines visible at construction are KNOWN — `aliases`
  // covers them for every committed file; only a NEWER line is a
  // mid-feed evolution (r17)
  private val knownEvo: Set[String] = ManifestState.live(Paths.get(path))
    .fold(Set.empty[String])(_.rawTail.filter(ManifestEvolution.isLine).toSet)

  /** Snapshot `gen` (the empty state for gen 0 = before the first
    * commit); LOUD on expiry.
    */
  private def stateAt(gen: Long): ManifestState =
    if (gen == 0L) ManifestState.empty(Paths.get(path), tableSchema.toDDL)
    else ManifestState.at(Paths.get(path), gen).getOrElse(
      throw new IllegalStateException(
        s"snapshot $gen of $path expired while a streaming consumer still " +
          s"needed it — retain more generations in vacuum()"))

  override def initialOffset(): Offset = SnapshotOffset(0L)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[SnapshotOffset].gen
    // one generation per micro-batch: commit boundaries = batch boundaries
    val next = gens.find(_ > s).getOrElse(s)
    SnapshotOffset(availableNowTarget.fold(next)(t => math.min(next, t)))
  }
  override def deserializeOffset(json: String): Offset =
    SnapshotOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotOffset].gen
    val e = end.asInstanceOf[SnapshotOffset].gen
    if (e <= s) return Array.empty
    val start0 = stateAt(s)
    val end0 = stateAt(e)
    val startLines = start0.rawTail
    val endLines = end0.rawTail
    val startNames = start0.names.toSet
    val endNames = end0.names.toSet
    // a MoR tombstone or position delete landing mid-feed is a row
    // REMOVAL the additions-only delta cannot express — same refusal
    // as a rewrite below
    def isRemoval(l: String): Boolean =
      ManifestDeletes.isDeleteLine(l) || ManifestPosDeletes.isLine(l)
    val newTombstones = endLines.filter(isRemoval).toSet --
      startLines.filter(isRemoval)
    if (newTombstones.nonEmpty) throw new IllegalStateException(
      s"non-append snapshot in consumed range ($s, $e] of $path: a MoR " +
        s"delete (tombstone or position delete) was published mid-feed — " +
        "the snapshot feed requires append-only history; compact the " +
        "table (folding the deletes) and restart the feed from the " +
        "current snapshot")
    // SCHEMA EVOLUTION mid-feed (r17): this query's schema and alias
    // map were fixed at start — a rename/drop landing inside the
    // consumed range would silently misresolve columns. Refuse loudly;
    // a restart re-resolves the live schema (old files then read
    // through the alias chain).
    val newEvo = endLines.filter(ManifestEvolution.isLine).toSet --
      startLines.filter(ManifestEvolution.isLine) -- knownEvo
    if (newEvo.nonEmpty) throw new IllegalStateException(
      s"schema evolution in consumed range ($s, $e] of $path: a column " +
        "rename/drop was published mid-feed — restart the streaming " +
        "query so it re-resolves the live schema")
    // ENFORCED append-only contract (VERDICT r15 What's wrong #1): the
    // feed's delta is file ADDITIONS, so a replace-shaped snapshot
    // (compaction, INSERT OVERWRITE, DELETE) inside the consumed range
    // would re-deliver every rewritten row (or silently drop a
    // removal). Removed files between the offsets mean exactly that —
    // refuse LOUDLY, same discipline as the expired-snapshot check.
    val removed = startNames -- endNames
    if (removed.nonEmpty) throw new IllegalStateException(
      s"non-append snapshot in consumed range ($s, $e] of $path: " +
        s"${removed.size} file(s) were removed/rewritten (e.g. " +
        s"${removed.toSeq.sorted.take(3).mkString(", ")}) — the snapshot " +
        "feed requires append-only history; pause streaming consumers " +
        "across compaction/overwrite, or restart the feed from the " +
        "current snapshot")
    val added = (endNames -- startNames).toSeq.sorted
    added.map(n => ManifestFilePartition(
      Paths.get(path).resolve("data").resolve(n).toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(tableSchema, required, aliases = aliases)
}

case class SnapshotOffset(gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = gen.toString
}

class ManifestReaderFactory(tableSchema: StructType, required: StructType,
    deletes: Map[String, Seq[Filter]] = Map.empty,
    columnarOk: Boolean = false,
    dataFilters: Seq[Filter] = Seq.empty,
    /** data-file NAME → full paths of the position-delete files that
      * scope it (r17 MoR row-level DML).
      */
    posDeletes: Map[String, Seq[String]] = Map.empty,
    /** live column → prior names (r17 evolution). */
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {
  /** One Hadoop conf for every parquet file this factory opens (each
    * `new Configuration()` re-parses the default resources). */
  @transient private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  private def deletesFor(file: String): Seq[Filter] =
    if (deletes.isEmpty) Seq.empty
    else deletes.getOrElse(Paths.get(file).getFileName.toString, Seq.empty)

  private def posFor(file: String): java.util.HashSet[java.lang.Long] = {
    if (posDeletes.isEmpty) return null
    val n = Paths.get(file).getFileName.toString
    ManifestPosDeletes.positionsFor(n, posDeletes.getOrElse(n, Seq.empty))
  }

  private def fileReader(file: String): PartitionReader[InternalRow] =
    if (file.endsWith(".parquet"))
      new ManifestParquetReader(file, tableSchema, required, deletesFor(file),
        dataFilters, posFor(file), aliases, hadoopConf)
    else new ManifestJsonReader(file, tableSchema, required, deletesFor(file),
      posFor(file), aliases)

  private def filesOf(p: InputPartition): Seq[String] = p match {
    case ManifestFilePartition(f) => Seq(f)
    case ManifestKeyedFilePartition(f, _) => Seq(f)
    case ManifestFilesPartition(fs) => fs
    case _ => Seq.empty
  }

  /** COLUMNAR parquet reads (VERDICT r15 Next #3): an all-parquet,
    * tombstone-free SCAN decodes through Spark's own
    * VectorizedParquetRecordReader into ColumnarBatches — the
    * whole-stage-codegen-friendly path the row-by-row parquet-mr Group
    * loop could never reach. The answer is one SCAN-GLOBAL constant,
    * decided by the scan over its final file set (code-review r16):
    * Spark's default columnar mode requires every partition to agree,
    * so per-partition answers on a mixed table would fail planning
    * outright, not fall back.
    */
  override def supportColumnarReads(p: InputPartition): Boolean = columnarOk

  override def createColumnarReader(p: InputPartition):
      PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val fs = filesOf(p)
    if (fs.length == 1)
      new ManifestParquetBatchReader(fs.head, tableSchema, required, dataFilters,
        hadoopConf)
    else
      // sequential concatenation, one open batch reader at a time
      new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        private val it = fs.iterator
        private var cur: ManifestParquetBatchReader = _
        override def next(): Boolean = {
          while (true) {
            if (cur == null) {
              if (!it.hasNext) return false
              cur = new ManifestParquetBatchReader(it.next(), tableSchema,
                required, dataFilters, hadoopConf)
            }
            if (cur.next()) return true
            cur.close()
            cur = null
          }
          false
        }
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = cur.get()
        override def close(): Unit = if (cur != null) cur.close()
      }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case ManifestFilePartition(f) => fileReader(f)
      case ManifestKeyedFilePartition(f, _) => fileReader(f)
      case ManifestFilesPartition(fs) =>
        // sequential concatenation: each file's reader opens lazily and
        // closes before the next opens, so a 1000-file bin holds one
        // descriptor at a time; per-file provenance (_file/_epoch) rides
        // the delegate readers untouched
        new PartitionReader[InternalRow] {
          private val it = fs.iterator
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (true) {
              if (cur == null) {
                if (!it.hasNext) return false
                cur = fileReader(it.next())
              }
              if (cur.next()) return true
              cur.close()
              cur = null
            }
            false
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
    }
}

/** VECTORIZED parquet partition reader (VERDICT r15 Next #3): decodes a
  * committed parquet file through Spark's VectorizedParquetRecordReader
  * — column-chunk projected, batch-at-a-time, zero per-row boxing. The
  * provenance metadata columns (`_file`, `_epoch`) and columns the
  * table gained after this file was committed (ALTER ADD COLUMN → read
  * null) ride the reader's partition-column mechanism as per-file
  * CONSTANT vectors. Output vectors are reordered once to the pruned
  * read schema; each nextBatch only resets the row count.
  */
class ManifestParquetBatchReader(val file: String, tableSchema: StructType,
    required: StructType,
    filters: Seq[Filter],
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch]
    with ManifestRowProvenance {
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.vectorized.ColumnarBatch

  import org.apache.parquet.hadoop.ParquetFileReader

  // ONE open and ONE footer read per file: the footer gives the field
  // set and the predicate's columns, then the file reader opens on that
  // same footer and stream
  private val hadoopPath = new org.apache.hadoop.fs.Path(file)
  private val inputFile =
    org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hadoopPath, hadoopConf)
  private val stream = inputFile.newStream()
  private val (footer, fileReader, present, constants) = try {
    val footer = ParquetFileReader.readFooter(inputFile,
      org.apache.parquet.HadoopReadOptions.builder(hadoopConf, hadoopPath).build(), stream)
    val fileSchema = footer.getFileMetaData.getSchema
    val fileFields = fileSchema.getFields.toArray
      .map(_.asInstanceOf[org.apache.parquet.schema.Type].getName).toSet
    // data columns to decode: required minus metadata minus columns the
    // file predates — same projection rule as the row reader
    val present = required.fields.filter(f =>
      f.name != "_file" && f.name != "_epoch" && fileFields.contains(f.name))
    // everything else in `required` is a per-file constant
    val presentNames = present.map(_.name).toSet
    val constants = required.fields.filterNot(f => presentNames.contains(f.name))
    val types: Map[String, DataType] =
      tableSchema.fields.map(f => f.name -> f.dataType).toMap
    // ROW-GROUP FILTER PUSHDOWN (VERDICT r16 Next #3): when the scan's
    // pushed filters translate to a parquet FilterPredicate, the file
    // opens with a record filter — parquet-mr then drops whole row
    // groups whose footer min/max refute the predicate before a single
    // page decodes. Filters stay residual in Spark, so this is pure
    // pruning (the vectorized reader itself never filters records).
    val pred = ManifestParquetFilters.predicate(filters, types, fileFields)
      .filter(_ => present.nonEmpty)
    val opts = org.apache.parquet.HadoopReadOptions.builder(hadoopConf, hadoopPath)
    pred.foreach(p => opts.withRecordFilter(
      org.apache.parquet.filter2.compat.FilterCompat.get(p)))
    val fileReader = ParquetFileReader.open(inputFile, footer, opts.build(), stream)
    if (pred.isDefined)
      ManifestRead.lastRowGroupLedger.set(
        (fileReader.getRowGroups.size(), footer.getBlocks.size()))
    (footer, fileReader, present, constants)
  } catch {
    case e: Throwable => stream.close(); throw e
  }
  ManifestRead.lastParquetProjection.set(present.map(_.name).toSeq)

  private val reader = new VectorizedParquetRecordReader(false, 4096)
  locally {
    val fileSchema = footer.getFileMetaData.getSchema
    val reqSchema = new org.apache.parquet.schema.MessageType(fileSchema.getName,
      present.map(f => fileSchema.getFields.get(fileSchema.getFieldIndex(f.name))).toSeq: _*)
    // only the projected column chunks are read
    fileReader.setRequestedSchema(reqSchema)
    org.apache.spark.sql.execution.datasources.parquet.GraftVectorizedBridge
      .initWithRowGroups(reader, fileSchema, reqSchema, fileReader,
        fileReader.getRecordCount)
  }
  reader.initBatch(
    StructType(constants),
    InternalRow.fromSeq(constants.toIndexedSeq.map {
      case f if f.name == "_file" => fileNameUtf8
      case f if f.name == "_epoch" => epochOfFile
      case _ => null // post-commit ADD COLUMN: absent reads null
    }))
  reader.enableReturningBatches()

  // the reader's batch lays out [present..., constants...]; remap the
  // vectors ONCE into `required` order (vector identity is stable
  // across nextBatch calls — only numRows changes)
  private lazy val out: ColumnarBatch = {
    val rb = reader.resultBatch()
    val idx = (present.map(_.name) ++ constants.map(_.name)).zipWithIndex.toMap
    new ColumnarBatch(required.fields.map(f => rb.column(idx(f.name))))
  }

  override def next(): Boolean = reader.nextKeyValue()
  override def get(): ColumnarBatch = {
    out.setNumRows(reader.resultBatch().numRows())
    out
  }
  override def close(): Unit = reader.close()
}

/** Lineage metadata shared by both payload readers: the committed file
  * name and the streaming epoch its name carries (-1 for batch files).
  */
private[sources] trait ManifestRowProvenance {
  def file: String
  protected val fileName: String = Paths.get(file).getFileName.toString
  protected val fileNameUtf8: UTF8String = UTF8String.fromString(fileName)
  protected val epochOfFile: Long =
    if (fileName.startsWith("e"))
      fileName.drop(1).takeWhile(_ != '-').toLongOption.getOrElse(-1L)
    else -1L
}

/** Streams one committed JSON-lines file as InternalRows of the pruned
  * schema. The contract:
  *   - it is the exact inverse of [[JsonRowFileWriter]]: one
  *     `{"name":value,...}` object per `\n`-terminated line, values ∈
  *     {null, integer/decimal literal, escaped string}, read as UTF-8
  *     bytes through one reused buffer that grows to the longest line;
  *   - it decodes only the required columns plus the columns a tombstone
  *     reads. Every other value is skipped by its syntax, undecoded, and
  *     `_file`, `_epoch` and `_pos` are per-file constants or the
  *     physical row counter;
  *   - keys match without hashing. The writer keeps schema order, so the
  *     k-th key of a line is checked by one byte compare against the key
  *     the k-th key of the previous line matched, and looked up by name
  *     only on a miss. The lookup remaps a prior key to its live column
  *     (`aliases`) and skips keys the table schema lacks; a schema column
  *     the line lacks reads null;
  *   - an escape-free string is the bytes of its range; one with escapes
  *     decodes through [[ManifestMeta.decodeEscaped]], the one escape
  *     grammar of the lake's JSON.
  * Each row is a [[GenericInternalRow]] over a fresh value array.
  */
class ManifestJsonReader(val file: String, tableSchema: StructType,
    required: StructType, deletes: Seq[Filter] = Seq.empty,
    posDeletes: java.util.HashSet[java.lang.Long] = null,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReader[InternalRow]
    with ManifestRowProvenance {
  import ManifestJsonReader._

  private val in = Files.newInputStream(Paths.get(file))
  private var buf = new Array[Byte](1 << 16)
  private var filled = 0 // bytes of `buf` read from the file
  private var next0 = 0 // first byte of the next line
  private var eof = false
  private var lineStart = 0
  private var lineEnd = 0 // the line's '\n' (or end of file)

  private val types: Map[String, DataType] =
    tableSchema.fields.map(f => f.name -> f.dataType).toMap
  private def isMeta(n: String) = n == "_file" || n == "_epoch" || n == "_pos"
  /** Decoded column → its slot: an index of the output row, or `-1 - k`
    * for the k-th column only a tombstone reads. */
  private val slotOf: Map[String, Int] = {
    val out = required.fields.iterator.zipWithIndex
      .collect { case (f, i) if !isMeta(f.name) && types.contains(f.name) => f.name -> i }
      .toMap
    val extra = ManifestDeletes.referencedCols(deletes).toSeq
      .filter(c => types.contains(c) && !out.contains(c)).sorted
    out ++ extra.zipWithIndex.map { case (c, k) => c -> (-1 - k) }
  }
  private val extra = new Array[Any](slotOf.count(_._2 < 0))
  private val decodes = slotOf.nonEmpty
  private val epochBoxed: Any = epochOfFile
  private val fileIdx = required.fieldNames.indexOf("_file")
  private val epochIdx = required.fieldNames.indexOf("_epoch")
  private val posIdx = required.fieldNames.indexOf("_pos")

  /** Every key the file may hold: live names and the prior names of
    * their rename chains, each resolved to its live column's slot; keys
    * met outside this set are appended as skipped. */
  private var keys: Array[Key] = {
    val keyToCurrent = aliases.iterator.flatMap { case (c, ps) => ps.map(_ -> c) }.toMap
    (tableSchema.fieldNames ++ keyToCurrent.keys).distinct.map { raw =>
      val live = keyToCurrent.getOrElse(raw, raw)
      new Key(raw.getBytes(UTF_8), slotOf.getOrElse(live, Skip), types.getOrElse(live, null))
    }
  }
  /** Index into `keys` of the previous line's k-th key. */
  private var guess = Array.fill(keys.length)(-1)

  private var row: Array[Any] = _
  private var current: InternalRow = _
  // PHYSICAL row position within the file (the `_pos` metadata column
  // and the position-delete key): counts every stored row — rows a
  // tombstone or position delete removes still advance it
  private var pos: Long = -1L

  private val cellOf: String => Any = name => slotOf.get(name) match {
    case Some(s) => if (s >= 0) row(s) else extra(-1 - s)
    case None => null
  }

  override def next(): Boolean = {
    while (nextLine()) {
      pos += 1L
      if (posDeletes == null || !posDeletes.contains(pos)) {
        if (row == null) row = new Array[Any](required.length)
        else java.util.Arrays.fill(row.asInstanceOf[Array[AnyRef]], null)
        if (extra.length > 0) java.util.Arrays.fill(extra.asInstanceOf[Array[AnyRef]], null)
        if (decodes) parseLine()
        if (deletes.isEmpty || ManifestDeletes.survives(deletes, cellOf, types)) {
          if (fileIdx >= 0) row(fileIdx) = fileNameUtf8
          if (epochIdx >= 0) row(epochIdx) = epochBoxed
          if (posIdx >= 0) row(posIdx) = java.lang.Long.valueOf(pos)
          current = new GenericInternalRow(row)
          row = null
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()

  /** Advances `lineStart`/`lineEnd` to the next line, reading more of the
    * file as needed; false at end of file. */
  private def nextLine(): Boolean = {
    var scan = next0
    while (true) {
      while (scan < filled && buf(scan) != '\n') scan += 1
      if (scan < filled || (eof && next0 < filled)) {
        lineStart = next0
        lineEnd = scan
        next0 = math.min(scan + 1, filled)
        return true
      }
      if (eof) return false
      // keep the partial line: move it to the front, grow when it fills the buffer
      val keep = filled - next0
      if (next0 == 0 && keep == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      else System.arraycopy(buf, next0, buf, 0, keep)
      scan -= next0
      next0 = 0
      filled = keep
      val n = in.read(buf, filled, buf.length - filled)
      if (n < 0) eof = true else filled += n
    }
    false
  }

  private def parseLine(): Unit = {
    val b = buf
    val e = lineEnd
    var i = lineStart + 1 // past '{'
    var k = 0
    while (i < e && b(i) != '}') {
      if (b(i) == ',') i += 1
      val ks = i + 1
      var ke = ks
      while (ke < e && b(ke) != '"') ke += 1
      val key = keyAt(k, ks, ke)
      k += 1
      i = ke + 2 // past the closing quote and ':'
      i = if (key.slot == Skip) skipValue(i, e) else readValue(i, e, key)
    }
  }

  /** The key in `buf(ks until ke)`, the k-th of its line. */
  private def keyAt(k: Int, ks: Int, ke: Int): Key = {
    if (k >= guess.length) guess = java.util.Arrays.copyOf(guess, k * 2 + 1)
    val g = guess(k)
    if (g >= 0 && keys(g).is(buf, ks, ke)) return keys(g)
    var j = 0
    while (j < keys.length && !keys(j).is(buf, ks, ke)) j += 1
    if (j == keys.length) // a key the table schema lacks: skipped from now on
      keys = keys :+ new Key(java.util.Arrays.copyOfRange(buf, ks, ke), Skip, null)
    guess(k) = j
    keys(j)
  }

  /** Index just past the value at `i`, undecoded. */
  private def skipValue(i0: Int, e: Int): Int = {
    val b = buf
    var i = i0
    b(i) match {
      case '"' => stringEnd(i)
      case 'n' => i + 4
      case _ =>
        while (i < e && b(i) != ',' && b(i) != '}') i += 1
        i
    }
  }

  /** Index just past the closing quote of the string opening at `q`. */
  private def stringEnd(q: Int): Int = {
    val b = buf
    var i = q + 1
    while (b(i) != '"') i += (if (b(i) == '\\') 2 else 1)
    i + 1
  }

  /** Decodes the value at `i` into `key`'s slot; returns the index past it. */
  private def readValue(i0: Int, e: Int, key: Key): Int = {
    val b = buf
    var i = i0
    val v: Any = b(i) match {
      case '"' =>
        var j = i + 1
        while (b(j) != '"' && b(j) != '\\') j += 1
        if (b(j) == '"') {
          val s = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, i + 1, j))
          i = j + 1
          s
        } else {
          val end = stringEnd(i)
          val s = ManifestMeta.decodeEscaped(new String(b, i, end - i, UTF_8), 1)._1
          i = end
          UTF8String.fromString(s)
        }
      case 'n' =>
        i += 4
        null
      case _ =>
        var j = i
        while (j < e && b(j) != ',' && b(j) != '}') j += 1
        val s = i
        i = j
        key.dt match {
          case LongType => java.lang.Long.valueOf(text(s, j))
          case IntegerType => java.lang.Integer.valueOf(text(s, j))
          case DoubleType => java.lang.Double.parseDouble(text(s, j))
          case StringType => // unquoted never written; defensive
            UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, s, j))
          case other => throw new IllegalArgumentException(
            s"unsupported manifest read type $other")
        }
    }
    if (key.slot >= 0) row(key.slot) = v else extra(-1 - key.slot) = v
    i
  }

  private def text(s: Int, e: Int): String = new String(buf, s, e - s, UTF_8)
}

private[sources] object ManifestJsonReader {
  /** The slot of a key no column reads. */
  val Skip: Int = Int.MinValue

  /** A file key: its UTF-8 bytes, the slot its value decodes into (or
    * [[Skip]]) and that slot's type. */
  final class Key(val bytes: Array[Byte], val slot: Int, val dt: DataType) {
    def is(b: Array[Byte], s: Int, e: Int): Boolean =
      java.util.Arrays.equals(bytes, 0, bytes.length, b, s, e)
  }
}

/** Streams one committed PARQUET file as InternalRows of the pruned
  * schema through parquet-mr's record reader with a PROJECTED read
  * schema — unreferenced column chunks are never decoded (that's
  * parquet-mr's projection contract, pinned via
  * [[ManifestRead.lastParquetProjection]]). Columns the table schema
  * gained after this file was committed (ALTER ADD COLUMN) are absent
  * from the file's footer and read back null — the same by-name
  * resolution as the JSON path.
  */
class ManifestParquetReader(val file: String, tableSchema: StructType,
    required: StructType, deletes: Seq[Filter] = Seq.empty,
    dataFilters: Seq[Filter] = Seq.empty,
    posDeletes: java.util.HashSet[java.lang.Long] = null,
    aliases: Map[String, Seq[String]] = Map.empty,
    /** the factory's shared conf: read, never set */
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow]
    with ManifestRowProvenance {
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private val hadoopPath = new org.apache.hadoop.fs.Path(file)

  // columns this reader must decode: required minus metadata, minus
  // schema-evolution columns the file doesn't have (they read null) —
  // PLUS any column a MoR tombstone predicate reads (decoded for the
  // row-level evaluation, dropped from the projected output).
  // The footer field set is CACHED per path (ADVICE r15): committed
  // data files are immutable and job-token-uniquely named, so repeat
  // scans pay one footer open per file total instead of one extra per
  // read — the builder below already re-reads the footer internally.
  private val fileFields: Set[String] =
    ManifestParquetReader.fieldsOf(file, hadoopConf)
  /** A live column's PHYSICAL name inside THIS file: itself, or a prior
    * name of its rename chain (r17 evolution) — None when the file
    * predates the column entirely (reads null).
    */
  private def physOf(name: String): Option[String] =
    if (fileFields.contains(name)) Some(name)
    else aliases.getOrElse(name, Seq.empty).find(fileFields.contains)
  private val deleteCols: Set[String] =
    if (deletes.isEmpty) Set.empty
    else ManifestDeletes.referencedCols(deletes).filter(physOf(_).isDefined)
  /** (physical field for the parquet read schema, LIVE name the row
    * assembly and tombstone eval resolve by).
    */
  private val projected: Array[(org.apache.spark.sql.types.StructField, String)] = {
    val dataCols = required.fields.flatMap(f =>
      if (f.name == "_file" || f.name == "_epoch" || f.name == "_pos") None
      else physOf(f.name).map(p =>
        (org.apache.spark.sql.types.StructField(p, f.dataType, f.nullable),
          f.name)))
    val names = dataCols.map(_._2).toSet
    val extra = tableSchema.fields.flatMap(f =>
      if (deleteCols.contains(f.name) && !names.contains(f.name))
        physOf(f.name).map(p =>
          (org.apache.spark.sql.types.StructField(p, f.dataType, f.nullable),
            f.name))
      else None)
    val all = dataCols ++ extra
    // an empty projection is invalid parquet: drive row iteration off
    // the file's narrowest declared column instead
    if (all.nonEmpty) all
    else tableSchema.fields.flatMap(f => physOf(f.name).map(p =>
      (org.apache.spark.sql.types.StructField(p, f.dataType, f.nullable),
        f.name))).take(1)
  }
  /** live name → physical name, for decoded columns of this file. */
  private val physName: Map[String, String] =
    projected.iterator.map { case (pf, cur) => cur -> pf.name }.toMap
  ManifestRead.lastParquetProjection.set(projected.map(_._1.name).toSeq)

  private val reader: ParquetReader[org.apache.parquet.example.data.Group] = {
    // the read schema rides the read support, not the shared conf
    val projection = ManifestParquet.messageType(StructType(projected.map(_._1)))
    val support = new GroupReadSupport {
      override def init(context: InitContext): ReadSupport.ReadContext =
        new ReadSupport.ReadContext(
          ReadSupport.getSchemaForRead(context.getFileSchema, projection))
    }
    val b = ParquetReader.builder(support, hadoopPath)
      .withConf(hadoopConf)
    // ROW-GROUP + record-level pushdown on the row path too (r17):
    // restricted to PROJECTED columns — parquet-mr's record-level
    // filtering runs against the requested schema, so a predicate on a
    // pruned-away column must not reach it. Record-level dropping is
    // sound: residual filters re-evaluate in Spark, and exactly-pushed
    // filters keep every row of a kept file by construction.
    // DISABLED whenever physical positions matter (`_pos` served or
    // position deletes applied): parquet-level skipping would desync
    // the position counter from storage order.
    val posSensitive = posDeletes != null ||
      required.fieldNames.contains("_pos")
    // filters reference LIVE names; parquet-mr needs PHYSICAL ones. A
    // filter is pushable here only when every referenced column decodes
    // from this file UNDER ITS OWN live name (phys == live) — aliased
    // columns just skip parquet-level pruning for this file (sound:
    // pruning only, the filter stays residual or exactly-kept above)
    val pushableNames = projected.iterator
      .filter { case (pf, cur) => pf.name == cur }.map(_._2).toSet
    val filterable =
      if (posSensitive) Seq.empty
      else dataFilters.filter(_.references.forall(pushableNames.contains))
    val types0 = tableSchema.fields.map(f => f.name -> f.dataType).toMap
    ManifestParquetFilters.predicate(filterable, types0, fileFields) match {
      case Some(pred) => b.withFilter(
        org.apache.parquet.filter2.compat.FilterCompat.get(pred)).build()
      case None => b.build()
    }
  }

  private val types: Map[String, DataType] =
    tableSchema.fields.map(f => f.name -> f.dataType).toMap

  private def cell(g: org.apache.parquet.example.data.Group, name: String): Any = {
    // resolve the LIVE name to this file's physical field; a file that
    // predates the column (post-commit ADD COLUMN) reads null
    val phys = physName.getOrElse(name, name)
    if (!fileFields.contains(phys)) null
    else if (g.getFieldRepetitionCount(phys) == 0) null
    else types(name) match {
      case LongType => g.getLong(phys, 0)
      case IntegerType => g.getInteger(phys, 0)
      case DoubleType => g.getDouble(phys, 0)
      case StringType => UTF8String.fromString(g.getString(phys, 0))
      case other => throw new IllegalArgumentException(
        s"unsupported manifest read type $other")
    }
  }

  private var current: org.apache.parquet.example.data.Group = _
  // PHYSICAL position within the file — valid because parquet-level
  // filtering is disabled whenever positions matter (see above)
  private var pos: Long = -1L

  override def next(): Boolean = {
    while (true) {
      current = reader.read()
      if (current == null) return false
      pos += 1L
      if ((posDeletes == null || !posDeletes.contains(pos)) &&
          (deletes.isEmpty ||
            ManifestDeletes.survives(deletes, cell(current, _), types)))
        return true
    }
    false
  }

  override def get(): InternalRow = {
    val g = current
    InternalRow.fromSeq(required.fields.toIndexedSeq.map {
      case f if f.name == "_file" => fileNameUtf8
      case f if f.name == "_epoch" => epochOfFile
      case f if f.name == "_pos" => java.lang.Long.valueOf(pos)
      case f => cell(g, f.name)
    })
  }

  override def close(): Unit = reader.close()
}

/** v1 Filter → parquet-mr `FilterPredicate` translation (VERDICT r16
  * Next #3: row-group skipping INSIDE files). Only predicates whose
  * every referenced column exists in the target file's footer translate
  * (parquet-mr's schema validator rejects unknown columns); anything
  * else returns None and that filter simply doesn't prune row groups.
  *
  * SOUNDNESS: pushed filters are either residual (Spark re-evaluates
  * row-level, so parquet may over- or exactly-keep freely) or exactly
  * pushed (every kept file is fully-in, so a correct predicate keeps
  * every row). The one SQL-vs-parquet semantic gap — `notEq` keeps
  * nulls where SQL's NOT(=) drops them — only ever OVER-keeps, and
  * Not is never exactly pushed (mustMatch has no Not case), so the
  * residual filter always stands above it.
  */
private[sources] object ManifestParquetFilters {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
  import org.apache.parquet.io.api.Binary
  import org.apache.spark.sql.sources._

  def predicate(filters: Seq[Filter], types: Map[String, DataType],
      fileFields: Set[String]): Option[FilterPredicate] = {
    val ps = filters.flatMap(one(_, types, fileFields))
    ps.reduceOption(FilterApi.and)
  }

  private def one(f: Filter, types: Map[String, DataType],
      fileFields: Set[String]): Option[FilterPredicate] = {
    def ok(a: String): Boolean = fileFields.contains(a) && types.contains(a)
    def lng(a: String) = FilterApi.longColumn(a)
    def int(a: String) = FilterApi.intColumn(a)
    def dbl(a: String) = FilterApi.doubleColumn(a)
    def bin(a: String) = FilterApi.binaryColumn(a)
    // typed dispatch: one closure per comparison shape
    def cmp(a: String, v: Any,
        fl: (Operators.LongColumn, java.lang.Long) => FilterPredicate,
        fi: (Operators.IntColumn, java.lang.Integer) => FilterPredicate,
        fd: (Operators.DoubleColumn, java.lang.Double) => FilterPredicate,
        fb: (Operators.BinaryColumn, Binary) => FilterPredicate): Option[FilterPredicate] =
      if (!ok(a) || v == null) None
      else types(a) match {
        case LongType => Some(fl(lng(a), v.asInstanceOf[Number].longValue()))
        case IntegerType => Some(fi(int(a), v.asInstanceOf[Number].intValue()))
        case DoubleType => Some(fd(dbl(a), v.asInstanceOf[Number].doubleValue()))
        case StringType => Some(fb(bin(a), Binary.fromString(v.toString)))
        case _ => None
      }
    def eqNull(a: String): Option[FilterPredicate] =
      if (!ok(a)) None
      else types(a) match {
        case LongType => Some(FilterApi.eq(lng(a), null.asInstanceOf[java.lang.Long]))
        case IntegerType => Some(FilterApi.eq(int(a), null.asInstanceOf[java.lang.Integer]))
        case DoubleType => Some(FilterApi.eq(dbl(a), null.asInstanceOf[java.lang.Double]))
        case StringType => Some(FilterApi.eq(bin(a), null.asInstanceOf[Binary]))
        case _ => None
      }
    f match {
      case EqualTo(a, v) => cmp(a, v, FilterApi.eq, FilterApi.eq, FilterApi.eq, FilterApi.eq)
      case EqualNullSafe(a, null) => eqNull(a)
      case EqualNullSafe(a, v) => cmp(a, v, FilterApi.eq, FilterApi.eq, FilterApi.eq, FilterApi.eq)
      case GreaterThan(a, v) => cmp(a, v, FilterApi.gt, FilterApi.gt, FilterApi.gt, FilterApi.gt)
      case GreaterThanOrEqual(a, v) => cmp(a, v, FilterApi.gtEq, FilterApi.gtEq, FilterApi.gtEq, FilterApi.gtEq)
      case LessThan(a, v) => cmp(a, v, FilterApi.lt, FilterApi.lt, FilterApi.lt, FilterApi.lt)
      case LessThanOrEqual(a, v) => cmp(a, v, FilterApi.ltEq, FilterApi.ltEq, FilterApi.ltEq, FilterApi.ltEq)
      case In(a, vs) =>
        // OR-fold of equalities; a null member never matches a row the
        // SQL IN would keep, so it simply drops from the fold
        val parts = vs.toSeq.filter(_ != null).map(v =>
          cmp(a, v, FilterApi.eq, FilterApi.eq, FilterApi.eq, FilterApi.eq))
        if (parts.isEmpty || parts.exists(_.isEmpty)) None
        else Some(parts.map(_.get).reduce(FilterApi.or))
      case IsNull(a) => eqNull(a)
      case IsNotNull(a) => eqNull(a).map(FilterApi.not)
      case And(l, r) =>
        // AND may translate one side alone (a partial AND still prunes
        // soundly); OR must translate both or nothing
        (one(l, types, fileFields), one(r, types, fileFields)) match {
          case (Some(lp), Some(rp)) => Some(FilterApi.and(lp, rp))
          case (Some(lp), None) => Some(lp)
          case (None, Some(rp)) => Some(rp)
          case _ => None
        }
      case Or(l, r) =>
        for { lp <- one(l, types, fileFields); rp <- one(r, types, fileFields) }
          yield FilterApi.or(lp, rp)
      case Not(EqualTo(a, v)) =>
        // parquet notEq keeps nulls (SQL drops them): pure over-keep,
        // and Not is never exactly pushed — residual filter corrects
        cmp(a, v, FilterApi.notEq, FilterApi.notEq, FilterApi.notEq, FilterApi.notEq)
      case _ => None // StartsWith, general Not, Always*: no row-group pruning
    }
  }
}

object ManifestParquetReader {
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile

  /** Footer field names per committed parquet file, cached by path —
    * sound because committed data files are immutable (names carry a
    * per-job token; a new job can never republish an old name). Bounded:
    * the cache clears wholesale past 8192 entries (vacuumed files leave
    * harmless stale keys behind otherwise).
    */
  private val fieldCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  private[sources] def fieldsOf(file: String,
      conf: org.apache.hadoop.conf.Configuration): Set[String] = {
    val hit = fieldCache.get(file)
    if (hit != null) return hit
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf))
    val fields =
      try r.getFooter.getFileMetaData.getSchema.getFields
        .toArray.map(_.asInstanceOf[org.apache.parquet.schema.Type].getName).toSet
      finally r.close()
    if (fieldCache.size() > 8192) fieldCache.clear()
    fieldCache.put(file, fields)
    fields
  }
}
