package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING CHANGE-DATA FEED over a committed manifest table — the
  * streaming face of [[ManifestChanges.readChanges]] (the Delta CDF
  * shape: reference's Pub/Sub change consumers re-expressed as a lake
  * CDC source). The append-only snapshot feed
  * ([[ManifestSnapshotStream]]) refuses LOUDLY on rewrites and MoR
  * deletes by design; this source is the consumer-side answer — every
  * committed generation streams as a micro-batch of row-level changes
  * (`_change_type` ∈ insert|delete, `_commit_gen` = the producing
  * generation), so DELETE, UPDATE and compaction no longer force a
  * consumer restart:
  *
  *   state(g') = state(g) ⊎ inserts − deletes    (multisets, per batch)
  *
  * Per generation window (g, g'] — identical semantics to the batch
  * feed, but computed PER FILE so each change set plans as ordinary
  * file-parallel input partitions (no driver-side row work, no joins):
  *   - files ADDED by g' emit their rows as inserts (with the deletes
  *     applicable AT g' — a delta commit's position deletes scope
  *     pre-commit files only, so its inserts are clean);
  *   - files REMOVED by g' emit their g-visible rows as deletes (a
  *     compaction therefore emits cancelling delete+insert pairs);
  *   - deletes NEW in g' on carried files (predicate tombstones,
  *     position deletes) emit exactly the rows they killed: rows
  *     visible at g whose new predicate is TRUE or whose physical
  *     position is newly deleted — one provenance read per file, one
  *     emission per physical row.
  *
  * Offsets are snapshot generations (checkpoint-durable longs), one
  * generation per micro-batch, so commit boundaries are batch
  * boundaries — the property a CDC consumer keys on. Exactly-once
  * across restarts rides the offset log: a replayed batch re-derives
  * the identical change set from the immutable snapshots.
  *
  * RETENTION CONTRACT: historical generations resolve via
  * `_snapshots/`; `vacuum(root, retainSnapshots = N)` must retain the
  * generations an active consumer has not read. An expired generation
  * fails the read LOUDLY, never silently (retention expires a prefix,
  * so validated window endpoints imply no interior gaps).
  *
  * Scale shape: each window reads only the files its commit touched
  * (added, removed, or newly delete-scoped); nothing ever diffs
  * row-wise against the full table, and each touched file is one input
  * partition.
  */
class GraftChanges extends TableProvider {
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft changes feed requires a 'path' option"))
    val m = Paths.get(root).resolve("manifest.json")
    if (!Files.exists(m)) throw new IllegalArgumentException(
      s"no manifest at $root — write before reading changes")
    val r = Files.newBufferedReader(m, StandardCharsets.UTF_8)
    val data = try StructType.fromDDL(r.readLine()) finally r.close()
    GraftChanges.feedSchema(data)
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangesTable(properties.get("path"), schema,
      GraftChanges.startSpec(k => Option(properties.get(k))),
      Option(properties.get("gensPerBatch")).map(_.toInt).getOrElse(1))
}

object GraftChanges {
  val ChangeType = "_change_type"
  val CommitGen = "_commit_gen"

  /** The feed's starting point as given: a generation, a timestamp
    * (epoch millis), or neither (gen 0 = full replay). Mutual exclusion
    * checked here; TIMESTAMP resolution is deliberately DEFERRED — see
    * [[resolveStartingGen]].
    */
  case class StartSpec(gen: Option[Long], tsMillis: Option[Long]) {
    require(gen.isEmpty || tsMillis.isEmpty,
      "set either startingGen or startingTimestamp on the changes feed, " +
        "not both")
  }

  def startSpec(opt: String => Option[String]): StartSpec =
    StartSpec(
      opt("startingGen").map(v => v.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"startingGen '$v' is not a snapshot generation number"))),
      opt("startingTimestamp").map(parseStartingTimestamp))

  /** `startingTimestamp` accepts epoch millis or a timestamp string —
    * ISO-8601 instants (`2026-01-01T00:00:00Z`) and the SQL shape
    * (`2026-01-01 00:00:00[.fff]`, interpreted in UTC like every other
    * instant in the engine), or a bare date (midnight UTC). Anything
    * else fails LOUDLY naming the option (ADVICE r18 — a bare `.toLong`
    * was surfacing an uncontextualized NumberFormatException at table
    * load).
    */
  def parseStartingTimestamp(v: String): Long = {
    val t = v.trim
    t.toLongOption.getOrElse {
      try java.time.Instant.parse(t).toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        catch { case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDate.parse(t).atStartOfDay()
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          catch { case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              s"startingTimestamp '$v' is neither epoch millis nor a " +
                "timestamp — expected e.g. 1700000000000, " +
                "'2026-01-01 00:00:00' (UTC), or " +
                "'2026-01-01T00:00:00Z'")
          }
        }
      }
    }
  }

  /** Resolve a [[StartSpec]] to a starting generation through the `#t:`
    * commit instants: the LATEST retained generation whose commit is at
    * or before the asked instant — the SAME boundary rule as TIMESTAMP
    * AS OF (a timestamp exactly on a commit instant is starting STATE,
    * so its changes do not replay).
    *
    * STRICT mode (a FRESH stream's initialOffset): a timestamp before
    * every retained commit refuses LOUDLY — retention may have expired
    * the history the consumer asked for, and silently starting at the
    * earliest retained state would skip changes (a full replay from the
    * empty table stays explicit: `startingGen = 0`).
    *
    * LENIENT mode (stream construction): the same pre-history timestamp
    * resolves to 0 instead. A CHECKPOINTED restart never calls
    * initialOffset — its position is the offset log — so construction
    * must not fail just because vacuum has since expired the commits at
    * or before the original timestamp (code-review r18); the lenient
    * floor only scopes the evolution-ledger accumulation, and 0 is
    * exact there: every retained generation postdates the expired
    * start, so the filtered range is identical.
    */
  def resolveStartingGen(path: String, spec: StartSpec,
      strict: Boolean): Long = spec.tsMillis match {
    case Some(ts) =>
      val ledger = ManifestSink.snapshotTimestamps(path)
      ledger.filter(_._2 <= ts).lastOption.map(_._1).getOrElse {
        if (!strict) 0L
        else throw new IllegalArgumentException(
          s"startingTimestamp ${ts}ms precedes every retained commit " +
            s"of $path — history before it may be expired; available " +
            "instants: " + ledger.map { case (g, m) =>
              s"gen $g @ ${m}ms" }.mkString(", ") +
            ". For a full replay from the empty table use startingGen=0.")
      }
    case None => spec.gen.getOrElse(0L)
  }

  /** Data schema + the two change columns (always last, Delta's CDF
    * column shape).
    */
  def feedSchema(data: StructType): StructType = {
    require(!data.fieldNames.contains(ChangeType) &&
      !data.fieldNames.contains(CommitGen),
      s"table schema already defines $ChangeType/$CommitGen")
    StructType(data.fields ++ Seq(
      StructField(ChangeType, StringType, nullable = false),
      StructField(CommitGen, LongType, nullable = false)))
  }
}

class ChangesTable(path: String, feedSchema: StructType,
    start: GraftChanges.StartSpec, gensPerBatch: Int = 1)
    extends Table with SupportsRead {
  override def name(): String = s"graft_changes($path)"
  override def schema(): StructType = feedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangesScanBuilder(path, feedSchema,
      if (options.containsKey("startingGen") ||
          options.containsKey("startingTimestamp"))
        GraftChanges.startSpec(k => Option(options.get(k)))
      else start,
      Option(options.get("gensPerBatch")).map(_.toInt).getOrElse(gensPerBatch))
}

class ChangesScanBuilder(path: String, feedSchema: StructType,
    start: GraftChanges.StartSpec, gensPerBatch: Int = 1)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = feedSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve feed-schema field order regardless of the pruned order
    required = StructType(feedSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = {
    val data = StructType(feedSchema.fields.filter(f =>
      f.name != GraftChanges.ChangeType && f.name != GraftChanges.CommitGen))
    new ChangesScan(path, data, required, start, gensPerBatch)
  }
}

class ChangesScan(path: String, dataSchema: StructType, required: StructType,
    start: GraftChanges.StartSpec, gensPerBatch: Int = 1) extends Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftChangesScan(path=$path, from=$start)"
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ManifestChangesStream(path, dataSchema, required, start,
      gensPerBatch)
}

/** One file's contribution to a generation's change set. `newPreds` /
  * `newPosFiles` non-null ⇒ KILLED mode: emit the rows the window's NEW
  * deletes removed from this carried file (rows must survive the OLD
  * deletes `preds`/`posFiles` and be killed by the new ones). Otherwise
  * the file was added (insert=true, deletes applicable at the window
  * end) or removed (insert=false, deletes applicable at the window
  * start).
  */
case class ChangeFeedPartition(file: String, gen: Long, insert: Boolean,
    preds: Seq[Filter], posFiles: Seq[String],
    newPreds: Seq[Filter], newPosFiles: Seq[String]) extends InputPartition

class ManifestChangesStream(path: String, dataSchema: StructType,
    required: StructType, start: GraftChanges.StartSpec,
    /** CATCH-UP THROUGHPUT (r17): generations admitted per micro-batch.
      * The default 1 keeps commit boundaries = batch boundaries (the
      * CDC contract); a long-history replay can raise it — the window
      * planner emits per-generation change sets either way, so
      * `_commit_gen` attribution and the reconstruction invariant are
      * identical, only the per-batch overhead amortizes.
      */
    gensPerBatch: Int = 1)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  require(gensPerBatch >= 1, s"gensPerBatch must be >= 1 (got $gensPerBatch)")

  private val rootP: Path = Paths.get(path)

  // LENIENT at construction (one O(retained) resolution, not two —
  // code-review r18): a checkpointed restart resumes from the offset
  // log and must survive vacuum having expired the commits at or
  // before an original startingTimestamp; only a FRESH start
  // (initialOffset below) insists the timestamp still resolves.
  private val startingGen: Long =
    GraftChanges.resolveStartingGen(path, start, strict = false)

  /** Snapshot `gen` (the empty state for gen 0 = before the first
    * commit). LOUD on expiry.
    */
  private def stateAt(gen: Long): ManifestState =
    if (gen == 0L) ManifestState.empty(rootP, dataSchema.toDDL)
    else ManifestState.at(rootP, gen).getOrElse(throw new IllegalStateException(
      s"snapshot $gen of $path expired while a change-feed consumer " +
        "still needed it — retain more generations in vacuum()"))

  // EVOLUTION LEDGER at stream-construction time (r17 code-review):
  // accumulated across the retained snapshots the feed can actually
  // consume — generations >= startingGen — not just the live manifest
  // (a compaction's replace commit clears the live ledger while
  // retained snapshots still reference prior-named files). Generations
  // BEFORE startingGen are excluded on purpose (ADVICE r17): the
  // startingGen snapshot's tail already carries the then-live ledger,
  // and accumulating history the feed never replays would resurrect a
  // rewrite-retired name into a spurious "ambiguous evolution history"
  // refusal for a stream legally started AFTER the rewrite — the exact
  // remedy the batch feed's rangeGens construction already honors.
  // O(consumable retained snapshots) driver reads, paid once per start.
  private val accumulatedEvo: Seq[String] =
    ManifestChanges.evolutionOver(
      gens.filter(_ >= startingGen).map(stateAt(_).rawTail),
      dataSchema.fieldNames.toSet)
  private val p2c: Map[String, String] =
    ManifestEvolution.priorToCurrent(accumulatedEvo)
  // every rename chain must land on a live column or a recorded drop;
  // anything else means the schema evolved between stream resolution
  // and start — restart re-resolves both together
  require({
    val dropped = ManifestEvolution.droppedCols(accumulatedEvo)
    p2c.valuesIterator.forall(v =>
      dataSchema.fieldNames.contains(v) || dropped.contains(v))
  }, s"schema of $path evolved between stream resolution and start — " +
    "restart the streaming query")
  // a rename whose target was later dropped maps outside the output
  // schema: its cells are simply never emitted
  private val aliases: Map[String, Seq[String]] =
    ManifestEvolution.currentToPriors(accumulatedEvo)
      .view.filterKeys(dataSchema.fieldNames.contains).toMap
  // evolution lines known at construction are covered by the maps
  // above; only a line NEWER than this capture is a mid-feed evolution
  private val knownEvo: Set[String] = accumulatedEvo.toSet

  // AvailableNow: drain up to the generation observed at trigger time,
  // one generation per batch — later commits wait for the next trigger
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(gens.lastOption.getOrElse(startingGen))
  override def reportLatestOffset(): Offset =
    SnapshotOffset(gens.lastOption.getOrElse(startingGen))

  // MAIN lineage only (r19): the CDC feed must never emit branch
  // commits — they become visible as ONE delta when fast-forwarded
  private def gens: Seq[Long] = ManifestSink.mainSnapshots(path)

  override def initialOffset(): Offset = SnapshotOffset(
    GraftChanges.resolveStartingGen(path, start, strict = true))
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[SnapshotOffset].gen
    // gensPerBatch generations per micro-batch (default 1: commit
    // boundaries = batch boundaries)
    val nexts = gens.filter(_ > s).take(gensPerBatch)
    val next = nexts.lastOption.getOrElse(s)
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
    val retained = gens
    val windows = retained.filter(g => g > s && g <= e)
    // an expired END generation would silently merge its window into
    // nothing — refuse loudly like every other expiry (retention
    // expires a prefix, so a retained end implies retained interiors)
    if (!windows.lastOption.contains(e)) throw new IllegalStateException(
      s"snapshot $e of $path expired while a change-feed consumer still " +
        "needed it — retain more generations in vacuum()")

    def dataPath(n: String): String =
      rootP.resolve("data").resolve(n).toString

    val parts = Seq.newBuilder[InputPartition]
    var prev = s
    // each window's cur state becomes the next window's prev: one
    // manifest read per generation
    var prevState = stateAt(prev).under(accumulatedEvo)
    windows.foreach { g =>
      val cur = stateAt(g).under(accumulatedEvo)
      // schema evolution mid-feed: this query's schema and alias map
      // were fixed at start — refuse loudly, restart re-resolves (the
      // same contract as the snapshot feed)
      val newEvo = cur.rawTail.filter(ManifestEvolution.isLine).toSet --
        prevState.rawTail.filter(ManifestEvolution.isLine) -- knownEvo
      if (newEvo.nonEmpty) throw new IllegalStateException(
        s"schema evolution in consumed range ($prev, $g] of $path: a " +
          "column rename/drop was published mid-feed — restart the " +
          "streaming query so it re-resolves the live schema")
      // the SAME window-diff the batch feed plans with — the two feeds
      // agree change-for-change by construction
      val w = ManifestChanges.window(g, prevState, cur,
        dataSchema.fieldNames.toSet)

      w.added.foreach { n =>
        parts += ChangeFeedPartition(dataPath(n), g, insert = true,
          w.curDel.getOrElse(n, Seq.empty), w.curPos.getOrElse(n, Seq.empty),
          null, null)
      }
      w.removed.foreach { n =>
        parts += ChangeFeedPartition(dataPath(n), g, insert = false,
          w.prevDel.getOrElse(n, Seq.empty),
          w.prevPos.getOrElse(n, Seq.empty), null, null)
      }
      w.killed.foreach { case (n, newPreds, newPos) =>
        parts += ChangeFeedPartition(dataPath(n), g, insert = false,
          w.prevDel.getOrElse(n, Seq.empty),
          w.prevPos.getOrElse(n, Seq.empty), newPreds, newPos)
      }
      // revived (r19 rollback): deletes DROPPED on a carried file emit
      // the resurrected rows as inserts — the killed reader with
      // prev/cur roles swapped (survive the CUR deletes, matched by
      // the dropped ones); batch feed agrees change-for-change
      w.revived.foreach { case (n, droppedPreds, droppedPos) =>
        parts += ChangeFeedPartition(dataPath(n), g, insert = true,
          w.curDel.getOrElse(n, Seq.empty),
          w.curPos.getOrElse(n, Seq.empty), droppedPreds, droppedPos)
      }
      prev = g
      prevState = cur
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory(dataSchema, required, aliases)
}

/** Builds per-file change readers. Plain partitions (insert/delete of a
  * whole file's visible rows) delegate to the ordinary row readers with
  * the window's deletes applied, then append the two constant change
  * columns. KILLED partitions read the file RAW (plus `_pos` and every
  * predicate-referenced column) and keep exactly the rows the window's
  * new deletes removed — one pass, one emission per physical row.
  */
class ChangesReaderFactory(dataSchema: StructType, required: StructType,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {

  private val insertUtf8 = UTF8String.fromString("insert")
  private val deleteUtf8 = UTF8String.fromString("delete")
  /** One Hadoop conf for every parquet file this factory opens. */
  @transient private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  private def fileReader(file: String, req: StructType, deletes: Seq[Filter],
      posSet: java.util.HashSet[java.lang.Long]): PartitionReader[InternalRow] =
    if (file.endsWith(".parquet"))
      new ManifestParquetReader(file, dataSchema, req, deletes,
        posDeletes = posSet, aliases = aliases, hadoopConf = hadoopConf)
    else new ManifestJsonReader(file, dataSchema, req, deletes, posSet,
      aliases)

  override def createReader(p0: InputPartition): PartitionReader[InternalRow] = {
    val p = p0.asInstanceOf[ChangeFeedPartition]
    val name = Paths.get(p.file).getFileName.toString
    val outFields = required.fields
    val dataCols = outFields.filter(f =>
      f.name != GraftChanges.ChangeType && f.name != GraftChanges.CommitGen)
    val changeVal = if (p.insert) insertUtf8 else deleteUtf8

    if (p.newPreds == null) {
      // whole-file mode: the delegate applies the window's deletes
      val posSet =
        if (p.posFiles.isEmpty) null
        else ManifestPosDeletes.positionsFor(name, p.posFiles)
      val delegate = fileReader(p.file, StructType(dataCols), p.preds, posSet)
      val dataIdx = dataCols.map(_.name).zipWithIndex.toMap
      new PartitionReader[InternalRow] {
        override def next(): Boolean = delegate.next()
        override def get(): InternalRow = {
          val in = delegate.get()
          val vals = new Array[Any](outFields.length)
          var i = 0
          while (i < outFields.length) {
            val f = outFields(i)
            vals(i) =
              if (f.name == GraftChanges.ChangeType) changeVal
              else if (f.name == GraftChanges.CommitGen) p.gen
              else {
                val j = dataIdx(f.name)
                if (in.isNullAt(j)) null else in.get(j, f.dataType)
              }
            i += 1
          }
          new GenericInternalRow(vals)
        }
        override def close(): Unit = delegate.close()
      }
    } else {
      // KILLED mode: raw read; keep rows that survive the OLD deletes
      // and are killed by the NEW ones (3VL: killed iff predicate TRUE)
      val types: Map[String, DataType] =
        dataSchema.fields.map(f => f.name -> f.dataType).toMap
      val refCols = ManifestDeletes.referencedCols(p.preds ++ p.newPreds)
      val delegateFields =
        (dataCols ++
          dataSchema.fields.filter(f => refCols.contains(f.name) &&
            !dataCols.exists(_.name == f.name))) :+
          StructField("_pos", LongType, nullable = false)
      val delegateReq = StructType(delegateFields)
      val delegate = fileReader(p.file, delegateReq, Seq.empty, null)
      val idx = delegateFields.map(_.name).zipWithIndex.toMap
      val posIdx = idx("_pos")
      val oldPos =
        if (p.posFiles.isEmpty) null
        else ManifestPosDeletes.positionsFor(name, p.posFiles)
      val newPos =
        if (p.newPosFiles.isEmpty) null
        else ManifestPosDeletes.positionsFor(name, p.newPosFiles)
      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        private def valueOf(row: InternalRow, col: String): Any = {
          val j = idx(col)
          if (row.isNullAt(j)) null else row.get(j, types(col))
        }
        override def next(): Boolean = {
          while (delegate.next()) {
            val row = delegate.get()
            val pos = row.getLong(posIdx)
            val survivesOld =
              (oldPos == null || !oldPos.contains(pos)) &&
                (p.preds.isEmpty ||
                  ManifestDeletes.survives(p.preds, valueOf(row, _), types))
            if (survivesOld) {
              val killedNew =
                (newPos != null && newPos.contains(pos)) ||
                  (p.newPreds.nonEmpty &&
                    !ManifestDeletes.survives(p.newPreds, valueOf(row, _), types))
              if (killedNew) { current = row; return true }
            }
          }
          false
        }
        override def get(): InternalRow = {
          val vals = new Array[Any](outFields.length)
          var i = 0
          while (i < outFields.length) {
            val f = outFields(i)
            vals(i) =
              if (f.name == GraftChanges.ChangeType) changeVal
              else if (f.name == GraftChanges.CommitGen) p.gen
              else valueOf(current, f.name)
            i += 1
          }
          new GenericInternalRow(vals)
        }
        override def close(): Unit = delegate.close()
      }
    }
  }
}
