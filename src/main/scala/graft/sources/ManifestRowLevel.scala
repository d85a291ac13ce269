package graft.sources

import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL-native row-level DML (VERDICT r16 Next #2): `UPDATE` and
  * `MERGE INTO` (and group-routed `DELETE`) plan through Spark's
  * `SupportsRowLevelOperations` API backed by the COPY-ON-WRITE
  * materialization the engine already has — the same
  * candidate-prune → rewrite → replace-commit shape as
  * [[ManifestSink.merge]] and [[ManifestTable.deleteWhere]]:
  *
  *   - the operation's SCAN is the ordinary manifest scan in
  *     GROUP-CANDIDATE mode: pushed filters prune whole FILES
  *     (envelope tier first, then per-file stats), but rows are NEVER
  *     filtered inside kept files — Spark's ReplaceData plan rewrites
  *     every row of every scanned file, so a row dropped by the scan
  *     would be silently deleted (dataFilters stay empty; residual
  *     re-evaluation isn't above this plan to correct over-pruning);
  *   - Spark's runtime GROUP FILTERING narrows the scan to files that
  *     actually hold matches (the scan's `_file` runtime-filter face),
  *     so a selective MERGE rewrites the matched files, not the table;
  *   - the WRITE is the ordinary two-phase manifest write in append
  *     mode with `replaceFiles` = the scan's FINAL file set, resolved
  *     lazily at commit (after runtime filtering) — one atomic
  *     snapshot swap, CAS-protected against concurrent commits, and
  *     layout/bloom/format-preserving like every other rewrite.
  *
  * MERGE-ON-READ tables (`deleteMode 'mor'`) route their DELETE
  * through the metadata-only tombstone path as before (Spark's
  * OptimizeMetadataOnlyDeleteFromTable picks it when canDeleteWhere
  * accepts); UPDATE/MERGE currently use this copy-on-write operation —
  * correct on any table, with rewrite (not tombstone) write cost.
  */
class ManifestCowOperation(path: String, tableSchema: StructType,
    cmd: Command,
    clusterBy: Seq[String], orderBy: Seq[String], partitionBy: Seq[String],
    format: String, bloomFor: Seq[String], targetFileBytes: Long,
    rowGroupBytes: Long, splitConf: SplitConf)
    extends RowLevelOperation {

  /** The operation's scan, recorded at build so the write can replace
    * exactly the files Spark read (post runtime group filtering).
    */
  @volatile private var builtScan: ManifestScan = _

  /** The ONE state this operation plans against, read when the scan
    * builder is created: the candidate scan, the CAS base and the
    * write's derived layout all come from it.
    */
  @volatile private var planned: Option[ManifestState] = None
  @volatile private var baseGen: Long = -1L

  override def command(): Command = cmd

  override def description(): String = s"ManifestCow($cmd, $path)"

  /** `_file` rides the scan so Spark's runtime group filter can name
    * the matched files.
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    planned = ManifestState.live(path)
    baseGen = ManifestSink.liveGenOf(path, planned)
    new ManifestScanBuilder(path, tableSchema, partitionBy,
      snapshotGen = None, splitConf, rowLevelMode = true, planned = planned) {
      override private[sources] def onBuilt(s: ManifestScan): Unit =
        builtScan = s
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        // layout-preserving rewrite, same derivation as deleteWhere:
        // declared table options win, else the planned state's claims
        val fmt = if (format != "json") format
                  else planned.fold("json")(_.format)
        val (dp, dob) = planned.fold((Seq.empty[String], Seq.empty[String]))(_.layout)
        val pBy = if (partitionBy.nonEmpty) partitionBy else dp
        val oBy = if (orderBy.nonEmpty) orderBy else dob
        val blm = if (bloomFor.nonEmpty) bloomFor
                  else planned.fold(Seq.empty[String])(_.bloomCols)
        // the write schema must be the TABLE's schema: the publish path
        // records info.schema() as the table DDL, and a metadata column
        // leaking in would silently widen the table on commit
        val writeSchema = info.schema()
        require(writeSchema.fieldNames.forall(tableSchema.fieldNames.contains),
          s"row-level write schema ${writeSchema.fieldNames.mkString(",")} " +
            s"must be a subset of the table schema")
        new ManifestWrite(path, writeSchema,
          clusterBy = clusterBy, orderBy = oBy, replace = false,
          partitionBy = pBy, format = fmt,
          baseGen = baseGen,
          bloomFor = blm, targetFileBytes = targetFileBytes,
          rowGroupBytes = rowGroupBytes,
          // the replaced set resolves at COMMIT: runtime group
          // filtering has narrowed the scan by then, and replacing
          // exactly the scanned files is the correctness contract of
          // the group-based plan
          replaceFilesF = () => Option(builtScan)
            .map(_.currentFileNames).getOrElse(Seq.empty))
      }
    }
}

/** A builder is one operation instance — Spark resolves the scan and
  * write through the SAME object, which is what lets the write replace
  * exactly the scanned files.
  */
class ManifestRowLevelBuilder(path: String, tableSchema: StructType,
    cmd: Command,
    clusterBy: Seq[String], orderBy: Seq[String], partitionBy: Seq[String],
    format: String, bloomFor: Seq[String], targetFileBytes: Long,
    rowGroupBytes: Long, splitConf: SplitConf)
    extends org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new ManifestCowOperation(path, tableSchema, cmd, clusterBy, orderBy,
      partitionBy, format, bloomFor, targetFileBytes, rowGroupBytes, splitConf)
}

class ManifestMorRowLevelBuilder(path: String, tableSchema: StructType,
    cmd: Command, bloomFor: Seq[String], targetFileBytes: Long,
    rowGroupBytes: Long, splitConf: SplitConf, partitionBy: Seq[String])
    extends org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new ManifestMorOperation(path, tableSchema, cmd, bloomFor,
      targetFileBytes, rowGroupBytes, splitConf, partitionBy)
}

/** DELTA-based row-level operation (the merge-on-read half of VERDICT
  * r16 Next #2 — the Iceberg v2 position-delta shape): Spark hands the
  * connector per-ROW operations instead of whole replacement groups.
  * A `deleteMode 'mor'` table's SQL UPDATE / MERGE INTO then:
  *
  *   - identifies rows by `(_file, _pos)` — the scan serves physical
  *     positions (parquet-level skipping auto-disables so positions
  *     stay storage-true);
  *   - UPDATE is represented as DELETE + INSERT
  *     (`representUpdateAsDeleteAndInsert`);
  *   - each writer task streams its deletes into ONE staged parquet
  *     POSITION-DELETE file of `(f, p)` rows and its inserts through
  *     the ordinary stats-collecting data writer;
  *   - the driver commit publishes `#pd:` lines + the insert segment
  *     in ONE CAS-protected snapshot — ZERO existing data files
  *     rewrite (spec-pinned), write cost is O(changed rows).
  *
  * Requires a parquet payload: position replay in the rewrite helpers
  * rides `_metadata.row_index`, which JSON files cannot serve — a
  * non-parquet table is refused loudly at planning (its UPDATE/MERGE
  * belongs on copy-on-write).
  */
class ManifestMorOperation(path: String, tableSchema: StructType,
    cmd: Command, bloomFor: Seq[String], targetFileBytes: Long,
    rowGroupBytes: Long, splitConf: SplitConf, partitionBy: Seq[String])
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  /** The ONE state this operation plans against (read when the scan
    * builder is created): the parquet check, the scan, the CAS base and
    * the bloom derivation all come from it.
    */
  @volatile private var planned: Option[ManifestState] = None
  @volatile private var baseGen: Long = -1L

  override def command(): Command = cmd
  override def description(): String = s"ManifestMorDelta($cmd, $path)"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    planned = ManifestState.live(path)
    baseGen = ManifestSink.liveGenOf(path, planned)
    require(planned.forall(_.names.forall(_.endsWith(".parquet"))),
      s"merge-on-read row-level DML requires a parquet payload " +
        s"(position deletes replay via _metadata.row_index); table at " +
        s"$path holds non-parquet files — use a copy-on-write table")
    new ManifestScanBuilder(path, tableSchema, partitionBy,
      snapshotGen = None, splitConf, rowLevelMode = true, planned = planned)
  }

  override def newWriteBuilder(info: LogicalWriteInfo):
      org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new ManifestDeltaWrite(path, info.schema(), baseGen,
          if (bloomFor.nonEmpty) bloomFor
          else planned.fold(Seq.empty[String])(_.bloomCols),
          targetFileBytes, rowGroupBytes)
    }
}

/** The delta write: insert rows append through the ordinary staged
  * writers; deletes stream into per-task staged parquet position-delete
  * files; the driver commit publishes both in ONE snapshot.
  */
class ManifestDeltaWrite(path: String, rowSchema: StructType, baseGen: Long,
    bloomFor: Seq[String], targetFileBytes: Long, rowGroupBytes: Long)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new ManifestDeltaBatchWrite(path, rowSchema, baseGen, bloomFor,
      targetFileBytes, rowGroupBytes)
}

/** One task's staged delta: its position-delete file (with the data
  * files it touches) plus its staged insert files.
  */
case class StagedDeltaSet(delFile: Option[String], affected: Seq[String],
    inserts: Seq[StagedEntry])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class ManifestDeltaBatchWrite(path: String, rowSchema: StructType,
    baseGen: Long, bloomFor: Seq[String], targetFileBytes: Long,
    rowGroupBytes: Long)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  import java.nio.file.Paths
  import org.apache.spark.sql.connector.write.{DataWriter, DeltaWriter, DeltaWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private val jobToken = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new ManifestDeltaWriterFactory(path, rowSchema, jobToken, bloomFor,
      targetFileBytes, rowGroupBytes)

  /** ONE atomic snapshot: CAS against the planning base (a delta is
    * row-replacing — an interleaved commit must fail it loudly), then
    * staged delete + insert files move into data/ and the manifest
    * publishes prior lines (by reference) + one `#pd:` line per delete
    * file + the insert segment. A crash can never expose the deletes
    * without the inserts or vice versa.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.withCommitLock(Paths.get(path)) {
      val root = Paths.get(path)
      val deltas = messages.map(_.asInstanceOf[StagedDeltaSet])
      // ONE live read under the lock: CAS generation, prior list lines,
      // the table DDL and the publish's previous instant
      val live = ManifestState.live(root)
      val liveGen = ManifestSink.liveGenOf(path, live)
      if (liveGen != baseGen) throw new java.util.ConcurrentModificationException(
        s"concurrent commit on $path: this row-level delta was planned " +
          s"against generation $baseGen but the table is now at $liveGen — " +
          "re-run the operation against the current snapshot")
      val inserts = deltas.iterator.flatMap(_.inserts).toSeq.sortBy(_.name)
      val delFiles = deltas.iterator.flatMap(d =>
        d.delFile.map(f => (f, d.affected))).toSeq.sortBy(_._1)
      ManifestSink.moveStaged(root, inserts.map(_.name) ++ delFiles.map(_._1))
      // scope each #pd: line to PRE-commit files only (this job's own
      // inserts are never affected — same rule as predicate tombstones)
      val posLines = delFiles.map { case (f, affected) =>
        ManifestPosDeletes.line(ManifestPosDeletes.PosDelete(f, affected.toSet))
      }
      val segRef =
        if (inserts.isEmpty) Seq.empty
        else Seq(ManifestSink.writeSegment(root, jobToken,
          inserts.map(_.name) ++ inserts.map(_.statsLine)))
      // the published DDL stays the TABLE's schema (the prior head):
      // the delta's write schema is positional for its own files only
      ManifestSink.publish(root, live,
        live.fold(rowSchema.toDDL)(_.ddl) +: ManifestSink.consolidateRefs(
          root, live.fold(Seq.empty[String])(_.rawTail) ++ posLines ++ segRef,
          s"$jobToken-m"))
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.deleteStaged(Paths.get(path),
      messages.iterator.filter(_ != null).flatMap { m =>
        val d = m.asInstanceOf[StagedDeltaSet]
        d.delFile.toSeq ++ d.inserts.map(_.name)
      }.toSeq)
}

/** Serializable task-side factory (the anonymous form would capture the
  * driver-only batch write).
  */
class ManifestDeltaWriterFactory(path: String, rowSchema: StructType,
    jobToken: String, bloomFor: Seq[String], targetFileBytes: Long,
    rowGroupBytes: Long)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long):
      org.apache.spark.sql.connector.write.DeltaWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    new ManifestDeltaWriter(path, rowSchema,
      f"$jobToken-$partitionId%05d-$taskId", bloomFor, targetFileBytes,
      rowGroupBytes)
}

/** Task-side delta writer: inserts flow through the ordinary
  * stats-collecting [[ManifestDataWriter]] (parquet, bloom opt-in
  * preserved); deletes stream as `(f, p)` rows into one lazily-opened
  * staged parquet delete file — no buffering, a task's delete memory
  * is O(affected file names).
  */
class ManifestDeltaWriter(path: String, rowSchema: StructType,
    baseName: String, bloomFor: Seq[String], targetFileBytes: Long,
    rowGroupBytes: Long)
    extends org.apache.spark.sql.connector.write.DeltaWriter[
      org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.InternalRow

  private val staging = java.nio.file.Paths.get(path).resolve("_staging")
  java.nio.file.Files.createDirectories(staging)

  private val insertWriter = new ManifestDataWriter(path, rowSchema,
    s"ins-$baseName", "parquet", Seq.empty, Seq.empty, bloomFor,
    targetFileBytes, rowGroupBytes)

  private val delName = s"del-$baseName.parquet"
  private var delOut: ParquetRowFileWriter = _
  private val affected = scala.collection.mutable.TreeSet.empty[String]

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    // rowId projection order = rowId() declaration: (_file, _pos)
    val f = id.getUTF8String(0)
    val p = id.getLong(1)
    if (delOut == null)
      delOut = new ParquetRowFileWriter(staging.resolve(delName),
        ManifestPosDeletes.DeleteSchema)
    delOut.write(InternalRow.fromSeq(Seq(f, p)))
    affected += f.toString
    ()
  }

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = insertWriter.write(row)

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (delOut != null) { delOut.close(); delOut = null }
    val ins = insertWriter.commit()
      .asInstanceOf[StagedFileSet].files
    StagedDeltaSet(
      if (affected.nonEmpty) Some(delName) else None,
      affected.toSeq, ins)
  }

  override def abort(): Unit = {
    if (delOut != null) { delOut.close(); delOut = null }
    java.nio.file.Files.deleteIfExists(staging.resolve(delName))
    insertWriter.abort()
  }

  override def close(): Unit = ()
}
