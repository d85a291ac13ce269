package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL STORED PROCEDURES (r17): the lake's maintenance operations as a
  * first-class `CALL` surface through Spark 4's `ProcedureCatalog` API
  * (the Iceberg `CALL cat.system.rewrite_data_files` shape) — an
  * operator no longer needs the Scala helpers to run maintenance:
  *
  *   CALL graft_cat.system.compact(table => 'cust', target_files => 2)
  *   CALL graft_cat.system.vacuum(table => 'cust', retain_snapshots => 3)
  *   CALL graft_cat.system.snapshots(table => 'cust')
  *
  * Each procedure binds its typed parameter list (positional or named
  * args, literal defaults), executes through the SAME engine helpers
  * every other surface uses (compact / vacuum / snapshotTimestamps —
  * CAS-protected, commit-locked), and returns its summary as a
  * driver-local result set ([[LocalScan]]). Procedures are
  * NON-deterministic by declaration: each CALL re-executes.
  */
object GraftProcedures {

  val Namespace: Array[String] = Array("system")

  val Names: Seq[String] =
    Seq("compact", "vacuum", "snapshots", "rewrite", "tag", "drop_tag",
      "tags", "branch", "drop_branch", "fast_forward", "branches",
      "remove_orphans", "rollback")

  /** Build the named procedure; `pathOf` resolves a table name to its
    * lake root via the owning catalog, `partitionByOf` its declared
    * partition columns (the rewrite procedure refuses partitioned
    * tables — compact owns partition-preserving re-clustering).
    */
  def load(name: String, pathOf: String => String,
      partitionByOf: String => Seq[String] = _ => Seq.empty): UnboundProcedure =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "compact" => new CompactProcedure(pathOf)
      case "vacuum" => new VacuumProcedure(pathOf)
      case "snapshots" => new SnapshotsProcedure(pathOf)
      case "rewrite" => new RewriteProcedure(pathOf, partitionByOf)
      case "tag" => new TagProcedure(pathOf)
      case "drop_tag" => new DropTagProcedure(pathOf)
      case "tags" => new TagsProcedure(pathOf)
      case "branch" => new BranchProcedure(pathOf)
      case "drop_branch" => new DropBranchProcedure(pathOf)
      case "fast_forward" => new FastForwardProcedure(pathOf)
      case "branches" => new BranchesProcedure(pathOf)
      case "remove_orphans" => new RemoveOrphansProcedure(pathOf)
      case "rollback" => new RollbackProcedure(pathOf)
      case other => throw new IllegalArgumentException(
        s"unknown procedure system.$other — available: ${Names.mkString(", ")}")
    }

  private def param(name: String, dt: DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  /** One-row (or N-row) driver-local result set. */
  private class ResultScan(schema: StructType, data: Seq[Seq[Any]])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = data.map(vals =>
      InternalRow.fromSeq(vals.map {
        case s: String => UTF8String.fromString(s)
        case v => v
      })).toArray
    override def description(): String = s"GraftProcedureResult(${schema.sql})"
  }

  private def str(input: InternalRow, i: Int): String = {
    require(!input.isNullAt(i), s"procedure argument $i must not be null")
    input.getUTF8String(i).toString
  }

  private abstract class GraftProcedure(pathOf: String => String)
      extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    protected def root(input: InternalRow): String = pathOf(str(input, 0))
    protected def one(schema: StructType, vals: Any*): java.util.Iterator[Scan] =
      java.util.List.of[Scan](
        new ResultScan(schema, Seq(vals.toSeq))).iterator()
  }

  /** `compact(table, target_files=1, partition_by='', order_by='')` —
    * folds MoR deletes, materializes schema evolution, re-clusters; the
    * summary row reports the file counts and the published generation.
    */
  private class CompactProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "compact"
    override def description(): String =
      "rewrite the table's data files (folds deletes, materializes " +
        "renames, re-clusters); summary: files before/after + generation"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("target_files", IntegerType, Some("1")),
      param("partition_by", StringType, Some("''")),
      param("order_by", StringType, Some("''")))
    private val out = StructType.fromDDL(
      "files_before BIGINT, files_after BIGINT, generation BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val r = root(input)
      val target = if (input.isNullAt(1)) 1 else input.getInt(1)
      def cols(i: Int): Seq[String] =
        if (input.isNullAt(i)) Seq.empty
        else input.getUTF8String(i).toString.split(",").iterator
          .map(_.trim).filter(_.nonEmpty).toSeq
      val spark = SparkSession.active
      val before = ManifestSink.committedFiles(r).length.toLong
      ManifestSink.compact(spark, r, target, cols(2), cols(3))
      val after = ManifestSink.committedFiles(r).length.toLong
      one(out, before, after, ManifestSink.liveGen(r))
    }
  }

  /** `rewrite(table, order_by='' | zorder='', target_files=4,
    * where='', partitions_per_commit=8)` — the data-reclustering
    * rewrite (VERDICT r17 Next #2 + r18 Next #1, the Iceberg
    * `rewrite_data_files` shape).
    *
    * UNPARTITIONED tables re-sort globally into range-disjoint sorted
    * files or z-order over 2-3 integral columns through
    * [[ManifestSink.rewrite]] — one replace snapshot. PARTITIONED
    * tables run the PARTIAL-PROGRESS path ([[ManifestSink.rewritePartitioned]],
    * r19): `partitions_per_commit` partition values per CAS-protected
    * replace snapshot, crash-resumable off recorded layout claims
    * (no file rewritten twice), per-partition sort or z-order WITHIN
    * partitions, optionally scoped by `where => 'col = literal'`.
    * Both arms fold MoR deletes and keep blooms/format.
    * `target_files` applies to the UNPARTITIONED arm only — the
    * partitioned path writes one file per partition value by
    * construction (the direct API's targetFileBytes parameter adds
    * size-bounded rolling); `where`/`partitions_per_commit` apply to
    * the partitioned arm only.
    */
  private class RewriteProcedure(pathOf: String => String,
      partitionByOf: String => Seq[String])
      extends GraftProcedure(pathOf) {
    override def name(): String = "rewrite"
    override def description(): String =
      "re-cluster the table's data files by a sort order or a z-order " +
        "curve; partitioned tables commit partitions_per_commit " +
        "partition values per replace snapshot (partial progress, " +
        "crash-resumable), optionally scoped by where => 'col = literal'"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("order_by", StringType, Some("''")),
      param("zorder", StringType, Some("''")),
      param("target_files", IntegerType, Some("4")),
      param("where", StringType, Some("''")),
      param("partitions_per_commit", IntegerType, Some("8")))
    private val out = StructType.fromDDL(
      "files_before BIGINT, files_after BIGINT, generation BIGINT, " +
        "clustered_by STRING, commits BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableRef = str(input, 0)
      val r = pathOf(tableRef)
      def cols(i: Int): Seq[String] =
        if (input.isNullAt(i)) Seq.empty
        else input.getUTF8String(i).toString.split(",").iterator
          .map(_.trim).filter(_.nonEmpty).toSeq
      val orderBy = cols(1)
      val zorderBy = cols(2)
      require(orderBy.nonEmpty ^ zorderBy.nonEmpty,
        "rewrite wants exactly one of order_by / zorder")
      val whereS =
        if (input.isNullAt(4)) "" else input.getUTF8String(4).toString.trim
      val ppc = if (input.isNullAt(5)) 8 else input.getInt(5)
      val parts = partitionByOf(tableRef)
      val spark = SparkSession.active
      val before = ManifestSink.committedFiles(r).length.toLong
      val (label, nCommits) =
        if (parts.nonEmpty) {
          // partition-scoped partial progress: N values per snapshot
          val schema = ManifestState.need(r, "nothing to rewrite").schema
          val whereOpt =
            if (whereS.isEmpty) None
            else Some(ManifestSink.parseWhereEquality(whereS, schema))
          val sum = ManifestSink.rewritePartitioned(spark, r, parts,
            orderBy, zorderBy, partitionsPerCommit = ppc, where = whereOpt)
          (s"${if (orderBy.nonEmpty) "order" else "zorder"}-in-partitions:" +
            s"${(orderBy ++ zorderBy).mkString(",")} " +
            s"(${sum.groupsRewritten}/${sum.groupsTotal} groups)",
            sum.commits.toLong)
        } else {
          require(whereS.isEmpty,
            "where => scoping applies to partitioned tables only")
          val target = if (input.isNullAt(3)) 4 else input.getInt(3)
          ManifestSink.rewrite(spark, r, orderBy, zorderBy, target)
          (if (orderBy.nonEmpty) s"order:${orderBy.mkString(",")}"
           else s"zorder:${zorderBy.mkString(",")}", 1L)
        }
      val after = ManifestSink.committedFiles(r).length.toLong
      one(out, before, after, ManifestSink.liveGen(r), label, nCommits)
    }
  }

  /** `vacuum(table, retain_snapshots=1)` — expire old snapshots and
    * delete unreferenced data files; returns the deleted-file count.
    */
  private class VacuumProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "vacuum"
    override def description(): String =
      "expire snapshots past the retention bound and delete orphaned files"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("retain_snapshots", IntegerType, Some("1")))
    private val out = StructType.fromDDL("deleted_files BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val retain = if (input.isNullAt(1)) 1 else input.getInt(1)
      one(out, ManifestSink.vacuum(root(input), retain).toLong)
    }
  }

  /** `tag(table, name, generation=NULL)` — name a snapshot (default:
    * the live one) as a retention anchor: vacuum keeps it and
    * `VERSION AS OF 'name'` reads it (r19 snapshot refs).
    */
  private class TagProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "tag"
    override def description(): String =
      "tag a snapshot generation as a named retention anchor; " +
        "VERSION AS OF '<name>' reads it and vacuum keeps it"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType),
      param("generation", LongType, Some("CAST(NULL AS BIGINT)")))
    private val out = StructType.fromDDL("name STRING, generation BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tagName = str(input, 1)
      val gen = if (input.isNullAt(2)) None else Some(input.getLong(2))
      one(out, tagName, ManifestSink.tag(root(input), tagName, gen))
    }
  }

  /** `drop_tag(table, name)` — remove the anchor; its generation
    * becomes vacuum-expirable again.
    */
  private class DropTagProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "drop_tag"
    override def description(): String =
      "drop a named snapshot tag (the generation becomes expirable)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType))
    private val out = StructType.fromDDL("existed BOOLEAN")
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      one(out, java.lang.Boolean.valueOf(
        ManifestSink.dropTag(root(input), str(input, 1))))
  }

  /** `tags(table)` — the named refs: one row per tag with its
    * generation and that snapshot's commit instant.
    */
  private class TagsProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "tags"
    override def description(): String =
      "list snapshot tags with their generations and commit instants"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType))
    private val out = StructType.fromDDL(
      "name STRING, generation BIGINT, commit_millis BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val r = root(input)
      val instants = ManifestSink.snapshotTimestamps(r).toMap
      val rows = ManifestSink.tags(r).map { case (n, g) =>
        Seq[Any](n, g, instants.get(g).map(java.lang.Long.valueOf).orNull)
      }
      java.util.List.of[Scan](new ResultScan(out, rows)).iterator()
    }
  }

  /** `branch(table, name, generation=NULL)` — create a branch at a
    * snapshot (default: main's live generation). Branch writes go
    * through `.option("branch", name)`; main never sees them until
    * `fast_forward` (r19 write-audit-publish).
    */
  private class BranchProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "branch"
    override def description(): String =
      "create a snapshot branch; writes with .option('branch', name) " +
        "advance it invisibly to main until fast_forward publishes"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType),
      param("generation", LongType, Some("CAST(NULL AS BIGINT)")))
    private val out = StructType.fromDDL("name STRING, base_generation BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val brName = str(input, 1)
      val gen = if (input.isNullAt(2)) None else Some(input.getLong(2))
      one(out, brName, ManifestSink.createBranch(root(input), brName, gen))
    }
  }

  /** `drop_branch(table, name)` — remove the branch; its unpublished
    * snapshots become vacuum-expirable.
    */
  private class DropBranchProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "drop_branch"
    override def description(): String =
      "drop a snapshot branch (its unpublished snapshots become expirable)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType))
    private val out = StructType.fromDDL("existed BOOLEAN")
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      one(out, java.lang.Boolean.valueOf(
        ManifestSink.dropBranch(root(input), str(input, 1))))
  }

  /** `fast_forward(table, branch)` — publish the audited branch head
    * onto main as a new main generation (metadata-only; refuses if main
    * diverged from the branch's fork base).
    */
  private class FastForwardProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "fast_forward"
    override def description(): String =
      "publish a branch's head state onto main (refuses on divergence); " +
        "metadata-only — files and segments carry by reference"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("branch", StringType))
    private val out = StructType.fromDDL("generation BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      one(out, ManifestSink.fastForward(root(input), str(input, 1)))
  }

  /** `branches(table)` — the branch refs: head, fork base, and the
    * head snapshot's commit instant.
    */
  private class BranchesProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "branches"
    override def description(): String =
      "list snapshot branches with their heads, fork bases, and instants"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType))
    private val out = StructType.fromDDL(
      "name STRING, head_generation BIGINT, base_generation BIGINT, " +
        "commit_millis BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val r = root(input)
      val rows = ManifestSink.branches(r).map { b =>
        val ts = ManifestState.at(java.nio.file.Paths.get(r), b.gen)
          .flatMap(_.millis).map(java.lang.Long.valueOf).orNull
        Seq[Any](b.name, b.gen, b.base, ts)
      }
      java.util.List.of[Scan](new ResultScan(out, rows)).iterator()
    }
  }

  /** `remove_orphans(table, older_than_ms=86400000)` — delete staging
    * files abandoned by crashed writers (and stray .tmp metadata
    * leftovers) older than the threshold; committed state is never a
    * candidate. The vacuum procedure owns snapshot-referenced cleanup;
    * this sweep owns the never-committed residue.
    */
  private class RemoveOrphansProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "remove_orphans"
    override def description(): String =
      "delete abandoned staging files and stray .tmp leftovers older " +
        "than older_than_ms (default 24h); committed state never qualifies"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("older_than_ms", LongType, Some("86400000")))
    private val out = StructType.fromDDL("deleted_files BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val olderThan =
        if (input.isNullAt(1)) 24L * 3600 * 1000 else input.getLong(1)
      one(out, ManifestSink.removeOrphans(root(input), olderThan).toLong)
    }
  }

  /** `rollback(table, generation | tag)` — republish a retained
    * main-lineage snapshot's state as a new main generation (the
    * Iceberg `rollback_to_snapshot` shape). History is preserved:
    * nothing is deleted, the rolled-past commits stay time-travelable
    * until retention expires them. Exactly one of `generation` / `tag`
    * must be given; a tag resolves through the `_refs.json` ledger.
    */
  private class RollbackProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "rollback"
    override def description(): String =
      "republish a retained main-lineage snapshot (by generation or " +
        "tag) as the new live state; metadata-only, history preserved"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("generation", LongType, Some("CAST(NULL AS BIGINT)")),
      param("tag", StringType, Some("CAST(NULL AS STRING)")))
    private val out = StructType.fromDDL("generation BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val r = root(input)
      val gen = if (input.isNullAt(1)) None else Some(input.getLong(1))
      val tagName = if (input.isNullAt(2)) None else Some(str(input, 2))
      require(gen.isDefined != tagName.isDefined,
        "rollback wants exactly one of generation => N / tag => 'name'")
      val target = gen.getOrElse {
        val t = tagName.get
        ManifestSink.tags(r).collectFirst { case (`t`, g) => g }.getOrElse(
          throw new IllegalArgumentException(
            s"no tag named '$t' on $r — tags: " +
              ManifestSink.tags(r).map(_._1).mkString(",")))
      }
      one(out, ManifestSink.rollback(r, target))
    }
  }

  /** `snapshots(table)` — the retained history: one row per generation
    * with its commit instant (the TIMESTAMP AS OF resolution ledger).
    */
  private class SnapshotsProcedure(pathOf: String => String)
      extends GraftProcedure(pathOf) {
    override def name(): String = "snapshots"
    override def description(): String =
      "list retained snapshot generations and their commit instants"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType))
    private val out = StructType.fromDDL(
      "generation BIGINT, commit_millis BIGINT")
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rows = ManifestSink.snapshotTimestamps(root(input))
        .map { case (g, ts) => Seq[Any](g, ts) }
      java.util.List.of[Scan](
        new ResultScan(out, rows)).iterator()
    }
  }
}
