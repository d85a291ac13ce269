package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** METADATA TABLES (r17): the Iceberg `t$files` / `t$snapshots` /
  * `t$deletes` inspection surface — `SELECT * FROM
  * graft_cat.lake.`t$files`` composes the table's own metadata with
  * full SQL (joins, filters, aggregates), which no CALL procedure can.
  *
  *   - `t$files`     — one row per committed data file: name, format,
  *     recorded row/byte counts (null when the file predates stats) and
  *     its sort claim;
  *   - `t$snapshots` — the retained history: generation, commit
  *     instant, file count, recorded row total;
  *   - `t$deletes`   — standing MoR metadata: predicate tombstones and
  *     position-delete files with the data files they scope.
  *
  * Rows derive from the SAME manifest parse the planner already does —
  * the `$files` row set is O(live files) on the driver, exactly the
  * cost of planning one full scan of the table, and `$snapshots`
  * resolves only the retained generations. Served through the
  * metadata-only scan (zero data files opened), recomputed per query.
  */
object MetaTables {

  val Kinds: Set[String] = Set("files", "snapshots", "deletes", "tags",
    "refs")

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType.fromDDL(
      "file STRING, format STRING, row_count BIGINT, bytes BIGINT, " +
        "sorted STRING")
    case "snapshots" => StructType.fromDDL(
      "generation BIGINT, commit_millis BIGINT, file_count BIGINT, " +
        "row_count BIGINT")
    case "deletes" => StructType.fromDDL(
      "kind STRING, scoped_files STRING, detail STRING")
    case "tags" => StructType.fromDDL(
      "name STRING, generation BIGINT, commit_millis BIGINT")
    case "refs" => StructType.fromDDL(
      "name STRING, kind STRING, generation BIGINT, base_generation BIGINT")
    case other => throw new IllegalArgumentException(
      s"unknown metadata table $$$other — available: ${Kinds.mkString(", ")}")
  }

  def rowsOf(kind: String, root: String): Seq[Seq[Any]] = kind match {
    case "files" =>
      ManifestState.live(root).toSeq.flatMap { st =>
        st.names.map { n =>
          val fs = st.stats.get(n)
          Seq[Any](n,
            if (n.endsWith(".parquet")) "parquet" else "json",
            fs.map(s => java.lang.Long.valueOf(s.rows)).orNull,
            fs.map(_.bytes).filter(_ > 0L)
              .map(java.lang.Long.valueOf).orNull,
            fs.map(_.sorted.mkString(",")).filter(_.nonEmpty).orNull)
        }
      }
    case "snapshots" =>
      ManifestSink.snapshotTimestamps(root).map { case (g, ts) =>
        val st = ManifestState.at(Paths.get(root), g)
        val names = st.fold(Seq.empty[String])(_.names)
        val stats = st.fold(Map.empty[String, ManifestMeta.FileStats])(_.stats)
        Seq[Any](g, ts, names.length.toLong,
          if (names.nonEmpty && names.forall(stats.contains))
            java.lang.Long.valueOf(names.map(stats(_).rows).sum)
          else null)
      }
    case "deletes" =>
      // predicates render in the LIVE column space (ADVICE r17), like
      // every other consumer of the state's tombstones
      ManifestState.live(root).toSeq.flatMap { st =>
        st.tombstones.map(t =>
          Seq[Any]("tombstone", t.files.toSeq.sorted.mkString(","),
            t.filter.toString)) ++
          st.posDeleteLines.map(pd =>
            Seq[Any]("position", pd.files.toSeq.sorted.mkString(","), pd.delFile))
      }
    case "tags" =>
      val instants = ManifestSink.snapshotTimestamps(root).toMap
      ManifestSink.tags(root).map { case (n, g) =>
        Seq[Any](n, g, instants.get(g).map(java.lang.Long.valueOf).orNull)
      }
    case "refs" =>
      // tags AND branches (r19): one row per named ref; a tag's base is
      // its own generation by construction
      ManifestSink.refs(root).map(r => Seq[Any](r.name, r.kind, r.gen, r.base))
    case other => throw new IllegalArgumentException(
      s"unknown metadata table $$$other")
  }
}

/** A read-only driver-computed metadata table; rows recompute at every
  * scan build so a query always sees the current committed state.
  */
class GraftMetaTable(root: String, kind: String) extends Table
    with SupportsRead {
  override def name(): String = s"graft_meta($root,$$$kind)"
  override def schema(): StructType = MetaTables.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        require(Files.exists(Paths.get(root).resolve("manifest.json")),
          s"no manifest at $root — write before inspecting $$$kind")
        new ManifestAggScan(root, MetaTables.schemaOf(kind),
          MetaTables.rowsOf(kind, root))
      }
    }
}
