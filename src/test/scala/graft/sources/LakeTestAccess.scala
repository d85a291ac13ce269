package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Test-side bridge into `private[sources]` lake internals — keeps the
  * production access modifiers tight while letting specs pin internal
  * invariants (segment immutability, ref resolution).
  */
object LakeTestAccess {
  def writeSegment(root: Path, token: String, lines: Seq[String]): String =
    ManifestSink.writeSegment(root, token, lines)
  def segmentLines(root: Path, name: String): Seq[String] =
    ManifestSink.segmentLines(root, name)
  def resolveLines(root: Path, lines: Seq[String]): Seq[String] =
    ManifestSink.resolveLines(root, lines)
  def rawListLines(root: Path): Seq[String] =
    ManifestState.live(root).fold(Seq.empty[String])(_.rawTail)
  def segResolves: Long = ManifestSink.segResolves.get()
  def liveAliases(root: Path): Map[String, Seq[String]] =
    ManifestState.live(root).fold(Map.empty[String, Seq[String]])(_.aliases)
  def ledgerLines(root: Path): Seq[String] =
    ManifestState.live(root).fold(Seq.empty[String])(_.tail.filter(_.startsWith("#")))
  /** Writes `rows` through the JSON payload writer; returns its byte count. */
  def writeJsonRows(file: Path, schema: StructType, rows: Seq[InternalRow]): Long = {
    val w = new JsonRowFileWriter(file, schema)
    try rows.foreach(w.write) finally w.close()
    w.approxBytes
  }
}
