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
    ManifestSink.rawListLines(root)
  def segResolves: Long = ManifestSink.segResolves.get()
  def liveAliases(root: Path): Map[String, Seq[String]] =
    ManifestSink.liveAliases(root)
  def ledgerLines(root: Path): Seq[String] =
    ManifestSink.ledgerLines(root)
  /** Writes `rows` through the JSON payload writer; returns its byte count. */
  def writeJsonRows(file: Path, schema: StructType, rows: Seq[InternalRow]): Long = {
    val w = new JsonRowFileWriter(file, schema)
    try rows.foreach(w.write) finally w.close()
    w.approxBytes
  }
}
