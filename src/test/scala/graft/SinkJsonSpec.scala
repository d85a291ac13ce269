package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LakeTestAccess, ManifestMeta}

/** The lake's JSON payload bytes: `ManifestMeta.esc` and the JSON row
  * writer against the per-char reference encoding they replace.
  */
class SinkJsonSpec extends AnyFunSuite {

  /** The reference escaper: one String per char. */
  private def refEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private val cases = Seq("", "plain", "say \"hi\"", "back\\slash\\", "\\\"",
    (0 until 0x20).map(_.toChar).mkString, "a\u0000b\u001fc\u007f",
    "Über ✓ 中文", "😀 pair 😀", "lone \ud800 and \udc00",
    "mixed \"😀\"\t\\\u0001end", "\u0008\u000c")

  test("esc equals the reference on quotes, backslashes, controls, non-ASCII and surrogates") {
    cases.foreach(s => assert(ManifestMeta.esc(s) == refEsc(s), s))
    // random strings over all UTF-16 units, half drawn from the escaped range
    val r = new scala.util.Random(11)
    (0 until 2000).foreach { _ =>
      val s = Seq.fill(r.nextInt(40))(
        if (r.nextBoolean()) r.nextInt(0x24).toChar else r.nextInt(0x10000).toChar).mkString
      assert(ManifestMeta.esc(s) == refEsc(s), s.map(_.toInt))
    }
  }

  test("esc returns its input when nothing needs escaping") {
    val s = "Über ✓ 中文 😀 plain"
    assert(ManifestMeta.esc(s) eq s)
  }

  test("JSON row writer: same bytes as the reference line encoding") {
    val schema = StructType(Seq(StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("s", StringType)))
    val doubles = Seq(0.0, -0.0, 1.5, 1e-5, 1e7, 123456.789, Double.MaxValue,
      Double.MinPositiveValue, Double.NaN, Double.NegativeInfinity)
    val rows = cases.zipWithIndex.map { case (s, k) =>
      (Long.MinValue + k, k - 3, doubles(k % doubles.length), s) } ++
      Seq((0L, 0, 0.0, null), (1L, 1, 2.5, "x"))
    val internal = rows.zipWithIndex.map { case ((l, i, d, s), k) =>
      // a null in each column in turn, on the last rows
      InternalRow(if (k == rows.length - 1) null else l, if (k == 1) null else i,
        if (k == 2) null else d, if (s == null) null else UTF8String.fromString(s))
    }
    def cell(v: Any): String = v match {
      case null => "null"
      case s: UTF8String => "\"" + refEsc(s.toString) + "\""
      case other => other.toString
    }
    val expected = internal.map { r =>
      schema.fields.indices.map(i => "\"" + schema(i).name + "\":" +
        cell(if (r.isNullAt(i)) null else r.get(i, schema(i).dataType)))
        .mkString("{", ",", "}") + "\n"
    }.mkString
    val file = Files.createTempFile("graft_json_rows", ".json")
    try {
      val n = LakeTestAccess.writeJsonRows(file, schema, internal)
      val bytes = Files.readAllBytes(file)
      assert(new String(bytes, UTF_8) == expected)
      assert(bytes.sameElements(expected.getBytes(UTF_8)))
      // cells arrive as UTF8String, whose encoding already turned each lone
      // surrogate into '?', so the roll bound's count is exact here
      assert(n == bytes.length)
    } finally Files.deleteIfExists(file)
  }
}
