package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{Filter, GreaterThan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LakeTestAccess, ManifestJsonReader}

/** The JSON payload reader's contract: it reads back what the JSON row
  * writer wrote, projected to any subset and order of columns, and it
  * resolves hand-written lines by name (aliases, unknown and missing
  * keys, any key order), applying tombstones and position deletes.
  */
class JsonReaderSpec extends AnyFunSuite {

  private val schema = StructType(Seq(StructField("l", LongType),
    StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("s", StringType)))

  private val strings = Seq("", "plain", "say \"hi\"", "back\\slash\\",
    (0 until 0x20).map(_.toChar).mkString, "a\u0000b\u001fc\u007f",
    "Über ✓ 中文", "😀 pair 😀", "mixed \"😀\"\t\\\u0001end", "x" * 150000)
  private val longs = Seq(0L, 1L, -1L, 42L, Long.MinValue, Long.MaxValue,
    999999999999999999L, -1000000000000000000L)
  private val ints = Seq(0, 7, -7, Int.MinValue, Int.MaxValue, 123456789)
  private val doubles = Seq(0.0, -0.0, 1.5, 1e-5, 1e300, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue)

  /** Rows cycling every value list; row k has a null in column k % 5 (5: none). */
  private val rows: Seq[Seq[Any]] = (0 until 60).map { k =>
    Seq[Any](longs(k % longs.length), ints(k % ints.length),
      doubles(k % doubles.length), UTF8String.fromString(strings(k % strings.length)))
      .zipWithIndex.map { case (v, c) => if (k % 5 == c) null else v }
  }

  private def withDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft_json_reader")
    try body(dir)
    finally { dir.toFile.listFiles.foreach(_.delete()); Files.delete(dir) }
  }

  private def readAll(file: Path, table: StructType, required: StructType,
      deletes: Seq[Filter] = Seq.empty, pos: Set[Long] = null,
      aliases: Map[String, Seq[String]] = Map.empty): Seq[InternalRow] = {
    val posSet =
      if (pos == null) null
      else { val h = new java.util.HashSet[java.lang.Long](); pos.foreach(h.add(_)); h }
    val r = new ManifestJsonReader(file.toString, table, required, deletes, posSet, aliases)
    try Iterator.continually(r).takeWhile(_.next()).map(_.get()).toVector
    finally r.close()
  }

  /** Cells of `row` under `fields`; doubles as their bits so NaN and -0.0 compare exactly. */
  private def cells(row: InternalRow, fields: Seq[StructField]): Seq[Any] = {
    assert(row.numFields == fields.length)
    fields.indices.map { i =>
      if (row.isNullAt(i)) null
      else fields(i).dataType match {
        case DoubleType => java.lang.Double.doubleToRawLongBits(row.getDouble(i))
        case dt => row.get(i, dt)
      }
    }
  }
  private def expect(vals: Seq[Any], fields: Seq[StructField]): Seq[Any] =
    fields.map { f =>
      vals(schema.fieldIndex(f.name)) match {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      }
    }

  private def writeLines(dir: Path, name: String, lines: String*): Path = {
    val f = dir.resolve(name)
    Files.write(f, lines.map(_ + "\n").mkString.getBytes(UTF_8))
    f
  }

  test("round trip: every subset and order of columns reads back what the writer wrote") {
    withDir { dir =>
      val file = dir.resolve("part-0.json")
      LakeTestAccess.writeJsonRows(file, schema, rows.map(InternalRow.fromSeq))
      val projections = (0 to 4).flatMap(k => schema.fields.toSeq.combinations(k))
        .flatMap(_.permutations)
      assert(projections.length == 65)
      projections.foreach { fields =>
        val got = readAll(file, schema, StructType(fields))
        assert(got.length == rows.length, fields)
        got.zip(rows).foreach { case (row, vals) =>
          assert(cells(row, fields) == expect(vals, fields), fields.map(_.name))
        }
      }
      // each row is its own object
      val all = readAll(file, schema, schema)
      assert(all.map(System.identityHashCode).distinct.length == all.length)
    }
  }

  test("round trip: an empty file reads no rows; a zero-column projection counts rows") {
    withDir { dir =>
      val empty = dir.resolve("empty.json")
      LakeTestAccess.writeJsonRows(empty, schema, Seq.empty)
      assert(Files.size(empty) == 0L)
      assert(readAll(empty, schema, schema).isEmpty)
      assert(readAll(empty, schema, StructType(Nil)).isEmpty)
      val file = dir.resolve("part-0.json")
      LakeTestAccess.writeJsonRows(file, schema, rows.map(InternalRow.fromSeq))
      val counted = readAll(file, schema, StructType(Nil))
      assert(counted.length == rows.length && counted.forall(_.numFields == 0))
    }
  }

  private val people = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("amt", LongType)))

  private def idName(rows: Seq[InternalRow]): Seq[(Any, Any)] =
    rows.map(r => (if (r.isNullAt(0)) null else r.getLong(0),
      if (r.isNullAt(1)) null else r.getUTF8String(1).toString))

  test("lines: renamed key through aliases, unknown key skipped, missing column null") {
    withDir { dir =>
      val req = StructType(Seq(people("id"), people("name")))
      val f = writeLines(dir, "part-0.json",
        """{"id":1,"nm":"a","amt":5}""",
        """{"id":2,"zz":"q\"}x\\","yy":-5.5e3,"nm":"bé"}""",
        """{"id":3,"nm":null}""")
      // `nm` is `name`'s prior name; `zz`/`yy` are in no schema; `amt` is absent on 2 and 3
      assert(idName(readAll(f, people, req, aliases = Map("name" -> Seq("nm")))) ==
        Seq((1L, "a"), (2L, "bé"), (3L, null)))
      // without the alias the renamed key is unknown and `name` reads null
      assert(idName(readAll(f, people, req)) == Seq((1L, null), (2L, null), (3L, null)))
      val amt = readAll(f, people, StructType(Seq(people("amt"))))
      assert(amt.map(r => if (r.isNullAt(0)) null else r.getLong(0)) == Seq(5L, null, null))
    }
  }

  test("lines: keys in any order resolve by name") {
    withDir { dir =>
      val f = writeLines(dir, "part-0.json",
        """{"id":1,"name":"a","amt":10}""",
        """{"name":"b","amt":20,"id":2}""",
        """{"amt":30,"id":3,"name":"c"}""",
        """{"id":4,"name":"d","amt":40}""")
      val got = readAll(f, people, StructType(Seq(people("amt"), people("name"), people("id"))))
      assert(got.map(r => (r.getLong(0), r.getUTF8String(1).toString, r.getLong(2))) ==
        Seq((10L, "a", 1L), (20L, "b", 2L), (30L, "c", 3L), (40L, "d", 4L)))
    }
  }

  test("lines: a tombstone on a column the query does not project") {
    withDir { dir =>
      val f = writeLines(dir, "part-0.json",
        """{"id":1,"name":"a","amt":5}""",
        """{"id":2,"name":"b","amt":50}""",
        """{"id":3,"name":"c","amt":null}""",
        """{"id":4,"name":"d","amt":11}""")
      val got = readAll(f, people, StructType(Seq(people("name"))),
        deletes = Seq(GreaterThan("amt", 10L)))
      // 3VL: the null amount is UNKNOWN, so its row survives
      assert(got.map(_.getUTF8String(0).toString) == Seq("a", "c"))
      assert(got.forall(_.numFields == 1))
    }
  }

  test("lines: position deletes with _pos, _file and _epoch") {
    withDir { dir =>
      val name = "e7-0001-abc.json"
      val f = writeLines(dir, name, (0 until 6).map(k => s"""{"id":$k,"name":"n$k"}"""): _*)
      val req = StructType(Seq(StructField("_pos", LongType), people("id"),
        StructField("_file", StringType), StructField("_epoch", LongType)))
      val got = readAll(f, people, req, deletes = Seq(GreaterThan("id", 3L)), pos = Set(1L, 2L))
      assert(got.map(r => (r.getLong(0), r.getLong(1), r.getUTF8String(2).toString, r.getLong(3))) ==
        Seq((0L, 0L, name, 7L), (3L, 3L, name, 7L)))
      val batch = writeLines(dir, "part-9.json", """{"id":1}""")
      assert(readAll(batch, people, StructType(Seq(StructField("_epoch", LongType))))
        .map(_.getLong(0)) == Seq(-1L))
    }
  }
}
