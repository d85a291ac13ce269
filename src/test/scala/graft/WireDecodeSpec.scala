package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.WireDecode
import graft.ingest.TxnPipeline

/** `wire_decode` against `from_json` on the same bytes and options: for
  * every input the fast path either declines (null) or returns exactly
  * from_json's row, and it accepts every generated record from_json does
  * not mark corrupt.
  */
class WireDecodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val schema = TxnPipeline.parseSchema
  private val options = TxnPipeline.parseOptions
  private val corruptIdx = schema.fieldIndex("__graft_corrupt_record")

  // ---- wire records in the publisher's full Avro-JSON shape ----------

  private val Kinds = Seq("card", "cardless", "bad_pan", "missing_id", "malformed", "bare_scalar")

  /** (key, JSON value text) pairs of one record of `kind`; truncation of
    * the malformed kind happens in [[render]]'s caller. */
  private def fields(r: scala.util.Random, kind: String): Seq[(String, String)] = {
    def cents(v: Double) = math.round(v * 100) / 100.0
    def digits(n: Int) = (1 to n).map(i => if (i == 1) ('1' + r.nextInt(9)).toChar
      else ('0' + r.nextInt(10)).toChar).mkString
    val amount = cents(10 + r.nextDouble() * 49990)
    val tax = cents(amount * 0.125)
    val discount = if (r.nextInt(4) == 0) cents(amount * 0.05) else 0.0
    val carded = kind != "cardless"
    val bare = kind == "bare_scalar"
    def wrap(member: String, v: String) = if (bare) v else s"""{"$member":$v}"""
    val panLen = if (kind == "bad_pan") (if (r.nextBoolean()) 12 else 20) else 13 + r.nextInt(7)
    val pan = digits(panLen)
    val gateway = 1 + r.nextInt(10)
    val card =
      if (carded) Seq(
        "card_number" -> wrap("string", s""""$pan""""),
        "card_bin" -> wrap("string", s""""${pan.take(6)}""""),
        "card_provider" -> wrap("string", s""""VISA $panLen digit""""),
        "cardholder_name" -> "\"Priya Nair\"",
        "card_expiry_date" -> s""""0${1 + r.nextInt(9)}/${26 + r.nextInt(6)}"""",
        "payment_gateway_id" -> wrap("int", gateway.toString))
      else Seq("card_number", "card_bin", "card_provider", "cardholder_name",
        "card_expiry_date", "payment_gateway_id").map(_ -> "null")
    val id = if (kind == "missing_id") Nil
      else Seq("transaction_id" -> s""""${java.lang.Long.toHexString(r.nextLong())}"""")
    id ++ Seq(
      "customer_id" -> (1000000 + r.nextInt(2000)).toString,
      "account_id" -> (500000000L + r.nextInt(1000000)).toString,
      "merchant_id" -> (1 + r.nextInt(37)).toString,
      "merchant_category_code_id" -> (1 + r.nextInt(19)).toString,
      "is_recurring" -> (r.nextInt(10) == 0).toString,
      "transaction_datetime" -> "\"2024-03-15T10:42:31.123456\"",
      "amount" -> amount.toString, "tax_amount" -> tax.toString,
      "discount_amount" -> discount.toString,
      "total_amount" -> cents(amount + tax - discount).toString,
      "transaction_channel" -> (if (carded) "\"POS Terminal\"" else "\"UPI\"")) ++
      card ++ Seq(
      "device_type_id" -> (1 + r.nextInt(8)).toString,
      "ip_address" -> "\"10.0.0.1\"",
      "risk_score" -> (math.round(r.nextDouble() * 1000) / 1000.0).toString)
  }

  private def render(fs: Seq[(String, String)]): String =
    fs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def record(r: scala.util.Random, kind: String): String = {
    val line = render(fields(r, kind))
    if (kind == "malformed") line.substring(0, line.length * 3 / 5) else line
  }

  private def card(seed: Int): Seq[(String, String)] = fields(new scala.util.Random(seed), "card")
  private def set(fs: Seq[(String, String)], k: String, v: String) =
    fs.map { case (k0, v0) => if (k0 == k) k0 -> v else k0 -> v0 }

  /** Inputs that stress the accept-or-decline contract, each as UTF-8 bytes. */
  private def mutations: Seq[(String, Array[Byte])] = {
    val c = card(7)
    val line = render(c)
    val strs: Seq[(String, String)] = Seq(
      "shuffled" -> render(new scala.util.Random(3).shuffle(c)),
      "reversed" -> render(c.reverse),
      "duplicate key, same value" -> render(c :+ ("amount" -> c.toMap.apply("amount"))),
      "duplicate key, new value" -> render(c :+ ("amount" -> "1.5")),
      "duplicate wrapper member" -> render(set(c, "card_number",
        """{"string":"4111111111111111","string":"4222222222222222"}""")),
      "duplicate unknown key" -> render(c :+ ("device_type_id" -> "9")),
      "trailing garbage" -> (line + " x"),
      "trailing object" -> (line + "{}"),
      "trailing close" -> (line + "}"),
      "trailing blanks" -> (line + " \n\t"),
      "leading blanks" -> (" \r\n\t" + line),
      "escapes in values" -> render(set(set(c, "transaction_id", "\"\\u0041b\\u00e9\\ud83d\\ude00\\\"q\\\\\""),
        "transaction_channel", "\"tab\\there\\nnl \\/ \\u0000\"")),
      "escaped key" -> render(c.map { case (k, v) =>
        (if (k == "amount") "amo\\u0075nt" else k) -> v }),
      "lone surrogate escape" -> render(set(c, "transaction_id", "\"\\ud800x\"")),
      "non-ascii text" -> render(set(c, "transaction_channel", "\"Über ✓ 😀 中文\"")),
      "exponent double" -> render(set(c, "amount", "1.5e3")),
      "exponent int double" -> render(set(c, "amount", "15E2")),
      "tiny double" -> render(set(c, "amount", "4.9e-324")),
      "underflow double" -> render(set(c, "amount", "1e-400")),
      "overflow double" -> render(set(c, "amount", "1e400")),
      "long digits double" -> render(set(c, "amount", "0.1000000000000000055511151231257827")),
      "huge int as double" -> render(set(c, "amount", "123456789012345678901234567890")),
      "negative zero double" -> render(set(c, "amount", "-0.0")),
      "int as double" -> render(set(c, "amount", "42")),
      "NaN double" -> render(set(c, "amount", "NaN")),
      "Infinity double" -> render(set(c, "amount", "-Infinity")),
      "string double" -> render(set(c, "amount", "\"1.5\"")),
      "long max" -> render(set(c, "customer_id", "9223372036854775807")),
      "long min" -> render(set(c, "customer_id", "-9223372036854775808")),
      "long overflow" -> render(set(c, "customer_id", "9223372036854775808")),
      "long underflow" -> render(set(c, "customer_id", "-9223372036854775809")),
      "float as long" -> render(set(c, "customer_id", "1.0")),
      "string as long" -> render(set(c, "customer_id", "\"5\"")),
      "wrapped long overflow" -> render(set(c, "payment_gateway_id", """{"int":99999999999999999999}""")),
      "number as boolean" -> render(set(c, "is_recurring", "1")),
      "string as boolean" -> render(set(c, "is_recurring", "\"true\"")),
      "number as string" -> render(set(c, "transaction_channel", "7")),
      "object as string" -> render(set(c, "transaction_channel", """{"a":1}""")),
      "array as double" -> render(set(c, "amount", "[1.0]")),
      "all nulls" -> render(c.map { case (k, _) => k -> "null" }),
      "null wrapper member" -> render(set(c, "card_number", """{"string":null}""")),
      "empty wrapper" -> render(set(c, "card_number", "{}")),
      "wrapper with unknown member" -> render(set(c, "card_number",
        """{"x":{"y":[1,{"z":null}]},"string":"4111111111111111","long":7}""")),
      "nested unknown objects" -> render(c :+ ("extra" -> """{"a":[1,{"b":[]},"c"],"d":{"e":{"f":null}}}""")),
      "unknown array" -> render(("tags" -> """[["a"],[{"b":1}]]""") +: c),
      "corrupt column as key" -> render(c :+ ("__graft_corrupt_record" -> "\"x\"")),
      "case-variant key" -> render(c :+ ("Amount" -> "2.0")),
      "single quotes" -> line.replace('"', '\''),
      "bare-scalar union" -> render(set(set(c, "card_number", "\"4111111111111111\""),
        "payment_gateway_id", "3")),
      "string-wrapper with number" -> render(set(c, "card_number", """{"string":123}""")),
      "int-wrapper with string" -> render(set(c, "payment_gateway_id", """{"int":"3"}""")),
      "empty object" -> "{}",
      "empty input" -> "",
      "blank input" -> "   ",
      "truncated" -> line.substring(0, line.length / 2),
      "truncated after value" -> line.dropRight(1),
      "root array" -> s"[$line]",
      "root string" -> "\"x\"",
      "root null" -> "null",
      "comment" -> ("/* c */" + line),
      "unquoted key" -> line.replace("\"amount\"", "amount"),
      "leading-zero number" -> render(set(c, "customer_id", "007")),
      "deep unknown nesting" -> render(c :+ ("deep" -> ("[" * 1200 + "]" * 1200))))
    val utf8 = strs.map { case (n, s) => n -> s.getBytes(UTF_8) }
    val b = line.getBytes(UTF_8)
    val at = line.indexOf("POS Terminal") + 1 // inside a string value
    def patch(bytes: Int*): Array[Byte] =
      b.take(at) ++ bytes.map(_.toByte) ++ b.drop(at)
    utf8 ++ Seq(
      "utf-8 BOM" -> (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ b),
      "NUL byte" -> (b.take(1) ++ Array(0.toByte) ++ b.drop(1)),
      "NUL pad (UTF-32 shape)" -> (Array[Byte]('{', 0, 0, 0) ++ b.drop(1)),
      "invalid continuation" -> patch(0xC3, 0x28),
      "overlong encoding" -> patch(0xC0, 0xAF),
      "encoded surrogate" -> patch(0xED, 0xA0, 0x80),
      "beyond U+10FFFF" -> patch(0xF5, 0x80, 0x80, 0x80),
      "lone continuation" -> patch(0x80),
      "truncated multibyte" -> (b.dropRight(1) ++ Array(0xE2.toByte, 0x82.toByte)),
      "valid 4-byte" -> patch(0xF0, 0x9F, 0x98, 0x80))
  }

  /** Distributed (codegen'd) evaluation of both paths over `inputs`:
    * (name, wire_decode row or null, from_json row or null). */
  private def both(inputs: Seq[(String, Array[Byte])]): Seq[(String, Row, Row)] = {
    import spark.implicits._
    val df: DataFrame = spark.sparkContext.parallelize(inputs, 2).toDF("name", "bytes")
      .select(col("name"), col("bytes").cast("string").as("raw"))
    df.select(col("name"),
        WireDecode.wireDecode(col("raw"), schema, options).as("d"),
        from_json(col("raw"), schema, options).as("j"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getAs[Row](1), r.getAs[Row](2)))
  }

  /** Value equality with doubles compared bit for bit (NaN == NaN, -0.0 != 0.0). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => a == b
  }

  private def clean(j: Row): Boolean = j != null && j.isNullAt(corruptIdx)

  test("every mutation: wire_decode declines or equals from_json") {
    val rows = both(mutations)
    assert(rows.length == mutations.length)
    val wrong = rows.filter { case (_, d, j) => d != null && !same(d, j) }
    assert(wrong.isEmpty, wrong.map { case (n, d, j) => s"$n: $d vs $j" }.mkString("\n"))
    val accepted = rows.filter(_._2 != null).map(_._1).toSet
    // the fast path must own the clean shapes it is there for ...
    Seq("shuffled", "reversed", "escapes in values", "escaped key", "non-ascii text",
      "exponent double", "huge int as double", "overflow double", "long max", "long min",
      "all nulls", "null wrapper member", "empty wrapper", "wrapper with unknown member",
      "nested unknown objects", "unknown array", "corrupt column as key", "case-variant key",
      "single quotes", "trailing blanks", "leading blanks", "NaN double", "valid 4-byte",
      "duplicate unknown key", "empty object")
      .foreach(n => assert(accepted(n), s"$n declined"))
    // ... and hand from_json every input whose answer it cannot prove
    Seq("duplicate key, same value", "duplicate key, new value", "duplicate wrapper member",
      "trailing garbage", "trailing object", "trailing close", "long overflow",
      "long underflow", "wrapped long overflow", "float as long", "string as long",
      "string double", "number as boolean", "string as boolean", "number as string",
      "object as string", "array as double", "bare-scalar union",
      "string-wrapper with number", "int-wrapper with string", "empty input", "blank input",
      "truncated", "truncated after value", "root array", "root string", "root null",
      "comment", "unquoted key", "leading-zero number", "deep unknown nesting",
      "utf-8 BOM", "NUL byte", "NUL pad (UTF-32 shape)", "invalid continuation",
      "overlong encoding", "encoded surrogate", "beyond U+10FFFF", "lone continuation",
      "truncated multibyte")
      .foreach(n => assert(!accepted(n), s"$n accepted"))
  }

  test("all six record kinds: equal where accepted, and every clean row accepted") {
    val r = new scala.util.Random(42)
    val inputs = (0 until 3000).map { i =>
      val kind = Kinds(i % Kinds.length)
      s"$kind-$i" -> record(r, kind).getBytes(UTF_8)
    }
    val rows = both(inputs)
    val wrong = rows.filter { case (_, d, j) => d != null && !same(d, j) }
    assert(wrong.isEmpty, wrong.take(5).map { case (n, d, j) => s"$n: $d vs $j" }.mkString("\n"))
    val missed = rows.filter { case (_, d, j) => d == null && clean(j) }
    assert(missed.isEmpty, s"clean rows declined: ${missed.take(5).map(_._1)}")
    def kindOf(n: String) = n.takeWhile(_ != '-')
    val acceptedKinds = rows.filter(_._2 != null).map(t => kindOf(t._1)).toSet
    assert(acceptedKinds == Set("card", "cardless", "bad_pan", "missing_id"))
  }

  test("generated and interpreted code agree; each branch decodes once per row") {
    val r = new scala.util.Random(5)
    val inputs = Kinds.map(k => k -> record(r, k).getBytes(UTF_8)) ++ mutations
    val expr = WireDecode(BoundReference(0, StringType, nullable = true), schema, options,
      "__graft_corrupt_record")
    assert(!expr.isInstanceOf[CodegenFallback])
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    val interpreted = InterpretedUnsafeProjection.createProjection(Seq(expr))
    inputs.foreach { case (n, b) =>
      val row = InternalRow(UTF8String.fromBytes(b))
      assert(generated(row).copy() == interpreted(row).copy(), n)
    }
    // the parse runs in one plan node per branch: a filter pushed below it
    // would evaluate it a second time per row
    import spark.implicits._
    val key = "0123456789abcdef0123456789abcdef".getBytes("UTF-8")
    val raw = spark.sparkContext.parallelize(Kinds.map(k => record(r, k)), 2).toDF("raw")
    val (valid, errors) = TxnPipeline.process(spark, raw, key)
    Seq(valid, errors).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val decoding = SparkTestBase.collectInPlan(plan) {
        case p if p.expressions.exists(_.find(_.isInstanceOf[WireDecode]).isDefined) => p
      }
      assert(decoding.length == 1, plan.treeString)
    }
  }
}
