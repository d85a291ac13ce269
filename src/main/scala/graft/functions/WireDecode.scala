package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-schema tables of the wire decoder: field name → ordinal, and what
  * each ordinal accepts. Built once on the driver; the Jackson factory is
  * rebuilt lazily on each executor from the same options `from_json`
  * gets, through Spark's own `JSONOptions.buildJsonFactory`, so both
  * paths tokenize with the same features and number limits.
  */
final class WirePlan(schema: StructType, options: Map[String, String],
    corruptColumn: String) extends Serializable {
  import WirePlan._

  val width: Int = schema.length
  require(width <= 64, s"wire_decode: at most 64 fields, got $width")

  /** The kind of each ordinal; the corrupt-record column reads no key. */
  private[functions] val kinds: Array[Int] = schema.fields.map(f => kindOf(f.dataType))
  /** Member name of each union-wrapper ordinal (null elsewhere). */
  private[functions] val members: Array[String] = schema.fields.map(_.dataType match {
    case StructType(Array(m)) => m.name
    case _ => null
  })
  private[functions] val index: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (f.name != corruptColumn) m.put(f.name, i) }
    m
  }

  @transient private[functions] lazy val factory: JsonFactory =
    new JSONOptions(options, "UTC", corruptColumn).buildJsonFactory()
}

object WirePlan {
  private[functions] final val Str = 0
  private[functions] final val Lng = 1
  private[functions] final val Dbl = 2
  private[functions] final val Bool = 3
  /** `{"<member>": v}` wrapper of an Avro-JSON union; kind of v in bits 4+. */
  private[functions] final val Wrapped = 4

  private def scalarKind(t: DataType): Int = t match {
    case StringType => Str
    case LongType => Lng
    case DoubleType => Dbl
    case BooleanType => Bool
    case other =>
      throw new IllegalArgumentException(s"wire_decode: unsupported field type $other")
  }

  private def kindOf(t: DataType): Int = t match {
    case StructType(Array(m)) if m.dataType == StringType || m.dataType == LongType =>
      Wrapped | (scalarKind(m.dataType) << 4)
    case other => scalarKind(other)
  }
}

/** Fast path of `from_json(raw, schema, PERMISSIVE)` for flat wire records.
  *
  * Contract: `decode` returns exactly the row `from_json` returns for the
  * same bytes and options, or null ("decline"), in which case the caller
  * falls through to `from_json` itself. It accepts only input whose
  * answer is provably the same:
  *   - valid UTF-8 without NUL bytes whose first non-blank byte is `{`
  *     (so Jackson's byte-source bootstrap picks UTF-8 and sees no BOM,
  *     exactly as `from_json`'s UTF-8 reader does);
  *   - one root object and nothing after it;
  *   - per field, only the token types the generic converter maps without
  *     coercion: `VALUE_STRING` for strings, `VALUE_NUMBER_INT` in long
  *     range for longs, INT/FLOAT through `getDoubleValue` for doubles,
  *     `VALUE_TRUE`/`VALUE_FALSE` for booleans, a `{"<member>": v}`
  *     object for union wrappers, and `null` anywhere;
  *   - no key twice (the generic path keeps the last; this one declines).
  * Unknown keys are skipped with `skipChildren`, as the generic path does.
  * Any Jackson exception declines.
  */
object WireKernel {
  import WirePlan._

  def decode(plan: WirePlan, raw: UTF8String): InternalRow = {
    val len = raw.numBytes
    val base = raw.getBaseObject
    val bytes = base match {
      case a: Array[Byte] => a
      case _ => raw.getBytes
    }
    val off = if (bytes eq base) (raw.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt else 0
    if (!plainObject(raw, bytes, off, len)) return null
    var p: JsonParser = null
    try {
      p = plan.factory.createParser(bytes, off, len)
      if (p.nextToken() ne JsonToken.START_OBJECT) return null
      val row = new GenericInternalRow(plan.width)
      var seen = 0L
      while (p.nextToken() eq JsonToken.FIELD_NAME) {
        val i = plan.index.get(p.currentName)
        val t = p.nextToken()
        if (i == null) p.skipChildren()
        else {
          val bit = 1L << i
          if ((seen & bit) != 0) return null
          seen |= bit
          if (t ne JsonToken.VALUE_NULL) {
            val k = plan.kinds(i)
            val v =
              if ((k & Wrapped) == 0) scalar(p, t, k)
              else wrapped(p, t, k >> 4, plan.members(i))
            if (v == null) return null
            row.update(i, v)
          }
        }
      }
      // the loop ends on END_OBJECT; anything after the root declines
      if (p.nextToken() != null) null else row
    } catch {
      case _: java.io.IOException | _: RuntimeException => null
    } finally {
      if (p != null) p.close()
    }
  }

  /** The value of token `t` for scalar kind `k`, or null if the generic
    * converter would coerce, reinterpret or reject it. */
  private def scalar(p: JsonParser, t: JsonToken, k: Int): Any = k match {
    case Str => if (t eq JsonToken.VALUE_STRING) UTF8String.fromString(p.getText) else null
    case Lng => if (t eq JsonToken.VALUE_NUMBER_INT) p.getLongValue else null
    case Dbl =>
      if ((t eq JsonToken.VALUE_NUMBER_INT) || (t eq JsonToken.VALUE_NUMBER_FLOAT))
        p.getDoubleValue
      else null
    case _ =>
      if (t eq JsonToken.VALUE_TRUE) true
      else if (t eq JsonToken.VALUE_FALSE) false
      else null
  }

  /** `{"<member>": v}` → a one-field row; unknown members are skipped. */
  private def wrapped(p: JsonParser, t: JsonToken, k: Int, member: String): InternalRow = {
    if (t ne JsonToken.START_OBJECT) return null
    val row = new GenericInternalRow(1)
    var seen = false
    while (p.nextToken() eq JsonToken.FIELD_NAME) {
      val known = p.currentName == member
      val vt = p.nextToken()
      if (!known) p.skipChildren()
      else {
        if (seen) return null
        seen = true
        if (vt ne JsonToken.VALUE_NULL) {
          val v = scalar(p, vt, k)
          if (v == null) return null
          row.update(0, v)
        }
      }
    }
    row
  }

  /** No NUL byte, valid UTF-8, and `{` as the first non-blank byte. */
  private def plainObject(raw: UTF8String, bytes: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end && (bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\n' || bytes(i) == '\r'))
      i += 1
    if (i == end || bytes(i) != '{') return false
    var ascii = true
    while (i < end) {
      val b = bytes(i)
      if (b == 0) return false
      if (b < 0) ascii = false
      i += 1
    }
    ascii || raw.isValid
  }
}

/** `wire_decode(raw)`: the struct `from_json(raw, schema, options)` would
  * return, or null where [[WireKernel.decode]] declines. The generated
  * code calls the kernel directly. In `TxnPipeline` the expression runs
  * interpreted (`nullSafeEval`, the same kernel call): it shares its
  * `Generate` with the `from_json` fallback, a `CodegenFallback`, which
  * keeps that node out of whole-stage codegen.
  */
case class WireDecode(child: Expression, schema: StructType,
    options: Map[String, String], corruptColumn: String) extends UnaryExpression {

  @transient private lazy val plan = new WirePlan(schema, options, corruptColumn)

  override def dataType: DataType = WireDecode.nullable(schema)
  override def nullable: Boolean = true
  override def prettyName: String = "wire_decode"

  override protected def nullSafeEval(raw: Any): Any =
    WireKernel.decode(plan, raw.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wirePlan", plan, classOf[WirePlan].getName)
    nullSafeCodeGen(ctx, ev, raw =>
      s"""${ev.value} = graft.functions.WireKernel.decode($ref, $raw);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WireDecode {
  /** `from_json`'s result type: the schema with every field nullable. */
  private def nullable(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(nullable = true, dataType = f.dataType match {
      case s: StructType => nullable(s)
      case t => t
    })))

  /** Column API. `options` must be the map given to the `from_json` this
    * call stands in front of; the corrupt-record column defaults as
    * `from_json`'s does. */
  def wireDecode(raw: Column, schema: StructType, options: Map[String, String]): Column = {
    val corrupt = new JSONOptions(options, "UTC", SQLConf.get.columnNameOfCorruptRecord)
      .columnNameOfCorruptRecord
    SqlBridge.column(WireDecode(SqlBridge.expression(raw), schema, options, corrupt))
  }
}
