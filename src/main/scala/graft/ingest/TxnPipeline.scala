package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{FpeFunctions, WireDecode}

/** The streaming-ingest transform chain — the engine's re-expression of the
  * reference's Beam DoFn (dataflow_pipeline/pipeline.py:51-131) as a pure
  * `DataFrame => (valid, errors)` function, usable identically in batch and
  * inside `foreachBatch` streaming:
  *
  *   parse (S3: the `wire_decode` fast path, `from_json` where it
  *   declines; variant fallback on corrupt rows only) → union-unwrap (U1)
  *   → PAN validate (U3) → mask (U5) → FPE tokenize (U6) → drop PII (U8)
  *   → project (U9), with the invalid branch built as dead-letter records
  *   (U4/U10) and unparseable payloads dead-lettered as 'Malformed JSON'.
  *
  * `valid` and `errors` are two frames over the same parse: each branch
  * parses a row once, so a caller that writes both runs the parse once
  * per write unless it caches the parsed frame itself.
  *
  * The whole chain is narrow — no shuffle, fully pipelined per input split,
  * so ingest throughput scales linearly with executors at any data size.
  * In each branch's executed plan, the parse `Generate` runs interpreted,
  * `wire_decode` included: its `from_json` fallback (`JsonToStructs`) is a
  * `CodegenFallback`, which keeps the node out of whole-stage codegen.
  * Everything above it is one codegen stage: the variant `Generate`, the
  * branch filter and the projections, the native FPE expression (which
  * touches only rows with a present, valid PAN) included.
  */
object TxnPipeline {

  /** Wire schema of a fact transaction as the generators publish it
    * (fact_table_ingestion/schemas/fact_transactions_pub-sub.avsc): flat
    * fields, with nullable card_number / payment_gateway_id union-wrapped
    * in the Avro JSON encoding ({"string": v} / {"int": v},
    * generate_fact_transactions_data.py:215-220).
    */
  val wireSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType, nullable = false),
    StructField("customer_id", LongType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("tax_amount", DoubleType, nullable = false),
    StructField("discount_amount", DoubleType, nullable = false),
    StructField("total_amount", DoubleType, nullable = false),
    StructField("transaction_channel", StringType, nullable = false),
    StructField("is_recurring", BooleanType, nullable = false),
    StructField("transaction_datetime", StringType, nullable = false),
    StructField("card_number", StructType(Seq(StructField("string", StringType))), nullable = true),
    StructField("payment_gateway_id", StructType(Seq(StructField("int", LongType))), nullable = true),
    StructField("risk_score", DoubleType, nullable = false)))

  /** [[wireSchema]] plus the PERMISSIVE-mode corrupt-record column: a row
    * that fails the struct parse (malformed JSON, or a union field whose
    * shape deviates from the schema) lands its raw text here with every
    * schema field null.
    */
  private[graft] val parseSchema: StructType =
    wireSchema.add(StructField("__graft_corrupt_record", StringType))

  /** Options of the parse; the fast path and `from_json` read the same map. */
  private[graft] val parseOptions: Map[String, String] = Map(
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "__graft_corrupt_record")

  /** U5: first 6 + fixed six asterisks + last 4 (pipeline.py:89-90 — six
    * asterisks regardless of PAN length).
    */
  def maskPan(pan: Column): Column =
    concat(substring(pan, 1, 6), lit("******"), substring(pan, -4, 4))

  /** Parse + unwrap + validate + mask + tokenize + project; returns the
    * (valid, errors) pair of U10's tagged outputs.
    *
    * @param raw DataFrame with a `raw` string column of wire JSON.
    * @param key FPE data-encryption key; broadcast to executors once
    *            (the Beam DoFn.setup analogue, pipeline.py:18-47 / U7).
    */
  def process(spark: SparkSession, raw: DataFrame, key: Array[Byte]): (DataFrame, DataFrame) = {
    // U6/U7: native codegen'd FPE expression; the key ships once per task
    // as a binary literal (the DoFn.setup-broadcast analogue) and it runs
    // in the codegen stage above the parse — a UDF here would box every
    // row across the closure boundary.
    val fpeTokenize = (pan: Column) => FpeFunctions.fpeEncrypt(pan, key)

    // S3: one JSON parse per row and branch against the full wire
    // schema, every field (including the union-wrapped structs) off the
    // single parsed struct. `wire_decode` is one Jackson streaming pass
    // over the row's UTF-8 bytes; it returns exactly the struct from_json
    // would, or null where it cannot prove that (see WireKernel), and only
    // then does from_json run. The parse is the one element of a
    // one-element `explode`: a Generate keeps each branch's filter above
    // the parse, where a Project would have the optimizer inline the parse
    // into the pushed-down filter and run it a second time per row.
    // PERMISSIVE mode + the corrupt-record column
    // make malformed input a data value instead of an error: corrupt
    // rows surface with null fields and their raw text in the
    // corrupt-record column (named collision-resistantly: a well-formed
    // payload with a top-level "_corrupt" key must not mark the row
    // corrupt — ADVICE r10), routed to the dead-letter branch below.
    val parsed = raw.select(col("raw"), explode(array(coalesce(
      WireDecode.wireDecode(col("raw"), parseSchema, parseOptions),
      from_json(col("raw"), parseSchema, parseOptions)))).as("r"))
    val corrupt = col("r").isNull || col("r.__graft_corrupt_record").isNotNull
    // PERMISSIVE corrupt-marking is ROW-granular (one bad field nulls the
    // whole struct), so every field of a corrupt row re-derives from a
    // variant parse of the raw text: the rare parseable-but-off-schema
    // row (a union field sent as a bare scalar instead of the Avro-JSON
    // `{"string": v}` / `{"int": v}` wrapping; the reference's
    // unwrap_primitives passes plain values through, pipeline.py:57-69)
    // recovers its fields, and a malformed one reads null everywhere.
    // `try_` because a mismatched shape must dead-letter, never throw
    // (ST5). The variant is bound once per row, as the element of a second
    // one-element `explode` (a Project would be inlined into each field
    // and into the pushed-down filter), and it is only computed for
    // corrupt rows: a clean row (the entire hot path) reads its parsed
    // struct and never runs the variant builder.
    val bound = parsed.select(col("raw"), col("r"),
      explode(array(when(corrupt, try_parse_json(col("raw"))))).as("v"))
    def fallback(path: String, typ: String): Column =
      try_variant_get(col("v"), s"$$.$path", typ)
    def f(field: String, typ: String): Column =
      coalesce(col(s"r.$field"), fallback(field, typ)).as(field)
    // U1: a union field reads its wrapped member, else the bare scalar
    def unwrap(field: String, member: String, typ: String): Column =
      coalesce(col(s"r.$field.$member"), fallback(s"$field.$member", typ),
        fallback(field, typ)).as(field)
    val rec = bound.select(
      col("raw"),
      // carried marker: did the payload parse at all? Distinguishes a
      // malformed payload from a parseable one missing its id (U4 —
      // the dead-letter label must say which; a 'Malformed JSON' label
      // on well-formed JSON breaks the audit trail). A row the struct
      // parse rejected still counts as parsed if the variant parse
      // accepts it — shape deviation is not malformed JSON.
      (!corrupt || col("v").isNotNull).as("parse_ok"),
      f("transaction_id", "string"), f("customer_id", "bigint"),
      f("amount", "double"), f("tax_amount", "double"),
      f("discount_amount", "double"), f("total_amount", "double"),
      f("transaction_channel", "string"), f("is_recurring", "boolean"),
      f("transaction_datetime", "string"),
      unwrap("card_number", "string", "string"),
      unwrap("payment_gateway_id", "int", "bigint"),
      f("risk_score", "double"))

    // Rows whose raw JSON failed to parse dead-letter as 'Malformed
    // JSON'; structurally valid JSON lacking its record id dead-letters
    // as 'Missing transaction_id' (the reference only dead-letters on PAN
    // validity, pipeline.py:77-88 — but an unkeyed fact row can't land in
    // the fact table, and the label must say why it didn't).
    val jsonOk = col("parse_ok") && col("transaction_id").isNotNull

    // U2/U3: a missing PAN is fine (UPI / net-banking rows); a present PAN
    // must have 13..19 digits or the row dead-letters.
    val panOk = col("card_number").isNull ||
      length(col("card_number")).between(13, 19)

    val valid = rec.filter(jsonOk && panOk)
      .withColumn("masked_card_number",
        when(col("card_number").isNotNull, maskPan(col("card_number"))))
      .withColumn("card_token",
        when(col("card_number").isNotNull, fpeTokenize(col("card_number"))))
      .drop("card_number", "raw") // U8: PII never reaches the sink
      .select( // U9: fixed output projection, sink column order
        col("transaction_id"), col("customer_id"), col("amount"),
        col("tax_amount"), col("discount_amount"), col("total_amount"),
        col("transaction_channel"), col("is_recurring"),
        col("transaction_datetime"), col("masked_card_number"),
        col("card_token"), col("payment_gateway_id"), col("risk_score"))

    // U4: dead-letter record (pipeline.py:81-87)
    val errors = rec.filter(!jsonOk || !panOk)
      .select(
        col("transaction_id"),
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("timestamp"),
        col("raw").as("raw_message"),
        when(!col("parse_ok"), lit("Malformed JSON"))
          .when(col("transaction_id").isNull, lit("Missing transaction_id"))
          .otherwise(lit("Invalid Card Number")).as("error"))

    (valid, errors)
  }
}
