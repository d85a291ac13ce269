package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.FpeFunctions

/** Oracle-checkable exercises of the full ingest pipeline.
  *
  * The wire records are built deterministically from `orders` (keyed hash
  * ladders, no rand()), serialized to the generators' JSON wire format —
  * including the Avro-union wrapping — then pushed through
  * `TxnPipeline.process`. Because the JSON round-trip is the identity, the
  * DuckDB oracle can compute the expected END STATE directly from `orders`
  * without touching JSON, which checks the whole parse→unwrap→validate→
  * mask→project chain.
  *
  * PAN shape per o_orderkey % 10: 0-6 → valid 16-digit; 7 → 12-digit
  * (dead-letter); 8 → 20-digit (dead-letter); 9 → no card (UPI-style row,
  * valid without mask/token).
  */
object IngestQueries {

  /** Fixed test DEK (the reference's key is random per deployment;
    * round-trip, not bit-compat, defines FPE correctness).
    */
  val testKey: Array[Byte] = "graft-test-dek-0123456789abcdef!".getBytes("UTF-8")

  /** Wire channel ladder — ONE definition (Spark Column + SQL fragment)
    * shared by the wire builder, the Avro round-trip, and the oracle
    * dialects; hand-copies of the thresholds desynchronize silently.
    * `r` is the Knuth hash of the order key in [0, 1e6).
    */
  def rHash(orderKey: Column): Column =
    (orderKey % lit(2147483647L)) * lit(2654435761L) % 1000000
  def rHashSql(keyCol: String): String =
    s"($keyCol % 2147483647) * 2654435761 % 1000000"
  def channelFromR(r: Column): Column =
    when(r < 300000, "Online Payment Gateway")
      .when(r < 570000, "UPI").when(r < 840000, "POS").otherwise("Net Banking")
  def channelFromRSql(r: String): String =
    s"""CASE WHEN $r < 300000 THEN 'Online Payment Gateway'
       |      WHEN $r < 570000 THEN 'UPI'
       |      WHEN $r < 840000 THEN 'POS'
       |      ELSE 'Net Banking' END""".stripMargin

  /** Deterministic wire-format records from orders. Key hashes reduce the
    * key mod 2^31-1 first so the Knuth multiply never overflows int64
    * under ANSI (same values for keys < 2^31-1).
    *
    * Rows with o_orderkey % 101 == 1 (~1%) omit `transaction_id` from the
    * payload — structurally valid JSON with no record id, exercising the
    * 'Missing transaction_id' dead-letter label distinctly from
    * 'Malformed JSON' (to_json drops null struct fields, so the key is
    * genuinely absent on the wire, not null-valued).
    */
  def wireFromOrders(orders: DataFrame): DataFrame = {
    val r = rHash(col("o_orderkey"))
    val pm = col("o_orderkey") % 10
    val hasTid = col("o_orderkey") % 101 =!= 1
    val pan = when(pm <= 6, lpad(col("o_orderkey").cast("string"), 16, "4"))
      .when(pm === 7, lpad(col("o_orderkey").cast("string"), 12, "4"))
      .when(pm === 8, lpad(col("o_orderkey").cast("string"), 20, "4"))
    // money math in exact DECIMAL: double round() tie-breaks differently
    // across engines (HALF_UP on shortest-repr vs binary-value rounding),
    // decimal rounding is HALF_UP in both for positive amounts
    val amount = col("o_totalprice")
    val amtD = col("o_totalprice").cast(DecimalType(18, 2))
    val tax = round(amtD * lit(0.18).cast(DecimalType(4, 2)), 2)
    val disc = when(col("o_orderkey") % 7 === 0,
      round(amtD * lit(0.05).cast(DecimalType(4, 2)), 2))
      .otherwise(lit(0).cast(DecimalType(18, 2)))
    val channel = channelFromR(r)
    orders.select(to_json(struct(
      when(hasTid, col("o_orderkey").cast("string")).as("transaction_id"),
      col("o_custkey").as("customer_id"),
      amount.as("amount"),
      tax.as("tax_amount"),
      disc.as("discount_amount"),
      (amtD + tax - disc).as("total_amount"),
      channel.as("transaction_channel"),
      (col("o_orderkey") % 5 === 0).as("is_recurring"),
      date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .as("transaction_datetime"),
      when(pan.isNotNull, struct(pan.as("string"))).as("card_number"),
      when(pm =!= 9, struct((col("o_orderkey") % 10 + 1).as("int")))
        .as("payment_gateway_id"),
      (r / 1000000.0).as("risk_score")
    )).as("raw"))
  }

  /** The ingest chain is narrow, so its parallelism equals the source
    * split count — balance the scan so the per-row parse/FPE work spreads
    * across cores when the source is a single-row-group test file
    * (no-op on real multi-split inputs; see Tables.balanced).
    */
  private def src(s: SparkSession, dir: String): DataFrame =
    Tables.balanced(s, Tables.orders(s, dir), Seq("o_orderkey"))

  /** Cached wire fixture. The cache is a materialization BARRIER: without
    * it Catalyst pushes the valid/errors filters (with the whole to_json
    * generation substituted into them) below the balancing exchange onto
    * the unsplittable scan — single-threading the parse and computing it
    * once per branch. This mirrors the real dual-sink foreachBatch
    * pattern, where the micro-batch is persisted before the two writes so
    * both branches see one consistent, already-parallel input. Spark's
    * cache manager dedupes by logical plan, so the valid and errors
    * queries share one materialization per (session, dir).
    *
    * The cache is lazy (filled by the first branch that runs) and lives
    * until `Harness.afterQuery` clears it after the query's action.
    */
  private def wire(s: SparkSession, dir: String): DataFrame =
    wireFromOrders(src(s, dir)).cache()

  private def processed(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    TxnPipeline.process(s, wire(s, dir), testKey)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Valid branch, minus card_token (FPE is opaque to the SQL oracle;
    // q_fpe_roundtrip checks the token column instead).
    "q_ingest_valid" -> ((s, dir) => processed(s, dir)._1.drop("card_token")),

    // Dead-letter branch: U4 records (timestamp excluded — wall clock);
    // pan_len recomputed from raw_message proves the original payload
    // survives into the dead-letter table.
    "q_ingest_errors" -> ((s, dir) => processed(s, dir)._2
      .select(
        col("transaction_id"),
        col("error"),
        length(get_json_object(col("raw_message"), "$.card_number.string"))
          .cast("long").as("pan_len"))),

    // FPE invariants, aggregated so the oracle can predict them: every
    // tokenized row must round-trip through decrypt and keep digit format.
    // Pans come straight from the same deterministic ladder as the wire
    // fixture (srcCte) — no JSON round-trip here; q_ingest_valid covers
    // the parse chain, this query isolates the crypto kernel.
    "q_fpe_roundtrip" -> ((s, dir) => {
      val pm = col("o_orderkey") % 10
      val pan = when(pm <= 6, lpad(col("o_orderkey").cast("string"), 16, "4"))
        .when(pm === 7, lpad(col("o_orderkey").cast("string"), 12, "4"))
        .when(pm === 8, lpad(col("o_orderkey").cast("string"), 20, "4"))
      val parsed = src(s, dir)
        .select(pan.as("pan"))
        .filter(col("pan").isNotNull && length(col("pan")).between(13, 19))
        .withColumn("token", FpeFunctions.fpeEncrypt(col("pan"), testKey))
        // invert zfill(16): the real token is the last len(pan) digits
        .withColumn("real_token",
          expr("substring(token, length(token) - length(pan) + 1)"))
      parsed.agg(
        count(lit(1)).as("n_pans"),
        count(when(FpeFunctions.fpeDecrypt(col("real_token"), testKey) === col("pan"), 1))
          .as("n_roundtrip_ok"),
        count(when(col("token").rlike("^[0-9]+$") &&
          length(col("token")) === greatest(length(col("pan")), lit(16)), 1))
          .as("n_format_ok"))
    })
  )

  /** Shared oracle CTE: the deterministic wire fields, straight from orders. */
  private val srcCte =
    s"""w AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
      |  ${rHashSql("o_orderkey")} AS r,
      |  o_orderkey % 10 AS pm,
      |  CASE WHEN o_orderkey % 10 <= 6 THEN lpad(CAST(o_orderkey AS VARCHAR), 16, '4')
      |       WHEN o_orderkey % 10 = 7 THEN lpad(CAST(o_orderkey AS VARCHAR), 12, '4')
      |       WHEN o_orderkey % 10 = 8 THEN lpad(CAST(o_orderkey AS VARCHAR), 20, '4')
      |  END AS pan
      | FROM orders)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_ingest_valid" ->
      s"""WITH $srcCte
         |SELECT CAST(o_orderkey AS VARCHAR) AS transaction_id,
         | o_custkey AS customer_id,
         | o_totalprice AS amount,
         | CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.18 AS DECIMAL(4,2)), 2)
         |   AS DOUBLE) AS tax_amount,
         | CAST(CASE WHEN o_orderkey % 7 = 0
         |   THEN round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.05 AS DECIMAL(4,2)), 2)
         |   ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS discount_amount,
         | CAST(CAST(o_totalprice AS DECIMAL(18,2))
         |   + round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.18 AS DECIMAL(4,2)), 2)
         |   - CASE WHEN o_orderkey % 7 = 0
         |     THEN round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.05 AS DECIMAL(4,2)), 2)
         |     ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS total_amount,
         | ${channelFromRSql("r")} AS transaction_channel,
         | o_orderkey % 5 = 0 AS is_recurring,
         | strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') AS transaction_datetime,
         | CASE WHEN pan IS NOT NULL THEN
         |   substr(pan, 1, 6) || '******' || substr(pan, length(pan) - 3, 4)
         | END AS masked_card_number,
         | CASE WHEN pm <> 9 THEN o_orderkey % 10 + 1 END AS payment_gateway_id,
         | r / 1000000.0 AS risk_score
         |FROM w
         |WHERE o_orderkey % 101 <> 1
         |  AND (pan IS NULL OR length(pan) BETWEEN 13 AND 19)""".stripMargin,

    // Missing-tid rows (o_orderkey % 101 = 1, id absent from the wire)
    // dead-letter as 'Missing transaction_id' and take precedence over
    // PAN validity; well-keyed rows with a bad PAN keep the original
    // 'Invalid Card Number' label.
    "q_ingest_errors" ->
      s"""WITH $srcCte
         |SELECT CASE WHEN o_orderkey % 101 = 1 THEN NULL
         |   ELSE CAST(o_orderkey AS VARCHAR) END AS transaction_id,
         | CASE WHEN o_orderkey % 101 = 1 THEN 'Missing transaction_id'
         |   ELSE 'Invalid Card Number' END AS error,
         | CAST(length(pan) AS BIGINT) AS pan_len
         |FROM w
         |WHERE o_orderkey % 101 = 1
         |   OR (pan IS NOT NULL AND length(pan) NOT BETWEEN 13 AND 19)""".stripMargin,

    "q_fpe_roundtrip" ->
      s"""WITH $srcCte
         |SELECT count(*) AS n_pans, count(*) AS n_roundtrip_ok,
         | count(*) AS n_format_ok
         |FROM w
         |WHERE pan IS NOT NULL AND length(pan) BETWEEN 13 AND 19""".stripMargin
  )
}
