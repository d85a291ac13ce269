package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.ingest.{IngestQueries, TxnPipeline}

/** Structured Streaming re-expression of the reference's streaming job
  * (dataflow_pipeline/pipeline.py:143-200): an unbounded read of wire-JSON
  * records, the validate/mask/tokenize transform, and TWO sinks — the fact
  * table and the dead-letter table — fed consistently from each
  * micro-batch.
  *
  *   - S1: `readStream` over a landing directory of line-delimited wire
  *     JSON — the test stand-in for `ReadFromPubSub` (pipeline.py:165);
  *     swapping in `format("kafka")` changes only this reader.
  *   - S2: file lines arrive as strings; a byte-valued source would add
  *     `col("value").cast("string")` (pipeline.py:166).
  *   - U10/S5/S6: the valid/error split runs INSIDE `foreachBatch` — one
  *     parse per micro-batch feeding both sinks, the Spark idiom for
  *     Beam's tagged outputs into two WriteToBigQuery sinks
  *     (pipeline.py:177-200).
  *   - ST4 (exactly-once): the source is checkpointed (offsets per
  *     micro-batch) and each batch writes to a `batch_id=N` partition
  *     directory with overwrite — a replayed batch overwrites its own
  *     output instead of duplicating it, so restart + replay is
  *     idempotent end-to-end.
  *   - ST5: invalid rows dead-letter, the stream never fails on data.
  *
  * At scale the fact sink would add `.partitionBy(<event date>)` for
  * partition pruning; the batch_id layer is orthogonal to that choice.
  */
object StreamIngest {

  /** Wire-source configuration for the ingest stream (S1). The reference
    * reads Pub/Sub (pipeline.py:165); in Spark the same job reads either
    * a landing directory (the sandbox stand-in — no broker needed) or a
    * Kafka topic, and everything downstream of `readWireStream` is
    * identical.
    */
  sealed trait WireSource
  /** Line-delimited wire JSON files in a landing directory. */
  final case class FileLanding(dir: String) extends WireSource
  /** A Kafka topic of wire-JSON payloads (needs the spark-sql-kafka
    * connector on the classpath at runtime; not present in this sandbox,
    * so this branch is compile/config-checked and spec'd via the file
    * stand-in).
    */
  final case class KafkaTopic(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      extraOptions: Map[String, String] = Map.empty) extends WireSource

  /** S1/S2: unbounded stream of raw wire-JSON lines from a landing dir. */
  def readWireStream(spark: SparkSession, landingDir: String): DataFrame =
    readWireStream(spark, FileLanding(landingDir))

  /** S1/S2: unbounded stream of raw wire-JSON records from `source`.
    * Both branches surface ONE schema — a single string column `raw` —
    * so TxnPipeline.process is source-agnostic. The Kafka branch decodes
    * the byte-valued payload with cast("string"), the S2 step the file
    * source gets for free.
    */
  def readWireStream(spark: SparkSession, source: WireSource): DataFrame =
    source match {
      case FileLanding(dir) =>
        spark.readStream.text(dir).select(col("value").as("raw"))
      case KafkaTopic(servers, topic, offsets, extra) =>
        extra.foldLeft(
            spark.readStream.format("kafka")
              .option("kafka.bootstrap.servers", servers)
              .option("subscribe", topic)
              .option("startingOffsets", offsets)) {
            case (r, (k, v)) => r.option(k, v)
          }
          .load()
          .select(col("value").cast("string").as("raw"))
    }

  /** Start the ingest stream: landing dir → TxnPipeline.process →
    * fact + dead-letter parquet sinks, checkpointed.
    *
    * @param availableNow process everything currently in the landing dir,
    *                     then stop — used by tests and the batch-parity
    *                     oracle query; the default runs continuously.
    */
  def start(
      spark: SparkSession,
      landingDir: String,
      factDir: String,
      errorsDir: String,
      checkpointDir: String,
      key: Array[Byte],
      availableNow: Boolean = false): StreamingQuery = {
    val raw = readWireStream(spark, landingDir)
    val writer = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // Persist once so the two branch writes share one consistent,
        // already-computed batch (the dual-sink pattern; also the
        // pushdown barrier discussed in IngestQueries.wire).
        val b = batch.persist()
        try {
          val s = batch.sparkSession
          val (valid, errors) = TxnPipeline.process(s, b, key)
          valid.write.mode("overwrite").parquet(s"$factDir/batch_id=$batchId")
          errors.write.mode("overwrite").parquet(s"$errorsDir/batch_id=$batchId")
        } finally {
          b.unpersist()
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Read a streamed sink back as a table (drops the batch_id layout
    * column the idempotent writer added).
    */
  def readSink(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("batch_id")

  /** Oracle query: stream the deterministic wire fixture end-to-end
    * through the REAL streaming entry point (landing files → readStream →
    * foreachBatch dual sink → parquet) and return the fact table. The
    * oracle is the same SQL as the batch q_ingest_valid — streamed output
    * must equal batch output exactly (card_token excluded: FPE is opaque
    * to SQL and covered by q_fpe_roundtrip).
    */
  /** Deterministic wire fixture, written once per CONTENT key (source
    * path + orders.parquet size/mtime — a path-only key replayed stale
    * fixtures after testdata regeneration). Writing ~50 MB of landing
    * text was q_stream_ingest's dominant bench cost, so Bench warms this
    * untimed; sinks and checkpoint stay per-run.
    */
  def ensureWireFixture(s: SparkSession, dir: String): String =
    StreamQueries.ensureJsonishFixture(
      // version 2: payloads with o_orderkey % 101 == 1 omit transaction_id
      // (the 'Missing transaction_id' dead-letter path)
      StreamQueries.fixtureDir("wire", dir, "orders", version = 2),
      IngestQueries.wireFromOrders(Tables.balanced(s, Tables.orders(s, dir), Seq("o_orderkey"))),
      text = true)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_ingest" -> ((s, dir) => {
      val landing = ensureWireFixture(s, dir)
      val tmp = graft.RunOnce.await(s) { d =>
        start(s, landing, s"$d/fact", s"$d/errors", s"$d/ckpt",
          IngestQueries.testKey, availableNow = true)
      }
      readSink(s, s"$tmp/fact").drop("card_token")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_stream_ingest" -> IngestQueries.oracleSql("q_ingest_valid")
  )
}
