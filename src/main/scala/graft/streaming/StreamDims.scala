package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming dimension plumbing from the reference:
  *
  *   - S9: pass-through dim streams — the `dim_customer`/`dim_account`
  *     Pub/Sub→BigQuery subscriptions with no transform stage
  *     (dimension_tables_ingestion/.../dim_customer_topic_sub.sh:15-18).
  *     Here: schema-validated JSON stream → exactly-once parquet file
  *     sink (manifest-committed).
  *   - ST3 seen-set: the account generator's `seen_customer_ids`
  *     discovery loop (generate_dim_account_data.py:69,95-110) — a
  *     streaming `dropDuplicates` whose key state lives in the
  *     checkpointed state store, so "seen" survives restarts. State is
  *     per-key and hash-partitioned — horizontal at any key cardinality;
  *     add a watermark + event-time column when keys should expire.
  *   - ST3 dim refresh: the fact generator re-reads `dim_account` every
  *     60 s (generate_fact_transactions_data.py:17,89-93). In
  *     micro-batch streaming the natural grain is per-batch: the static
  *     side is re-read INSIDE foreachBatch, so every batch joins the
  *     dimension as of its own start — fresher than the reference's
  *     fixed timer, same semantics.
  */
object StreamDims {

  /** S9: schema-validated pass-through stream (no transform). */
  def passThroughFrame(spark: SparkSession, landingDir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(landingDir)

  /** ST3: emit each key's FIRST record only, across the life of the
    * stream (checkpoint-backed state) — the new-customer discovery
    * anti-join loop as a streaming operator.
    */
  def discoveryFrame(spark: SparkSession, landingDir: String,
      schema: StructType, keyCols: Seq[String]): DataFrame =
    spark.readStream.schema(schema).json(landingDir).dropDuplicates(keyCols)

  /** ST3: stream-static enrich where the static dimension is re-read
    * every micro-batch (the generators' periodic dim-refresh loop). The
    * dim is broadcast — it is small by definition in the star schema.
    *
    * @param keyInDim dim-side join column when its name differs from the
    *                 stream's `joinKey` (defaults to the same name)
    * @param dimCols  dim columns to carry into the output (empty = all)
    */
  def startEnriched(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      dimPath: String,
      joinKey: String,
      outDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      keyInDim: String = "",
      dimCols: Seq[String] = Nil): StreamingQuery = {
    val dimKey = if (keyInDim.isEmpty) joinKey else keyInDim
    val w = spark.readStream.schema(schema).json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val dimRaw = s.read.parquet(dimPath) // fresh per batch
        val dim =
          if (dimCols.isEmpty) dimRaw
          else dimRaw.select((dimKey +: dimCols).map(col): _*)
        batch.join(broadcast(dim), batch(joinKey) === dim(dimKey))
          .drop(dim(dimKey))
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }
}
