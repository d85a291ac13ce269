package fintxbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.functions.Fpe
import graft.ingest.TxnPipeline
import graft.sources.ManifestSink
import graft.streaming.StreamIngest

/** The fact and dead-letter lake tables one setup pass writes, both
  * registered in the `graft_cat` catalog under fixed names.
  */
final class Lake(val root: Path) {
  val fact: String = root.resolve("fact").toString
  val dlq: String = root.resolve("dlq").toString

  /** Committed generations of both tables, summed: each append advances
    * its table's generation. */
  def gens: Long = ManifestSink.liveGen(fact) + ManifestSink.liveGen(dlq)

  def bytes: Long = Lake.treeBytes(root)

  /** Set-up only: append already-processed fact rows, the way one
    * micro-batch would have left them (tokens from the FPE kernel the
    * pipeline's expression calls). */
  def appendFacts(spark: SparkSession, rows: Seq[Txn]): Unit = {
    val facts = rows.filter(_.isFact).map { t =>
      Row(t.id, t.customerId, t.amount, t.tax, t.discount, t.total, t.channel,
        if (t.recurring) 1 else 0, t.datetime, t.masked,
        if (t.pan == null) null else Fpe.encryptPadded(Lake.FpeKey, t.pan),
        if (t.gateway == 0) null else t.gateway, t.risk)
    }
    spark.createDataFrame(facts.asJava, Lake.FactSchema)
      .write.format(Lake.Format).mode("append").option("path", fact).save()
  }
}

object Lake {
  val FpeKey: Array[Byte] = "fintx-bench-dek-0123456789abcdef".getBytes("UTF-8")
  val Format = "graft.sources.ManifestSink"

  /** Re-point `graft_cat.lake.fact` / `.dlq` at a fresh pair of roots. */
  def create(spark: SparkSession, root: Path): Lake = {
    val lake = new Lake(root)
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.fact")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.dlq")
    spark.sql(s"CREATE TABLE graft_cat.lake.fact (${FactSchema.toDDL}) " +
      s"USING graft OPTIONS (path '${lake.fact}')")
    spark.sql(s"CREATE TABLE graft_cat.lake.dlq (${DlqSchema.toDDL}) " +
      s"USING graft OPTIONS (path '${lake.dlq}')")
    lake
  }

  val FactSchema: StructType = StructType.fromDDL(
    "transaction_id STRING, customer_id BIGINT, amount DOUBLE, tax_amount DOUBLE, " +
      "discount_amount DOUBLE, total_amount DOUBLE, transaction_channel STRING, " +
      "is_recurring INT, transaction_datetime STRING, masked_card_number STRING, " +
      "card_token STRING, payment_gateway_id BIGINT, risk_score DOUBLE")
  val DlqSchema: StructType = StructType.fromDDL(
    "transaction_id STRING, timestamp STRING, raw_message STRING, error STRING")

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** One committed micro-batch: the landing files it held and when its lake
  * commits returned. */
final case class Commit(files: Seq[String], atMs: Double)

/** The streaming glue. The program has no entry point that streams into
  * the lake, so this mirrors `StreamIngest.start` — persist the batch,
  * run `TxnPipeline.process`, write both branches, unpersist — with the
  * parquet sinks swapped for `ManifestSink` appends. The one deviation:
  * `ManifestSink` serializes only long/int/double/string columns, so the
  * boolean `is_recurring` is cast to int on the way in.
  */
final class Glue(lake: Lake, tracer: Tracer) {
  val commits = new ConcurrentLinkedQueue[Commit]()

  def write(batch: DataFrame, batchId: Long, files: => Seq[String]): Unit =
    tracer.span("stream.batch", s"batch-$batchId") {
      val b = tracer.span("ingest.persist", s"batch-$batchId")(batch.persist())
      try {
        val (valid, errors) = TxnPipeline.process(b.sparkSession, b, Lake.FpeKey)
        tracer.span("ingest.fact_write", s"batch-$batchId") {
          valid.withColumn("is_recurring", col("is_recurring").cast("int"))
            .write.format(Lake.Format).mode("append").option("path", lake.fact).save()
        }
        tracer.span("ingest.dlq_write", s"batch-$batchId") {
          errors.write.format(Lake.Format).mode("append").option("path", lake.dlq).save()
        }
        commits.add(Commit(files, Clock.nowMs))
      } finally {
        tracer.span("ingest.unpersist", s"batch-$batchId")(b.unpersist())
        ()
      }
    }

  /** Start the ingest stream over `landing`, checkpointed under `ckpt`. */
  def start(spark: SparkSession, landing: Path, ckpt: Path): StreamingQuery =
    StreamIngest.readWireStream(spark, landing.toString).writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        write(batch, batchId, Glue.batchFiles(ckpt, batchId))
      }
      .start()
}

object Glue {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  /** Landing-file names of micro-batch `batchId`, from the file source's
    * own metadata log (`sources/0/<id>`, or a compacted `<id>.compact`). */
  def batchFiles(ckpt: Path, batchId: Long): Seq[String] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val plain = dir.resolve(batchId.toString)
    val f = if (Files.exists(plain)) plain else dir.resolve(s"$batchId.compact")
    Files.readAllLines(f).asScala.toSeq.filter(_.startsWith("{"))
      .filter(l => BatchRe.findFirstMatchIn(l).forall(_.group(1).toLong == batchId))
      .flatMap(l => PathRe.findFirstMatchIn(l).map(_.group(1)))
      .map(p => p.substring(p.lastIndexOf('/') + 1))
  }
}
