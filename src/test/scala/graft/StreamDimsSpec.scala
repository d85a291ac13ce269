package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.streaming.StreamDims

/** ST3/S9 streaming dimension semantics: pass-through sink, seen-set
  * discovery across restarts, and per-batch dim refresh in a
  * stream-static join.
  */
class StreamDimsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val custSchema = StructType(Seq(
    StructField("customer_id", LongType),
    StructField("customer_segment", StringType),
    StructField("signup_date_id", LongType)))

  private def cust(id: Long, seg: String): String =
    s"""{"customer_id":$id,"customer_segment":"$seg","signup_date_id":${id * 10}}"""

  private def writeFile(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  test("S9 pass-through dim stream lands schema-validated rows") {
    val tmp = Files.createTempDirectory("graft_dimpass_").toFile.getAbsolutePath
    writeFile(s"$tmp/landing", "c1.json", Seq(cust(1, "Retail"), cust(2, "Premium")))
    SparkTestBase.runToFiles(
      StreamDims.passThroughFrame(spark, s"$tmp/landing", custSchema),
      s"$tmp/out", s"$tmp/ckpt")
    val rows = spark.read.parquet(s"$tmp/out").collect()
    assert(rows.map(_.getAs[Long]("customer_id")).sorted.toSeq == Seq(1L, 2L))
    assert(rows.forall(_.schema.fieldNames.sameElements(custSchema.fieldNames)))
  }

  test("ST3 discovery: first-seen keys only, seen-set survives restart") {
    val tmp = Files.createTempDirectory("graft_discover_").toFile.getAbsolutePath
    writeFile(s"$tmp/landing", "b1.json",
      Seq(cust(1, "Retail"), cust(2, "Premium"), cust(2, "Premium-dup")))
    SparkTestBase.runToFiles(StreamDims.discoveryFrame(spark, s"$tmp/landing",
      custSchema, Seq("customer_id")), s"$tmp/out", s"$tmp/ckpt")
    assert(spark.read.parquet(s"$tmp/out")
      .collect().map(_.getAs[Long]("customer_id")).sorted.toSeq == Seq(1L, 2L))

    // restart: key 2 was seen before the restart and must stay suppressed
    writeFile(s"$tmp/landing", "b2.json", Seq(cust(2, "Premium-again"), cust(3, "Biz")))
    SparkTestBase.runToFiles(StreamDims.discoveryFrame(spark, s"$tmp/landing",
      custSchema, Seq("customer_id")), s"$tmp/out", s"$tmp/ckpt")
    assert(spark.read.parquet(s"$tmp/out")
      .collect().map(_.getAs[Long]("customer_id")).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("ST3 stream-static join re-reads the dim every micro-batch") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_enrich_").toFile.getAbsolutePath
    val dimPath = s"$tmp/dim"

    Seq((1L, "POS"), (2L, "UPI")).toDF("gateway_id", "gateway_name")
      .write.mode("overwrite").parquet(dimPath)
    val schema = StructType(Seq(
      StructField("txn_id", StringType), StructField("gateway_id", LongType)))
    writeFile(s"$tmp/landing", "b1.json",
      Seq("""{"txn_id":"a","gateway_id":1}""", """{"txn_id":"b","gateway_id":2}"""))
    val q1 = StreamDims.startEnriched(spark, s"$tmp/landing", schema, dimPath,
      "gateway_id", s"$tmp/out", s"$tmp/ckpt", availableNow = true)
    q1.awaitTermination()

    // dim refresh between batches: name for 2 changes, 3 appears
    Seq((1L, "POS"), (2L, "UPI-v2"), (3L, "NetBanking"))
      .toDF("gateway_id", "gateway_name").write.mode("overwrite").parquet(dimPath)
    writeFile(s"$tmp/landing", "b2.json",
      Seq("""{"txn_id":"c","gateway_id":2}""", """{"txn_id":"d","gateway_id":3}"""))
    val q2 = StreamDims.startEnriched(spark, s"$tmp/landing", schema, dimPath,
      "gateway_id", s"$tmp/out", s"$tmp/ckpt", availableNow = true)
    q2.awaitTermination()

    val byTxn = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getAs[String]("txn_id") -> r.getAs[String]("gateway_name")).toMap
    assert(byTxn == Map("a" -> "POS", "b" -> "UPI",
      "c" -> "UPI-v2", "d" -> "NetBanking")) // batch 1 kept its dim version
  }
}
