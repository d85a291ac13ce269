package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Build a 10x-ingest scale fixture (VERDICT r10 ask #8): the ingest
  * family's input is the `orders` table, so a larger-SF ingest bench only
  * needs a larger orders — written here as `copies` unioned replicas of
  * the sf0.1 table with o_orderkey offset by 10M per replica (keys stay
  * far below 2^31-1, the wire hash ladder's overflow bound). Every other
  * table is symlinked from the source dir so the full Bench warmup keeps
  * working against the fixture dir.
  *
  * Usage: runMain graft.tools.ScaleIngestFixture <srcSfDir> <outDir> <copies>
  */
object ScaleIngestFixture {
  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val spark = SparkSession.builder().master(s"local[${graft.Harness.cpus}]")
      .config("spark.sql.shuffle.partitions", graft.Harness.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val big = (0 until copies).map { i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000000L))
    }.reduce(_ unionAll _)
    // several output files on purpose: a splittable multi-file scan is the
    // realistic shape, and Tables.balanced no-ops on it
    big.repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    graft.Tables.names.filter(_ != "orders").foreach { t =>
      val link = Paths.get(out, s"$t.parquet")
      if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, Paths.get(src, s"$t.parquet").toAbsolutePath)
    }
    println(s"wrote ${big.count()} orders rows to $out")
    spark.stop()
  }
}
