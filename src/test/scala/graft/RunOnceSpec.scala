package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The registry's run-once rows are repeatable and leave nothing behind:
  * each row runs twice in one session with Bench's between-query
  * cleanup after each run, and must hash the same both times, restore
  * the session conf its stream pinned, and leave the scratch root empty.
  */
class RunOnceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"
  private val pinned = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass")

  private def conf: Seq[Option[String]] = pinned.map(spark.conf.getAll.get)

  private def scratch: Seq[String] = {
    val ls = Files.list(RunOnce.root)
    try ls.iterator().asScala.map(_.getFileName.toString).toList finally ls.close()
  }

  private def runOnce(name: String): Long = {
    val before = conf
    val h = Harness.rowHash(SparkEntry.queries(name)(spark, sf))
    assert(conf == before, s"$name left the session conf changed")
    assert(scratch.nonEmpty, s"$name wrote no scratch directory")
    Harness.afterQuery(spark)
    assert(scratch.isEmpty, s"$name left scratch behind: $scratch")
    h
  }

  Seq(
    "q_stream_window", // append file sink, stateful pins
    "q_stream_bitmap", // complete mode through foreachBatch
    "q_stream_tws", // RocksDB provider pin
    "q_catalog_insert" // catalog registration and a scratch lake table
  ).foreach { name =>
    test(s"$name hashes the same on a second run and leaves no residue") {
      assert(runOnce(name) == runOnce(name))
    }
  }
}
