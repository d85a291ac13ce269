package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The registry's run-once rows are repeatable and leave nothing behind:
  * each row runs twice in one session with Bench's between-query
  * cleanup after each run, and must hash the same both times, restore
  * the session conf its stream pinned, and leave the scratch root empty.
  * `withConf` puts back exactly what was set (or unset) before, also
  * when its body throws; every conf-pinning row leaves the session conf
  * as it found it; `materialize` fills a cache that `afterQuery` drops.
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

  // a SQL conf with a default, the case a getOption-based restore gets
  // wrong (it reads the default back and sets it explicitly)
  private val cbo = "spark.sql.cbo.enabled"

  test("withConf restores a key that was set before") {
    spark.conf.set(cbo, "false")
    try {
      val seen = RunOnce.withConf(spark, Map(cbo -> "true"))(spark.conf.get(cbo))
      assert(seen == "true")
      assert(spark.conf.getAll.get(cbo).contains("false"))
    } finally spark.conf.unset(cbo)
  }

  test("withConf unsets a key that was unset before") {
    spark.conf.unset(cbo)
    RunOnce.withConf(spark, Map(cbo -> "true"))(())
    assert(!spark.conf.getAll.contains(cbo))
  }

  test("withConf restores the conf when the body throws") {
    spark.conf.unset(cbo)
    // one pin over an explicit session value, one over an unset key
    val before = spark.conf.getAll
    assert(before.contains("spark.sql.shuffle.partitions"))
    intercept[IllegalStateException] {
      RunOnce.withConf(spark, Map(cbo -> "true", "spark.sql.shuffle.partitions" -> "2")) {
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getAll == before)
  }

  test("materialize fills a cached frame that afterQuery drops") {
    val df = RunOnce.materialize(spark.range(0L, 1000L).selectExpr("id % 7 AS k"))
    assert(df.storageLevel != StorageLevel.NONE, "materialize left the frame uncached")
    val loaded = SparkTestBase.collectInPlan(df.queryExecution.executedPlan) {
      case m: InMemoryTableScanExec => m.relation.cacheBuilder.isCachedColumnBuffersLoaded
    }
    assert(loaded == Seq(true), s"cache not filled by materialize: $loaded")
    Harness.afterQuery(spark)
    assert(df.storageLevel == StorageLevel.NONE, "afterQuery left the cache behind")
  }

  private val confPins = Seq(
    "spark.sql.sources.bucketing.autoBucketedScan.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    cbo,
    "spark.sql.cbo.joinReorder.enabled",
    "spark.sql.sources.v2.bucketing.enabled",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
    "spark.sql.requireAllClusterKeysForCoPartition")

  test("conf-pinning rows leave every pinned key as they found it") {
    Seq(
      "q_bucket_prune", // autoBucketedScan, unset by default
      "q_skew_aqe", // broadcast threshold and the AQE skew-join keys
      "q_lake_cbo_join", // cost-based join reorder
      "q_lake_hist_cbo",
      "q_lake_spj" // withBucketingConfs with every bucketing pin
    ).foreach { name =>
      val before = confPins.map(k => k -> spark.conf.getAll.get(k))
      Harness.rowHash(SparkEntry.queries(name)(spark, sf))
      Harness.afterQuery(spark)
      val after = confPins.map(k => k -> spark.conf.getAll.get(k))
      assert(after == before, s"$name changed the session conf")
    }
  }
}
