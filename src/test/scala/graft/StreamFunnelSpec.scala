package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamQueries

/** ST4 restart proof for the streaming funnel: the per-user stage state
  * (first qualifying view/click/purchase times) must survive a query
  * restart from the checkpoint, and the temporal qualification rule
  * (stage k only at-or-after stage k-1) must hold across batches.
  */
class StreamFunnelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ev(uid: Long, id: Long, tpe: String, us: Long): String =
    s"""{"user_id":$uid,"event_id":$id,"event_type":"$tpe","us":$us}"""

  private def writeFile(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  test("funnel stage state survives restart; qualification stays temporal") {
    val tmp = Files.createTempDirectory("graft_funnel_").toFile.getAbsolutePath
    // run 1: u1 views; u2 arrives out of order (purchase, click before view);
    // u3 has a click BEFORE its view (must not qualify)
    writeFile(s"$tmp/landing", "b1.json", Seq(
      ev(1, 10, "view", 1000),
      ev(2, 20, "purchase", 100), ev(2, 21, "click", 200), ev(2, 22, "view", 300),
      ev(3, 30, "click", 50), ev(3, 31, "view", 100)))
    SparkTestBase.runToFiles(StreamQueries.funnelFrame(spark, s"$tmp/landing"),
      s"$tmp/out", s"$tmp/ckpt")

    // run 2 (restart): u1 completes using the checkpointed t1; u3's new
    // click at 150 >= view 100 qualifies, then purchase at 160
    writeFile(s"$tmp/landing", "b2.json", Seq(
      ev(1, 11, "click", 2000), ev(1, 12, "purchase", 3000),
      ev(3, 32, "click", 150), ev(3, 33, "purchase", 160)))
    SparkTestBase.runToFiles(StreamQueries.funnelFrame(spark, s"$tmp/landing"),
      s"$tmp/out", s"$tmp/ckpt")

    val fin = spark.read.parquet(s"$tmp/out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("t1").as("t1"),
        org.apache.spark.sql.functions.max("t2").as("t2"),
        org.apache.spark.sql.functions.max("t3").as("t3"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    assert(fin(1L) == ((1000L, 2000L, 3000L)), s"u1 must complete across restart: ${fin(1L)}")
    // u2: view at 300 is the first stage; the earlier click/purchase must not count
    assert(fin(2L) == ((300L, -1L, -1L)), s"u2 pre-view events must not qualify: ${fin(2L)}")
    // u3: click@50 (before view@100) rejected; click@150 qualifies post-restart
    assert(fin(3L) == ((100L, 150L, 160L)), s"u3: ${fin(3L)}")
  }

  test("equal-time event split into the batch BEFORE its threshold still qualifies") {
    // The fixture sorts equal-time rows by event_id, so a click with the
    // same microsecond as the first view can land in an earlier micro-
    // batch. Batch semantics qualify it (t >= t1 is inclusive); the
    // state's max-seen click/purchase times retro-qualify it at the
    // threshold value when the view arrives.
    val tmp = Files.createTempDirectory("graft_funnel_tie_").toFile.getAbsolutePath
    // batch 1: u7's click AND purchase at us=1000, before the view arrives
    writeFile(s"$tmp/landing", "b1.json", Seq(
      ev(7, 70, "click", 1000), ev(7, 71, "purchase", 1000),
      // u8 control: strictly-earlier click must NOT retro-qualify
      ev(8, 80, "click", 999)))
    SparkTestBase.runToFiles(StreamQueries.funnelFrame(spark, s"$tmp/landing"),
      s"$tmp/out", s"$tmp/ckpt")
    // batch 2: the views arrive at the same microsecond
    writeFile(s"$tmp/landing", "b2.json", Seq(
      ev(7, 72, "view", 1000),
      ev(8, 81, "view", 1000)))
    SparkTestBase.runToFiles(StreamQueries.funnelFrame(spark, s"$tmp/landing"),
      s"$tmp/out", s"$tmp/ckpt")

    val fin = spark.read.parquet(s"$tmp/out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("t1").as("t1"),
        org.apache.spark.sql.functions.max("t2").as("t2"),
        org.apache.spark.sql.functions.max("t3").as("t3"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // u7: view@1000 sets t1; the prior-batch click@1000 retro-qualifies
    // t2=1000, which retro-qualifies the prior-batch purchase@1000 as t3
    assert(fin(7L) == ((1000L, 1000L, 1000L)), s"u7 tie must qualify: ${fin(7L)}")
    // u8: click@999 < view@1000 — no tie, no qualification
    assert(fin(8L) == ((1000L, -1L, -1L)), s"u8 must not qualify: ${fin(8L)}")
  }
}
