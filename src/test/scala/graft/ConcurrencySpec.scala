package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ManifestSink, ManifestState}

/** Optimistic commit concurrency (VERDICT r15 Next #4): replace-shaped
  * commits (overwrite, DELETE/MERGE rewrites, compaction) carry the
  * generation they were planned against and FAIL loudly when a
  * concurrent commit moved the table past it — the table never tears
  * and never silently drops the interleaved commit's rows. Append-
  * shaped commits merge cleanly (their file sets are disjoint by job
  * token and the per-root commit lock serializes read-modify-publish).
  */
class ConcurrencySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def freshRoot(tag: String): String = {
    val p = Paths.get(s"/tmp/graft_conc_spec_$tag")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
    p.toString
  }

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  test("a stale overwrite loses the CAS loudly; the table never tears") {
    import spark.implicits._
    val root = freshRoot("stale_ow")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).save()
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("append").option("path", root).save()
    assert(ManifestSink.snapshots(root).last == 2L)
    val filesBefore = ManifestSink.committedFiles(root).toSet
    // an overwrite planned against generation 1 — the table has moved on
    val err = intercept[Exception] {
      Seq((9L, "stale")).toDF("k", "v").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .mode("overwrite").option("path", root)
        .option("expectedGen", "1").save()
    }
    assert(rootCause(err).isInstanceOf[java.util.ConcurrentModificationException],
      s"expected a CAS failure, got: $err")
    assert(rootCause(err).getMessage.contains("generation 1"),
      s"the error must name the stale base: ${rootCause(err).getMessage}")
    // the losing commit changed nothing: same files, same generation,
    // and its staged output was aborted away
    assert(ManifestSink.committedFiles(root).toSet == filesBefore)
    assert(ManifestSink.snapshots(root).last == 2L)
    val staging = Paths.get(root, "_staging")
    assert(!Files.exists(staging) || {
      val s = Files.list(staging)
      try !s.iterator().hasNext finally s.close()
    }, "the loser's staged files must be aborted away")
    assert(ManifestSink.readCommitted(spark, root)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("a stale row-level rewrite (replaceFiles) loses the CAS loudly") {
    import spark.implicits._
    val root = freshRoot("stale_rw")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).save()
    val victim = ManifestSink.committedFiles(root).head
    val victimName = Paths.get(victim).getFileName.toString
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("append").option("path", root).save()
    val err = intercept[Exception] {
      Seq((1L, "rewritten")).toDF("k", "v").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .mode("append").option("path", root)
        .option("replaceFiles", victimName)
        .option("expectedGen", "1").save()
    }
    assert(rootCause(err).isInstanceOf[java.util.ConcurrentModificationException])
    assert(ManifestSink.readCommitted(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")), "the losing rewrite must change nothing")
  }

  test("an append-shaped commit with a moved base merges cleanly") {
    import spark.implicits._
    val root = freshRoot("stale_app")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).save()
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("append").option("path", root).save()
    // planned against gen 1, committing at gen 2: appends are disjoint
    // by job token and re-read the live prior list under the lock —
    // they proceed rather than fail
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("append").option("path", root)
      .option("expectedGen", "1").save()
    assert(ManifestSink.readCommitted(spark, root)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("two interleaved appends both land: the commit lock serializes the swap") {
    import spark.implicits._
    val root = freshRoot("race_app")
    Seq((0L, "base")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).save()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try Seq((i.toLong, s"t$i")).toDF("k", "v").coalesce(1)
          .write.format("graft.sources.ManifestSink")
          .mode("append").option("path", root).save()
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must all succeed: ${errs.peek()}")
    assert(ManifestSink.readCommitted(spark, root)
      .collect().map(_.getLong(0)).toSet == (0L to 4L).toSet,
      "every append's rows must survive the race")
    assert(ManifestSink.snapshots(root).size == 5,
      "each commit publishes its own generation")
  }
  test("withCommitRetry: a replace-shaped loser re-plans and wins; state is serial") {
    import spark.implicits._
    val root = freshRoot("retry")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).save()
    var interleaved = false
    var attempts = 0
    ManifestSink.withCommitRetry() {
      attempts += 1
      // PLAN: capture the base generation, like every rewrite helper
      val base = ManifestSink.snapshots(root).last
      val names = ManifestSink.committedFiles(root)
        .map(f => Paths.get(f).getFileName.toString)
      if (!interleaved) {
        interleaved = true
        // a concurrent append lands between this attempt's plan and
        // its commit — the CAS must fail the replace-shaped publish
        Seq((3L, "c")).toDF("k", "v").coalesce(1)
          .write.format("graft.sources.ManifestSink")
          .mode("append").option("path", root).save()
      }
      // COMMIT: an UPDATE-shaped rewrite of every planned file
      // (k <= 2 becomes k + 10, everything else carries)
      ManifestSink.readCommitted(spark, root)
        .withColumn("k", org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("k") <= 2L,
          org.apache.spark.sql.functions.col("k") + 10L)
          .otherwise(org.apache.spark.sql.functions.col("k")))
        .write.format("graft.sources.ManifestSink")
        .mode("append").option("path", root)
        .option("expectedGen", base.toString)
        .option("replaceFiles", names.mkString(","))
        .save()
    }
    assert(attempts == 2, s"first attempt must lose the CAS: $attempts")
    // serial-equivalent result: the interleaved append survived AND the
    // retry's rewrite applied to the state including it
    val got = ManifestSink.readCommitted(spark, root)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(11L, 12L, 3L), s"state not serial: $got")
  }

  test("a state captured before a compaction keeps its tombstone: no torn read") {
    import spark.implicits._
    val root = freshRoot("torn_read")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).save()
    Seq((4L, "d")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("append").option("path", root).save()
    // a standing merge-on-read tombstone on key 2
    assert(ManifestSink.deleteWhereMoR(root,
      Array(org.apache.spark.sql.sources.EqualTo("k", 2L))))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val survivors = rows(ManifestSink.readCommitted(spark, root))
    assert(survivors == Set((1L, "a"), (3L, "c"), (4L, "d")))
    val captured = ManifestState.live(root).get
    // the compaction lands between the capture and the read: it folds
    // the tombstone into a delete-free manifest, and the captured
    // state's files stay on disk until vacuum
    ManifestSink.compact(spark, root)
    assert(ManifestState.live(root).get.tombstones.isEmpty)
    assert(captured.names.forall(n => Files.exists(Paths.get(captured.dataPath(n)))))
    val got = rows(captured.read(spark))
    assert(!got.exists(_._1 == 2L), s"the deleted key came back: $got")
    assert(got == survivors)
  }

  test("withCommitRetry: non-CAS failures and exhausted retries rethrow") {
    val root = freshRoot("retry_rethrow")
    var n = 0
    val boom = intercept[RuntimeException] {
      ManifestSink.withCommitRetry() { n += 1; throw new RuntimeException("boom") }
    }
    assert(boom.getMessage == "boom" && n == 1, "non-CAS must not retry")
    var m = 0
    intercept[java.util.ConcurrentModificationException] {
      ManifestSink.withCommitRetry(maxAttempts = 3) {
        m += 1
        throw new java.util.ConcurrentModificationException("always stale")
      }
    }
    assert(m == 3, s"must stop at maxAttempts: $m")
  }

}
