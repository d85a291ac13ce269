package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ManifestRead, ManifestSink}

/** PARTIAL-PROGRESS, PARTITION-SCOPED REWRITE (r19, VERDICT r18 Next
  * #1): reclustering a partitioned table commits N partition values
  * per replace snapshot instead of one global commit. Pinned here:
  *   - batching: 4 partitions at 2-per-commit publish exactly 2
  *     snapshots, and the INTERMEDIATE snapshot is a readable,
  *     half-migrated table with exact content;
  *   - resume: a run interrupted mid-way (simulated by a
  *     `where`-scoped first run) completes on re-run WITHOUT
  *     rewriting the already-done partition's files (name identity);
  *   - idempotence: a completed rewrite re-runs as a no-op (zero
  *     commits, generation unchanged);
  *   - z-order WITHIN partitions: recorded `zorder` claims make the
  *     resume check work for the curve arm too, purity survives, and
  *     box predicates prune inside a partition;
  *   - MoR deletes scoped to a batch's files fold in that batch.
  */
class PartialRewriteSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestBase.spark
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    s
  }

  private def freshRoot(tag: String): String = {
    val p = Paths.get(s"/tmp/graft_partial_rw_$tag")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
    p.toString
  }

  /** 400 rows over 4 `band` partitions, two UNSORTED interleaved
    * appends per partition — every band holds 2 files whose k-ranges
    * fully overlap, so nothing is reclustered yet.
    */
  private def build(name: String, tag: String): String = {
    import spark.implicits._
    val root = freshRoot(tag)
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.lake.$name")
    spark.sql(s"CREATE TABLE graft_cat.lake.$name " +
      "(k BIGINT, y BIGINT, band BIGINT) USING graft " +
      s"PARTITIONED BY (band) OPTIONS (path '$root', format 'parquet')")
    // slice by (k % 8) < 4 so BOTH appends span all 4 bands AND the
    // full k-range — every band ends with 2 files whose k-envelopes
    // overlap (k % 2 would put only 2 bands in each append)
    (0 until 2).foreach { half =>
      (0 until 400).filter(k => ((k % 8) < 4) == (half == 0))
        .map(k => (k.toLong, (k * 37 % 100).toLong, (k % 4).toLong))
        .toDF("k", "y", "band")
        .writeTo(s"graft_cat.lake.$name").append()
    }
    root
  }

  private def names(root: String): Seq[String] =
    ManifestSink.committedFiles(root)
      .map(f => Paths.get(f).getFileName.toString)

  test("4 partitions at 2 per commit publish 2 snapshots; the " +
      "intermediate one is a readable half-migrated table") {
    val root = build("prw_batch", "batch")
    assert(names(root).size == 8) // 2 overlapping files per band
    val g0 = ManifestSink.snapshots(root).last
    val sum = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), orderBy = Seq("k"),
      partitionsPerCommit = 2)
    assert(sum == ManifestSink.PartialRewriteSummary(4, 4, 2), s"got $sum")
    val gens = ManifestSink.snapshots(root)
    assert(gens.last == g0 + 2, "each batch is its own snapshot")
    // final state: one sorted pure file per band, content exact
    assert(names(root).size == 4)
    val total = spark.sql("SELECT count(*) c, sum(k) s FROM " +
      "graft_cat.lake.prw_batch").head
    assert(total.getLong(0) == 400L && total.getLong(1) == (0L until 400L).sum)
    // the INTERMEDIATE snapshot (after batch 1) is readable and exact:
    // half the bands reclustered, half still 2 files — 6 files total
    val mid = ManifestSink.readSnapshot(spark, root, g0 + 1)
    assert(mid.count() == 400L)
    val midLines = java.nio.file.Files.readAllLines(
      Paths.get(root).resolve("_snapshots").resolve(s"manifest-${g0 + 1}.json"))
    val midNames = ManifestSink.readSnapshot(spark, root, g0 + 1)
      .inputFiles.map(f => Paths.get(f).getFileName.toString).toSet
    assert(midNames.size == 6, s"half-migrated = 2x1 + 2x2 files: $midNames")
    assert(midLines.size() > 1)
    // post-rewrite claims: every live file sorted by k (the rewrite's
    // own claim — the partition value is constant per file) and
    // partition-pure — a selective band+range read prunes to 1 file
    val stats = ManifestSink.fileStats(root)
    assert(stats.values.forall(_.sorted.startsWith(Seq("k"))),
      s"claims: ${stats.values.map(_.sorted).toSeq}")
    spark.sql("SELECT * FROM graft_cat.lake.prw_batch " +
      "WHERE band = 2 AND k BETWEEN 0 AND 1000").collect()
    val (kept, totalF) = ManifestRead.lastSkipLedger.get()
    assert(totalF == 4 && kept == 1, s"skip ledger: kept=$kept total=$totalF")
  }

  test("a run interrupted mid-way resumes: completed partitions are " +
      "skipped, no file rewritten twice") {
    val root = build("prw_resume", "resume")
    // "interrupt after the batch holding band=1": a where-scoped run
    // leaves exactly the state a crash after that commit would
    val first = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), orderBy = Seq("k"),
      partitionsPerCommit = 2, where = Some(("band", 1L)))
    assert(first == ManifestSink.PartialRewriteSummary(1, 1, 1), s"$first")
    val band1After = names(root).filter { n =>
      ManifestSink.fileStats(root)(n).cols("band").min.contains(1L)
    }
    assert(band1After.size == 1)
    // table fully readable half-migrated
    assert(spark.sql("SELECT count(*) FROM graft_cat.lake.prw_resume")
      .head.getLong(0) == 400L)
    // the resume: completes the remaining 3 bands, SKIPS band 1 —
    // its file survives by NAME (never rewritten twice)
    val resume = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), orderBy = Seq("k"),
      partitionsPerCommit = 2)
    assert(resume.groupsTotal == 4 && resume.groupsRewritten == 3 &&
      resume.commits == 2, s"$resume")
    assert(names(root).toSet.intersect(band1After.toSet) == band1After.toSet,
      "band 1's file must carry by name through the resume")
    // completed: idempotent no-op
    val again = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), orderBy = Seq("k"))
    assert(again.groupsRewritten == 0 && again.commits == 0, s"$again")
    assert(spark.sql("SELECT sum(k) FROM graft_cat.lake.prw_resume")
      .head.getLong(0) == (0L until 400L).sum)
  }

  test("z-order within partitions: claims recorded, resume no-op, " +
      "box predicate prunes inside a partition") {
    val root = build("prw_z", "z")
    val sum = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), zorderBy = Seq("k", "y"),
      partitionsPerCommit = 4)
    assert(sum.groupsTotal == 4 && sum.groupsRewritten == 4 &&
      sum.commits == 1, s"$sum")
    val stats = ManifestSink.fileStats(root)
    assert(stats.nonEmpty &&
      stats.values.forall(_.zorder == Seq("k", "y")),
      "every rewritten file records the zorder claim")
    // purity survives the curve rewrite: files stay band-pure
    assert(stats.values.forall(fs => fs.cols("band").min == fs.cols("band").max))
    // resume is a no-op off the recorded claim
    val again = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), zorderBy = Seq("k", "y"))
    assert(again.groupsRewritten == 0 && again.commits == 0, s"$again")
    // content exact after the curve rewrite
    val chk = spark.sql("SELECT count(*) c, sum(k) sk, sum(y) sy FROM " +
      "graft_cat.lake.prw_z").head
    assert(chk.getLong(0) == 400L && chk.getLong(1) == (0L until 400L).sum)
  }

  test("MoR deletes scoped to a batch fold through its rewrite") {
    val root = build("prw_mor", "mor")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.prw_mor_t")
    spark.sql("CREATE TABLE graft_cat.lake.prw_mor_t " +
      "(k BIGINT, y BIGINT, band BIGINT) USING graft " +
      s"PARTITIONED BY (band) OPTIONS (path '$root', format 'parquet', " +
      "deleteMode 'mor')")
    spark.sql("DELETE FROM graft_cat.lake.prw_mor_t WHERE k >= 300")
    assert(spark.sql("SELECT count(*) FROM graft_cat.lake.`prw_mor_t$deletes`")
      .head.getLong(0) > 0L)
    val sum = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), orderBy = Seq("k"),
      partitionsPerCommit = 2)
    assert(sum.groupsRewritten == 4 && sum.commits == 2, s"$sum")
    // every tombstone drained into clean files; survivors exact
    assert(spark.sql("SELECT count(*) FROM graft_cat.lake.`prw_mor_t$deletes`")
      .head.getLong(0) == 0L)
    val chk = spark.sql("SELECT count(*) c, max(k) m FROM " +
      "graft_cat.lake.prw_mor_t").head
    assert(chk.getLong(0) == 300L && chk.getLong(1) == 299L)
  }

  test("uncertifiable groups terminate: null partition keys rewrite " +
      "once per call, never loop; bucket specs refuse (code-review r19)") {
    import spark.implicits._
    val root = freshRoot("nullkey")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.prw_null")
    spark.sql("CREATE TABLE graft_cat.lake.prw_null " +
      "(k BIGINT, band BIGINT) USING graft " +
      s"PARTITIONED BY (band) OPTIONS (path '$root', format 'parquet')")
    // 90 keyed rows + 10 NULL-band rows: the null group can never be
    // proven pure, so only the produced-files backstop stops the loop
    (0 until 100).map(k => (k.toLong,
        if (k % 10 == 0) None else Some((k % 3).toLong)))
      .toDF("k", "band").writeTo("graft_cat.lake.prw_null").append()
    val sum = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), orderBy = Seq("k"),
      partitionsPerCommit = 2)
    // terminates; every group (3 pure + the null-key file) rewritten
    // exactly once this call
    assert(sum.groupsRewritten == sum.groupsTotal && sum.commits >= 1,
      s"$sum")
    assert(spark.sql("SELECT count(*), sum(k) FROM graft_cat.lake.prw_null")
      .head.toSeq == Seq(100L, (0L until 100L).sum))
    // pure groups certify on re-run; only the null-key group re-does
    val again = ManifestSink.rewritePartitioned(spark, root,
      partitionBy = Seq("band"), orderBy = Seq("k"))
    assert(again.groupsRewritten <= 1, s"pure groups must certify: $again")
    // bucket specs refuse the partial rewrite loudly — their progress
    // can never be certified from stats
    assert(intercept[IllegalArgumentException](
      ManifestSink.rewritePartitioned(spark, root,
        partitionBy = Seq("bucket(4,band)"), orderBy = Seq("k")))
      .getMessage.contains("cannot certify"))
  }

  test("multi-task partitions still converge: the order arm clusters by " +
      "the TRANSFORM value, one file and one rewrite per day " +
      "(code-review r19)") {
    import spark.implicits._
    import graft.sources.{PartitionTransforms => PT}
    val root = freshRoot("daysconv")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.prw_days")
    spark.sql("CREATE TABLE graft_cat.lake.prw_days " +
      "(k BIGINT, ts BIGINT) USING graft " +
      s"PARTITIONED BY (days(ts)) OPTIONS (path '$root', format 'parquet')")
    // two appends, 3 days each, many distinct ts per day — a
    // source-clustered write would scatter each day over tasks
    val saved = spark.conf.getOption(
      "spark.sql.adaptive.coalescePartitions.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      (0 until 2).foreach { half =>
        (0 until 300).filter(_ % 2 == half)
          .map(i => (i.toLong, (i % 3) * PT.DayMillis + i * 7919L % PT.DayMillis))
          .toDF("k", "ts").writeTo("graft_cat.lake.prw_days").append()
      }
      val sum = ManifestSink.rewritePartitioned(spark, root,
        partitionBy = Seq("days(ts)"), orderBy = Seq("k"))
      assert(sum.groupsTotal == 3 && sum.groupsRewritten == 3, s"$sum")
      // one file per day — the transform-value repartition holds even
      // with AQE coalescing disabled (multiple real tasks)
      val stats = ManifestSink.fileStats(root)
      assert(stats.size == 3, s"files: ${stats.keySet}")
      assert(stats.values.forall(fs =>
        PT.pureTuple(Seq(PT.Days("ts")), fs.cols.get).isDefined))
      // and the re-run certifies everything done — zero work
      val again = ManifestSink.rewritePartitioned(spark, root,
        partitionBy = Seq("days(ts)"), orderBy = Seq("k"))
      assert(again.groupsRewritten == 0 && again.commits == 0, s"$again")
      assert(spark.sql("SELECT count(*), sum(k) FROM graft_cat.lake.prw_days")
        .head.toSeq == Seq(300L, (0L until 300L).sum))
    } finally saved match {
      case Some(v) => spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("misuse refuses loudly") {
    val root = build("prw_guard", "guard")
    assert(intercept[IllegalArgumentException](
      ManifestSink.rewritePartitioned(spark, root, Seq.empty,
        orderBy = Seq("k"))).getMessage.contains("partition columns"))
    assert(intercept[IllegalArgumentException](
      ManifestSink.rewritePartitioned(spark, root, Seq("band")))
      .getMessage.contains("exactly one"))
    assert(intercept[IllegalArgumentException](
      ManifestSink.rewritePartitioned(spark, root, Seq("band"),
        orderBy = Seq("nope"))).getMessage.contains("unknown rewrite column"))
    // where parser: typed literals + unknown-column refusal
    val schema = graft.sources.ManifestState.live(root).get.schema
    assert(ManifestSink.parseWhereEquality("band = 3", schema) == ("band", 3L))
    assert(intercept[IllegalArgumentException](
      ManifestSink.parseWhereEquality("ghost = 3", schema))
      .getMessage.contains("unknown column"))
  }
}
