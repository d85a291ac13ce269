package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LakeTestAccess, ManifestChanges, ManifestRead, ManifestSink}

/** SCHEMA EVOLUTION beyond ADD COLUMN (r17): RENAME COLUMN and DROP
  * COLUMN as metadata-only commits. Committed files keep their written
  * names; an alias ledger (`#rn:`/`#dc:` manifest lines) maps every
  * historical name to its live one, and every consumer — row readers,
  * stats pruning, tombstones, CoW/MoR DML, time travel, the batch
  * change feed — resolves through it. Rewrites (compaction/overwrite)
  * materialize live names and clear the ledger's name reservations.
  */
class SchemaEvolutionSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestBase.spark
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    s
  }

  private def freshRoot(tag: String): String = {
    val p = Paths.get(s"/tmp/graft_evo_spec_$tag")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
    p.toString
  }

  private def writeBase(root: String, fmt: String = "parquet"): Unit = {
    import spark.implicits._
    (0 until 20).map(k => (k.toLong, k % 4, s"v$k"))
      .toDF("k", "grp", "payload")
      .coalesce(2).write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).option("format", fmt).save()
  }

  private def mkTable(name: String, root: String,
      extra: String = ""): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.lake.$name")
    spark.sql(
      s"""CREATE TABLE graft_cat.lake.$name (k BIGINT, grp INT, payload STRING)
         | USING graft OPTIONS (path '$root', format 'parquet'$extra)""".stripMargin)
  }

  test("RENAME COLUMN: old parquet files read through the alias chain") {
    import spark.implicits._
    val root = freshRoot("rename_pq")
    writeBase(root)
    mkTable("evo_rn", root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_rn RENAME COLUMN payload TO body")
    // post-rename append stores the LIVE name
    Seq((100L, 0, "fresh")).toDF("k", "grp", "body")
      .write.format("graft.sources.ManifestSink").mode("append")
      .option("path", root).option("format", "parquet").save()
    val rows = spark.sql(
      "SELECT k, body FROM graft_cat.lake.evo_rn ORDER BY k").collect()
    assert(rows.length == 21)
    assert(rows.take(20).forall(r => r.getString(1) == s"v${r.getLong(0)}"))
    assert(rows.last.getString(1) == "fresh")
    // chained rename: body -> text resolves two hops deep
    spark.sql("ALTER TABLE graft_cat.lake.evo_rn RENAME COLUMN body TO text")
    val chained = spark.sql(
      "SELECT text FROM graft_cat.lake.evo_rn WHERE k = 3").collect()
    assert(chained.head.getString(0) == "v3")
    // path-based readers see the live schema too (manifest DDL updated)
    assert(ManifestSink.readCommitted(spark, root)
      .columns.toSeq == Seq("k", "grp", "text"))
  }

  test("RENAME COLUMN: stats pruning keeps working on pre-rename files") {
    import spark.implicits._
    val root = freshRoot("rename_prune")
    // two files with disjoint k ranges → a selective filter prunes one
    (0 until 10).map(k => (k.toLong, s"v$k")).toDF("k", "v")
      .coalesce(1).write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).option("format", "parquet").save()
    (100 until 110).map(k => (k.toLong, s"v$k")).toDF("k", "v")
      .coalesce(1).write.format("graft.sources.ManifestSink")
      .mode("append").option("path", root).option("format", "parquet").save()
    mkTableKV("evo_prune", root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_prune RENAME COLUMN k TO id")
    val out = spark.sql(
      "SELECT id, v FROM graft_cat.lake.evo_prune WHERE id >= 100").collect()
    assert(out.length == 10)
    // the pre-rename stats (written under `k`) refuted the first file
    assert(ManifestRead.lastSkipLedger.get() == (1, 2))
  }

  private def mkTableKV(name: String, root: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.lake.$name")
    spark.sql(
      s"""CREATE TABLE graft_cat.lake.$name (k BIGINT, v STRING)
         | USING graft OPTIONS (path '$root', format 'parquet')""".stripMargin)
  }

  test("RENAME COLUMN: JSON payload resolves prior keys") {
    val root = freshRoot("rename_js")
    writeBase(root, fmt = "json")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.evo_js")
    spark.sql(
      s"""CREATE TABLE graft_cat.lake.evo_js (k BIGINT, grp INT, payload STRING)
         | USING graft OPTIONS (path '$root')""".stripMargin)
    spark.sql("ALTER TABLE graft_cat.lake.evo_js RENAME COLUMN payload TO body")
    val rows = spark.sql(
      "SELECT k, body FROM graft_cat.lake.evo_js WHERE grp = 1 ORDER BY k")
      .collect()
    assert(rows.nonEmpty &&
      rows.forall(r => r.getString(1) == s"v${r.getLong(0)}"))
  }

  test("tombstones survive a rename in both directions") {
    val root = freshRoot("rename_tomb")
    writeBase(root)
    mkTable("evo_tomb", root, extra = ", deleteMode 'mor'")
    // pre-rename tombstone references the OLD name
    spark.sql("DELETE FROM graft_cat.lake.evo_tomb WHERE payload = 'v3'")
    spark.sql("ALTER TABLE graft_cat.lake.evo_tomb RENAME COLUMN payload TO body")
    // post-rename tombstone references the NEW name; both must apply
    spark.sql("DELETE FROM graft_cat.lake.evo_tomb WHERE body = 'v5'")
    val left = spark.sql(
      "SELECT body FROM graft_cat.lake.evo_tomb").collect().map(_.getString(0))
    assert(!left.contains("v3") && !left.contains("v5") && left.length == 18)
    // the Scala snapshot reader agrees (the ManifestState tombstone remap)
    assert(ManifestSink.readCommitted(spark, root).count() == 18L)
  }

  test("time travel before the rename sees the old names") {
    val root = freshRoot("rename_tt")
    writeBase(root)
    val preGen = ManifestSink.snapshots(root).last
    mkTable("evo_tt", root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_tt RENAME COLUMN payload TO body")
    val old = ManifestSink.readSnapshot(spark, root, preGen)
    assert(old.columns.toSeq == Seq("k", "grp", "payload"))
    assert(old.count() == 20L)
    val live = spark.sql("SELECT * FROM graft_cat.lake.evo_tt")
    assert(live.columns.toSeq == Seq("k", "grp", "body"))
  }

  test("compaction materializes live names and clears reservations") {
    val root = freshRoot("rename_compact")
    writeBase(root)
    mkTable("evo_cmp", root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_cmp RENAME COLUMN payload TO body")
    assert(LakeTestAccess.liveAliases(Paths.get(root)).nonEmpty)
    // the reserved prior name cannot come back while files may hold it
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.lake.evo_cmp ADD COLUMN payload STRING")
    }
    assert(ex.getMessage.contains("reserved"))
    ManifestSink.compact(spark, root)
    assert(LakeTestAccess.liveAliases(Paths.get(root)).isEmpty)
    // data intact under the live name, reservation cleared
    assert(ManifestSink.readCommitted(spark, root).count() == 20L)
    spark.sql("ALTER TABLE graft_cat.lake.evo_cmp ADD COLUMN payload STRING")
    assert(spark.sql("SELECT payload FROM graft_cat.lake.evo_cmp")
      .collect().forall(_.isNullAt(0)))
  }

  test("rename guards: existing, prior, and missing names refuse") {
    val root = freshRoot("rename_guards")
    writeBase(root)
    mkTable("evo_grd", root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_grd RENAME COLUMN payload TO body")
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft_cat.lake.evo_grd RENAME COLUMN grp TO body"))
      .getMessage.contains("already exists"))
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft_cat.lake.evo_grd RENAME COLUMN grp TO payload"))
      .getMessage.contains("reserved"))
    // a missing source column is caught by Spark's analyzer already
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft_cat.lake.evo_grd RENAME COLUMN nope TO x"))
      .getMessage.toLowerCase.contains("cannot be resolved"))
  }

  test("DROP COLUMN: metadata-only shrink with reservation and guards") {
    val root = freshRoot("drop")
    writeBase(root)
    mkTable("evo_drop", root, extra = ", deleteMode 'mor'")
    // a live tombstone referencing the column blocks the drop
    spark.sql("DELETE FROM graft_cat.lake.evo_drop WHERE payload = 'v7'")
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft_cat.lake.evo_drop DROP COLUMN payload"))
      .getMessage.contains("tombstone"))
    ManifestSink.compact(spark, root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_drop DROP COLUMN payload")
    val live = spark.sql("SELECT * FROM graft_cat.lake.evo_drop")
    assert(live.columns.toSeq == Seq("k", "grp"))
    assert(live.count() == 19L)
    // re-introducing the dropped name is refused until a rewrite
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft_cat.lake.evo_drop ADD COLUMN payload STRING"))
      .getMessage.contains("reserved"))
    ManifestSink.compact(spark, root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_drop ADD COLUMN payload STRING")
    // the old cells are gone for good — the re-added column reads null
    assert(spark.sql("SELECT payload FROM graft_cat.lake.evo_drop")
      .collect().forall(_.isNullAt(0)))
  }

  test("DROP COLUMN refuses layout columns; sheds bloomFor silently") {
    val root = freshRoot("drop_layout")
    import spark.implicits._
    (0 until 20).map(k => (k.toLong, k % 4, s"v$k"))
      .toDF("k", "grp", "payload")
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).option("format", "parquet")
      .option("partitionBy", "grp").save()
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.evo_dl")
    spark.sql(
      s"""CREATE TABLE graft_cat.lake.evo_dl (k BIGINT, grp INT, payload STRING)
         | USING graft PARTITIONED BY (grp)
         | OPTIONS (path '$root', format 'parquet', bloomFor 'payload')""".stripMargin)
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft_cat.lake.evo_dl DROP COLUMN grp"))
      .getMessage.contains("partitionBy"))
    // bloomFor is an optimization — the drop sheds it and proceeds
    spark.sql("ALTER TABLE graft_cat.lake.evo_dl DROP COLUMN payload")
    assert(spark.sql("SELECT * FROM graft_cat.lake.evo_dl")
      .columns.toSeq == Seq("k", "grp"))
  }

  test("CoW UPDATE and partitioned reads work across a rename") {
    val root = freshRoot("rename_dml")
    import spark.implicits._
    (0 until 20).map(k => (k.toLong, k % 4, s"v$k"))
      .toDF("k", "grp", "payload")
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root).option("format", "parquet")
      .option("partitionBy", "grp").save()
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.evo_dml")
    spark.sql(
      s"""CREATE TABLE graft_cat.lake.evo_dml (k BIGINT, grp INT, payload STRING)
         | USING graft PARTITIONED BY (grp)
         | OPTIONS (path '$root', format 'parquet')""".stripMargin)
    spark.sql("ALTER TABLE graft_cat.lake.evo_dml RENAME COLUMN grp TO bucket")
    // partition-key rollup on the RENAMED partition column
    val agg = spark.sql(
      """SELECT bucket, count(*) AS n FROM graft_cat.lake.evo_dml
        |GROUP BY bucket ORDER BY bucket""".stripMargin).collect()
    assert(agg.map(_.getLong(1)).toSeq == Seq(5L, 5L, 5L, 5L))
    // CoW UPDATE through the renamed schema materializes live names
    spark.sql(
      "UPDATE graft_cat.lake.evo_dml SET payload = 'hit' WHERE bucket = 2")
    val hit = spark.sql(
      "SELECT payload FROM graft_cat.lake.evo_dml WHERE bucket = 2").collect()
    assert(hit.length == 5 && hit.forall(_.getString(0) == "hit"))
    assert(spark.sql(
      "SELECT count(*) FROM graft_cat.lake.evo_dml WHERE payload <> 'hit'")
      .head.getLong(0) == 15L)
  }

  test("batch change feed replays correctly across a rename") {
    val root = freshRoot("rename_cdf")
    import spark.implicits._
    writeBase(root)
    mkTable("evo_cdf", root, extra = ", deleteMode 'mor'")
    spark.sql("DELETE FROM graft_cat.lake.evo_cdf WHERE payload = 'v3'")
    spark.sql("ALTER TABLE graft_cat.lake.evo_cdf RENAME COLUMN payload TO body")
    Seq((200L, 1, "post")).toDF("k", "grp", "body")
      .write.format("graft.sources.ManifestSink").mode("append")
      .option("path", root).option("format", "parquet").save()
    val top = ManifestSink.snapshots(root).last
    val ch = ManifestChanges.readChanges(spark, root, 0L, top)
    assert(ch.columns.contains("body") && !ch.columns.contains("payload"))
    val net = ch.groupBy(col("k"), col("body"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          col("_change_type") === "insert", 1L).otherwise(-1L)).as("net"))
      .filter(col("net") > 0L)
    assert(net.count() == 20L) // 20 base - 1 deleted + 1 appended
    assert(net.filter(col("body") === lit("v3")).count() == 0L)
  }

  test("streaming feeds: a restarted consumer resolves the rename; a " +
      "RUNNING one refuses the mid-feed evolution loudly") {
    val root = freshRoot("rename_feeds")
    import spark.implicits._
    writeBase(root)
    mkTable("evo_feeds", root)
    // a RUNNING stream's source predates the rename: construct the CDF
    // stream now (pre-rename alias knowledge), evolve, then plan — the
    // window carrying the evolution line must refuse
    val preStream = new graft.sources.ManifestChangesStream(root,
      org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, grp INT, payload STRING"),
      graft.sources.GraftChanges.feedSchema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, grp INT, payload STRING")),
      graft.sources.GraftChanges.StartSpec(Some(0L), None))
    spark.sql("ALTER TABLE graft_cat.lake.evo_feeds RENAME COLUMN payload TO body")
    Seq((300L, 2, "post")).toDF("k", "grp", "body")
      .write.format("graft.sources.ManifestSink").mode("append")
      .option("path", root).option("format", "parquet").save()
    val top = ManifestSink.snapshots(root).last
    val ex = intercept[IllegalStateException] {
      preStream.planInputPartitions(
        graft.sources.SnapshotOffset(0L), graft.sources.SnapshotOffset(top))
    }
    assert(ex.getMessage.contains("schema evolution"))
    // a FRESH/RESTARTED consumer knows the live ledger: the same range
    // plans fine and reconstructs the live state under live names
    val fresh = new graft.sources.ManifestChangesStream(root,
      org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, grp INT, body STRING"),
      graft.sources.GraftChanges.feedSchema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, grp INT, body STRING")),
      graft.sources.GraftChanges.StartSpec(Some(0L), None))
    assert(fresh.planInputPartitions(graft.sources.SnapshotOffset(0L),
      graft.sources.SnapshotOffset(top)).nonEmpty)
    // end-to-end: the fresh CDF stream drains and reconstructs
    val q = spark.readStream.format("graft.sources.GraftChanges")
      .option("path", root).load()
      .writeStream.format("memory")
      .queryName("evo_cdfs_fresh")
      .option("checkpointLocation", s"$root/_cp_cdf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("evo_cdfs_fresh")
    assert(got.columns.contains("body"))
    assert(got.count() == 21L) // 20 base inserts + 1 post-rename insert
  }

  test("change feeds replay a rename even after compaction cleared the " +
      "live ledger (code-review r17)") {
    val root = freshRoot("cdf_cleared")
    import spark.implicits._
    writeBase(root)
    mkTable("evo_clr", root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_clr RENAME COLUMN payload TO body")
    Seq((100L, 1, "mid")).toDF("k", "grp", "body")
      .write.format("graft.sources.ManifestSink").mode("append")
      .option("path", root).option("format", "parquet").save()
    ManifestSink.compact(spark, root) // clears the #rn: ledger line
    assert(LakeTestAccess.liveAliases(Paths.get(root)).isEmpty)
    Seq((200L, 2, "post")).toDF("k", "grp", "body")
      .write.format("graft.sources.ManifestSink").mode("append")
      .option("path", root).option("format", "parquet").save()
    // batch: full-history replay resolves pre-rename files through the
    // ACCUMULATED ledger (snapshots still carry the line) — no nulls
    val top = ManifestSink.snapshots(root).last
    val ch = ManifestChanges.readChanges(spark, root, 0L, top)
    assert(ch.filter(col("body").isNull).count() == 0L)
    val net = ch.groupBy(col("k"), col("grp"), col("body"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          col("_change_type") === "insert", 1L).otherwise(-1L)).as("net"))
      .filter(col("net") > 0L)
    assert(net.count() == 22L) // 20 base + mid + post
    // stream: a fresh consumer from 0 drains the same history (the old
    // code wedged on the rename window forever)
    val q = spark.readStream.format("graft.sources.GraftChanges")
      .option("path", root).load()
      .writeStream.format("memory").queryName("evo_clr_stream")
      .option("checkpointLocation", s"$root/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("evo_clr_stream")
    assert(got.filter(col("body").isNull).count() == 0L)
    assert(got.count() == ch.count())
  }

  test("a replayed tombstone referencing a since-dropped column refuses " +
      "loudly instead of resurrecting rows (code-review r17)") {
    val root = freshRoot("cdf_droppedref")
    writeBase(root)
    mkTable("evo_dref", root, extra = ", deleteMode 'mor'")
    spark.sql("DELETE FROM graft_cat.lake.evo_dref WHERE payload = 'v3'")
    ManifestSink.compact(spark, root) // folds the tombstone
    spark.sql("ALTER TABLE graft_cat.lake.evo_dref DROP COLUMN payload")
    val top = ManifestSink.snapshots(root).last
    val e1 = intercept[IllegalStateException] {
      ManifestChanges.readChanges(spark, root, 0L, top).collect()
    }
    assert(e1.getMessage.contains("dropped from the schema"))
    // the streaming twin refuses identically (shared window planner)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft.sources.GraftChanges")
        .option("path", root).load()
        .writeStream.format("memory").queryName("evo_dref_stream")
        .option("checkpointLocation", s"$root/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(msgs(e2).exists(_.contains("dropped from the schema")))
    // starting AFTER the drop works (no tombstone window in range)
    val fromGen = ManifestSink.snapshots(root).last
    assert(ManifestChanges.readChanges(spark, root, fromGen, fromGen)
      .count() == 0L)
  }

  test("a failing change in a multi-change ALTER publishes nothing " +
      "(ADVICE r18: no manifest/catalog divergence)") {
    val root = freshRoot("atomic")
    writeBase(root)
    mkTable("evo_atomic", root)
    val gensBefore = ManifestSink.snapshots(root)
    val cat = spark.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("lake"), "evo_atomic")
    import org.apache.spark.sql.connector.catalog.TableChange
    // first change (a valid RENAME) would have published its evolution
    // commit inside the fold pre-fix; the second change fails validation
    intercept[Exception] {
      cat.alterTable(ident,
        TableChange.renameColumn(Array("payload"), "body"),
        TableChange.deleteColumn(Array("no_such_col"), false))
    }
    // nothing published: no evolution line, no new generation, and the
    // catalog schema still serves the original name
    val manifest = java.nio.file.Files.readAllLines(
      Paths.get(root).resolve("manifest.json"))
    assert(!manifest.toArray(Array.empty[String])
      .exists(_.startsWith("#rn:")), "evolution commit leaked")
    assert(ManifestSink.snapshots(root) == gensBefore)
    assert(spark.sql("SELECT payload FROM graft_cat.lake.evo_atomic " +
      "WHERE k = 3").head.getString(0) == "v3")
    // the same two changes applied separately still work (the guard
    // defers publication, it does not weaken the happy path)
    cat.alterTable(ident, TableChange.renameColumn(Array("payload"), "body"))
    assert(spark.sql("SELECT body FROM graft_cat.lake.evo_atomic " +
      "WHERE k = 3").head.getString(0) == "v3")
  }

  test("a retired name reintroduced after a rewrite refuses the replay " +
      "(vintage ambiguity, code-review r17)") {
    val root = freshRoot("cdf_reuse")
    writeBase(root)
    mkTable("evo_reuse", root)
    spark.sql("ALTER TABLE graft_cat.lake.evo_reuse RENAME COLUMN payload TO body")
    ManifestSink.compact(spark, root) // releases the 'payload' reservation
    spark.sql("ALTER TABLE graft_cat.lake.evo_reuse ADD COLUMN payload STRING")
    // the reintroduced name reaches the manifest once an append commits
    // files carrying it — from here a replay spans two 'payload' vintages
    import spark.implicits._
    Seq((500L, 3, "new-b", "new-p")).toDF("k", "grp", "body", "payload")
      .write.format("graft.sources.ManifestSink").mode("append")
      .option("path", root).option("format", "parquet").save()
    val top = ManifestSink.snapshots(root).last
    val ex = intercept[IllegalStateException] {
      ManifestChanges.readChanges(spark, root, 0L, top).collect()
    }
    assert(ex.getMessage.contains("ambiguous evolution history"))
    // live reads stay fine — only cross-vintage replay is ambiguous
    assert(spark.sql("SELECT body, payload FROM graft_cat.lake.evo_reuse")
      .count() == 21L)
    // a replay that starts AFTER the rewrite never spans both vintages
    val from = ManifestSink.snapshots(root).filter(_ < top).last
    assert(ManifestChanges.readChanges(spark, root, from, top)
      .count() == 1L)
  }
}
