package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestSink

/** Metadata tables (r17): `t$files`, `t$snapshots`, `t$deletes` —
  * SQL-composable inspection of a lake table's own metadata, served
  * through the metadata-only scan (zero data files opened).
  */
class MetaTablesSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestBase.spark
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    s
  }

  private def freshRoot(tag: String): String = {
    val p = Paths.get(s"/tmp/graft_meta_spec_$tag")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
    p.toString
  }

  private def build(name: String, tag: String): String = {
    import spark.implicits._
    val root = freshRoot(tag)
    (0 until 3).foreach { i =>
      (i * 10 until (i + 1) * 10).map(k => (k.toLong, s"v$k")).toDF("k", "v")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .mode(if (i == 0) "overwrite" else "append")
        .option("path", root).option("format", "parquet").save()
    }
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.lake.$name")
    spark.sql(s"CREATE TABLE graft_cat.lake.$name (k BIGINT, v STRING) " +
      s"USING graft OPTIONS (path '$root', format 'parquet', " +
      s"deleteMode 'mor')")
    root
  }

  test("$files lists every committed file with its recorded stats") {
    val root = build("meta_f", "files")
    val rows = spark.sql("SELECT * FROM graft_cat.lake.`meta_f$files`")
      .collect()
    assert(rows.map(_.getString(0)).toSet ==
      ManifestSink.committedFiles(root)
        .map(f => Paths.get(f).getFileName.toString).toSet)
    assert(rows.forall(_.getString(1) == "parquet"))
    assert(rows.map(_.getLong(2)).sum == 30L)
    assert(rows.forall(r => !r.isNullAt(3) && r.getLong(3) > 0L))
    // the aggregate composes in SQL and equals the table's own count
    assert(spark.sql(
      "SELECT sum(row_count) FROM graft_cat.lake.`meta_f$files`")
      .head.getLong(0) ==
      spark.sql("SELECT count(*) FROM graft_cat.lake.meta_f").head.getLong(0))
  }

  test("$snapshots mirrors the retained history; $deletes shows MoR state") {
    val root = build("meta_s", "snaps")
    val snaps = spark.sql(
      "SELECT * FROM graft_cat.lake.`meta_s$snapshots` ORDER BY generation")
      .collect()
    assert(snaps.map(_.getLong(0)).toSeq == ManifestSink.snapshots(root))
    assert(snaps.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    assert(snaps.last.getLong(3) == 30L)
    // a tombstone DELETE and a delta UPDATE surface in $deletes
    spark.sql("DELETE FROM graft_cat.lake.meta_s WHERE v = 'v3'")
    spark.sql("UPDATE graft_cat.lake.meta_s SET v = 'touched' WHERE k = 15")
    val dels = spark.sql("SELECT kind FROM graft_cat.lake.`meta_s$deletes`")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(dels == Seq("position", "tombstone"))
    // compaction folds both; $deletes drains
    ManifestSink.compact(spark, root)
    assert(spark.sql("SELECT * FROM graft_cat.lake.`meta_s$deletes`")
      .count() == 0L)
    assert(spark.sql("SELECT file_count FROM graft_cat.lake.`meta_s$snapshots` " +
      "ORDER BY generation DESC LIMIT 1").head.getLong(0) == 1L)
  }

  test("$deletes renders tombstone predicates in the live column space " +
      "after a RENAME (ADVICE r18)") {
    val root = build("meta_rn", "rename")
    spark.sql("DELETE FROM graft_cat.lake.meta_rn WHERE v = 'v3'")
    spark.sql("ALTER TABLE graft_cat.lake.meta_rn RENAME COLUMN v TO label")
    val detail = spark.sql(
      "SELECT detail FROM graft_cat.lake.`meta_rn$deletes` " +
        "WHERE kind = 'tombstone'").head.getString(0)
    // every other consumer (scans, stats, CDF, readCommitted) remaps the
    // predicate through the evolution ledger — the inspection surface
    // must show the live name, not the written one
    assert(detail.contains("label"), s"stale column name in: $detail")
    assert(!detail.contains("(v,"), s"prior column name leaked: $detail")
    // the delete itself still applies through the rename
    assert(spark.sql("SELECT count(*) FROM graft_cat.lake.meta_rn " +
      "WHERE label = 'v3'").head.getLong(0) == 0L)
    ManifestSink.compact(spark, root)
  }

  test("unknown metadata suffix and unknown base refuse") {
    build("meta_g", "guards")
    assert(intercept[Exception](spark.sql(
      "SELECT * FROM graft_cat.lake.`meta_g$nope`").collect())
      .getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    assert(intercept[Exception](spark.sql(
      "SELECT * FROM graft_cat.lake.`no_base$files`").collect())
      .getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }
}
