package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{GreaterThan, LessThan}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ManifestRead, ManifestSink}

/** Parquet ROW-GROUP filter pushdown (VERDICT r16 Next #3): pushed
  * predicates translate to a parquet-mr FilterPredicate, so footer
  * min/max drops whole row groups INSIDE big sorted files before a
  * single page decodes — the intra-file complement of the file-level
  * zone maps. Filters stay residual in Spark, so skipping is pure
  * pruning on the vectorized path; the row path additionally lets
  * parquet-mr filter records (sound: residual filters re-evaluate, and
  * exactly-pushed filters keep every row of a kept file).
  */
class RowGroupSkipSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def freshRoot(tag: String): String = {
    val p = Paths.get(s"/tmp/graft_rowgroup_spec_$tag")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
    p.toString
  }

  /** One sorted parquet file with many small row groups. */
  private def bigSortedTable(root: String): Unit = {
    import spark.implicits._
    (0L until 50000L).map(i => (i, s"payload-$i")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root)
      .option("format", "parquet").option("orderBy", "k")
      .option("rowGroupBytes", "65536").save()
  }

  private def scan(root: String) = spark.read.schema("k LONG, v STRING")
    .format("graft.sources.ManifestSink").option("path", root).load()

  /** Demotes the table's scans to the row path and leaves their rows and
    * their pushdown alone: a merge-on-read tombstone `10 < k < 11`
    * overlaps every file's key range, so every file carries a row-level
    * delete (only the row reader applies those) that no integer key
    * matches.
    */
  private def demoteToRows(root: String): Unit =
    assert(ManifestSink.deleteWhereMoR(root, Array(
      GreaterThan("k", 10L), LessThan("k", 11L))), "the tombstone must land")

  /** Runs a filtered scan that must plan the row path; returns its keys
    * and the rows the scan handed to Spark (after parquet-mr's record
    * filter, before Spark's residual filter).
    */
  private def onRows(df: DataFrame): (Seq[Long], Long) = {
    assert(!df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a tombstoned scan must plan the row path")
    val keys = df.collect().map(_.getLong(0)).toSeq
    val scanned = SparkTestBase.collectInPlan(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.metrics("numOutputRows").value
    }.sum
    (keys, scanned)
  }

  test("a selective predicate on a sorted file decodes only matching row groups") {
    val root = freshRoot("vectorized")
    bigSortedTable(root)
    ManifestRead.lastRowGroupLedger.set((-1, -1))
    val out = scan(root)
      .filter(col("k") >= 40000L && col("k") < 40100L).collect()
    assert(out.length == 100)
    assert(out.map(_.getLong(0)).min == 40000L)
    val (kept, total) = ManifestRead.lastRowGroupLedger.get()
    assert(total > 4, s"fixture must have several row groups, got $total")
    assert(kept > 0 && kept < total,
      s"row groups must skip: kept $kept of $total")
  }

  test("the row path (columnar disabled) gets the same filtered answer") {
    val root = freshRoot("rowpath")
    bigSortedTable(root)
    demoteToRows(root)
    val (keys, scanned) = onRows(scan(root)
      .filter(col("k") >= 10000L && col("k") < 10050L))
    assert(keys.sorted == (10000L until 10050L))
    // parquet-mr dropped the rest: row groups by footer, records by value
    assert(scanned == 50L, s"the row path must push the predicate: scanned $scanned")
  }

  test("null-bearing data answers In/IsNull/Not filters identically with pushdown") {
    import spark.implicits._
    val root = freshRoot("nulls")
    (0L until 2000L)
      .map(i => (i, if (i % 7L == 0L) null else s"s${i % 5L}"))
      .toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root)
      .option("format", "parquet").option("orderBy", "k")
      .option("rowGroupBytes", "16384").save()
    // each predicate vs the same computed truth, on BOTH reader paths
    val cases: Seq[(org.apache.spark.sql.Column, Long => Boolean)] = Seq(
      (col("v").isNull, k => k % 7L == 0L),
      (col("v").isNotNull, k => k % 7L != 0L),
      (col("v").isin("s1", "s3"), k =>
        k % 7L != 0L && (k % 5L == 1L || k % 5L == 3L)),
      (!(col("v") === "s2"), k => k % 7L != 0L && k % 5L != 2L),
      (col("v") === "s0" || col("k") < 3L, k =>
        (k % 7L != 0L && k % 5L == 0L) || k < 3L))
    def check(path: String)(
        keysOf: (org.apache.spark.sql.Column, DataFrame) => Seq[Long]): Unit =
      cases.foreach { case (pred, truth) =>
        val got = keysOf(pred, scan(root).filter(pred)).toSet
        val want = (0L until 2000L).filter(truth).toSet
        assert(got == want,
          s"$path path pred=$pred: ${got.size} vs ${want.size}")
      }
    check("columnar")((_, df) => df.collect().map(_.getLong(0)).toSeq)
    demoteToRows(root)
    check("row") { (pred, df) =>
      val (keys, scanned) = onRows(df)
      assert(scanned < 2000L,
        s"pred=$pred: the predicate must reach parquet-mr, scanned $scanned")
      keys
    }
  }

  test("existing skipping rows stay green: bloom + zone-map composition unchanged") {
    val root = freshRoot("compose")
    import spark.implicits._
    (0L until 5000L).map(i => (i, i % 17L)).toDF("k", "h").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root)
      .option("format", "parquet").option("orderBy", "k")
      .option("bloomFor", "h").option("rowGroupBytes", "16384").save()
    val out = spark.read.schema("k LONG, h LONG")
      .format("graft.sources.ManifestSink").option("path", root).load()
      .filter(col("h") === 5L).collect()
    assert(out.length == (0L until 5000L).count(_ % 17L == 5L))
    assert(ManifestSink.readCommitted(spark, root).count() == 5000L)
  }
}
