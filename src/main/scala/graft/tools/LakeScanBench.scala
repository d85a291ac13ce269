package graft.tools

import org.apache.spark.sql.SparkSession

/** A/B micro-bench for the lake connector's parquet read path
  * (VERDICT r15 Next #3 "done" receipt): builds a widened parquet lake
  * table once, then times the same projected aggregate through the
  * VECTORIZED ColumnarBatch reader vs the row-by-row parquet-mr path
  * (the `row` arm reads copies that carry a no-op row-level delete).
  * Prints one JSON line per configuration; run each mode in its own JVM
  * so JIT state can't leak between arms:
  *
  *   sbt 'runMain graft.tools.LakeScanBench columnar'
  *   sbt 'runMain graft.tools.LakeScanBench row'
  */
object LakeScanBench {
  def main(args: Array[String]): Unit = {
    val label = args.headOption.getOrElse("columnar")
    val spark = SparkSession.builder()
      .master(s"local[${graft.Harness.cpus}]")
      .appName("graft-lake-scan-bench")
      .config("spark.sql.shuffle.partitions", graft.Harness.cpus)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    import graft.sources.ManifestSink

    // The row arm reads its own copy of each table, which carries a
    // merge-on-read tombstone `10 < a < 11` that no row matches: a
    // row-level delete demotes the scan to the row path and leaves its
    // pushdown on (its times include the per-row delete check).
    val rowArm = label == "row"
    def fixture(path: String)(write: String => Unit): String = {
      val p = if (rowArm) s"${path}_row" else path
      if (ManifestSink.readManifest(java.nio.file.Paths.get(p)).isEmpty) {
        write(p)
        if (rowArm)
          ManifestSink.deleteWhereMoR(p, Array(GreaterThan("a", 10L), LessThan("a", 11L)))
      }
      p
    }

    val root = fixture("/tmp/graft_lake_scanbench") { root =>
      // 4M rows x 8 columns, 32 files — wide enough that decode rate,
      // not job overhead, dominates
      spark.range(0, 4000000, 1, 32)
        .select(col("id"),
          (col("id") % 97).as("a"), (col("id") % 1009).as("b"),
          (col("id") * 37 % 100000).as("c"),
          (col("id") % 255).cast("int").as("d"),
          (col("id") % 1000000).cast("double").as("x"),
          concat(lit("name_"), col("id") % 5000).as("s"),
          concat(lit("cat_"), col("id") % 17).as("cat"))
        .write.format("graft.sources.ManifestSink")
        .mode("overwrite").option("path", root)
        .option("format", "parquet").save()
    }
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.scanbench")
    spark.sql("CREATE TABLE graft_cat.lake.scanbench (id BIGINT, a BIGINT, " +
      "b BIGINT, c BIGINT, d INT, x DOUBLE, s STRING, cat STRING) " +
      s"USING graft OPTIONS (path '$root')")

    def run(): Double = {
      val t0 = System.nanoTime()
      // projected scan + aggregate: decodes 4 of 8 columns
      spark.sql("SELECT cat, count(*) AS n, sum(a) AS sa, sum(x) AS sx " +
        "FROM graft_cat.lake.scanbench GROUP BY cat").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val times = (1 to 5).map(_ => run())
    val plan = spark.sql("SELECT id, s FROM graft_cat.lake.scanbench")
      .queryExecution.executedPlan.toString

    // FILTERED-scan arm (r17 row-group pushdown receipt): a selective
    // range predicate over a SORTED single-file variant of the same
    // data — footer min/max skips the non-matching row groups, so the
    // filtered scan should run far under the full-scan decode time.
    val rootF = fixture("/tmp/graft_lake_scanbench_sorted") { rootF =>
      // ONE globally-sorted file, many 4 MB row groups — the shape
      // where footer min/max skipping inside the file is the whole win
      spark.range(0, 4000000, 1, 32)
        .select(col("id"),
          (col("id") % 97).as("a"),
          (col("id") % 1000000).cast("double").as("x"),
          concat(lit("name_"), col("id") % 5000).as("s"))
        .coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .mode("overwrite").option("path", rootF)
        .option("format", "parquet").option("orderBy", "id")
        .option("rowGroupBytes", "4194304").save()
    }
    def runFiltered(): Double = {
      val t0 = System.nanoTime()
      spark.read.schema("id LONG, a LONG, x DOUBLE, s STRING")
        .format("graft.sources.ManifestSink").option("path", rootF).load()
        .filter(col("id") >= 2000000L && col("id") < 2010000L)
        .agg(count(lit(1)), sum(col("a")), sum(col("x"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val timesF = (1 to 5).map(_ => runFiltered())
    val (rgKept, rgTotal) = graft.sources.ManifestRead.lastRowGroupLedger.get()

    println(s"""{"bench":"lake_scan","mode":"$label","columnar_plan":${plan.contains("ColumnarToRow")},"times":[${times.map(t => f"$t%.3f").mkString(",")}],"best":${f"${times.min}%.3f"},"filtered_times":[${timesF.map(t => f"$t%.3f").mkString(",")}],"filtered_best":${f"${timesF.min}%.3f"},"row_groups_kept":$rgKept,"row_groups_total":$rgTotal}""")
    spark.stop()
  }
}
