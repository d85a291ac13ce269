package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build a FULL-registry scale fixture — every table grown `copies`-fold
  * with foreign keys kept consistent — so the complete Verify gate can
  * run against DuckDB at sf1 = 10x the usual sf0.1 ceiling (VERDICT r12
  * Next #4). The both-SF discipline tops out at sf0.1 and the iterative
  * 10x probes cover subsets; this fixture closes the gap with one
  * 100x-of-driver-gate corpus the ENTIRE registry is provable on.
  *
  * Replication recipe (structure-preserving, shared with
  * [[ScaleIterFixture]] where the tables overlap):
  *   - documents / embeddings: the iterative-probe builders verbatim
  *     (shingle-bijective word prefixes; per-replica cosine-preserving
  *     dim rotations).
  *   - TPC-H star: every key column offsets by a per-table power-of-2
  *     stride derived from its own max — and the SAME stride applies on
  *     both sides of each FK (l_orderkey/o_orderkey, o_custkey/c_custkey,
  *     l_partkey/p_partkey, l_suppkey/s_suppkey), so replica i is a
  *     self-contained copy of the star: join fan-outs, group
  *     cardinalities per key, and date distributions are exactly the
  *     base's. Replica counts at copies=10 land on real TPC-H sf1
  *     proportions (150k customer / 1.5M orders / 6M lineitem / 200k
  *     part / 10k supplier).
  *   - events: event_id and user_id offset (10x users, each with the
  *     base's exact per-user timeline — sessionization/funnel/cohort
  *     structure preserved per replica).
  *   - nation / region: copied UNCHANGED — they are bounded dimensions
  *     at every TPC-H scale factor (25/5 rows at sf1 too), and
  *     replicating them would break the fixed nationkey domain.
  *
  * Usage: runMain graft.tools.ScaleAllFixture <srcSfDir> <outDir> <copies>
  */
object ScaleAllFixture {
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

    def table(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Long = {
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      val n = spark.read.parquet(s"$out/$name.parquet").count()
      println(s"[scale-all] $name: $n rows")
      n
    }
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0)
    /** Replicate with the given key columns offset by per-key strides. */
    def replicate(df: DataFrame, strides: Map[String, Long]): DataFrame =
      (0 until copies).map { i =>
        strides.foldLeft(df) { case (d, (c, s)) =>
          d.withColumn(c, col(c) + lit(i * s))
        }
      }.reduce(_ unionAll _)

    val (customer, orders, lineitem, part, supplier, events) =
      (table("customer"), table("orders"), table("lineitem"),
        table("part"), table("supplier"), table("events"))

    // one stride per key DOMAIN, derived from the max across every table
    // that carries the key — both FK sides must shift identically
    val custS = ScaleIterFixture.stride(
      math.max(maxOf(customer, "c_custkey"), maxOf(orders, "o_custkey")))
    val ordS = ScaleIterFixture.stride(
      math.max(maxOf(orders, "o_orderkey"), maxOf(lineitem, "l_orderkey")))
    val partS = ScaleIterFixture.stride(
      math.max(maxOf(part, "p_partkey"), maxOf(lineitem, "l_partkey")))
    val suppS = ScaleIterFixture.stride(
      math.max(maxOf(supplier, "s_suppkey"), maxOf(lineitem, "l_suppkey")))

    write(replicate(customer, Map("c_custkey" -> custS)), "customer")
    write(replicate(orders, Map("o_orderkey" -> ordS, "o_custkey" -> custS)),
      "orders")
    write(replicate(lineitem, Map("l_orderkey" -> ordS, "l_partkey" -> partS,
      "l_suppkey" -> suppS)), "lineitem")
    write(replicate(part, Map("p_partkey" -> partS)), "part")
    write(replicate(supplier, Map("s_suppkey" -> suppS)), "supplier")

    val evS = ScaleIterFixture.stride(maxOf(events, "event_id"))
    val userS = ScaleIterFixture.stride(maxOf(events, "user_id"))
    write(replicate(events, Map("event_id" -> evS, "user_id" -> userS)),
      "events")

    write(ScaleIterFixture.docsReplicas(table("documents"), copies), "documents")
    write(ScaleIterFixture.embReplicas(table("embeddings"), copies), "embeddings")

    // bounded dims: copied unchanged (fixed key domains at every SF)
    Seq("nation", "region").foreach(t => write(table(t), t))
    spark.stop()
  }
}
