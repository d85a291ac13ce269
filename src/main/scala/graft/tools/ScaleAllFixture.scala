package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build a full-registry scale fixture: every table grown `copies`-fold
  * with foreign keys kept consistent, so the whole Verify gate runs
  * against DuckDB at a larger SF (copies=10 over sf0.1 gives sf1).
  *
  * Replication recipe (structure-preserving):
  *   - documents: replica i prefixes every word with "r<i>x", a bijection
  *     on shingles per replica, so intra-replica Jaccard (and the dedup
  *     pair/cluster structure) is exactly preserved while cross-replica
  *     shingle sets are disjoint. doc_id offsets keep ids unique and far
  *     under the hash ladders' 2^31 bound.
  *   - embeddings: replica i cyclically shifts the 64 dims by i, a fixed
  *     permutation applied to both sides that preserves every
  *     intra-replica cosine (the LSH pair volume scales linearly), while
  *     shifted-vs-unshifted dot products decorrelate across replicas.
  *   - TPC-H star: every key column offsets by a per-domain power-of-2
  *     stride derived from its own max, and the same stride applies on
  *     both sides of each FK (l_orderkey/o_orderkey, o_custkey/c_custkey,
  *     l_partkey/p_partkey, l_suppkey/s_suppkey), so replica i is a
  *     self-contained copy of the star: join fan-outs, group
  *     cardinalities per key and date distributions are exactly the
  *     base's. Replica counts at copies=10 land on real TPC-H sf1
  *     proportions (150k customer / 1.5M orders / 6M lineitem / 200k
  *     part / 10k supplier).
  *   - events: event_id and user_id offset (each user keeps the base's
  *     exact timeline, so sessionization/funnel/cohort structure holds
  *     per replica).
  *   - nation / region: copied unchanged; they are bounded dimensions at
  *     every TPC-H scale factor (25/5 rows at sf1 too), and replicating
  *     them would break the fixed nationkey domain.
  *
  * Usage: runMain graft.tools.ScaleAllFixture <srcSfDir> <outDir> <copies>
  */
object ScaleAllFixture {

  /** Power-of-2 replica stride comfortably past the key domain. */
  def stride(maxKey: Long): Long = java.lang.Long.highestOneBit(maxKey) * 4

  /** Shingle-bijective document replicas (see object doc). */
  def docsReplicas(docs: DataFrame, copies: Int): DataFrame = {
    val maxDoc = docs.agg(max(col("doc_id"))).head.getLong(0)
    val docStride = stride(maxDoc)
    (0 until copies).map { i =>
      if (i == 0) docs.select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      else docs.select(
        (col("doc_id") + lit(i * docStride)).as("doc_id"),
        expr(s"concat_ws(' ', transform(split(text, ' '), w -> concat('r${i}x', w)))")
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
      // n_chars must stay consistent with the transformed text (the dedup
      // retention aggregates read it)
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Cosine-preserving (per replica) dim-rotated embedding replicas. */
  def embReplicas(emb: DataFrame, copies: Int): DataFrame = {
    val maxVec = emb.agg(max(col("vec_id"))).head.getLong(0)
    val vecStride = stride(maxVec)
    (0 until copies).map { i =>
      val shift = i % 64
      val rotated =
        if (shift == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, 64 - shift),
          slice(col("embedding"), 1, shift))
      emb.select((col("vec_id") + lit(i * vecStride)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val spark = graft.Harness.session()
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
    val custS = stride(math.max(maxOf(customer, "c_custkey"), maxOf(orders, "o_custkey")))
    val ordS = stride(math.max(maxOf(orders, "o_orderkey"), maxOf(lineitem, "l_orderkey")))
    val partS = stride(math.max(maxOf(part, "p_partkey"), maxOf(lineitem, "l_partkey")))
    val suppS = stride(math.max(maxOf(supplier, "s_suppkey"), maxOf(lineitem, "l_suppkey")))

    write(replicate(customer, Map("c_custkey" -> custS)), "customer")
    write(replicate(orders, Map("o_orderkey" -> ordS, "o_custkey" -> custS)),
      "orders")
    write(replicate(lineitem, Map("l_orderkey" -> ordS, "l_partkey" -> partS,
      "l_suppkey" -> suppS)), "lineitem")
    write(replicate(part, Map("p_partkey" -> partS)), "part")
    write(replicate(supplier, Map("s_suppkey" -> suppS)), "supplier")

    val evS = stride(maxOf(events, "event_id"))
    val userS = stride(maxOf(events, "user_id"))
    write(replicate(events, Map("event_id" -> evS, "user_id" -> userS)),
      "events")

    write(docsReplicas(table("documents"), copies), "documents")
    write(embReplicas(table("embeddings"), copies), "embeddings")

    // bounded dims: copied unchanged (fixed key domains at every SF)
    Seq("nation", "region").foreach(t => write(table(t), t))
    spark.stop()
  }
}
