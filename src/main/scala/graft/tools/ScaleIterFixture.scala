package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build a 10x scale fixture for the ITERATIVE operator family (VERDICT
  * r11 ask #7): documents, embeddings, and lineitem grow `copies`-fold
  * while the per-replica similarity/graph STRUCTURE is preserved, so the
  * measured question is exactly "does cost scale with data volume while
  * round count stays flat":
  *
  *   - documents: replica i prefixes every WORD with "r<i>x" — a
  *     bijection on shingles per replica, so intra-replica Jaccard (and
  *     the dedup pair/cluster structure) is EXACTLY preserved while
  *     cross-replica shingle sets are disjoint (no synthetic 100x dup
  *     blowup from exact copies). doc_id offsets keep ids unique and far
  *     under the hash ladders' 2^31 bound.
  *   - embeddings: replica i cyclically SHIFTS the 64 dims by i — a
  *     fixed permutation applied to both sides preserves every
  *     intra-replica cosine (the LSH pair volume scales linearly), while
  *     shifted-vs-unshifted dot products decorrelate across replicas.
  *   - lineitem: plain key-offset replicas (the co-purchase brand graph
  *     keeps its 25-node shape; only the edge-DERIVATION scan scales —
  *     which is the claim under test for pagerank/kcore/bfs/triangles).
  *
  * Every other table is symlinked. The replica builders are shared with
  * [[ScaleAllFixture]], which extends the same recipe to EVERY table for
  * the full-registry sf1 gate. Usage:
  *   runMain graft.tools.ScaleIterFixture <srcSfDir> <outDir> <copies>
  */
object ScaleIterFixture {

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
    val spark = SparkSession.builder().master(s"local[${graft.Harness.cpus}]")
      .config("spark.sql.shuffle.partitions", graft.Harness.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))

    val bigDocs = docsReplicas(spark.read.parquet(s"$src/documents.parquet"), copies)
    bigDocs.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val bigEmb = embReplicas(spark.read.parquet(s"$src/embeddings.parquet"), copies)
    bigEmb.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    // derive the replica stride from the actual key domain, exactly as for
    // doc_id/vec_id — a hardcoded offset silently merges orders across
    // replicas once the source SF's l_orderkey exceeds it (ADVICE r12)
    val maxOk = li.agg(max(col("l_orderkey").cast("long"))).head.getLong(0)
    val liStride = stride(maxOk)
    val bigLi = (0 until copies).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * liStride))
    }.reduce(_ unionAll _)
    bigLi.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    graft.Tables.names
      .filterNot(Set("documents", "embeddings", "lineitem")).foreach { t =>
        val link = Paths.get(out, s"$t.parquet")
        if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          Files.createSymbolicLink(link, Paths.get(src, s"$t.parquet").toAbsolutePath)
      }
    println(s"wrote docs=${bigDocs.count()} emb=${bigEmb.count()} " +
      s"lineitem=${bigLi.count()} to $out")
    spark.stop()
  }
}
