package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic train/val/test splitting for a training-data corpus, with
  * the leakage audit that makes splitting correct at 100 TB.
  *
  * A training pipeline over the reference's warehouse (the corpus analog of
  * viru2001/realtime_financial_transactions_data_pipeline's fact table) needs
  * reproducible splits with NO shared randomness: every executor must agree
  * on a document's split from the row alone. The standard answer is a
  * multiplicative hash of the stable document key — stateless, orderless,
  * re-runnable, and stable under corpus growth (a new doc never moves an old
  * doc's split, unlike ntile/modulo-of-rank schemes which reshuffle
  * everything on every insert).
  *
  * The audit half is the part naive pipelines miss: hashing each doc_id
  * independently puts NEAR-DUPLICATE documents on both sides of the
  * train/test wall (train/test contamination — the same failure
  * decontaminate() guards against for external eval sets, here for our own
  * held-out split). The fix is to key the hash on the document's dedup
  * CLUSTER id instead: every member of a near-dup cluster then lands in the
  * same split by construction. `splitLeakage` measures both schemes against
  * the minhash near-dup pairs and proves the cluster-keyed scheme leaks
  * zero pairs.
  *
  * Scale shape: assignment is a stateless narrow projection (pure integer
  * arithmetic, whole-stage codegen) plus a 3-group partial aggregate — no
  * shuffle beyond the final 3-row exchange. The leakage audit joins the
  * (hash-distributed, band-mined — never all-pairs) candidate pairs to the
  * cluster-label frame twice on doc_id: two equi-joins plus one scalar
  * aggregate, all linear in |pairs| + |docs|.
  *
  * Hash portability (the oracle must reproduce values bit-for-bit): Knuth's
  * multiplicative constant 2654435761 over a pre-reduced key, all
  * intermediates < 2^63 so DuckDB's overflow check and Spark's ANSI mode
  * both stay silent: ((k % 1000003) * 2654435761) % 1000000007 % 10.
  */
object SplitOps {

  /** Split buckets: 10 total, 8 train / 1 val / 1 test. */
  val SplitMod = 10
  /** Knuth multiplicative hash constant (2^32 / phi). */
  val HashA = 2654435761L
  /** Pre-reduction modulus: 1000002 * HashA < 2^63 keeps both engines
    * overflow-free.
    */
  val KeyMod = 1000003L
  val P = 1000000007L

  /** Bucket expression in [0, SplitMod) — the SAME string is valid Spark
    * SQL and DuckDB (pure `%`/`*` over non-negative BIGINTs, where
    * trunc-mod and floor-mod agree).
    */
  def bucketSql(k: String): String =
    s"((($k % $KeyMod) * $HashA) % $P) % $SplitMod"

  /** Split name from a key expression: buckets 0-7 train, 8 val, 9 test. */
  def splitSql(k: String): String =
    s"CASE WHEN ${bucketSql(k)} <= 7 THEN 'train' " +
      s"WHEN ${bucketSql(k)} = 8 THEN 'val' ELSE 'test' END"

  /** Per-split corpus summary under doc_id-keyed assignment: doc count and
    * character mass — the sanity readout (≈ 80/10/10) a pipeline publishes
    * alongside the split manifest.
    */
  def splitAssign(docs: DataFrame): DataFrame =
    docs.selectExpr(s"${splitSql("doc_id")} AS split_name", "n_chars")
      .groupBy(col("split_name"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  /** Train/test leakage audit: over the minhash near-dup pairs, count pairs
    * whose endpoints land in DIFFERENT splits under (a) naive per-doc
    * hashing and (b) cluster-keyed hashing. (b) is zero by construction —
    * a pair is an edge of the cluster graph, so both endpoints share a
    * cluster_id and therefore a split — and the independently computed
    * DuckDB oracle (recursive-CTE closure) re-proves it.
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val pairs = DedupOps.minhashDupPairs(docs).select(col("d1"), col("d2"))
    // clustersFromPairs caches the pair plan; this second reference to the
    // identical logical plan hits the same cache entry.
    val clusters = DedupOps.clustersFromPairs(docs.select(col("doc_id")), pairs)
      .select(col("doc_id"), expr(splitSql("cluster_id")).as("cl_split"))
    pairs
      .withColumn("naive_cross",
        (expr(splitSql("d1")) =!= expr(splitSql("d2"))).cast("long"))
      .join(clusters.as("c1"), col("d1") === col("c1.doc_id"))
      .join(clusters.as("c2"), col("d2") === col("c2.doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("naive_cross")), lit(0L)).as("n_naive_cross"),
        coalesce(sum((col("c1.cl_split") =!= col("c2.cl_split")).cast("long")),
          lit(0L)).as("n_cluster_cross"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_split_assign" -> ((s, dir) => splitAssign(Tables.documents(s, dir))),
    "q_split_leakage" -> ((s, dir) => splitLeakage(Tables.documents(s, dir))))

  def oracleSql: Map[String, String] = {
    // Reuse the dedup oracles verbatim as subqueries so the leakage audit
    // is compared against the exact same pair/cluster semantics.
    val pairsSql = DedupOps.oracleSql("q_dedup_minhash_pairs")
    val clustersSql = DedupOps.oracleSql("q_dedup_clusters")
    Map(
      "q_split_assign" ->
        s"""SELECT ${splitSql("doc_id")} AS split_name,
           | count(*) AS n_docs,
           | CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM documents GROUP BY 1""".stripMargin,
      "q_split_leakage" ->
        s"""WITH p AS (SELECT d1, d2 FROM ($pairsSql) x),
           | c AS (SELECT doc_id, ${splitSql("cluster_id")} AS cl_split
           |       FROM ($clustersSql) y)
           |SELECT count(*) AS n_pairs,
           | CAST(coalesce(sum(CASE WHEN ${splitSql("d1")} <> ${splitSql("d2")}
           |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_naive_cross,
           | CAST(coalesce(sum(CASE WHEN c1.cl_split <> c2.cl_split
           |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cluster_cross
           |FROM p JOIN c c1 ON p.d1 = c1.doc_id
           |       JOIN c c2 ON p.d2 = c2.doc_id""".stripMargin)
  }
}
