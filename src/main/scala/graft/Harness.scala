package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** The session, row hash and between-query cleanup shared by the
  * harness mains (Bench, Verify) and the tool mains (tools.StageProfile,
  * tools.ExplainDump, tools.ScaleAllFixture), and the tool mains' core
  * count.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    // parallelismFirst=false lets AQE shrink tiny exchanges to the
    // advisory size instead of pinning them at defaultParallelism — the
    // setting Spark's own docs recommend. At bench SF most exchanges are
    // KBs, so interior stages collapse to one task (measured: an
    // 11-query hot subset 37.4s -> 28.4s; a plain shuffle.partitions pin
    // won the same queries but cost q_stream_ingest/q_star_join 2x, so
    // coalescing must stay adaptive). At scale exchanges are GBs and
    // advisory-size coalescing only merges genuinely tiny partitions.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // The iterative operators (dedup clusters, Lloyd's k-means) hang
    // their loops off .cache()d frames, and Spark pins cached-plan
    // output partitioning by default, so their KB-sized exchanges would
    // pay a task launch per shuffle partition every loop round. Purely
    // physical: row results are partition-count independent.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Spark 4.1 turned on per-file checkpoint checksums and foreachBatch
    // commit validation, durability guards that cost fixed work per
    // micro-batch. The stream rows run AvailableNow against scratch
    // checkpoints consumed within the same process, so the guards buy
    // nothing here (a deployment with durable checkpoints keeps them).
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .config("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    // Each stream row is a run-once query with its own checkpoint, so
    // every one loads fresh state-store providers that would otherwise
    // stay resident after it stops and tax later queries through the
    // maintenance pass (measured 2x on the stream family). Unload on
    // commit: state dies with the batch that owns it.
    .config("spark.sql.streaming.stateStore.unloadOnCommit", "true")
    // Without libhadoop.so, Hadoop's local FS forks a `chmod` per
    // created file and the FileContext checkpoint manager a `readlink`
    // per atomic rename; thread dumps showed stateful tasks spending
    // half their run inside forkAndExec. A LocalFileSystem whose
    // setPermission is a java.nio call (identical bits on disk) and the
    // FileSystem-based checkpoint manager (File.renameTo, atomic on
    // POSIX) fix the runtime, not the algorithm.
    .config("spark.hadoop.fs.file.impl", "graft.sources.NoForkLocalFileSystem")
    // single-writer assumption: no two live queries share a checkpoint dir
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
    // Plan-description rendering guard: AQE re-renders the description
    // per stage, and a deep iterative plan otherwise makes that text the
    // dominant driver cost. Diagnostic output only.
    .config("spark.sql.maxPlanStringLength", "65536")
    // static conf (first session only): the codegen class cache must
    // hold a full registry sweep so a stacked Verify+Bench JVM reuses
    // already-JIT'd classes (build.sbt passes the same -D to forked runs)
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")

  def session(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Full materialization as one 8-byte row: the XOR-fold of every
    * row's xxhash64 over all output columns (0 for no rows). XOR is
    * associative, commutative and cannot overflow (a sum over int64
    * hashes trips Spark 4's ANSI overflow check once enough rows land).
    */
  def rowHash(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(bit_xor(col("h"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Between-query cleanup, after the query's action has finished.
    * Queries own their caches only for their own lifetime (dead cached
    * data once made q_topk_parts 9x slower). `catalog.clearCache` does
    * not see RDD-level persists such as localCheckpoint barriers, which
    * otherwise linger until the GC-driven ContextCleaner notices; no
    * later query re-references them. Scratch directories go too.
    * Returns how many RDD-level persists were dropped.
    */
  def afterQuery(spark: SparkSession): Int = {
    spark.catalog.clearCache()
    val survivors = spark.sparkContext.getPersistentRDDs.values
    survivors.foreach(_.unpersist(false))
    RunOnce.clearScratch()
    survivors.size
  }
}
