package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts nanos handling lives in Tables.events (schema-adaptive)
      // match Bench INCLUDING the env knobs (ADVICE r10): one env var
      // controls both entry points, so the 4.1 durability guards can be
      // re-enabled for a verification run when debugging a checkpoint
      // issue (SPARK_GRAFT_STREAM_GUARDS=true SPARK_GRAFT_STATE_UNLOAD=false)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_GUARDS", "false"))
      .config("spark.sql.streaming.stateStore.commitValidation.enabled",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_GUARDS", "false"))
      // match Bench: run-once AvailableNow queries must not leave their
      // state-store providers resident (measured 2x on the stream family)
      .config("spark.sql.streaming.stateStore.unloadOnCommit",
        sys.env.getOrElse("SPARK_GRAFT_STATE_UNLOAD", "true"))
      // match Bench: fork-free local FS + FileSystem-based checkpoint
      // manager (no libhadoop.so here -> Hadoop's shell fallbacks fork a
      // process per file create / atomic rename; see Bench.scala)
      .config("spark.hadoop.fs.file.impl",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_FS",
          "graft.sources.NoForkLocalFileSystem"))
      // single-writer assumption: no two live queries share a checkpoint dir
      .config("spark.sql.streaming.checkpointFileManagerClass",
        sys.env.getOrElse("SPARK_GRAFT_CKPT_FM",
          "org.apache.spark.sql.execution.streaming.checkpointing." +
            "FileSystemBasedCheckpointFileManager"))
      // match Bench: coalesce tiny exchanges to the advisory size (results
      // are partition-count independent; this only cuts task overhead)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // match Bench: bound plan-description rendering (pure diagnostics;
      // deep iterative plans otherwise make it the dominant driver cost)
      .config("spark.sql.maxPlanStringLength", "65536")
      // static conf, first-session only — see Bench.scala / build.sbt:
      // sized so a stacked Verify+Bench JVM never re-JITs the registry
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev aid (matches Bench): SPARK_GRAFT_ONLY=q_a,q_b dumps a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        // queries own caches for their lifetime only; also drop RDD-level
        // persists (localCheckpoint barriers) that catalog.clearCache
        // cannot see — same cleanup as Bench
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
