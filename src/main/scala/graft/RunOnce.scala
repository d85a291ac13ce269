package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructField, StructType}

/** The one place the registry runs a stream once, keeps its scratch
  * directories and registers its catalog.
  *
  * STREAMS. A registry stream row replays a bounded landing: [[apply]]
  * runs the stream with `Trigger.AvailableNow` into a scratch directory
  * (the parquet file sink in append mode, a `foreachBatch` overwrite in
  * complete mode, which the file sink does not support), waits for it,
  * and reads the output back with the stream's own schema. The schema is
  * explicit because a run that emits no rows leaves no part files, where
  * inference throws instead of returning the empty frame a batch oracle
  * produces. [[await]] is the same run for writers the helper does not
  * own: the library `start*` entry points and custom sinks.
  *
  * CONF PINS. `pins` are set on the session while the query starts and
  * runs, and restored (or unset) in a finally. Stateful rows pass
  * [[Stateful]] (state-store instances = shuffle partitions);
  * q_stream_tws also pins the RocksDB provider.
  *
  * SCRATCH. Every scratch directory lives under one root per JVM. A
  * returned frame reads its directory lazily, so the caller deletes them
  * with [[clearScratch]] once the query's action is done, where it drops
  * caches (Bench and Verify do); the root itself goes at JVM exit.
  *
  * CATALOG. [[withCatalog]] wraps a query map so each query makes sure
  * `graft_cat` is registered on its session before it runs.
  */
object RunOnce {

  /** State-store sizing for the stateful rows: a real cluster sizes this
    * to executor count; per-key state is the same either way.
    */
  val Stateful: Map[String, String] = Map("spark.sql.shuffle.partitions" -> "8")

  def apply(df: Dataset[_], outputMode: String = "append",
      pins: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil): DataFrame = {
    val dir = await(df.sparkSession, pins) { d =>
      val w = df.toDF().writeStream.outputMode(outputMode)
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(Trigger.AvailableNow())
      val sink =
        if (outputMode == "complete")
          w.foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(s"$d/out")
          }
        else w.format("parquet").partitionBy(partitionBy: _*).option("path", s"$d/out")
      sink.start()
    }
    // names and types only: the stream's nullability and field metadata
    // (watermark delays) do not describe the files it wrote
    df.sparkSession.read
      .schema(StructType(df.schema.fields.map(f => StructField(f.name, f.dataType))))
      .parquet(s"$dir/out")
  }

  /** Start a query in a fresh scratch directory (its argument) under
    * `pins`, wait for it to finish, and return the directory.
    */
  def await(s: SparkSession, pins: Map[String, String] = Map.empty)(
      start: String => StreamingQuery): String = {
    val d = dir("stream_")
    val set = s.conf.getAll
    val prev = pins.keys.map(k => k -> set.get(k)).toMap
    pins.foreach { case (k, v) => s.conf.set(k, v) }
    try start(d).awaitTermination()
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    d
  }

  /** The per-JVM root every scratch directory lives under. */
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch_")
    sys.addShutdownHook(delete(r))
    r
  }

  /** A fresh scratch directory, deleted by the next [[clearScratch]]. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toFile.getAbsolutePath

  /** Delete every scratch directory. Only safe once no frame a query
    * returned is still to be read. Best-effort: a directory that cannot
    * go (a failed stream's tasks still writing into it) is logged and
    * left for the next call or JVM exit, so cleanup never ends a sweep.
    */
  def clearScratch(): Unit = if (Files.isDirectory(root)) {
    val children = Files.list(root)
    try children.forEach(delete(_)) finally children.close()
  }

  private def delete(p: Path): Unit =
    try if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
      finally all.close()
    } catch {
      case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
        System.err.println(s"[scratch] could not delete $p: $e")
    }

  private val CatalogKey = "spark.sql.catalog.graft_cat"

  def withCatalog(queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (SparkSession, String) => DataFrame] =
    queries.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => {
        if (!s.conf.getOption(CatalogKey).contains(classOf[sources.GraftCatalog].getName))
          s.conf.set(CatalogKey, classOf[sources.GraftCatalog].getName)
        fn(s, dir)
      })
    }
}
