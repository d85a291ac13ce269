package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructField, StructType}

/** The one place the registry runs a stream once, pins session conf,
  * materializes shared sub-plans, keeps its scratch directories and
  * registers its catalog and lake tables.
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
  * CONF PINS. [[withConf]] sets `pins` on the session for the length of
  * a body and restores (or unsets) each key in a finally; a stream run
  * holds its pins while it starts and runs. Stateful rows pass
  * [[Stateful]] (state-store instances = shuffle partitions);
  * q_stream_tws also pins the RocksDB provider.
  *
  * CACHES. [[materialize]] caches and counts a frame that several
  * branches of one plan consume.
  *
  * SCRATCH. Every scratch directory lives under one root per JVM. A
  * returned frame reads its directory lazily, so the caller deletes them
  * with [[clearScratch]] once the query's action is done, where it drops
  * caches (Bench and Verify do); the root itself goes at JVM exit.
  *
  * CATALOG. [[withCatalog]] wraps a query map so each query makes sure
  * `graft_cat` is registered on its session before it runs.
  *
  * LAKE TABLES. A registry row that needs a `graft_cat.lake` table gets
  * it from [[lakeTable]]: drop any table of that name, create it over a
  * fresh scratch directory (or a path the row already wrote), then
  * append each given frame through the catalog, one commit per frame in
  * order. The column list is the first frame's names and SQL types in
  * frame order, every column nullable; with no frame it is the schema
  * already committed at the path. A row's own SQL (DML, CALLs, ALTERs,
  * later appends) comes after registration, in the row.
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
    withConf(s, pins)(start(d).awaitTermination())
    d
  }

  /** Run `body` with `pins` set on the session. In a finally, each pinned
    * key gets back the value it was explicitly set to before, or is
    * unset if it had none, so a key left at its default stays at its
    * default rather than becoming an explicit session value.
    */
  def withConf[T](s: SparkSession, pins: Map[String, String])(body: => T): T = {
    val set = s.conf.getAll
    val prev = pins.keys.map(k => k -> set.get(k)).toMap
    pins.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Cache `ds`, run one `count()` to fill the cache, and return the
    * cached frame. Use it where one plan consumes a sub-plan from several
    * branches (a self-join, a union of per-threshold aggregates, a loop
    * over rounds): filled first, the branches read the cached blocks
    * instead of each recomputing the sub-plan or racing to write the same
    * cache blocks under Spark's block write locks. The count is one Spark
    * job. The cache lives until `Harness.afterQuery` clears it after the
    * query's action; the returned plan is lazy, so the query function
    * cannot unpersist it itself.
    */
  def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.cache()
    c.count()
    c
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

  /** Delete `p` and everything under it, best-effort. */
  private[graft] def delete(p: Path): Unit =
    try if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
      finally all.close()
    } catch {
      case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
        System.err.println(s"[scratch] could not delete $p: $e")
    }

  /** Register `graft_cat.lake.<name>` over `path` and commit `frames`
    * to it (see LAKE TABLES above); returns the path. `partitionedBy` is
    * the PARTITIONED BY list, `options` the OPTIONS besides `path`.
    */
  def lakeTable(s: SparkSession, name: String, partitionedBy: String = "",
      options: Map[String, String] = Map.empty, path: String = dir("lake_"))(
      frames: DataFrame*): String = {
    val schema = frames.headOption.map(_.schema).getOrElse(
      sources.ManifestState.need(path, s"lake table $name has no frame").schema)
    val t = s"graft_cat.lake.$name"
    val cols = schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}")
    val parts = if (partitionedBy.isEmpty) "" else s" PARTITIONED BY ($partitionedBy)"
    val opts = (("path" -> path) +: options.toSeq).map { case (k, v) => s"$k '$v'" }
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (${cols.mkString(", ")}) USING graft$parts " +
      s"OPTIONS (${opts.mkString(", ")})")
    frames.foreach(_.writeTo(t).append())
    path
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
