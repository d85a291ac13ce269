package fintxbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.streaming.StreamingQuery

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: Path, out: Path, traceOut: Option[Path])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("cores", "4").toInt, Paths.get(need("work")), Paths.get(need("out")),
      m.get("trace-out").map(Paths.get(_)))
  }
}

/** One dashboard query as a client saw it. */
final case class QueryRun(client: Int, tile: Tile, start: Double, end: Double,
    rows: Array[Row], error: Throwable, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, reloadRetries: Int) {
  def ms: Double = end - start
  def catalystMs: Long = analysisMs + optimizationMs + planningMs
}

final class Result {
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val detail = mutable.LinkedHashMap[String, Double]()

  def json(trace: Boolean): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val ds = detail.map { case (k, v) => s""""$k":${num(v)}""" }
    s"""{"correct":${wrong == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}},"trace":$trace,""" +
      s""""detail":{${ds.mkString(",")}}}"""
  }
}

/** Entry point: one workload, one seed, one measured window. See
  * perfbench/README.md for what each workload and metric means.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val entry = Clock.nowMs
    val a = Args.parse(argv)
    val bench = new Bench(a, entry)
    try {
      val r = bench.run()
      Files.writeString(a.out, r.json(a.trace))
    } finally bench.close()
  }
}

final class Bench(a: Args, entryMs: Double) {
  import Bench._

  val tracer = new Tracer(a.trace)
  private val untraced = new Tracer(false)
  val res = new Result
  private var spark: SparkSession = _
  private var listeners: Option[Listeners] = None
  private var streams = List.empty[StreamingQuery]
  /** Time spent generating inputs; excluded from set-up. */
  private var genMs = 0.0
  /** First record and record count of each landing file or set-up append.
    * The ground truth itself is regenerated from these after the heap
    * reading (`WireGen.record` is a pure function of seed and sequence),
    * so the benchmark holds none of it while the program's heap is read. */
  private val specs = mutable.HashMap[String, (Long, Int)]()
  private val bytesByFile = mutable.HashMap[String, Long]()
  private def wireBytes(files: Seq[String]): Double = files.map(bytesByFile(_)).sum.toDouble
  private def records(files: Seq[String]): Long = files.map(specs(_)._2.toLong).sum
  private def truth(g: WireGen, files: Seq[String]): Seq[Txn] =
    gen(files.flatMap { f => val (seq0, n) = specs(f); g.records(seq0, n) })

  def close(): Unit = {
    streams.foreach(q => try q.stop() catch { case _: Throwable => () })
    if (spark != null) spark.stop()
  }

  def run(): Result = {
    a.workload match {
      case "ingest" => ingest()
      case "dashboard" => dashboard()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.detail("gen_s") = genMs / 1000
    // a traced run reports the per-layer metrics; its end-to-end values,
    // which tracing slows, go to the detail
    if (a.trace) res.metrics.filterInPlace { case (k, (v, _)) =>
      if (EndToEnd.contains(k)) res.detail(s"traced.$k") = v
      !EndToEnd.contains(k)
    }
    writeTrace()
    res
  }

  // ---------------------------------------------------------------- set-up

  /** Seconds since `main` entry at a named point of the run. */
  private def mark(name: String): Unit = res.detail(s"at.$name") = (Clock.nowMs - entryMs) / 1000

  private def dir(rel: String): Path = Files.createDirectories(a.work.resolve(rel))

  private def session(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("fintx-bench")
      // the program's own session settings (graft.Verify / graft.Bench)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
      .config("spark.sql.streaming.stateStore.unloadOnCommit", "true")
      .config("spark.hadoop.fs.file.impl", "graft.sources.NoForkLocalFileSystem")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      // this run's own roots, removed with the run directory
      .config("spark.sql.warehouse.dir", dir("warehouse").toUri.toString)
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (a.trace) listeners = Some(new Listeners(spark, tracer))
    mark("session")
  }

  private def gen[T](body: => T): T = {
    val t0 = Clock.nowMs
    try body finally genMs += Clock.nowMs - t0
  }

  /** Generate `n` files of `per` records starting at `seq0` and land them
    * in `into`. */
  private def landFiles(g: WireGen, prefix: String, seq0: Long, n: Int, per: Int,
      into: Path): Seq[String] = gen {
    val staging = dir("staging")
    (0 until n).map { f =>
      val name = f"$prefix-$f%05d.json"
      val from = seq0 + f.toLong * per
      val body = g.batch(from, per)._2
      specs(name) = (from, per)
      bytesByFile(name) = body.length.toLong
      WireGen.land(staging, into, name, body)
      name
    }
  }

  // ------------------------------------------------------------- workloads

  /** Recovery after an outage: a fixed backlog lands before the stream
    * starts, then the stream drains it into empty lake tables. */
  private def ingest(): Unit = {
    val g = new WireGen(a.seed, Mix.ingest)
    val per = IngestFileRecords
    val backlog = dir("backlog")
    val files = landFiles(g, "backlog", 0L, IngestBacklog / per, per, backlog)
    val warm = dir("warm-landing")
    landFiles(g, "warm", WarmSeq, IngestWarmFiles, per, warm)
    session()
    val q0 = new Glue(Lake.create(spark, dir("warm-lake")), untraced)
      .start(spark, warm, dir("warm-ckpt"))
    q0.processAllAvailable()
    q0.stop()
    val lake = Lake.create(spark, dir("lake"))

    val w = openWindow()
    val gens0 = lake.gens
    val glue = new Glue(lake, tracer)
    val q = glue.start(spark, backlog, dir("ckpt"))
    streams ::= q
    q.processAllAvailable()
    val commits = glue.commits.asScala.toSeq
    val end = commits.map(_.atMs).max
    q.stop()
    w.close(end)
    res.metrics("heap_retained_mb") = (heapRetainedMb(), "MB")

    val n = records(files)
    val commitOf = commits.flatMap(c => c.files.map(_ -> c.atMs)).toMap
    val visible = files.map(f => commitOf(f) - w.start)
    res.metrics("throughput_per_s") = (n / ((end - w.start) / 1000), "1/s")
    res.metrics("latency_p50_ms") = (pct(visible, 50), "ms")
    res.metrics("latency_p90_ms") = (pct(visible, 90), "ms")
    res.metrics("lake_bytes_per_input_byte") = (lake.bytes / wireBytes(files), "ratio")
    res.detail("ingest_rps") = n / ((end - w.start) / 1000)
    res.detail("ingest.records") = n
    res.detail("ingest.batches") = commits.size

    mark("checks")
    val recs = truth(g, files)
    mix(g, recs)
    checkIngest(recs)
    mark("checked")
    layers(w, commits, Seq.empty, lake, lake.gens - gens0)
  }

  /** Read-only: two closed-loop clients send seeded tile queries to a
    * star schema built in set-up. */
  private def dashboard(): Unit = {
    val g = new WireGen(a.seed, Mix.ingest)
    val dimFiles = gen(Dims.write(a.work.resolve("dims")))
    session()
    // the star schema: both dimensions through `DimLoader`, and a fact
    // lake written as many small appends, the shape a stream leaves
    Dims.load(spark, dimFiles)
    val lake = Lake.create(spark, dir("lake"))
    val base = (0 until BaseAppends).map { f =>
      val name = f"base-$f%05d"
      val from = f.toLong * BaseRecords
      val (rows, body) = gen(g.batch(from, BaseRecords))
      specs(name) = (from, BaseRecords)
      bytesByFile(name) = body.length.toLong
      lake.appendFacts(spark, rows.toSeq)
      name
    }
    // warm-up: the clients' own concurrency, each sending `WarmTiles`
    // tiles from a stream the window does not use
    (0 until DashboardClients).map(c => thread(s"warm-$c") {
      Tile.stream(~a.seed, c).take(WarmTiles).foreach(t => spark.sql(t.sql).collect())
    }).foreach(_.join())

    val w = openWindow()
    val runs = clients(DashboardClients, w.start + a.seconds * 1000.0, new Reloads)
    w.close(runs.map(_.end).max)
    res.metrics("heap_retained_mb") = (heapRetainedMb(), "MB")

    // half the tiles are single-table scans and half star joins, so the
    // pooled median sits between the two clusters; each shape's median,
    // averaged over the shapes, does not move with a run's shape mix
    val shapeP50 = Tile.Shapes.map(s => pct(runs.filter(_.tile.shape == s).map(_.ms), 50))
    res.metrics("throughput_per_s") = (runs.size / ((w.end - w.start) / 1000), "1/s")
    res.metrics("latency_p50_ms") = (shapeP50.sum / shapeP50.size, "ms")
    res.metrics("latency_p90_ms") = (pct(runs.map(_.ms), 90), "ms")
    res.metrics("lake_bytes_per_input_byte") = (lake.bytes / wireBytes(base), "ratio")
    res.detail("dash_p50_ms") = pct(runs.map(_.ms), 50)
    res.detail("dash_p90_ms") = pct(runs.map(_.ms), 90)
    Tile.Shapes.foreach { s =>
      val r = runs.filter(_.tile.shape == s)
      res.detail(s"dash.$s.p50_ms") = pct(r.map(_.ms), 50)
      res.detail(s"dash.$s.catalyst_ms_p50") = pct(r.map(_.catalystMs.toDouble), 50)
    }
    // graft.load under a reader, after the window and only when traced:
    // one client runs tiles while `dim_customer` is reloaded beneath it
    val reloads = new Reloads
    val probe = if (!a.trace) Seq.empty else {
      val t0 = Clock.nowMs
      val refresher = reloader(t0, t0 + ReloadProbeMs, dimFiles, reloads)
      val qs = clients(1, t0 + ReloadProbeMs, reloads)
      refresher.join()
      qs
    }
    val facts = truth(g, base).filter(_.isFact)
    res.detail("lake.fact_rows") = facts.size
    checkQueries(runs ++ probe, facts, reloads.all)
    layers(w, Seq.empty, runs, lake, 0L)
  }

  // --------------------------------------------------------------- clients

  /** A started thread whose `join` rethrows what its body threw. */
  private final class Worker(name: String, body: => Unit) {
    @volatile private var failure: Throwable = null
    private val t = new Thread(() => try body catch { case e: Throwable => failure = e }, name)
    t.setDaemon(true)
    t.start()
    def join(): Unit = {
      t.join()
      if (failure != null) throw new RuntimeException(s"$name failed", failure)
    }
  }
  private def thread(name: String)(body: => Unit): Worker = new Worker(name, body)

  /** Reload `dim_customer` through `DimLoader` from `from` and every
    * `ReloadEveryMs` after, until `deadline`. Each reload starts once a
    * tile that joins the dimension has been analysed and not yet run (or
    * after `ReloadAimMs`), so it meets a reader. */
  private def reloader(from: Double, deadline: Double, dimFiles: (Path, Path),
      reloads: Reloads): Worker = thread("reloader") {
    var next = from
    while (next < deadline) {
      Thread.sleep(math.max(0L, (next - Clock.nowMs).toLong))
      val giveUp = math.min(Clock.nowMs + ReloadAimMs, deadline)
      while (!reloads.readerInFlight && Clock.nowMs < giveUp) Thread.sleep(2)
      reloads.run(tracer) {
        graft.load.DimLoader.loadDim(spark, dimFiles._1.toString, Dims.CustomerSchema)
      }
      next += ReloadEveryMs
    }
  }

  /** `n` closed-loop clients, each sending its next tile as soon as the
    * previous answer arrived, until `until`. A query that fails while a
    * dimension reload runs is retried after a pause, as a dashboard
    * would; its latency includes every attempt, and each failed attempt
    * is counted as a reload-overlap failure. */
  private def clients(n: Int, until: Double, reloads: Reloads): Seq[QueryRun] = {
    val out = new ConcurrentLinkedQueue[QueryRun]()
    val ts = (0 until n).map { c =>
      thread(s"client-$c") {
        val tiles = Tile.stream(a.seed, c)
        var k = 0
        while (Clock.nowMs < until) {
          val tile = tiles.next()
          k += 1
          val t0 = Clock.nowMs
          var phases: Map[String, QueryPlanningTracker.PhaseSummary] = Map.empty
          var retries = 0
          var marked = false
          var r: Either[Throwable, Array[Row]] = null
          tracer.span("dash.query", s"q$c-$k") {
            while (r == null) {
              val a0 = Clock.nowMs
              val attempt = try {
                val df = spark.sql(tile.sql)
                // analysed: the plan now holds the dimension's file list
                if (tile.readsCustomers && !marked) {
                  marked = true
                  reloads.reading(true)
                }
                val rows = df.collect()
                phases = df.queryExecution.tracker.phases
                Right(rows)
              } catch { case e: Throwable => Left(e) }
              if (attempt.isLeft && retries < MaxReloadRetries && reloads.overlaps(a0, Clock.nowMs)) {
                retries += 1
                Thread.sleep(ReloadRetryMs)
              } else r = attempt
            }
          }
          if (marked) reloads.reading(false)
          val t1 = Clock.nowMs
          def ph(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
          out.add(QueryRun(c, tile, t0, t1, r.toOption.orNull, r.left.toOption.orNull,
            ph("analysis"), ph("optimization"), ph("planning"), retries))
        }
      }
    }
    ts.foreach(_.join())
    out.asScala.toSeq
  }

  // ----------------------------------------------------------- correctness

  private def checkIngest(recs: Seq[Txn]): Unit = {
    val c = Verify.ingest(spark, recs)
    res.attempted += c.expected
    res.failed += c.wrong
    res.wrong += c.wrong
    res.detail("check.ingest_records") = c.expected
    res.detail("check.ingest_wrong") = c.wrong
  }

  /** Every answer against the tile computed over the ground truth of the
    * lake's fact rows. A query that still threw after its reload retries
    * is a failure. */
  private def checkQueries(runs: Seq[QueryRun], facts: Seq[Txn],
      refreshes: Seq[(Double, Double)]): Unit = {
    var wrong, thrown = 0L
    runs.foreach { r =>
      res.attempted += 1
      if (r.error != null) {
        thrown += 1
        System.err.println(s"[bench] ${r.tile.shape} failed: ${r.error}")
      } else if (!r.tile.matches(r.rows, r.tile.reference(facts.iterator))) {
        wrong += 1
        System.err.println(s"[bench] wrong answer: ${r.tile}")
      }
    }
    res.failed += wrong + thrown
    res.wrong += wrong
    res.detail("check.queries") = runs.size
    res.detail("check.queries_wrong") = wrong
    res.detail("check.queries_thrown") = thrown
    res.detail("load.refresh_overlap_failures") = runs.map(_.reloadRetries).sum
    res.detail("load.refreshes") = refreshes.size
    res.detail("load.refresh_ms_p50") = pct(refreshes.map { case (s, e) => e - s }, 50)
  }

  // ---------------------------------------------------------------- layers

  /** Share of each record kind in `recs` against the declared mix. */
  private def mix(g: WireGen, recs: Seq[Txn]): Unit = {
    val dev = Kind.all.map { k =>
      val share = recs.count(_.kind == k).toDouble / recs.size
      res.detail(s"gen.share.${k.name}") = share
      math.abs(share - g.mix.share(k))
    }
    res.detail("gen.share_dev_max") = dev.max
  }

  private def heapRetainedMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Per-layer figures of the window: `batches` are the stream's
    * micro-batches in it, `runs` the dashboard queries, `lakeCommits` the
    * generations the fact and dead-letter tables advanced by. */
  private def layers(w: Window, batches: Seq[Commit], runs: Seq[QueryRun], lake: Lake,
      lakeCommits: Long): Unit = {
    val wall = w.end - w.start
    val L = mutable.LinkedHashMap[String, (Double, String)]()
    L("streaming.batches") = (batches.size.toDouble, "count")
    L("sources.commits") = (lakeCommits.toDouble, "count")
    val roots = Seq(Paths.get(lake.fact), Paths.get(lake.dlq))
    L("sources.data_files") = (roots.map(r => countFiles(r.resolve("data"))).sum.toDouble, "count")
    L("sources.segments") = (roots.map(r => countFiles(r.resolve("_segments"))).sum.toDouble, "count")
    L("sources.manifest_bytes") = (roots.map(r => Lake.treeBytes(r.resolve("manifest.json"))).sum.toDouble, "bytes")
    L("load.refresh_overlap_failures") = (res.detail.getOrElse("load.refresh_overlap_failures", 0.0), "count")
    L("dash.queries") = (runs.size.toDouble, "count")
    listeners.foreach { ls =>
      val d = w.counters
      L("sched.jobs") = (d.jobs.toDouble, "count")
      L("sched.stages") = (d.stages.toDouble, "count")
      L("sched.tasks") = (d.tasks.toDouble, "count")
      L("codegen.janino_compiles") = (d.jvm.janinoCompiles.toDouble, "count")
      L("catalyst.optimization_ms") = (d.optimizationMs.toDouble, "ms")
      L("catalyst.planning_ms") = (d.planningMs.toDouble, "ms")
      L("exec.task_run_s") = (d.taskRunMs / 1000.0, "s")
      L("exec.task_cpu_s") = (d.taskCpuNs / 1e9, "s")
      L("exec.sched_delay_s") = (d.schedDelayMs / 1000.0, "s")
      L("codegen.janino_ms") = (d.jvm.janinoNs / 1e6, "ms")
      L("jvm.jit_s") = (d.jvm.jitMs / 1000.0, "s")
      L("jvm.gc_s") = (d.jvm.gcMs / 1000.0, "s")

      // stream path: where the window's wall went on the stream thread;
      // triggers and spans are clipped to the window
      def clip(from: Double, to: Double) = math.max(0.0, math.min(to, w.end) - math.max(from, w.start))
      val prog = ls.stream.progress.asScala.toSeq
        .map(p => p -> clip(p.startMs, p.startMs + p.ms("triggerExecution")))
        .filter(_._2 > 0)
      val ps = prog.map(_._1)
      L("streaming.batch_rows_p50") = (if (ps.isEmpty) 0.0 else pct(ps.map(_.rows.toDouble), 50), "count")
      def inWindow(phases: String*) = prog.map { case (p, c) =>
        phases.map(p.ms).sum * c / math.max(1L, p.ms("triggerExecution")) }.sum
      def spans(n: String) = tracer.named(n, w.start, w.end)
      def spanMs(ns: String*) = ns.flatMap(spans).map(s => clip(s.start, s.end)).sum
      def share(ms: Double, base: Double) = if (base <= 0) 0.0 else 100.0 * ms / base
      val base = if (batches.nonEmpty) wall else 0.0
      val trig = prog.map(_._2).sum
      val offsets = inWindow("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
      val addBatch = inWindow("addBatch")
      val persist = spanMs("ingest.persist", "ingest.unpersist")
      val factW = spanMs("ingest.fact_write")
      val dlqW = spanMs("ingest.dlq_write")
      L("self.stream_offsets_pct") = (share(offsets, base), "%")
      L("self.ingest_persist_pct") = (share(persist, base), "%")
      L("self.ingest_fact_write_pct") = (share(factW, base), "%")
      L("self.ingest_dlq_write_pct") = (share(dlqW, base), "%")
      L("self.ingest_batch_other_pct") = (share(addBatch - persist - factW - dlqW, base), "%")
      L("self.stream_wait_pct") = (share(wall - trig, base), "%")
      L("self.stream_unexplained_pct") = (share(trig - offsets - addBatch, base), "%")
      // query path: each client's wall split into Catalyst and execution
      val qBase = if (runs.nonEmpty) wall * runs.map(_.client).distinct.size else 0.0
      val cat = runs.map(_.catalystMs.toDouble).sum
      val q = runs.map(_.ms).sum
      L("self.query_catalyst_pct") = (share(cat, qBase), "%")
      L("self.query_exec_pct") = (share(q - cat, qBase), "%")
      L("self.query_unexplained_pct") = (share(qBase - q, qBase), "%")
      L("trace.overhead_pct") = (100.0 * tracer.overheadNs.sum / 1e6 / wall, "%")

      // figures only some workloads produce, or too small to gate on
      res.detail("catalyst.analysis_ms") = d.analysisMs.toDouble
      val factSpans = spans("ingest.fact_write")
      res.detail("ingest.fact_write_ms_p50") = pct(factSpans.map(_.ms), 50)
      res.detail("ingest.dlq_write_ms_p50") = pct(spans("ingest.dlq_write").map(_.ms), 50)
      res.detail("ingest.persist_ms_p50") = pct(spans("ingest.persist").map(_.ms), 50)
      res.detail("streaming.trigger_ms_p50") = pct(ps.map(_.ms("triggerExecution").toDouble), 50)
      res.detail("streaming.trigger_ms_p99") = pct(ps.map(_.ms("triggerExecution").toDouble), 99)
      res.detail("streaming.addbatch_ms_p50") = pct(ps.map(_.ms("addBatch").toDouble), 50)
      res.detail("streaming.overhead_ms_p50") =
        pct(ps.map(p => (p.ms("triggerExecution") - p.ms("addBatch")).toDouble), 50)
      res.detail("streaming.latest_offset_ms_p50") = pct(ps.map(_.ms("latestOffset").toDouble), 50)
      Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
        .foreach(k => res.detail(s"streaming.$k.ms") = ps.map(_.ms(k)).sum.toDouble)
      val commitGaps = (factSpans ++ spans("ingest.dlq_write")).flatMap { s =>
        Option(ls.jobs.lastJobEnd.get(s.id.toString)).map(j => math.max(0.0, s.end - j))
      }
      res.detail("sources.commit_ms_p50") = pct(commitGaps, 50)
      res.detail("sources.commit_ms_p99") = pct(commitGaps, 99)
      // only the stream runs tasks in the ingest window
      val n = records(batches.flatMap(_.files))
      if (n > 0 && runs.isEmpty) res.detail("ingest.task_cpu_us_per_rec") = d.taskCpuNs / 1e3 / n
    }
    if (a.trace) res.metrics ++= L
  }

  private def countFiles(p: Path): Long =
    if (!Files.isDirectory(p)) 0L
    else { val s = Files.list(p); try s.count() finally s.close() }

  private def writeTrace(): Unit = a.traceOut.foreach { p =>
    val lines = tracer.all.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","trace":"${s.trace}","parent":${s.parent},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}""")
    Files.write(p, (res.json(a.trace) +: lines).asJava, StandardCharsets.UTF_8)
  }

  // -------------------------------------------------------------- window

  private def counters(): Counters = listeners match {
    case Some(ls) =>
      ls.drain()
      val j = ls.jobs
      val p = ls.phases
      Counters(j.jobs.sum, j.stages.sum, j.tasks.sum, j.taskRunMs.sum, j.taskCpuNs.sum,
        j.schedDelayMs.sum, p.analysisMs.sum, p.optimizationMs.sum, p.planningMs.sum,
        JvmCounters.now())
    case None => Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, JvmCounters(0, 0, 0, 0))
  }

  /** The measured window: its bounds and the counter deltas inside it. */
  final class Window(val start: Double, c0: Counters) {
    var end: Double = Double.NaN
    var counters: Counters = c0
    def close(at: Double): Unit = {
      end = at
      counters = Bench.this.counters() - c0
    }
  }

  /** Open the measured window. Set-up is everything from `main` entry to
    * here — session, catalog, dimensions, lake, warm-up — less the time
    * spent generating inputs. */
  private def openWindow(): Window = {
    val c0 = counters()
    val start = Clock.nowMs
    mark("window")
    res.metrics("setup_s") = ((start - entryMs - genMs) / 1000, "s")
    new Window(start, c0)
  }
}

/** Dimension reloads in flight and done, so a client can tell whether
  * a failed query overlapped one. */
final class Reloads {
  private val running = new java.util.concurrent.atomic.AtomicInteger
  private val done = new ConcurrentLinkedQueue[(Double, Double)]()
  private val readers = new java.util.concurrent.atomic.AtomicInteger
  /** A client marks when it holds (or drops) an analysed plan over the
    * dimension being reloaded. */
  def reading(on: Boolean): Unit = if (on) readers.incrementAndGet() else readers.decrementAndGet()
  def readerInFlight: Boolean = readers.get > 0
  def run(tracer: Tracer)(body: => Unit): Unit = {
    val t0 = Clock.nowMs
    running.incrementAndGet()
    try tracer.span("load.refresh", s"refresh-${done.size}")(body)
    finally {
      done.add((t0, Clock.nowMs))
      running.decrementAndGet()
    }
  }
  def overlaps(from: Double, to: Double): Boolean =
    running.get > 0 || done.asScala.exists { case (s, e) => s < to && e > from }
  def all: Seq[(Double, Double)] = done.asScala.toSeq
}

object Bench {
/** Counter deltas over the measured window. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
    taskCpuNs: Long, schedDelayMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, jvm: JvmCounters) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, schedDelayMs - o.schedDelayMs,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    jvm - o.jvm)
}

  val EndToEnd: Set[String] = Set("setup_s", "throughput_per_s", "latency_p50_ms",
    "latency_p90_ms", "heap_retained_mb", "lake_bytes_per_input_byte")
  /** One minute of the reference generator's peak rate (10k rec/s). */
  val IngestBacklog = 600000
  val IngestFileRecords = 2000
  val IngestWarmFiles = 30
  val BaseAppends = 24
  val BaseRecords = 3000
  val WarmTiles = 18
  val DashboardClients = 2
  val MaxReloadRetries = 10
  val ReloadAimMs = 2000.0
  val ReloadRetryMs = 100L
  val ReloadEveryMs = 2000.0
  val ReloadProbeMs = 6000.0
  val WarmSeq = 1000000000L

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (p / 100) * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
