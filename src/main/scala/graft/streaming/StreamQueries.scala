package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{RunOnce, Tables}

/** Incoming event for the streaming funnel (see streamFunnel). */
case class FunnelEvent(user_id: Long, event_id: Long, event_type: String, us: Long)

/** Per-user funnel progress: first qualifying stage times in micros, -1
  * unset. maxClick/maxPurchase track the LATEST event time seen per later
  * stage regardless of qualification — with time-ordered micro-batches
  * the only event a later-set threshold can retro-qualify is a timestamp
  * TIE at a batch boundary (an equal-time click sorted into the batch
  * before its view), and a tie qualifies with value == the threshold
  * itself, so the max time is sufficient state (O(1), no buffering).
  */
case class FunnelSt(t1: Long, t2: Long, t3: Long,
    maxClick: Long = -1L, maxPurchase: Long = -1L)

/** Batch-emitted funnel snapshot. */
case class FunnelProgress(user_id: Long, t1: Long, t2: Long, t3: Long)

/** Per-user attribution state: the most recent click seen so far. */
case class ClickSt(click_id: Long)

/** Last N-1 event times per user — the velocity rule's ring buffer
  * (generic in SequenceOps.VelocityN, ascending order).
  */
case class VelSt(ts: Seq[Long])

/** q_stream_ewma wire row, keyed EWMA state, and per-batch snapshot. */
case class EwmaEvt(user_id: Long, event_id: Long, value: Double)
case class EwmaSt(level: Long, flags: Long, n: Long)
case class EwmaSnap(user_id: Long, n_events: Long, ewma_cents: Long, n_flags: Long)

/** q_stream_markov wire row, keyed last-event state, and emitted pair. */
case class MarkovEvt(user_id: Long, event_id: Long, us: Long, event_type: String)
case class MarkovSt(last: String)
case class MarkovPair(prev: String, next: String)

/** q_stream_cusum wire row, keyed CUSUM state, and per-batch snapshot. */
case class CusumEvt(user_id: Long, event_id: Long, value: Double)
case class CusumSt(s: Long, alarms: Long, n: Long)
case class CusumSnap(user_id: Long, n_events: Long, cusum_cents: Long, n_alarms: Long)

/** Burst trigger emitted as the qualifying event arrives. */
case class VelHit(user_id: Long, t: Long)

/** Event consumed by the streaming SCD2 builder (funnel event + value). */
case class Scd2Event(user_id: Long, event_id: Long, event_type: String,
    us: Long, value: Double)

/** The currently-open dimension version per user. */
case class Scd2St(version: Long, from_us: Long, state: String, value: Double)

/** Emitted interval row; valid_to_us None while the version is open. */
case class Scd2Row(user_id: Long, version: Long, valid_from_us: Long,
    valid_to_us: Option[Long], state: String, value: Double)

/** Attribution emitted per purchase as it arrives. */
case class Attributed(user_id: Long, purchase_id: Long, click_id: Option[Long])

/** Oracle-checked queries for the streaming operators that round 2 left
  * spec-only (S9/ST2/ST3, VERDICT r2 "What's missing" #1): each runs the
  * REAL Structured Streaming entry point over a deterministic landing
  * fixture with Trigger.AvailableNow, reads the file sink back, and is
  * compared by the driver against a batch DuckDB oracle on the same
  * source table — the q_stream_ingest pattern.
  *
  * Determinism notes (what makes a streaming query oracle-comparable):
  *   - q_stream_dedup emits only its key columns, so dropDuplicates'
  *     "first record wins" arrival-order dependence cannot show in the
  *     output — it equals SELECT DISTINCT.
  *   - q_stream_window gates rows on the event-time watermark: in append
  *     mode a window is emitted iff its end <= max(event time) - delay,
  *     independent of how AvailableNow splits files into micro-batches
  *     (the watermark is a running max, and the engine runs a final
  *     state-flush batch after the last data batch). The oracle applies
  *     the same gate with integer ms arithmetic. Emission is split-
  *     independent; late-row DROPPING is not — so the fixture is one
  *     file in ascending event-time order, making "no row is ever late"
  *     hold under any batch split (see windowFixtureDf).
  *   - q_stream_enrich output is a pure function of (batch rows ⋈ static
  *     dim), so batch splitting is invisible after union.
  *   - q_stream_join is an INNER join, so its result set is batching-
  *     independent as long as no matching row is evicted before its
  *     partner arrives — guaranteed by time-ordered single-file fixtures
  *     (arrival order tracks event time, so every in-range partner is
  *     still within the watermark-retained state).
  *   - Money sums go through DECIMAL(18,2) in both engines (exact,
  *     order-insensitive — double accumulation order would flip hashes).
  */
object StreamQueries {

  /** Content-keyed landing-fixture path: the dir name hashes the SOURCE
    * parquet's identity so regenerated testdata gets a fresh fixture
    * instead of replaying a stale one (ADVICE r2: a path-only key served
    * old fixture data against a fresh oracle).
    *
    * The key is the RECURSIVE part-file listing (relative name, size,
    * mtime) — the source path is usually a parquet *directory*, whose own
    * length/mtime don't track in-place part-file rewrites (ADVICE r3). A
    * missing source fails fast instead of yielding a stable bogus key.
    * `version` salts the key for changes to the fixture FORMAT itself
    * (e.g. the wire payload gained missing-tid rows in round 4): the
    * source table is unchanged but the derived fixture must regenerate.
    */
  def fixtureDir(name: String, sfDir: String, sourceTable: String,
      version: Int = 1): String = {
    val root = new java.io.File(s"$sfDir/$sourceTable.parquet")
    require(root.exists,
      s"fixture source ${root.getPath} does not exist — cannot key a landing fixture")
    def listing(f: java.io.File, prefix: String): Seq[String] =
      if (f.isDirectory)
        f.listFiles.sortBy(_.getName).toSeq
          .flatMap(c => listing(c, s"$prefix${c.getName}/"))
      else Seq(s"$prefix|${f.length}|${f.lastModified}")
    val key = (s"$sfDir|v$version" +: listing(root, "")).mkString("\n")
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"/tmp/graft_stream_${name}_$h"
  }

  /** Write `df` as a line-delimited landing fixture once per content key
    * (`text = true` for single-column raw lines, else JSON).
    */
  def ensureJsonishFixture(landing: String, df: => DataFrame, text: Boolean = false): String = {
    if (!Files.exists(Paths.get(landing, "_SUCCESS"))) {
      val w = df.write.mode("overwrite")
      if (text) w.text(landing) else w.json(landing)
    }
    landing
  }

  def ensureJsonFixture(landing: String, df: => DataFrame): String =
    ensureJsonishFixture(landing, df)

  /** Pre-write every streaming landing fixture (Bench runs this in its
    * untimed warmup so fixture I/O doesn't distort per-query timings).
    */
  def warmFixtures(s: SparkSession, dir: String): Unit = {
    StreamIngest.ensureWireFixture(s, dir)
    ensureJsonFixture(fixtureDir("dedup", dir, "events"),
      Tables.events(s, dir).select(col("user_id"), col("event_type")))
    ensureJsonFixture(fixtureDir("window", dir, "events", version = 2),
      windowFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("drift", dir, "events"),
      driftFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("dsir", dir, "documents"),
      dsirFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("topics", dir, "embeddings"),
      topicsFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("enrich", dir, "orders"),
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
    ensureJsonFixture(fixtureDir("pass", dir, "supplier"),
      passThroughDf(s, dir))
    ensureJsonFixture(fixtureDir("sjoin_l", dir, "events"),
      sjFixtureDf(s, dir, "purchase"))
    ensureJsonFixture(fixtureDir("sjoin_r", dir, "events"),
      sjFixtureDf(s, dir, "click"))
    ensureSentinelFixture("sloj_l", dir, sjFixtureDf(s, dir, "purchase"),
      s"""{"user_id":-1,"ms":$SentinelMs,"event_id":-1}""")
    ensureSentinelFixture("sloj_r", dir, sjFixtureDf(s, dir, "click"),
      s"""{"user_id":-2,"ms":$SentinelMs,"event_id":-1}""")
    ensureSentinelFixture("ohlc", dir, ohlcFixtureDf(s, dir),
      s"""{"ms":$SentinelMs,"event_id":-1,"event_type":"zz","amount":0.0}""")
    ensureJsonFixture(fixtureDir("dedupttl", dir, "events"),
      ttlDedupFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("heavy", dir, "orders"),
      graft.operators.ShuffleOps.skewedKeys(s, dir))
    ensureJsonishFixture(
      fixtureDir("heavysrc", dir, "documents", version = 2),
      graft.operators.ShuffleOps.sourceWordKeys(s, dir)
        .select(concat_ws(" ", col("source"), col("k")).as("value")),
      text = true)
    ensureJsonFixture(fixtureDir("winnow", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
    ensureJsonFixture(fixtureDir("tgtenc", dir, "orders"),
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("category"),
          (col("o_orderstatus") === "F").cast("long").as("t")))
    ensureJsonFixture(fixtureDir("ldiv", dir, "orders"),
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderpriority").as("sens"))
        .join(broadcast(Tables.customer(s, dir).select(
            col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("sens")))
    ensureJsonFixture(fixtureDir("phrase", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
    ensureJsonFixture(fixtureDir("dedupincr", dir, "documents"),
      Tables.documents(s, dir)
        .filter(col("doc_id") % graft.operators.DedupOps.IncrMod
          === graft.operators.DedupOps.IncrRem)
        .select(col("doc_id"), col("text")))
    ensureJsonFixture(fixtureDir("entityincr", dir, "part"),
      graft.operators.StringSimOps.arrivedNames(Tables.part(s, dir)))
    ensureJsonFixture(fixtureDir("upsert", dir, "customer"),
      upsertFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("session", dir, "events"),
      sessionFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("funnel", dir, "events"),
      funnelFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("kmv", dir, "lineitem"),
      kmvFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("overlap", dir, "events"),
      overlapFixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("scd2", dir, "events"),
      scd2FixtureDf(s, dir))
    ensureJsonFixture(fixtureDir("topk", dir, "customer"),
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long"), col("c_acctbal")))
    StreamAsof.warmFixture(s, dir)
    StreamTws.warmFixture(s, dir)
    graft.sources.GraftCatalog.ensureLakeRtfFixture(s, dir)
    ()
  }

  /** Window-fixture rows as ONE file in ascending event-time order.
    * Late-row DROPPING (unlike window emission) depends on how the file
    * source splits micro-batches: a row older than the running watermark
    * is discarded, while the batch oracle counts every row (ADVICE r3).
    * With a single globally time-sorted file no row is ever late under
    * ANY batch split — each batch's rows are newer than everything before
    * them — so the oracle parity is split-independent by construction,
    * not by assuming AvailableNow lands everything in one batch.
    */
  private def windowFixtureDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(unix_millis(col("ts")).as("ms"), col("value").as("amount"))
      .repartition(1).sortWithinPartitions(col("ms"))

  private def ohlcFixtureDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(unix_millis(col("ts")).as("ms"), col("event_id"),
        col("event_type"), col("value").as("amount"))
      .repartition(1).sortWithinPartitions(col("ms"), col("event_id"))

  private val ohlcSchema = StructType(Seq(
    StructField("ms", LongType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("amount", DoubleType)))

  private val bitmapSchema = StructType(Seq(
    StructField("ms", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  /** STREAMING twin of q_bitmap_distinct: the per-(key, day, block)
    * OR'd bitmap words accumulate in the state store across
    * micro-batches (bit_or is idempotent AND mergeable, so complete-mode
    * accumulation is order-independent — the exact-distinct analogue of
    * the q_stream_kmv heap merge), bounded by |keys|·|id-space|/32 longs
    * regardless of stream length. The final per-day distinct counts are
    * scored on readback through the shared popcount rollup; the oracle
    * IS q_bitmap_distinct's naive-DISTINCT SQL.
    *
    * Day arithmetic: ms DIV 86400000 == micros DIV 86400000000 by
    * nested-division factorization, so the wire's millisecond timestamps
    * land in exactly the batch query's day buckets.
    */
  def streamBitmap(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("bitmap", dir, "events"),
      Tables.events(s, dir)
        .select(unix_millis(col("ts")).as("ms"), col("user_id"), col("event_type"))
        .repartition(1).sortWithinPartitions(col("ms")))
    RunOnce(s.readStream.schema(bitmapSchema).json(landing)
        .select(col("event_type"),
          expr("ms DIV 86400000").as("day"),
          expr("user_id DIV 32").as("block"),
          expr(graft.operators.ShuffleOps.bitmapLane(duck = false)).as("w"))
        .groupBy(col("event_type"), col("day"), col("block"))
        .agg(expr("bit_or(w)").as("word")),
      "complete", RunOnce.Stateful)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(expr("bit_count(word)")).as("n_users"),
        count(lit(1)).as("n_blocks"))
  }

  // ---------------------------------------------------------------------
  // S9: pass-through dim stream (no transform — the reference's
  // dim_customer/dim_account Pub/Sub→BigQuery subscriptions,
  // dimension_tables_ingestion/.../dim_customer_topic_sub.sh:15-18)
  // ---------------------------------------------------------------------

  private val passSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", LongType),
    StructField("s_acctbal", DoubleType)))

  private def passThroughDf(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir).select(
      col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))

  /** Streamed pass-through of the supplier dim == the batch table: the
    * whole query is the exactly-once file sink, so the oracle is SELECT *.
    */
  def streamPassThrough(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("pass", dir, "supplier"),
      passThroughDf(s, dir))
    RunOnce(StreamDims.passThroughFrame(s, landing, passSchema))
  }

  // ---------------------------------------------------------------------
  // ST3: streaming seen-set discovery (dropDuplicates over the state store)
  // ---------------------------------------------------------------------

  private val dedupSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("dedup", dir, "events"),
      Tables.events(s, dir).select(col("user_id"), col("event_type")))
    RunOnce(StreamDims.discoveryFrame(s, landing, dedupSchema,
      Seq("user_id", "event_type")), pins = RunOnce.Stateful)
  }

  // ---------------------------------------------------------------------
  // ST3+: BOUNDED-state dedup (dropDuplicatesWithinWatermark)
  // ---------------------------------------------------------------------

  private val ttlDedupSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("ms", LongType)))

  /** Bounded-state streaming dedup — the 100 TB complement of
    * q_stream_dedup: dropDuplicates keeps every key seen FOREVER (state
    * grows with distinct keys, the right tool for a dimension seen-set),
    * while dropDuplicatesWithinWatermark evicts keys once the watermark
    * passes them, so state holds only the watermark window — the right
    * tool for at-least-once ingest dedup where duplicates arrive close
    * together (retries, redelivery) and the key space is unbounded.
    *
    * The fixture plants a duplicate 1s after every 10th event (well
    * inside the 10-minute watermark, so every planted dup is dropped)
    * over source rows whose event_ids are globally unique — making the
    * oracle the plain base projection. Determinism: the fixture is one
    * ascending-event-time file, so each original precedes its dup in
    * arrival order under any batch split, and no row is ever late.
    */
  def streamDedupTtl(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("dedupttl", dir, "events"),
      ttlDedupFixtureDf(s, dir))
    RunOnce(s.readStream.schema(ttlDedupSchema).json(landing)
      .withColumn("ts", timestamp_millis(col("ms")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("ms")), pins = RunOnce.Stateful)
  }

  private def ttlDedupFixtureDf(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"))
    val dups = base.filter(col("event_id") % 10 === 0)
      .withColumn("ms", col("ms") + 1000)
    base.unionByName(dups).repartition(1).sortWithinPartitions(col("ms"))
  }

  // ---------------------------------------------------------------------
  // ST2: event-time windowed volume behind a watermark
  // ---------------------------------------------------------------------

  private val windowSchema = StructType(Seq(
    StructField("ms", LongType),
    StructField("amount", DoubleType)))

  /** 5-minute event-time windows, 10-minute watermark, append mode: the
    * streaming twin of the batch monthly rollup (A7), emitted exactly
    * once per window. Runs through the same readStream → watermark →
    * window → file-sink path as StreamState.startWindowedVolume, inlined
    * here so the output projection (integer ms, decimal-exact volume)
    * lines up with a DuckDB oracle.
    *
    * Oracle parity is split-independent: window EMISSION is watermark-
    * gated identically however AvailableNow batches the files, and late
    * DROPPING can never occur because the fixture is one file in
    * ascending event-time order (see windowFixtureDf).
    *
    * State-store sizing: instances = shuffle partitions, and each
    * instance pays per-batch delta/snapshot/commit file I/O. 100k rows
    * over many 5-minute windows doesn't need 32 stores' worth of
    * checkpoint churn — run the stateful agg at 8 (a real cluster sizes
    * this to executor count; state per window-key is constant either way).
    */
  def streamWindow(s: SparkSession, dir: String): DataFrame =
    windowedVolume(s, dir, e => window(col("ts"), "5 minutes"))

  /** The shared watermark-gated windowed-volume stream — tumbling
    * (streamWindow) and sliding (streamHopping) differ ONLY in the
    * window spec, so the discipline (fixture, watermark delay, decimal
    * money, append emission) has one definition.
    */
  private def windowedVolume(s: SparkSession, dir: String,
      windowSpec: DataFrame => org.apache.spark.sql.Column): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("window", dir, "events", version = 2),
      windowFixtureDf(s, dir))
    val src = s.readStream.schema(windowSchema).json(landing)
      .withColumn("ts", timestamp_millis(col("ms")))
      .withWatermark("ts", "10 minutes")
    RunOnce(src
      .groupBy(windowSpec(src).as("w"))
      .agg(
        count(lit(1)).as("n_txns"),
        sum(col("amount").cast(DecimalType(18, 2))).as("vol_dec"))
      .select(
        unix_millis(col("w.start")).as("window_start_ms"),
        col("n_txns"),
        col("vol_dec").cast(DoubleType).as("volume")), pins = RunOnce.Stateful)
  }

  // ---------------------------------------------------------------------
  // ST2+: stream-stream inner join (watermarked state both sides)
  // ---------------------------------------------------------------------

  private val sjSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ms", LongType),
    StructField("event_id", LongType)))

  private def sjFixtureDf(s: SparkSession, dir: String, eventType: String): DataFrame =
    Tables.events(s, dir).filter(col("event_type") === eventType)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"))
      .repartition(1).sortWithinPartitions(col("ms"))

  /** Purchases joined to clicks of the same user within the preceding
    * 5 minutes — BOTH sides unbounded streams. Watermarks plus the time-
    * range predicate bound each side's join state (Spark evicts a row
    * once the other side's watermark passes its range), which is the
    * property that lets this run forever at 100 TB/day; an unconstrained
    * stream-stream join would buffer both streams entirely.
    *
    * Determinism: an INNER join's result set is batching-independent as
    * long as no matching row is evicted before its partner arrives; the
    * fixtures are single files in ascending event time, so arrival order
    * tracks event time and every in-range partner is still in state.
    * The oracle is the same join as batch SQL over integer ms.
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val lLanding = ensureJsonFixture(fixtureDir("sjoin_l", dir, "events"),
      sjFixtureDf(s, dir, "purchase"))
    val rLanding = ensureJsonFixture(fixtureDir("sjoin_r", dir, "events"),
      sjFixtureDf(s, dir, "click"))
    val l = s.readStream.schema(sjSchema).json(lLanding)
      .select(col("user_id"), timestamp_millis(col("ms")).as("p_ts"),
        col("event_id").as("purchase_event_id"))
      .withWatermark("p_ts", "10 minutes")
    val r = s.readStream.schema(sjSchema).json(rLanding)
      .select(col("user_id").as("r_user_id"), timestamp_millis(col("ms")).as("c_ts"),
        col("event_id").as("click_event_id"))
      .withWatermark("c_ts", "10 minutes")
    RunOnce(l.join(r,
        col("user_id") === col("r_user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES"))
      .select(col("user_id"), unix_millis(col("p_ts")).as("p_ms"),
        col("purchase_event_id"), unix_millis(col("c_ts")).as("c_ms"),
        col("click_event_id")), pins = RunOnce.Stateful)
  }

  /** A two-batch landing: the data as ONE part file, plus a single
    * far-future sentinel row in a second file whose modification time is
    * pinned strictly later — with maxFilesPerTrigger=1 the source then
    * runs exactly (data batch, sentinel batch), which is what outer-join
    * null emission needs: eviction runs DURING a batch using the
    * watermark computed at the END of the previous one, so with a single
    * batch the outer rows would never surface at all.
    */
  private def ensureSentinelFixture(name: String, dir: String,
      df: => DataFrame, sentinelJson: String): String = {
    val landing = fixtureDir(name, dir, "events")
    val done = Paths.get(landing, "_GRAFT_SENTINEL_OK")
    if (!Files.exists(done)) {
      df.write.mode("overwrite").json(landing)
      val parts = new java.io.File(landing).listFiles
        .filter(_.getName.startsWith("part-"))
      require(parts.length == 1,
        s"sentinel fixture expects ONE data part file, got ${parts.length}")
      val sentinel = new java.io.File(landing, "zz_sentinel.json")
      Files.write(sentinel.toPath, (sentinelJson + "\n").getBytes("UTF-8"))
      sentinel.setLastModified(parts.map(_.lastModified).max + 60000L)
      Files.write(done, Array.emptyByteArray)
    }
    landing
  }

  /** Year-2100 sentinel: past any generated event time at every SF. */
  private val SentinelMs = 4102444800000L

  /** Stream-stream LEFT OUTER join — the inner join's semantics plus
    * watermark-evicted null emission: a purchase with no click in its
    * 5-minute lookback emits (user, purchase, NULL click) once the
    * GLOBAL watermark (min over both sources, Spark's default
    * multi-watermark policy) passes its timestamp, proving no late click
    * can still match. The two-batch sentinel landing makes the emission
    * set COMPLETE and deterministic: batch 1 is all real data (every
    * inner match lands there), the far-future sentinel batch advances
    * both watermarks past every real event, and AvailableNow then runs
    * the trailing stateful-cleanup batch with that watermark (verified
    * empirically: the last in-window unmatched purchase emits too) — so
    * the result is exactly the relational LEFT JOIN, with no truncated
    * tail. Without the sentinel file the outer rows would never surface:
    * eviction runs with the watermark computed at the END of the
    * previous batch, and a single-batch run has no successor.
    */
  def streamLeftJoin(s: SparkSession, dir: String): DataFrame =
    streamOuterJoin(s, dir, "left_outer")

  /** Stream-stream FULL OUTER join — both directions of null emission:
    * unmatched purchases AND unmatched clicks surface once the global
    * watermark proves no partner can still arrive. Same sentinel-batch
    * completeness argument as streamLeftJoin, applied to both sides (the
    * two sentinel rows carry distinct negative user ids so they cannot
    * match each other, and both are filtered on readback).
    */
  def streamFullJoin(s: SparkSession, dir: String): DataFrame =
    streamOuterJoin(s, dir, "full_outer")

  private def streamOuterJoin(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val sentinel = (uid: Long) =>
      s"""{"user_id":$uid,"ms":$SentinelMs,"event_id":-1}"""
    val lLanding = ensureSentinelFixture("sloj_l", dir,
      sjFixtureDf(s, dir, "purchase"), sentinel(-1L))
    val rLanding = ensureSentinelFixture("sloj_r", dir,
      sjFixtureDf(s, dir, "click"), sentinel(-2L))
    val l = s.readStream.schema(sjSchema)
      .option("maxFilesPerTrigger", "1").json(lLanding)
      .select(col("user_id"), timestamp_millis(col("ms")).as("p_ts"),
        col("event_id").as("purchase_event_id"))
      .withWatermark("p_ts", "10 minutes")
    val r = s.readStream.schema(sjSchema)
      .option("maxFilesPerTrigger", "1").json(rLanding)
      .select(col("user_id").as("r_user_id"), timestamp_millis(col("ms")).as("c_ts"),
        col("event_id").as("click_event_id"))
      .withWatermark("c_ts", "10 minutes")
    RunOnce(l.join(r,
        col("user_id") === col("r_user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES"),
        joinType)
      .select(coalesce(col("user_id"), col("r_user_id")).as("user_id"),
        unix_millis(col("p_ts")).as("p_ms"),
        col("purchase_event_id"), unix_millis(col("c_ts")).as("c_ms"),
        col("click_event_id")), pins = RunOnce.Stateful)
      .filter(col("user_id") >= 0) // drop the sentinel rows themselves
  }

  /** Streaming OHLC candlestick bars — the reference pipeline's
    * BigQuery-dashboard aggregate as a LIVE hourly window: open/close
    * via min_by/max_by over the unique (ms, event_id) order key
    * (tie-deterministic at any event rate), high/low/volume/count as
    * plain aggregates, all accumulating in windowed state behind a
    * 10-minute watermark. The sentinel batch (see ensureSentinelFixture)
    * advances the watermark past every real bar so the emission is the
    * COMPLETE batch answer; the sentinel's own bar never closes (nothing
    * follows it) and is filtered defensively anyway. State per key is
    * O(1) — six longs — so a year of this stream holds exactly
    * (open windows × types) rows of state, the property that lets the
    * bar builder run forever.
    */
  def streamOhlc(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureSentinelFixture("ohlc", dir, ohlcFixtureDf(s, dir),
      s"""{"ms":$SentinelMs,"event_id":-1,"event_type":"zz","amount":0.0}""")
    RunOnce(s.readStream.schema(ohlcSchema)
        .option("maxFilesPerTrigger", "1").json(landing)
        .withColumn("ts", timestamp_millis(col("ms")))
        .withColumn("cents", expr("CAST(round(amount * 100) AS BIGINT)"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          min_by(col("cents"), struct(col("ms"), col("event_id"))).as("open_cents"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max_by(col("cents"), struct(col("ms"), col("event_id"))).as("close_cents"),
          sum(col("cents")).as("volume_cents"),
          count(lit(1)).as("n_trades"))
        .select(col("event_type"), unix_millis(col("w.start")).as("window_start_ms"),
          col("open_cents"), col("high_cents"), col("low_cents"),
          col("close_cents"), col("volume_cents"), col("n_trades")),
      pins = RunOnce.Stateful)
      .filter(col("event_type") =!= "zz")
  }

  /** Streaming Benford fraud screen — the first-digit distribution
    * accumulating in complete-mode state across micro-batches (digit
    * counts are 9 keys of O(1) state each, the smallest possible
    * streaming aggregate), scored through the IDENTICAL arithmetic as
    * the batch audit (FinanceOps.benfordFromCounts), so the oracle is
    * literally q_benford's SQL: the streaming == batch invariant.
    */
  def streamBenford(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("window", dir, "events", version = 2),
      windowFixtureDf(s, dir))
    val out = RunOnce(s.readStream.schema(windowSchema).json(landing)
      .select(expr("CAST(round(amount * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") >= 1)
      .select(expr("CAST(substr(CAST(cents AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n")),
      "complete", RunOnce.Stateful)
    graft.operators.FinanceOps.benfordFromCounts(out)
  }

  /** Streaming twin of q_media_deadletter — the media family's arrival
    * loop: blobs stream in, each is decoded through the REAL WAV parser
    * per micro-batch (the per-row codec kernel shared with the batch
    * audit, so verdicts are identical by construction), and only the
    * 2-row status histogram accumulates in complete mode. The U4
    * error-branch contract holds under streaming: corrupt blobs are
    * counted and labelled, never crash the task or poison the query.
    * Oracle = the batch dead-letter SQL (full-replay equivalence).
    */
  def streamMediaAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = ensureJsonFixture(fixtureDir("mediaaudit", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id")))
    RunOnce(s.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType)))).json(landing)
      .select(col("doc_id")).as[Long]
      .map(id => (id, graft.operators.Audio.decodeStatus(id)))
      .toDF("doc_id", "status")
      .groupBy(col("status")).agg(count(lit(1)).as("n")),
      "complete", RunOnce.Stateful)
  }

  private val driftSchema = StructType(Seq(
    StructField("us", LongType),
    StructField("amount", DoubleType)))

  private def driftFixtureDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(unix_micros(col("ts")).as("us"), col("value").as("amount"))
      .repartition(1).sortWithinPartitions(col("us"))

  /** Streaming distribution-drift monitor — the deployed form of
    * q_drift_audit: the reference statistics (midpoint split, reference
    * min/max bin bounds) are STATIC configuration computed once from the
    * reference corpus and broadcast onto the stream (a stream-static
    * broadcast join, the dim-enrich pattern); only the per-bucket
    * ref/live counts accumulate across micro-batches in complete mode
    * (20 longs of state — counts are associative, so batch boundaries
    * can't change the answer). Scored on readback through LITERALLY the
    * batch audit's arithmetic (AuditOps.driftScores), so the oracle is
    * q_drift_audit's SQL: the streaming == batch invariant. Fixture
    * carries MICROsecond timestamps — the batch audit tags reference
    * membership at micro precision and a ms-truncated twin would
    * misclassify sub-ms ties.
    */
  def streamDrift(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("drift", dir, "events"),
      driftFixtureDf(s, dir))
    val stats = graft.operators.AuditOps.driftRefStats(Tables.events(s, dir))
    val out = RunOnce(s.readStream.schema(driftSchema).json(landing)
      .select(col("us"), expr("CAST(round(amount * 100) AS BIGINT)").as("cents"))
      .crossJoin(broadcast(stats))
      .withColumn("is_ref", col("us") <= col("tmid"))
      .withColumn("bucket",
        expr("least(greatest(((cents - mn) * 10) DIV (mx - mn + 1), 0), 9)"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_live")),
      "complete", RunOnce.Stateful)
    graft.operators.AuditOps.driftScores(out)
  }

  private val dsirSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  private def dsirFixtureDf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))

  /** Streaming DSIR ingest monitor — the deployed form of
    * q_dsir_weights' feature pipeline: the (bucket, lrb) scoring table
    * is STATIC configuration frozen from the reference corpus
    * (CorpusOps.dsirLogRatios — the model a data-selection service
    * ships), while the document stream runs the fused trigram-hash
    * kernel per micro-batch and accumulates per-BUCKET feature counts
    * in complete mode: state is <= DsirBuckets longs no matter how many
    * documents flow through — the drift-twin state discipline, NOT
    * per-doc rows. Readback joins the frozen table and emits each
    * bucket's importance contribution (n_live * lrb) — the corpus-level
    * "is today's ingest target-like" signal. Replaying the reference
    * corpus itself, the streamed counts must equal the batch pool
    * counts exactly (counts are associative across micro-batch
    * boundaries), so the oracle is the batch bucket-stats SQL — the
    * streaming == batch invariant.
    */
  def streamDsir(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusOps
    val landing = ensureJsonFixture(fixtureDir("dsir", dir, "documents"),
      dsirFixtureDf(s, dir))
    val lrb = CorpusOps.dsirLogRatios(Tables.documents(s, dir))
    RunOnce(s.readStream.schema(dsirSchema).json(landing)
      .select(explode(
        graft.functions.TrigramHashesExpression.trigramHashesAll(col("text")))
        .as("sh"))
      .select((col("sh") % CorpusOps.DsirBuckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_live")),
      "complete", RunOnce.Stateful)
      .join(broadcast(lrb), Seq("bucket"))
      .select(col("bucket"), col("n_live"), col("lrb"),
        (col("n_live") * col("lrb")).as("w_bits"))
  }

  private val winnowSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Streaming winnowing twin of q_text_winnow (the q_stream_topics
    * frozen-model shape): the window-minima fingerprint selection runs
    * PER ROW on the streamed document (TextOps.withPrints — a pure
    * expression, zero keyed state), and the only thing that accumulates
    * is the shared-print document-frequency frame — one count per
    * distinct selected print (~2/(w+1) of the gram space), in complete
    * mode. Readback folds the accumulated df back through the shared
    * batch arithmetic (TextOps.statsFromPrints), so a full-corpus replay
    * reproduces q_text_winnow exactly and its oracle scores the rows.
    */
  def streamWinnow(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextOps
    val landing = ensureJsonFixture(fixtureDir("winnow", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
    val out = RunOnce(TextOps.withPrints(
        s.readStream.schema(winnowSchema).json(landing))
      .select(explode(col("prints")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("dfp")),
      "complete", RunOnce.Stateful)
    val d = TextOps.withPrints(
      Tables.documents(s, dir).select(col("doc_id"), col("text"))).cache()
    TextOps.statsFromPrints(d,
      out)
  }

  /** Streaming twin of q_dedup_incr — the daily-ingest dedup loop as a
    * LIVE stream: arriving documents shingle/minhash/band PER ROW (pure
    * expressions, no keyed state), candidate pairs come from a
    * stream-static join against the BROADCAST standing band index (the
    * frozen-model shape: 4 keys per standing doc), and the only
    * accumulating state is the distinct-candidate-pair set — bounded by
    * collision volume, not the stream. Verification runs on readback
    * through the shared batch kernel (verifyJaccard over the cached
    * shingle frame), so the emitted rows equal the batch incremental
    * generator's exactly and q_dedup_incr's oracle (the full pair set
    * filtered to batch-touching rows) scores them verbatim.
    */
  def streamIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupOps
    val landing = ensureJsonFixture(fixtureDir("dedupincr", dir, "documents"),
      Tables.documents(s, dir)
        .filter(col("doc_id") % DedupOps.IncrMod === DedupOps.IncrRem)
        .select(col("doc_id"), col("text")))
    // frozen standing index: band keys of the FULL corpus (the batch rows
    // recompute identical keys per row, so batch-batch pairs also emerge)
    val g = DedupOps.withShingleHashes(
      Tables.documents(s, dir).select(col("doc_id"), col("text"))).cache()
    val bands = DedupOps.bandFrame(g)
    val sbands = DedupOps.bandFrame(DedupOps.withShingleHashes(
      s.readStream.schema(winnowSchema).json(landing)))
    val cand = RunOnce(sbands.as("b").join(broadcast(bands.as("a")),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .dropDuplicates("d1", "d2"), pins = RunOnce.Stateful)
    DedupOps.verifyJaccard(g, cand.distinct())
  }

  /** Streaming twin of q_entity_resolve_incr's PAIR stage — entity
    * resolution's arrival loop as a live stream: new names arrive, the
    * blocked candidate join runs stream-static against the BROADCAST
    * standing vocabulary (with block key + length precomputed batch-side),
    * and only the distinct candidate set accumulates as state — bounded
    * by block-collision volume, not the stream. The expensive JW kernel
    * runs on readback through the shared batch scorer
    * (StringSimOps.scoreJwPairs), so the emitted rows equal the batch
    * incremental pair generator's exactly and the batch-touching-pairs
    * oracle scores them verbatim.
    */
  def streamEntityPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.StringSimOps
    val landing = ensureJsonFixture(fixtureDir("entityincr", dir, "part"),
      StringSimOps.arrivedNames(Tables.part(s, dir)))
    val vocab = StringSimOps.vocabulary(Tables.part(s, dir))
      .select(col("name").as("n1"), substring(col("name"), 1, 1).as("b1"),
        length(col("name")).as("len1"))
    val arriving = s.readStream
      .schema(StructType(Seq(StructField("name", StringType)))).json(landing)
      .select(col("name").as("n2"), substring(col("name"), 1, 1).as("b2"),
        length(col("name")).as("len2"))
    val cand = RunOnce(arriving.join(broadcast(vocab),
        col("b1") === col("b2") && col("n1") =!= col("n2") &&
        abs(col("len1") - col("len2")) <= StringSimOps.LevMax)
      .select(least(col("n1"), col("n2")).as("a"),
        greatest(col("n1"), col("n2")).as("b"))
      .dropDuplicates("a", "b"), pins = RunOnce.Stateful)
    StringSimOps.scoreJwPairs(
      cand.distinct().select(col("a").as("n1"), col("b").as("n2")))
  }

  /** Streaming twin of q_er_fs_score — Fellegi-Sunter linkage's arrival
    * loop: new part records stream in (the dedup family's mod-slice),
    * the brand-blocked size-banded candidate join runs stream-static
    * against the BROADCAST standing dimension, and only the distinct
    * normalized pair-key set accumulates as state (bounded by block-
    * collision volume, not the stream). The expensive JW kernel and the
    * weight arithmetic run on readback through the shared batch scorer
    * (StringSimOps.fsScore), so emitted rows equal the batch linkage's
    * exactly; the oracle is the full FS linkage filtered to
    * batch-touching pairs (the incremental-family plan-swap contract).
    */
  def streamErFs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.StringSimOps
    val part = Tables.part(s, dir)
    val arrivedPred = col("p_partkey") % graft.operators.DedupOps.IncrMod ===
      graft.operators.DedupOps.IncrRem
    val fields = Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    val landing = ensureJsonFixture(fixtureDir("erfs", dir, "part"),
      part.filter(arrivedPred).selectExpr(fields: _*))
    val standing = part.select(col("p_partkey").as("k1"),
      col("p_brand").as("brand"), col("p_size").as("s1"))
    val arriving = s.readStream.schema(StructType(Seq(
        StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType)))).json(landing)
      .select(col("p_partkey").as("k2"), col("p_brand").as("brand"),
        col("p_size").as("s2"))
    val cand = RunOnce(arriving.join(broadcast(standing), Seq("brand"))
      .filter(col("k1") =!= col("k2") &&
        abs(col("s1") - col("s2")) <= StringSimOps.FsSizeBand)
      .select(least(col("k1"), col("k2")).as("a"),
        greatest(col("k1"), col("k2")).as("b"))
      .dropDuplicates("a", "b"), pins = RunOnce.Stateful)
    val pa = part.select(col("p_partkey").as("k1"), col("p_name").as("n1"),
      col("p_type").as("t1"), col("p_size").as("s1"))
    val pb = part.select(col("p_partkey").as("k2"), col("p_name").as("n2"),
      col("p_type").as("t2"), col("p_size").as("s2"))
    StringSimOps.fsScore(
      cand.distinct()
        .select(col("a").as("k1"), col("b").as("k2"))
        .join(pa, "k1").join(pb, "k2"))
  }

  private val topicsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("source", StringType),
    StructField("embedding", ArrayType(FloatType))))

  private def topicsFixtureDf(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .join(Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
      .select(col("vec_id"), col("source"), col("embedding"))

  /** Streaming topic-mix monitor — the deployed form of q_topic_mix:
    * the Lloyd-refined centroids are FROZEN batch-side into one
    * broadcast array row (the shipped clustering model), and each
    * streamed document embedding is assigned its topic per ROW
    * (VectorOps.topicAssignRowwise — array_max over the centroid array,
    * zero keyed state) with arithmetic identical to the batch argmax.
    * Only the (source, topic) contingency counts accumulate in complete
    * mode: state is <= |sources| x IvfCells rows however long the
    * stream runs. Readback rolls up through the shared batch arithmetic
    * (VectorOps.topicRollup), and a full-corpus replay reproduces
    * q_topic_mix exactly — its oracle scores this row.
    */
  def streamTopics(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorOps
    val landing = ensureJsonFixture(fixtureDir("topics", dir, "embeddings"),
      topicsFixtureDf(s, dir))
    val cents = VectorOps.frozenCentroidArray(Tables.embeddings(s, dir))
    val out = RunOnce(VectorOps.topicAssignRowwise(
        s.readStream.schema(topicsSchema).json(landing), cents)
      .groupBy(col("source"), col("topic")).agg(count(lit(1)).as("n")),
      "complete", RunOnce.Stateful)
    VectorOps.topicRollup(out)
  }

  /** STREAMING bucketed interval join — the q_interval_join technique on
    * a live stream: static audit windows (every 97th event opens a 2-day
    * window) join the event stream on the coarse bucket EQUI key
    * (`day DIV 2`; the window side pre-explodes to its ≤ 2 buckets) with
    * the band predicate as a residual filter — a stream-static broadcast
    * hash join per micro-batch where the naive formulation would be a
    * per-batch nested loop. Per-window counts accumulate in complete
    * mode (O(1) state per window); zero-match windows are restored by
    * the batch-side left join on readback.
    */
  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    // the ohlc sentinel landing, managed by ONE creator (two helpers
    // racing on the same dir would fight over freshness markers); the
    // sentinel row is filtered below — complete mode needs no batch split
    val landing = ensureSentinelFixture("ohlc", dir, ohlcFixtureDf(s, dir),
      s"""{"ms":$SentinelMs,"event_id":-1,"event_type":"zz","amount":0.0}""")
    val w = Tables.events(s, dir).filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("win_id"),
        expr("unix_millis(ts) DIV 86400000").as("d0"))
    val wb = w.withColumn("bucket", explode(expr("sequence(d0 DIV 2, (d0 + 1) DIV 2)")))
    val pts = s.readStream.schema(ohlcSchema).json(landing)
      .filter(col("event_id") >= 0) // tolerate a sentinel row if present
      .select(expr("ms DIV 86400000").as("d"))
      .withColumn("bucket", expr("d DIV 2"))
    val out = RunOnce(pts.join(broadcast(wb), Seq("bucket"))
      .filter(col("d") >= col("d0") && col("d") <= col("d0") + 1)
      .groupBy(col("win_id")).agg(count(lit(1)).as("n")),
      "complete", RunOnce.Stateful)
    w.join(out, Seq("win_id"), "left")
      .select(col("win_id"), coalesce(col("n"), lit(0L)).as("n_events"))
  }

  // ---------------------------------------------------------------------
  // ST3/S9: stream-static enrich, dim re-read (and broadcast) per batch
  // ---------------------------------------------------------------------

  private val enrichSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType)))

  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("enrich", dir, "orders"),
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
    val tmp = RunOnce.await(s) { d =>
      StreamDims.startEnriched(s, landing, enrichSchema,
        dimPath = s"$dir/customer.parquet", joinKey = "o_custkey",
        keyInDim = "c_custkey",
        dimCols = Seq("c_name", "c_mktsegment"),
        outDir = s"$d/out", checkpointDir = s"$d/ckpt",
        availableNow = true)
    }
    s.read.parquet(s"$tmp/out").drop("batch_id")
      .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice")
  }

  // ---------------------------------------------------------------------
  // Streaming sketch maintenance: Misra-Gries across micro-batches
  // ---------------------------------------------------------------------

  private val heavySchema = StructType(Seq(StructField("k", LongType)))

  /** Streaming twin of q_heavy_hitters: the MG summary accumulates in
    * the aggregation state store ACROSS micro-batches (each batch's
    * partial sketches merge into the running buffer — the serialize/
    * merge path of the TypedImperativeAggregate is exactly what the
    * state store persists), complete-mode emits the running sketch,
    * and the final one is audited against exact batch counts with the
    * SHARED ShuffleOps.mgInvariantRow. The guarantee is merge-order-
    * independent, so the same oracle row as the batch query covers the
    * streaming accumulation too — that is the point of mergeable
    * summaries in a streaming pipeline.
    */
  def streamHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("heavy", dir, "orders"),
      graft.operators.ShuffleOps.skewedKeys(s, dir))
    val out = RunOnce(s.readStream.schema(heavySchema).json(landing)
      .agg(graft.functions.MisraGriesAggregate
          .mgSketch(col("k"), graft.operators.ShuffleOps.MgCapacity).as("mg"),
        count(lit(1)).as("n_rows")),
      "complete", RunOnce.Stateful)
    graft.operators.ShuffleOps.mgInvariantRow(
      graft.operators.ShuffleOps.skewedKeys(s, dir),
      out)
  }

  /** Streaming twin of q_heavy_per_source: one Misra–Gries buffer PER
    * `source` key in the aggregation state store, accumulating across
    * micro-batches (same serialize/merge path as q_stream_heavy, keyed).
    * State is bounded at K entries × |sources| — a dimension, not the
    * stream — and the per-group guarantee is merge-order-independent, so
    * the batch oracle covers the streamed accumulation verbatim.
    *
    * The landing fixture is RAW TEXT ("source k" lines), not JSON: at
    * sf0.1 this stream is ~1.3M rows (one per word occurrence — an
    * order of magnitude more than any other fixture), and a per-line
    * split is ~3x cheaper than a Jackson parse at that volume.
    */
  def streamHeavyPerSource(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonishFixture(
      fixtureDir("heavysrc", dir, "documents", version = 2),
      graft.operators.ShuffleOps.sourceWordKeys(s, dir)
        .select(concat_ws(" ", col("source"), col("k")).as("value")),
      text = true)
    val out = RunOnce(s.readStream.text(landing)
      .select(split(col("value"), " ").as("p"))
      .select(col("p").getItem(0).as("source"),
        col("p").getItem(1).cast("long").as("k"))
      .groupBy(col("source"))
      .agg(graft.functions.MisraGriesAggregate
          .mgSketch(col("k"), graft.operators.ShuffleOps.MgCapacity).as("mg"),
        count(lit(1)).as("n_rows")),
      "complete", RunOnce.Stateful)
    graft.operators.ShuffleOps.mgInvariantPerGroup(
      graft.operators.ShuffleOps.sourceWordKeys(s, dir),
      out)
  }

  // ---------------------------------------------------------------------
  // ST2+: per-user session windows (gap-based, watermark-emitted)
  // ---------------------------------------------------------------------

  private val sessSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("ms", LongType)))

  /** Streaming twin of the batch q_sessionize: session_window with a
    * 30-minute gap per user, append-emitted when the watermark passes a
    * session's end (= last event + gap). Oracle gate mirrors
    * q_stream_window's: end <= max(event time) - delay, integer ms.
    * Split semantics: Spark's session window is HALF-OPEN [start,
    * last+gap), so an event at exactly last+gap starts a NEW session —
    * the oracle's lag-split uses >= where the batch q_sessionize (which
    * defines its own semantics) uses >.
    */
  def streamSession(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("session", dir, "events"),
      sessionFixtureDf(s, dir))
    RunOnce(s.readStream.schema(sessSchema).json(landing)
      .withColumn("ts", timestamp_millis(col("ms")))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("start_ms"),
        unix_millis(col("w.end")).as("end_ms"),
        col("n_events")), pins = RunOnce.Stateful)
  }

  private def sessionFixtureDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .repartition(1).sortWithinPartitions(col("ms"))

  // ---------------------------------------------------------------------
  // Streaming top-k per group: stream-static join + bounded-heap state
  // ---------------------------------------------------------------------

  private val topkSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_nationkey", LongType),
    StructField("c_acctbal", DoubleType)))

  /** Streaming twin of q_topk_group: customers stream in, each batch
    * broadcast-joins the static nation dim, and the bounded-heap top-k
    * aggregate accumulates per nation in the state store. Top-k
    * selection under a TOTAL order is merge-order-independent (the k
    * best of a multiset are the k best however it arrives), so the
    * batch window oracle covers the streaming accumulation — the same
    * argument as q_stream_heavy, for a selection instead of a sketch.
    */
  def streamTopK(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("topk", dir, "customer"),
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long"), col("c_acctbal")))
    RunOnce(s.readStream.schema(topkSchema).json(landing)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(graft.functions.TopKAggregate.topKRows(
        struct(col("c_acctbal").as("value"), col("c_custkey").as("id")), 3)
        .as("top")),
      "complete", RunOnce.Stateful)
      .select(col("n_name"), posexplode(col("top")))
      .select(col("n_name"), col("col.id").as("c_custkey"),
        col("col.value").as("c_acctbal"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Streaming SLIDING windows (30 min size / 10 min slide) — the
    * q_stream_window discipline applied to the hopping generator: each
    * event lands in size/slide = 3 windows, append mode emits a window
    * exactly once when the watermark passes its end, and the same
    * time-sorted single-file fixture makes late-dropping impossible
    * under any batch split. Oracle rebuilds the window set with a
    * generate_series cross join + the identical watermark gate.
    */
  def streamHopping(s: SparkSession, dir: String): DataFrame =
    windowedVolume(s, dir, e => window(col("ts"), "30 minutes", "10 minutes"))

  /** Streaming sink INTO a date-partitioned table — the reference's
    * fact sink is a date-partitioned BigQuery table (S5); the Spark
    * shape is the file sink's native `partitionBy`, which keeps
    * exactly-once semantics through the sink's commit log while laying
    * rows out one directory per day. The query then reads one day back
    * THROUGH partition pruning and aggregates it; the oracle computes
    * the same day's aggregate from the source table, so dropped or
    * double-written rows in any partition break the match. The probe
    * day is derived relationally (min day + 14) in both engines.
    */
  def streamPartitionedSink(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("window", dir, "events", version = 2),
      windowFixtureDf(s, dir))
    val sink = RunOnce(s.readStream.schema(windowSchema).json(landing)
      .withColumn("day", expr("ms DIV 86400000")),
      pins = RunOnce.Stateful, partitionBy = Seq("day"))
    val probeDay = sink.agg((min(col("day")) + 14L).as("probe_day"))
    sink.join(broadcast(probeDay), col("day") === col("probe_day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(amount * 100) AS BIGINT)")).as("cents"))
  }

  /** The shared keyed-append-stream scaffold: a JSON landing in, a
    * stateful transform, run once.
    */
  private def runAppendStream(s: SparkSession, landing: String,
      inSchema: StructType)(
      xform: DataFrame => org.apache.spark.sql.Dataset[_]): DataFrame =
    RunOnce(xform(s.readStream.schema(inSchema).json(landing)), pins = RunOnce.Stateful)

  /** Streaming twin of q_velocity_flags — the deployment shape of the
    * fraud rule: per-user keyed state holds only the last N-1 = 2 event
    * times (O(1), bounded regardless of history), and a qualifying
    * event emits its trigger AS IT ARRIVES. Within-batch rows fold in
    * (us, event_id) order and the time-ordered fixture keeps state
    * strictly older than each batch, so triggers equal the batch lag
    * window exactly; the readback re-aggregates to the batch output
    * shape and the batch oracle applies.
    */
  def streamVelocity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val span = graft.operators.SequenceOps.VelocitySpanUs
    val keep = graft.operators.SequenceOps.VelocityN - 1
    val landing = ensureJsonFixture(fixtureDir("funnel", dir, "events"),
      funnelFixtureDf(s, dir))
    runAppendStream(s, landing, funnelSchema) { src =>
      src.as[FunnelEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[FunnelEvent], state: GroupState[VelSt]) =>
            val evs = it.toArray.sortBy(e => (e.us, e.event_id))
            var ts = state.getOption.map(_.ts).getOrElse(Seq.empty)
            val out = scala.collection.mutable.ArrayBuffer.empty[VelHit]
            evs.foreach { e =>
              if (ts.length == keep && e.us - ts.head <= span)
                out += VelHit(uid, e.us)
              ts = (ts :+ e.us).takeRight(keep)
            }
            state.update(VelSt(ts))
            out.iterator
        }
    }.groupBy("user_id")
      .agg(count(lit(1)).as("n_bursts"), min(col("t")).as("first_burst_us"))
  }

  /** Streaming twin of q_ewma_flags — exponential smoothing as KEYED
    * STATE: each user's state is exactly (level, flag count, events
    * seen) — three longs, O(1) however long the stream runs — updated by
    * the same integer fold as the batch operator (e' = (e + x) DIV 2,
    * flag on |x - e| > jump). Events replay from an event_id-ordered
    * fixture and fold in event_id order within each batch, so the state
    * walk IS the batch fold; every batch snapshots the running triple
    * and the readback keeps each user's latest (max events-seen)
    * snapshot. The batch list_reduce oracle scores the result verbatim.
    */
  def streamEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val jump = graft.operators.FinanceOps.EwmaJumpCents
    val landing = ensureJsonFixture(fixtureDir("ewma", dir, "events"),
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .repartition(1).sortWithinPartitions(col("event_id")))
    val inSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("value", DoubleType)))
    runAppendStream(s, landing, inSchema) { src =>
      src.as[EwmaEvt]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[EwmaEvt], state: GroupState[EwmaSt]) =>
            val evs = it.toArray.sortBy(_.event_id)
            var st = state.getOption.getOrElse(EwmaSt(-1L, 0L, 0L))
            evs.foreach { e =>
              val c = math.round(e.value * 100)
              st =
                if (st.n == 0L) EwmaSt(c, 0L, 1L)
                else EwmaSt((st.level + c) / 2,
                  st.flags + (if (math.abs(c - st.level) > jump) 1L else 0L),
                  st.n + 1L)
            }
            state.update(st)
            Iterator.single(EwmaSnap(uid, st.n, st.level, st.flags))
        }
    }.groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("ewma_cents"), col("n_flags")),
        col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
        col("f.ewma_cents").as("ewma_cents"), col("f.n_flags").as("n_flags"))
  }

  /** STREAMING twin of q_cusum_flags: the identical integer CUSUM step
    * (s' = max(0, s + c - K); alarm + re-arm at s' >= H) as three-long
    * keyed state — O(1) per user forever, the q_stream_ewma shape. The
    * event_id-ordered fixture makes the state walk the batch fold;
    * per-batch snapshots with latest-wins readback, batch oracle
    * verbatim.
    */
  def streamCusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val K = graft.operators.FinanceOps.CusumKCents
    val H = graft.operators.FinanceOps.CusumHCents
    val landing = ensureJsonFixture(fixtureDir("cusum", dir, "events"),
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .repartition(1).sortWithinPartitions(col("event_id")))
    val inSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("value", DoubleType)))
    runAppendStream(s, landing, inSchema) { src =>
      src.as[CusumEvt]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[CusumEvt], state: GroupState[CusumSt]) =>
            val evs = it.toArray.sortBy(_.event_id)
            var st = state.getOption.getOrElse(CusumSt(0L, 0L, 0L))
            evs.foreach { e =>
              val c = math.round(e.value * 100)
              val s1 = math.max(0L, st.s + c - K)
              st =
                if (s1 >= H) CusumSt(0L, st.alarms + 1L, st.n + 1L)
                else CusumSt(s1, st.alarms, st.n + 1L)
            }
            state.update(st)
            Iterator.single(CusumSnap(uid, st.n, st.s, st.alarms))
        }
    }.groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("cusum_cents"), col("n_alarms")),
        col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
        col("f.cusum_cents").as("cusum_cents"), col("f.n_alarms").as("n_alarms"))
  }

  private val dqSchema = StructType(Seq(
    StructField("ms", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("amount", DoubleType)))

  /** STREAMING twin of the q_dq_checks pre-publish gate: the three
    * per-row violation indicators sum in ONE complete-mode global
    * aggregate across micro-batches (state = three longs + a count,
    * forever), and the readback unpivots the totals into the same
    * (check_name, n_violations, passed) rows the batch suite emits.
    * The type-whitelist check is the one with real violations ('error'
    * rows are the stream's dead-letter class); like the batch suite it
    * reports, never fails the stream.
    */
  def streamDq(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("dq", dir, "events"),
      Tables.events(s, dir)
        .select(unix_millis(col("ts")).as("ms"), col("user_id"),
          col("event_type"), col("value").as("amount"))
        .repartition(1).sortWithinPartitions(col("ms")))
    RunOnce(s.readStream.schema(dqSchema).json(landing)
      .agg(
        sum(when(expr("CAST(round(amount * 100) AS BIGINT)") < 1, 1L)
          .otherwise(0L)).as("v_nonpos"),
        sum(when(!col("event_type").isin("view", "click", "purchase", "signup"), 1L)
          .otherwise(0L)).as("t_bad"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("u_null")),
      "complete", RunOnce.Stateful)
      .selectExpr(
        """stack(3,
          | 'value_positive', v_nonpos,
          | 'type_whitelisted', t_bad,
          | 'user_id_present', u_null) AS (check_name, n_violations)""".stripMargin)
      .withColumn("passed", (col("n_violations") === 0L).cast("int"))
  }

  /** STREAMING twin of q_zipf_fit: per-(source, word) counts accumulate
    * in complete mode — state bounded by VOCABULARY × sources (the
    * q_stream_dsir bounded-feature-frame argument: word types, not
    * stream length), and the rank + fixed-point regression re-derives on
    * readback through the SHARED TextOps.zipfFromCounts arithmetic, so
    * the oracle IS q_zipf_fit's SQL.
    */
  def streamZipf(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextOps
    val landing = ensureJsonFixture(fixtureDir("zipf", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")))
    val out = RunOnce(s.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType)))).json(landing)
      .select(col("source"),
        explode(expr(graft.functions.PortableSql.tokens("text", duck = false))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq")),
      "complete", RunOnce.Stateful)
    TextOps.zipfFromCounts(out)
  }

  /** STREAMING twin of q_mix_waterfill — the mixture family's
    * accumulation form (every other LLM-pipeline family already has one;
    * VERDICT r11 Next #8): per-source TOKEN counts accumulate in
    * complete mode — state bounded by |domains| longs, the
    * q_stream_dsir argument — and the max-min-fair water-level
    * allocation re-derives on readback through the SHARED
    * MixOps.waterfillFromCounts arithmetic, so the oracle IS
    * q_mix_waterfill's SQL. Reuses the zipf landing fixture (same
    * (doc_id, source, text) payload).
    */
  def streamMix(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableSql.{alen, tokens}
    val landing = ensureJsonFixture(fixtureDir("zipf", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")))
    val out = RunOnce(s.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType)))).json(landing)
      .select(col("source"),
        expr(alen(tokens("text", duck = false), duck = false)).cast("long").as("n_toks"))
      .groupBy(col("source")).agg(sum(col("n_toks")).as("toks")),
      "complete", RunOnce.Stateful)
    graft.operators.MixOps.waterfillFromCounts(out)
  }

  /** STREAMING twin of q_eval_auc — the classifier-eval family's
    * accumulation form: documents are SCORED in-stream (the shared
    * quality formula, stateless per row) and only the per-distinct-score
    * (cnt, positives) cells accumulate in complete mode — state bounded
    * by |distinct score values| (≤ 1e6 micro levels, the
    * q_stream_dsir bounded-feature-frame argument), NOT stream length.
    * The rank-sum AUC re-derives on readback through the SHARED
    * EvalOps.aucFromCells arithmetic, so the oracle IS q_eval_auc's SQL.
    * The label rides the fixture (ground truth is input data; the
    * MODEL's score is what computes in-stream).
    */
  def streamEvalAuc(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("evalsc", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("text"), col("n_chars"),
        (col("lang") === "en").cast("long").as("y")))
    val src = s.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("n_chars", LongType), StructField("y", LongType)))).json(landing)
    val out = RunOnce(graft.operators.TextOps.qualityScore(src, keep = Seq("y"))
      .select(expr("CAST(round(quality * 1000000) AS BIGINT)").as("s"), col("y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos")),
      "complete", RunOnce.Stateful)
    graft.operators.EvalOps.aucFromCells(out)
  }

  /** STREAMING twin of q_eval_calibration — the reliability table
    * maintained live: documents scored in-stream (shared formula), only
    * the 10 per-decile (count, positives, score-sum) cells accumulate in
    * complete mode, the ppm table re-derived on readback through the
    * SHARED EvalOps.calibrationFromBuckets arithmetic — batch oracle.
    * Rides the same landing fixture as q_stream_eval_auc.
    */
  def streamCalibration(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("evalsc", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("text"), col("n_chars"),
        (col("lang") === "en").cast("long").as("y")))
    val src = s.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("n_chars", LongType), StructField("y", LongType)))).json(landing)
    val out = RunOnce(graft.operators.TextOps.qualityScore(src, keep = Seq("y"))
      .select(expr("CAST(round(quality * 1000000) AS BIGINT)").as("s"), col("y"))
      .groupBy(least(expr("s DIV 100000"), lit(9L)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("s")).as("s_sum")),
      "complete", RunOnce.Stateful)
    graft.operators.EvalOps.calibrationFromBuckets(out)
  }

  /** STREAMING twin of q_k_anonymity — the governance family's
    * accumulation form: per-quasi-identifier group counts accumulate in
    * complete mode as customer records arrive (state bounded by
    * |distinct QI tuples|, never stream length), and the one-row
    * release gate re-derives on readback through the SHARED
    * Governance.kAnonymityFromGroups arithmetic, so the oracle IS
    * q_k_anonymity's SQL — the privacy gate evaluated continuously as
    * the dimension loads instead of once at publish time.
    */
  def streamKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("kanon", dir, "customer"),
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")))
    val out = RunOnce(s.readStream.schema(StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_nationkey", org.apache.spark.sql.types.IntegerType),
        StructField("c_mktsegment", StringType)))).json(landing)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("gn")),
      "complete", RunOnce.Stateful)
    graft.operators.Governance.kAnonymityFromGroups(out)
  }

  /** STREAMING twin of q_l_diversity — the homogeneity-attack gate
    * evaluated continuously as enriched fact rows land: streaming
    * aggregation cannot countDistinct, so the state is the exact
    * (QI, sensitive) CELL counts (bounded by |QI| × |sensitive domain|,
    * here ≤ 125×5 — never stream length), and the readback folds cells
    * into per-group l/gn through the SHARED lDiversityFromSensCells
    * arithmetic, so the batch oracle scores the streamed gate verbatim.
    */
  def streamLDiversity(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("ldiv", dir, "orders"),
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderpriority").as("sens"))
        .join(broadcast(Tables.customer(s, dir).select(
            col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("sens")))
    val out = RunOnce(s.readStream.schema(StructType(Seq(
        StructField("c_nationkey", org.apache.spark.sql.types.IntegerType),
        StructField("c_mktsegment", StringType),
        StructField("sens", StringType)))).json(landing)
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("sens"))
      .agg(count(lit(1)).as("gn")),
      "complete", RunOnce.Stateful)
    graft.operators.Governance.lDiversityFromSensCells(out)
  }

  /** STREAMING twin of q_feat_hash's occurrence face — the hashing-trick
    * vectorizer's bucket counts kept fresh as documents land: tokens
    * explode and hash per row (stateless, codegen), the per-bucket
    * occurrence counts accumulate in complete mode (state = exactly
    * [[graft.operators.FeatureOps.HashBuckets]] longs — the POINT of the
    * hashing trick: no vocabulary state, fixed feature space, so the
    * streaming encoder never grows). Document-frequency and collision
    * diagnostics stay batch-side (distinct-per-bucket state would be
    * corpus-sized); this row carries its own bucket+count oracle.
    */
  def streamFeatHash(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("phrase", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
    RunOnce(s.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType)))).json(landing)
      .select(explode(split(col("text"), " ")).as("w"))
      .select(expr(s"${graft.functions.PortableSql.strHash("w")} % " +
        s"${graft.operators.FeatureOps.HashBuckets}").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens")),
      "complete", RunOnce.Stateful)
  }

  /** STREAMING twin of q_target_encode — the feature-encoder kept fresh
    * as fact rows land: per-category (n, sum_t) cells accumulate in
    * complete mode (state = |categories| pairs of longs, never stream
    * length) and the readback re-derives the smoothed encoding through
    * the SHARED FeatureOps.targetEncodeFromCells arithmetic, so the
    * batch oracle scores the streamed encoder verbatim. This is the
    * production shape of target encoding: the encoder table updates
    * continuously instead of being re-fit per training run.
    */
  def streamTargetEncode(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("tgtenc", dir, "orders"),
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("category"),
          (col("o_orderstatus") === "F").cast("long").as("t")))
    val out = RunOnce(s.readStream.schema(StructType(Seq(
        StructField("category", StringType),
        StructField("t", LongType)))).json(landing)
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("sum_t")),
      "complete", RunOnce.Stateful)
    graft.operators.FeatureOps.targetEncodeFromCells(out)
  }

  /** STREAMING twin of q_phrase_search — the positional matcher as a
    * STATELESS streaming pass: each arriving document maps through the
    * same bigram/filter projection (no state, no watermark — pure
    * per-row compute Catalyst keeps in codegen) and hits append to the
    * sink. Readback equals the batch scan, so the batch oracle applies
    * verbatim; at 100 TB this is the always-on content-match monitor
    * (alerting on phrase sightings in a landing stream).
    */
  def streamPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("phrase", dir, "documents"),
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
    RunOnce(graft.operators.TextOps.phraseSearch(
      s.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType)))).json(landing)))
  }

  /** STREAMING twin of q_markov_stationary: the transition PAIRS are
    * emitted from keyed state as events arrive — one string of state
    * per user forever (the last event type), each arrival emitting its
    * (prev, next) edge to the append sink — and the kernel + power
    * iteration re-derive on readback through the SHARED
    * SequenceOps.stationaryFromPairs arithmetic, so the oracle IS the
    * batch SQL. The (us, event_id)-ordered fixture makes the state walk
    * exactly the batch lag order.
    */
  def streamMarkov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val landing = ensureJsonFixture(fixtureDir("markov", dir, "events"),
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
        .repartition(1).sortWithinPartitions(col("us"), col("event_id")))
    val inSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("us", LongType), StructField("event_type", StringType)))
    val pairs = runAppendStream(s, landing, inSchema) { src =>
      src.as[MarkovEvt]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (_: Long, it: Iterator[MarkovEvt], state: GroupState[MarkovSt]) =>
            val evs = it.toArray.sortBy(e => (e.us, e.event_id))
            var last = state.getOption.map(_.last).orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[MarkovPair]
            evs.foreach { e =>
              if (last != null) out += MarkovPair(last, e.event_type)
              last = e.event_type
            }
            if (last != null) state.update(MarkovSt(last))
            out.iterator
        }
    }
    graft.operators.SequenceOps.stationaryFromPairs(pairs)
  }

  /** STREAMING twin of q_error_budget: per-day (n, n_err) counts
    * accumulate in complete mode (state = |days| pairs of longs —
    * calendar-bounded forever), and the cumulative burn re-derives on
    * readback through the SAME theta-join prefix arithmetic as the
    * batch audit, so the oracle IS q_error_budget's SQL.
    */
  def streamErrorBudget(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("dq", dir, "events"),
      Tables.events(s, dir)
        .select(unix_millis(col("ts")).as("ms"), col("user_id"),
          col("event_type"), col("value").as("amount"))
        .repartition(1).sortWithinPartitions(col("ms")))
    val d = RunOnce(s.readStream.schema(dqSchema).json(landing)
      .select(expr("ms DIV 86400000").as("day"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("err")).as("n_err")),
      "complete", RunOnce.Stateful)
    val budget = graft.operators.AuditOps.ErrorBudgetPpm
    d.as("a").join(d.as("b"), col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"))
      .agg(max(col("a.n")).as("n"), max(col("a.n_err")).as("n_err"),
        sum(col("b.n")).as("cum_n"), sum(col("b.n_err")).as("cum_err"))
      .select(col("day"), col("n"), col("n_err"),
        expr("n_err * 1000000 DIV n").as("day_err_ppm"),
        col("cum_n"), col("cum_err"),
        expr("cum_err * 1000000 DIV cum_n").as("burn_ppm"),
        expr(s"CAST(CASE WHEN cum_err * 1000000 DIV cum_n > $budget THEN 1 ELSE 0 END AS INT)")
          .as("over_budget"))
  }

  // ---------------------------------------------------------------------
  // Streaming SCD2 build: close the open interval when a version arrives
  // ---------------------------------------------------------------------

  private val scd2Schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("us", LongType),
    StructField("value", DoubleType)))

  private def scd2FixtureDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .repartition(1).sortWithinPartitions(col("us"), col("event_id"))

  /** Streaming twin of the batch q_scd2_intervals: each arriving version
    * CLOSES the user's open interval (emitting it with valid_to = the
    * new version's time) and opens its own; every batch also snapshots
    * the still-open interval so the final state reaches the sink. A
    * version's row can thus appear open (null valid_to) in one batch and
    * closed in a later one — the readback keeps max(valid_to) per
    * (user, version), which resolves to the closed row exactly because
    * an interval closes at most once. Version numbers are the per-user
    * arrival counter over the time-ordered fixture == the batch
    * row_number, so the batch oracle applies verbatim.
    */
  def streamScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val landing = ensureJsonFixture(fixtureDir("scd2", dir, "events"),
      scd2FixtureDf(s, dir))
    runAppendStream(s, landing, scd2Schema) { src =>
      src.as[Scd2Event]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[Scd2Event], state: GroupState[Scd2St]) =>
            val evs = it.toArray.sortBy(e => (e.us, e.event_id))
            var cur = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
            evs.foreach { e =>
              if (cur != null)
                out += Scd2Row(uid, cur.version, cur.from_us, Some(e.us),
                  cur.state, cur.value)
              cur = Scd2St(if (cur == null) 1L else cur.version + 1,
                e.us, e.event_type, e.value)
            }
            if (cur != null)
              out += Scd2Row(uid, cur.version, cur.from_us, None, cur.state, cur.value)
            state.update(cur)
            out.iterator
        }
    }.groupBy("user_id", "version")
      .agg(min(col("valid_from_us")).as("valid_from_us"),
        max(col("valid_to_us")).as("valid_to_us"),
        min(col("state")).as("state"), min(col("value")).as("value"))
      .select(col("user_id"), col("version"), col("valid_from_us"),
        col("valid_to_us"), col("state"), col("value"))
  }

  // ---------------------------------------------------------------------
  // Streaming KMV: mergeable distinct sketch accumulating across batches
  // ---------------------------------------------------------------------

  private val kmvSchema = StructType(Seq(
    StructField("flag", StringType),
    StructField("h", LongType)))

  /** Streaming twin of q_kmv_distinct: the bounded k-smallest-hash heap
    * accumulates per group in the aggregation state store across
    * micro-batches (the TypedImperativeAggregate serialize/merge path —
    * the q_stream_heavy pattern for a DISTINCT sketch instead of a
    * frequency one). K minimum values of a multiset are merge-order-
    * independent, so the batch oracle covers the streaming accumulation;
    * the exact distinct count joins in batch-side, as the MG audit does.
    */
  private val KmvM = 1000000007L

  private def kmvKeys(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), col("l_partkey").as("k"))
      .distinct()

  private def kmvFixtureDf(s: SparkSession, dir: String): DataFrame =
    kmvKeys(s, dir).select(col("flag"),
      expr(graft.functions.PortableSql.seedLadderSql("k", KmvM)).as("h")).distinct()

  def streamKmv(s: SparkSession, dir: String): DataFrame = {
    val M = KmvM
    val K = graft.operators.ShuffleOps.KmvK
    def keys = kmvKeys(s, dir)
    val landing = ensureJsonFixture(fixtureDir("kmv", dir, "lineitem"),
      kmvFixtureDf(s, dir))
    val est = RunOnce(s.readStream.schema(kmvSchema).json(landing)
      .groupBy("flag")
      .agg(graft.functions.TopKAggregate.topKRows(
          struct((-col("h")).cast("double").as("value"), col("h").as("id")), K)
          .as("top"),
        count(lit(1)).as("n_h")),
      "complete", RunOnce.Stateful)
      .select(col("flag"),
        when(col("n_h") < K, col("n_h"))
          .otherwise(expr(s"${K - 1}L * ${M}L DIV element_at(top, $K).id"))
          .as("kmv_est"))
    keys.groupBy("flag").agg(count(lit(1)).as("exact_d"))
      .join(est, "flag")
      .select(col("flag"), col("exact_d"), col("kmv_est"),
        (abs(col("kmv_est") - col("exact_d")).cast("double") /
          col("exact_d") <= 0.5).cast("int").as("within_4sigma"))
  }

  /** Streaming twin of q_kmv_overlap: the per-audience KMV heaps
    * accumulate in the aggregation state store across micro-batches
    * (exactly [[streamKmv]]'s serialize/merge path), and the final
    * snapshot feeds the SHARED pairwise estimator arithmetic
    * (ShuffleOps.kmvOverlapFromSketches), so a live dashboard reads the
    * same union/intersection/Jaccard estimates the batch audit computes.
    * K-minimum-values selection is merge-order-independent, so the batch
    * oracle covers the streamed accumulation; the exact-overlap audit
    * columns join in batch-side, as the MG and KMV audits do.
    */
  private def overlapFixtureDf(s: SparkSession, dir: String): DataFrame =
    graft.operators.ShuffleOps.overlapKeys(s, dir)
      .select(col("t"),
        expr(graft.functions.PortableSql.seedLadderSql(
          "u", graft.operators.ShuffleOps.KmvOverlapM)).as("h")).distinct()

  def streamOverlap(s: SparkSession, dir: String): DataFrame = {
    val K = graft.operators.ShuffleOps.KmvK
    def keys = graft.operators.ShuffleOps.overlapKeys(s, dir)
    val landing = ensureJsonFixture(fixtureDir("overlap", dir, "events"),
      overlapFixtureDf(s, dir))
    val sk = RunOnce(s.readStream.schema(StructType(Seq(
        StructField("t", StringType), StructField("h", LongType))))
      .json(landing)
      .groupBy("t")
      .agg(graft.functions.TopKAggregate.topKRows(
        struct((-col("h")).cast("double").as("value"), col("h").as("id")), K)
        .as("top")),
      "complete", RunOnce.Stateful)
      .select(col("t"), expr("transform(top, x -> x.id)").as("hs"))
    graft.operators.ShuffleOps.kmvOverlapFromSketches(sk, keys)
  }

  // ---------------------------------------------------------------------
  // Streaming funnel: per-user stage state via flatMapGroupsWithState
  // ---------------------------------------------------------------------

  private val funnelSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("us", LongType)))

  /** ONE fixture shared by q_stream_funnel and q_stream_attribution
    * (same fixtureDir key, so the definitions must be byte-identical —
    * hence the shared def): all events, exact integer micros, one file
    * in ascending (us, event_id) order.
    */
  private def funnelFixtureDf(s: SparkSession, dir: String) =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .repartition(1).sortWithinPartitions(col("us"), col("event_id"))

  /** Streaming twin of the batch q_funnel: per-user keyed state holds the
    * first qualifying view/click/purchase times; each micro-batch applies
    * THREE ORDERED PASSES (views, then clicks >= t1, then purchases >=
    * t2) over its rows, so within-batch arrival order never matters —
    * only event times do, exactly the batch semantics. Across batches the
    * fold is correct because the fixture is one file in ascending
    * event-time order: micro-batches are time-ordered, so a qualifying
    * stage-k event STRICTLY LATER than its stage-(k-1) event can never
    * sit in an earlier batch. The one case time-ordering does not cover
    * is a timestamp TIE split by a batch boundary (the fixture sorts
    * equal-time rows by event_id, so an equal-time click can precede its
    * view): state tracks the max click/purchase time seen regardless of
    * qualification, and a later-set threshold equal to that max
    * retro-qualifies at the threshold value — the batch `>=` semantics,
    * restored with O(1) state. Times stay exact integer MICROS
    * end-to-end — the batch oracle compares qualification with `>=` on
    * the same integers, so no truncation tie can diverge.
    */
  def funnelFrame(s: SparkSession, landing: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    s.readStream.schema(funnelSchema).json(landing).as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelSt]) =>
          val evs = it.toArray
          var st = state.getOption.getOrElse(FunnelSt(-1L, -1L, -1L))
          def minAtLeast(tpe: String, lo: Long): Long = {
            var m = Long.MaxValue
            evs.foreach { e =>
              if (e.event_type == tpe && e.us >= lo && e.us < m) m = e.us
            }
            if (m == Long.MaxValue) -1L else m
          }
          def maxOf(tpe: String, cur: Long): Long = {
            var m = cur
            evs.foreach(e => if (e.event_type == tpe && e.us > m) m = e.us)
            m
          }
          // Stage k qualifies from this batch (minAtLeast) OR from a
          // prior-batch timestamp tie: time-ordered batches mean a
          // prior-batch event time can only be <= the threshold, so the
          // max-seen time EQUALING the freshly set threshold is exactly
          // the retro-qualifying tie, at value == threshold.
          def qualify(fromBatch: Long, priorMax: Long, lo: Long): Long =
            if (priorMax == lo) lo
            else fromBatch
          if (st.t1 < 0) st = st.copy(t1 = minAtLeast("view", Long.MinValue))
          if (st.t1 >= 0 && st.t2 < 0)
            st = st.copy(t2 = qualify(minAtLeast("click", st.t1), st.maxClick, st.t1))
          if (st.t2 >= 0 && st.t3 < 0)
            st = st.copy(t3 = qualify(minAtLeast("purchase", st.t2), st.maxPurchase, st.t2))
          st = st.copy(maxClick = maxOf("click", st.maxClick),
            maxPurchase = maxOf("purchase", st.maxPurchase))
          state.update(st)
          Iterator(FunnelProgress(uid, st.t1, st.t2, st.t3))
      }.toDF()
  }

  def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("funnel", dir, "events"),
      funnelFixtureDf(s, dir))
    // stage times are set once and never change, so latest == max
    val fin = RunOnce(funnelFrame(s, landing), pins = RunOnce.Stateful).groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
    def stage(c: org.apache.spark.sql.Column, name: String) =
      fin.filter(c >= 0).agg(count(lit(1)).as("users"))
        .select(lit(name).as("stage"), col("users"))
    stage(col("t1"), "1_view").unionByName(stage(col("t2"), "2_click"))
      .unionByName(stage(col("t3"), "3_purchase"))
  }

  /** Streaming twin of the batch q_attribution: per-user keyed state
    * holds the latest click; each purchase emits its credit AS IT
    * ARRIVES (the serving shape — attribution lands in the sink with
    * the purchase, not in a nightly join). Within a batch the group's
    * rows fold in (us, event_id) order — exactly the batch window's
    * ORDER BY — and across batches the time-ordered fixture keeps
    * state strictly older than the batch, so the running
    * last(click, ignoreNulls) semantics reproduce verbatim.
    */
  def streamAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val landing = ensureJsonFixture(fixtureDir("funnel", dir, "events"),
      funnelFixtureDf(s, dir))
    runAppendStream(s, landing, funnelSchema) { src =>
      src.as[FunnelEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[FunnelEvent], state: GroupState[ClickSt]) =>
            val evs = it.toArray.sortBy(e => (e.us, e.event_id))
            var last = state.getOption.map(_.click_id).getOrElse(-1L)
            val out = scala.collection.mutable.ArrayBuffer.empty[Attributed]
            evs.foreach { e =>
              if (e.event_type == "click") last = e.event_id
              else if (e.event_type == "purchase")
                out += Attributed(uid, e.event_id, if (last < 0) None else Some(last))
            }
            state.update(ClickSt(last))
            out.iterator
        }
    }.select(col("user_id"), col("purchase_id"), col("click_id"))
  }

  // ---------------------------------------------------------------------
  // CDC upsert sink: keyed MERGE maintained across micro-batches
  // ---------------------------------------------------------------------

  private val upsertSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_acctbal", DoubleType),
    StructField("seq", LongType)))

  /** Change stream: every customer's base row at seq 0, an update for
    * keys %5==0 at seq 1, another for %10==0 at seq 2 — one file in
    * ascending seq order ((key, seq) unique, so latest-wins is
    * deterministic under any batch split).
    */
  private def upsertFixtureDf(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"), lit(0L).as("seq"))
    val v1 = base.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .withColumn("seq", lit(1L))
    val v2 = base.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 250.0)
      .withColumn("seq", lit(2L))
    base.unionByName(v1).unionByName(v2)
      .repartition(1).sortWithinPartitions(col("seq"), col("c_custkey"))
  }

  /** Streaming CDC upsert sink — the third leg of the upsert trio
    * (batch SCD1 `q_dim_upsert`, interval SCD2 `q_scd2_intervals`): a
    * keyed latest-wins MERGE maintained across micro-batches in
    * foreachBatch. State versions are written per batch id
    * (state_v{bid}), which makes a replayed batch overwrite its own
    * version — the same batch-id idempotence contract as the ingest
    * sink — and latest-per-key of a union is itself replay-idempotent.
    * Without an ACID table format the merge is read-previous + write-
    * next (a lakehouse MERGE with file pruning at scale); the SHAPE —
    * per-key window over prev ∪ batch, one shuffle on the key — is the
    * deployment plan.
    */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val landing = ensureJsonFixture(fixtureDir("upsert", dir, "customer"),
      upsertFixtureDf(s, dir))
    val lastBid = new java.util.concurrent.atomic.AtomicLong(-1L)
    val tmp = RunOnce.await(s, RunOnce.Stateful) { d =>
      s.readStream.schema(upsertSchema).json(landing)
        .writeStream
        .foreachBatch { (df: DataFrame, bid: Long) =>
          val ss = df.sparkSession
          val prev =
            if (bid == 0) df.limit(0)
            else ss.read.schema(upsertSchema).parquet(s"$d/state_v${bid - 1}")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("c_custkey")).orderBy(col("seq").desc)
          prev.unionByName(df)
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
            .write.mode("overwrite").parquet(s"$d/state_v$bid")
          lastBid.set(math.max(lastBid.get, bid))
        }
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.read.schema(upsertSchema).parquet(s"$tmp/state_v${lastBid.get}")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_funnel" -> ((s, dir) => streamFunnel(s, dir)),
    "q_stream_attribution" -> ((s, dir) => streamAttribution(s, dir)),
    "q_stream_kmv" -> ((s, dir) => streamKmv(s, dir)),
    "q_stream_overlap" -> ((s, dir) => streamOverlap(s, dir)),
    "q_stream_scd2" -> ((s, dir) => streamScd2(s, dir)),
    "q_stream_velocity" -> ((s, dir) => streamVelocity(s, dir)),
    "q_stream_part_sink" -> ((s, dir) => streamPartitionedSink(s, dir)),
    "q_stream_hopping" -> ((s, dir) => streamHopping(s, dir)),
    "q_stream_upsert" -> ((s, dir) => streamUpsert(s, dir)),
    "q_stream_topk" -> ((s, dir) => streamTopK(s, dir)),
    "q_stream_session" -> ((s, dir) => streamSession(s, dir)),
    "q_stream_heavy" -> ((s, dir) => streamHeavyHitters(s, dir)),
    "q_stream_heavy_source" -> ((s, dir) => streamHeavyPerSource(s, dir)),
    "q_stream_dedup" -> ((s, dir) => streamDedup(s, dir)),
    "q_stream_window" -> ((s, dir) => streamWindow(s, dir)),
    "q_stream_enrich" -> ((s, dir) => streamEnrich(s, dir)),
    "q_stream_passthrough" -> ((s, dir) => streamPassThrough(s, dir)),
    "q_stream_join" -> ((s, dir) => streamStreamJoin(s, dir)),
    "q_stream_left_join" -> ((s, dir) => streamLeftJoin(s, dir)),
    "q_stream_full_join" -> ((s, dir) => streamFullJoin(s, dir)),
    "q_stream_ohlc" -> ((s, dir) => streamOhlc(s, dir)),
    "q_stream_benford" -> ((s, dir) => streamBenford(s, dir)),
    "q_stream_media_audit" -> ((s, dir) => streamMediaAudit(s, dir)),
    "q_stream_ewma" -> ((s, dir) => streamEwma(s, dir)),
    "q_stream_cusum" -> ((s, dir) => streamCusum(s, dir)),
    "q_stream_bitmap" -> ((s, dir) => streamBitmap(s, dir)),
    "q_stream_dq" -> ((s, dir) => streamDq(s, dir)),
    "q_stream_error_budget" -> ((s, dir) => streamErrorBudget(s, dir)),
    "q_stream_zipf" -> ((s, dir) => streamZipf(s, dir)),
    "q_stream_mix" -> ((s, dir) => streamMix(s, dir)),
    "q_stream_eval_auc" -> ((s, dir) => streamEvalAuc(s, dir)),
    "q_stream_kanon" -> ((s, dir) => streamKAnonymity(s, dir)),
    "q_stream_target_encode" -> ((s, dir) => streamTargetEncode(s, dir)),
    "q_stream_ldiv" -> ((s, dir) => streamLDiversity(s, dir)),
    "q_stream_feat_hash" -> ((s, dir) => streamFeatHash(s, dir)),
    "q_stream_phrase" -> ((s, dir) => streamPhraseSearch(s, dir)),
    "q_stream_calibration" -> ((s, dir) => streamCalibration(s, dir)),
    "q_stream_markov" -> ((s, dir) => streamMarkov(s, dir)),
    "q_stream_drift" -> ((s, dir) => streamDrift(s, dir)),
    "q_stream_dsir" -> ((s, dir) => streamDsir(s, dir)),
    "q_stream_topics" -> ((s, dir) => streamTopics(s, dir)),
    "q_stream_winnow" -> ((s, dir) => streamWinnow(s, dir)),
    "q_stream_dedup_incr" -> ((s, dir) => streamIncrementalDedup(s, dir)),
    "q_stream_entity_incr" -> ((s, dir) => streamEntityPairs(s, dir)),
    "q_stream_er_fs" -> ((s, dir) => streamErFs(s, dir)),
    "q_stream_interval_join" -> ((s, dir) => streamIntervalJoin(s, dir)),
    "q_stream_dedup_ttl" -> ((s, dir) => streamDedupTtl(s, dir))
  )

  def oracleSql: Map[String, String] = Map(
    // Streaming MG accumulation: merge-order-independent guarantees, so
    // the batch invariant row IS the oracle.
    "q_stream_heavy" -> graft.operators.ShuffleOps.oracleSql("q_heavy_hitters"),

    // grouped MG accumulation: per-group guarantees are merge-order-
    // independent too, so the batch per-source invariant rows cover it
    "q_stream_heavy_source" -> graft.operators.ShuffleOps.oracleSql("q_heavy_per_source"),

    // per-row print selection + count accumulation replayed over the full
    // corpus == the batch winnow profile, so its oracle applies verbatim
    "q_stream_winnow" -> graft.operators.TextOps.oracleSql("q_text_winnow"),

    // streamed banding + broadcast standing index + batch-kernel verify
    // reproduce the batch incremental pair generator exactly
    "q_stream_dedup_incr" -> graft.operators.DedupOps.oracleSql("q_dedup_incr"),
    "q_stream_entity_incr" -> graft.operators.StringSimOps.entityIncrPairsSql,
    "q_stream_er_fs" -> graft.operators.StringSimOps.fsStreamSql,

    // the time-ordered fixture + three-pass state update reproduce the
    // batch funnel semantics exactly (see streamFunnel), so the batch
    // oracle covers the streaming accumulation
    "q_stream_funnel" -> graft.operators.SequenceOps.oracleSql("q_funnel"),

    // per-purchase emission under time-ordered batches == the batch
    // running-window attribution (see streamAttribution)
    "q_stream_attribution" -> graft.operators.SequenceOps.oracleSql("q_attribution"),

    // k-minimum-values selection is merge-order-independent: the batch
    // KMV oracle covers the streaming heap accumulation
    "q_stream_kmv" -> graft.operators.ShuffleOps.oracleSql("q_kmv_distinct"),

    // same merge-order-independence argument, pairwise form: the batch
    // overlap oracle covers the state-store sketch accumulation
    "q_stream_overlap" -> graft.operators.ShuffleOps.oracleSql("q_kmv_overlap"),

    // arrival-counter versions over the time-ordered fixture == the
    // batch row_number windows, so the batch SCD2 oracle applies
    "q_stream_scd2" -> graft.operators.Analytics.oracleSql("q_scd2_intervals"),

    // O(1) ring-buffer state over time-ordered batches == the batch lag
    "q_stream_velocity" -> graft.operators.SequenceOps.oracleSql("q_velocity_flags"),

    // day partitions must carry exactly the source's rows: the oracle
    // aggregates the same derived probe day from the source table
    "q_stream_part_sink" ->
      """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day, value FROM events),
        | p AS (SELECT min(day) + 14 AS probe_day FROM e)
        |SELECT count(*) AS n_rows,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM e, p WHERE day = probe_day""".stripMargin,

    // sliding windows: series-join reconstruction + the same watermark
    // emission gate as q_stream_window (end <= max event time - delay)
    "q_stream_hopping" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, value FROM events),
        | mx AS (SELECT max(ms) AS max_ms FROM e),
        | w AS (SELECT (ms // 600000 - k) * 600000 AS start_ms, value, max_ms
        |   FROM e, mx CROSS JOIN generate_series(0, 2) s(k))
        |SELECT start_ms AS window_start_ms,
        | CAST(count(*) AS BIGINT) AS n_txns,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM w
        |GROUP BY 1, max_ms
        |HAVING start_ms + 1800000 <= max_ms - 600000""".stripMargin,

    // top-k selection is merge-order-independent: the batch window
    // oracle covers the streaming accumulation
    "q_stream_topk" -> graft.operators.Analytics.oracleSql("q_topk_group"),

    // CDC upsert: the merged end state is latest-per-key of the full
    // change relation.
    "q_stream_upsert" ->
      """WITH chg AS (
        |  SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT) AS seq FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 100.0, 1 FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 250.0, 2 FROM customer WHERE c_custkey % 10 = 0)
        |SELECT c_custkey, c_acctbal, seq FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY seq DESC) AS rn FROM chg) t
        |WHERE rn = 1""".stripMargin,

    // S9: no transform — streamed sink == source table.
    "q_stream_passthrough" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",

    // Bounded-state dedup: every planted +1s duplicate is inside the
    // watermark and dropped, originals have globally unique event_ids —
    // so the surviving set is exactly the base projection.
    "q_stream_dedup_ttl" ->
      "SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events",

    // Stream-stream inner join == the batch join (integer ms arithmetic).
    "q_stream_join" ->
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS p_ms,
        |   event_id AS purchase_event_id
        |  FROM events WHERE event_type = 'purchase'),
        | c AS (SELECT user_id AS c_user_id, epoch_ms(ts) AS c_ms,
        |   event_id AS click_event_id
        |  FROM events WHERE event_type = 'click')
        |SELECT user_id, p_ms, purchase_event_id, c_ms, click_event_id
        |FROM p JOIN c ON user_id = c_user_id
        | AND c_ms <= p_ms AND c_ms >= p_ms - 300000""".stripMargin,

    // The full relational left outer join: the sentinel batch advances
    // the global watermark past every real event and AvailableNow runs
    // the trailing stateful-cleanup batch (verified: the last in-window
    // unmatched purchase DOES emit), so every unmatched purchase
    // surfaces with NULL click. Sentinel rows are filtered engine-side
    // (user_id >= 0) and never generated here.
    "q_stream_left_join" ->
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS p_ms,
        |   event_id AS purchase_event_id
        |  FROM events WHERE event_type = 'purchase'),
        | c AS (SELECT user_id AS c_user_id, epoch_ms(ts) AS c_ms,
        |   event_id AS click_event_id
        |  FROM events WHERE event_type = 'click')
        |SELECT user_id, p_ms, purchase_event_id, c_ms, click_event_id
        |FROM p LEFT JOIN c ON user_id = c_user_id
        | AND c_ms <= p_ms AND c_ms >= p_ms - 300000""".stripMargin,

    // Both null-emission directions of the watermark-evicted outer join
    // (see q_stream_left_join for the sentinel completeness argument).
    "q_stream_full_join" ->
      """WITH p AS (SELECT user_id AS p_user_id, epoch_ms(ts) AS p_ms,
        |   event_id AS purchase_event_id
        |  FROM events WHERE event_type = 'purchase'),
        | c AS (SELECT user_id AS c_user_id, epoch_ms(ts) AS c_ms,
        |   event_id AS click_event_id
        |  FROM events WHERE event_type = 'click')
        |SELECT coalesce(p_user_id, c_user_id) AS user_id, p_ms,
        | purchase_event_id, c_ms, click_event_id
        |FROM p FULL JOIN c ON p_user_id = c_user_id
        | AND c_ms <= p_ms AND c_ms >= p_ms - 300000""".stripMargin,

    // Complete hourly bars (sentinel-flushed): the same tie-deterministic
    // open/close selection as q_ohlc_bars' batch oracle, per event_type.
    "q_stream_ohlc" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) AS ms, event_id,
        |   CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        | r AS (SELECT event_type, (ms // 3600000) * 3600000 AS window_start_ms,
        |   cents,
        |   row_number() OVER (PARTITION BY event_type, ms // 3600000
        |     ORDER BY ms, event_id) AS rn,
        |   count(*) OVER (PARTITION BY event_type, ms // 3600000) AS n
        |  FROM e)
        |SELECT event_type, window_start_ms,
        | CAST(max(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS open_cents,
        | CAST(max(cents) AS BIGINT) AS high_cents,
        | CAST(min(cents) AS BIGINT) AS low_cents,
        | CAST(max(CASE WHEN rn = n THEN cents END) AS BIGINT) AS close_cents,
        | CAST(sum(cents) AS BIGINT) AS volume_cents,
        | count(*) AS n_trades
        |FROM r GROUP BY 1, 2""".stripMargin,

    // The streaming == batch invariant made literal: complete-mode digit
    // counts scored through the same arithmetic as the batch audit.
    "q_stream_benford" -> graft.operators.FinanceOps.oracleSql("q_benford"),
    // full-replay equivalence: the stream's final snapshot IS the batch
    // dead-letter histogram
    "q_stream_media_audit" -> graft.operators.Audio.oracleSql("q_media_deadletter"),
    // keyed-state fold == the batch sequential fold (same integer step,
    // same event_id order), so the batch oracle scores the snapshot
    "q_stream_ewma" -> graft.operators.FinanceOps.oracleSql("q_ewma_flags"),
    "q_stream_cusum" -> graft.operators.FinanceOps.oracleSql("q_cusum_flags"),
    "q_stream_bitmap" -> graft.operators.ShuffleOps.oracleSql("q_bitmap_distinct"),
    "q_stream_error_budget" -> graft.operators.AuditOps.oracleSql("q_error_budget"),
    "q_stream_zipf" -> graft.operators.TextOps.oracleSql("q_zipf_fit"),
    "q_stream_mix" -> graft.operators.MixOps.oracleSql("q_mix_waterfill"),
    "q_stream_eval_auc" -> graft.operators.EvalOps.oracleSql("q_eval_auc"),
    "q_stream_kanon" -> graft.operators.Governance.oracleSql("q_k_anonymity"),
    // complete-mode cell accumulation + shared encode arithmetic on
    // readback == the batch encoder, so its oracle applies verbatim
    "q_stream_target_encode" -> graft.operators.FeatureOps.oracleSql("q_target_encode"),
    // exact (QI, sens) cell accumulation + shared fold on readback == the
    // batch gate, so its oracle applies verbatim
    "q_stream_ldiv" -> graft.operators.Governance.oracleSql("q_l_diversity"),
    // complete-mode occurrence accumulation over the corpus replay == the
    // batch hashing-trick counts; the bucket+count face carries its own
    // oracle (df/collision diagnostics stay batch-side by design)
    "q_stream_feat_hash" -> {
      val fh = graft.functions.PortableSql.strHash("w")
      s"""WITH tok AS (SELECT $fh % ${graft.operators.FeatureOps.HashBuckets} AS bucket
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w
         |        FROM documents) t)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
         |FROM tok GROUP BY bucket""".stripMargin
    },
    // stateless per-row projection replayed over the corpus == the batch
    // positional scan
    "q_stream_phrase" -> graft.operators.TextOps.oracleSql("q_phrase_search"),
    "q_stream_calibration" -> graft.operators.EvalOps.oracleSql("q_eval_calibration"),
    "q_stream_markov" -> graft.operators.SequenceOps.oracleSql("q_markov_stationary"),
    "q_stream_dq" ->
      """WITH base AS (SELECT
        |  sum(CASE WHEN CAST(round(value * 100) AS BIGINT) < 1
        |    THEN 1 ELSE 0 END) AS v_nonpos,
        |  sum(CASE WHEN event_type NOT IN ('view', 'click', 'purchase', 'signup')
        |    THEN 1 ELSE 0 END) AS t_bad,
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS u_null
        | FROM events),
        | rows_ AS (
        |  SELECT 'value_positive' AS check_name,
        |    CAST(v_nonpos AS BIGINT) AS n_violations FROM base
        |  UNION ALL SELECT 'type_whitelisted', CAST(t_bad AS BIGINT) FROM base
        |  UNION ALL SELECT 'user_id_present', CAST(u_null AS BIGINT) FROM base)
        |SELECT check_name, n_violations,
        | CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
        |FROM rows_""".stripMargin,
    "q_stream_drift" -> graft.operators.AuditOps.oracleSql("q_drift_audit"),

    // Streamed bucket counts over a full corpus replay must equal the
    // batch pool statistics (count accumulation is associative), so the
    // oracle is the batch DSIR bucket-stats arithmetic verbatim.
    "q_stream_dsir" -> {
      import graft.functions.PortableSql.{strHash, tokens, trigramsAll, xform}
      import graft.operators.CorpusOps
      val gramsOcc = trigramsAll(tokens("text", duck = true), duck = true)
      val hsOcc = xform("grams", "g", strHash("g"), duck = true)
      s"""WITH ex AS (SELECT source, unnest(hs) % ${CorpusOps.DsirBuckets} AS bucket
         |  FROM (SELECT source, $hsOcc AS hs
         |   FROM (SELECT source, $gramsOcc AS grams FROM documents) g0) g1),
         | bs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cs,
         |   CAST(sum(CASE WHEN source = '${CorpusOps.DsirTarget}' THEN 1 ELSE 0 END)
         |     AS BIGINT) AS ct
         |  FROM ex GROUP BY 1),
         | t AS (SELECT CAST(sum(cs) AS BIGINT) AS tot_s,
         |   CAST(sum(ct) AS BIGINT) AS tot_t FROM bs)
         |SELECT bucket, cs AS n_live, ${CorpusOps.dsirLrbSql} AS lrb,
         | cs * ${CorpusOps.dsirLrbSql} AS w_bits
         |FROM bs CROSS JOIN t""".stripMargin
    },

    // Frozen-centroid per-row assignment replays the batch argmax
    // exactly (identical normalization, dot, rounding, tie-break), so
    // the batch topic-mix oracle scores the streamed contingency rollup.
    "q_stream_topics" -> graft.operators.VectorOps.oracleSql("q_topic_mix"),

    // The naive band join the bucketed stream-static plan replaces.
    "q_stream_interval_join" ->
      """WITH w AS (SELECT event_id AS win_id,
        |   epoch_ms(ts) // 86400000 AS d0
        |  FROM events WHERE event_id % 97 = 0),
        | c AS (SELECT win_id, count(*) AS n
        |  FROM w JOIN events e
        |    ON epoch_ms(e.ts) // 86400000 BETWEEN d0 AND d0 + 1
        |  GROUP BY 1)
        |SELECT w.win_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |FROM w LEFT JOIN c ON w.win_id = c.win_id""".stripMargin,

    // Streaming dropDuplicates over key-only records == batch DISTINCT.
    "q_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // Watermark gate in integer ms: window emitted iff
    // window_end <= max(event time) - 10 min. epoch_ms matches Spark's
    // unix_millis truncation (proven by q_sessionize), and the ms-level
    // comparison is exactly Spark's micros-level one because window
    // bounds are whole ms.
    "q_stream_window" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, value FROM events),
        | mx AS (SELECT max(ms) AS max_ms FROM e)
        |SELECT (ms // 300000) * 300000 AS window_start_ms,
        | CAST(count(*) AS BIGINT) AS n_txns,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM e, mx
        |GROUP BY 1, max_ms
        |HAVING (ms // 300000) * 300000 + 300000 <= max_ms - 600000""".stripMargin,

    // Per-user gap sessions behind the same watermark gate as
    // q_stream_window; >= split matches the half-open session window.
    "q_stream_session" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events),
        | mx AS (SELECT max(tms) AS max_ms FROM e),
        | g AS (SELECT user_id, event_id, tms,
        |   CASE WHEN lag(tms) OVER w IS NULL
        |     OR tms - lag(tms) OVER w >= 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
        | s2 AS (SELECT user_id, tms,
        |   sum(is_new) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |     ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT user_id, CAST(min(tms) AS BIGINT) AS start_ms,
        | CAST(max(tms) + 1800000 AS BIGINT) AS end_ms,
        | count(*) AS n_events
        |FROM s2, mx GROUP BY user_id, sid, max_ms
        |HAVING max(tms) + 1800000 <= max_ms - 600000""".stripMargin,

    // Stream-static broadcast enrich == batch equi-join.
    "q_stream_enrich" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin
  )
}
