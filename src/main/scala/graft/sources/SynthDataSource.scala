package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportOrdering, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A full DataSource V2 connector — the custom-SOURCE extension tier next
  * to the custom physical operator (`plans/AsofJoinNative`), the Catalyst
  * rule (`plans/RangeJoinRewrite`), and the codegen expressions: a
  * deterministic synthetic-transactions table materialized BY THE SOURCE
  * itself (the reference's Python generators re-expressed as a first-class
  * Spark table — at 100 TB a load test or backfill generates data on the
  * executors, never through a driver loop or an external file drop).
  *
  * What makes it a real connector rather than a demo:
  *   - PARTITION PLANNING: the id domain splits into `slices` ranges, one
  *     `InputPartition` each — 1000 executors get 1000 independent
  *     generators, zero shuffle, zero skew (equal ranges).
  *   - COLUMN PRUNING (`SupportsPushDownRequiredColumns`): the reader
  *     materializes ONLY the pruned schema — an unreferenced wide payload
  *     column costs nothing (`SynthSourceSpec` pins the pruned scan
  *     schema and the payload-skip).
  *   - FILTER PUSHDOWN (`SupportsPushDownFilters`): id-range predicates
  *     (>, >=, <, <=, =) tighten the generated ranges BEFORE planning, so
  *     a filtered read plans fewer/smaller partitions instead of
  *     generate-then-discard (pinned by spec: pushed filters don't
  *     re-evaluate post-scan).
  *
  * Row content rides the engine-wide Knuth ladder
  * ([[graft.functions.PortableSql.seedLadder]]), so the DuckDB oracle
  * reproduces every generated cell from `generate_series` + the same
  * arithmetic.
  *
  * Usage: `spark.read.format("graft.sources.SynthDataSource")
  *   .option("rows", n).option("slices", k).load()`.
  */
class SynthDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getLong("bucketWidth", 0L) > 0L) SynthDataSource.BucketedSchema
    else SynthDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SynthTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("slices", "8").toInt,
      properties.getOrDefault("bucketWidth", "0").toLong)
}

object SynthDataSource {
  /** id + ladder-derived facts + a deliberately wide payload column whose
    * only job is to be pruned away.
    */
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("amount_cents", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  val Channels: Seq[String] = Seq("web", "pos", "upi", "bank", "app")

  /** With `bucketWidth` set the table also exposes its PHYSICAL layout
    * key `bucket = id DIV bucketWidth`: partitions align to bucket
    * boundaries, so every partition holds exactly one bucket value and
    * the scan can report KeyGroupedPartitioning over it (the
    * storage-partitioned-table contract — Iceberg/Delta bucketed tables
    * report the same way).
    */
  val BucketedSchema: StructType = StructType(
    Schema.fields :+ StructField("bucket", LongType, nullable = false))

  /** The bucketWidth sizing rule for key-grouped reads (the analogue of
    * VectorOps.bitsForCorpusSize): partitions are one bucket each, so
    * width = rows-per-task — pick it so a partition is task-sized and
    * the bucket COUNT grows linearly with the domain (1000 executors get
    * ~domain/width independent tasks; at 100 TB you budget width from
    * target task seconds, not from a fixed partition count). Floors at
    * 1; callers pin the registry constants for the static oracles.
    */
  def bucketWidthForDomain(domainRows: Long, targetRowsPerTask: Long = 62500L): Long =
    math.max(1L, math.min(domainRows, targetRowsPerTask))

  /** Spec ledger: partition count of the LAST planInputPartitions call on
    * a batch SynthScan — how SynthSourceSpec proves a runtime-filtered
    * scan planned fewer partitions than the unfiltered one (the harness
    * runs queries sequentially, so last-write is the one under test).
    */
  val lastPlannedPartitions = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Storage-partitioned-scan planner confs: the body plans and EAGERLY
    * materializes (localCheckpoint) under [[graft.RunOnce.withConf]], so
    * the returned frame is plain data and no plan-shape state leaks into
    * later harness queries. The confs are plan-shape only (results
    * identical either way).
    */
  def withBucketingConfs(s: org.apache.spark.sql.SparkSession,
      pushPartValues: Boolean = false, disableBroadcast: Boolean = false)(
      body: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pushed = if (!pushPartValues) Map.empty[String, String] else Map(
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      // join keys strictly containing the partition key still co-locate
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    // a storage-partitioned-join demo row must not dissolve into a
    // broadcast at test SF: the pin keeps the co-partitioned plan
    val noBroadcast = if (!disableBroadcast) Map.empty[String, String]
      else Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.RunOnce.withConf(s,
        Map("spark.sql.sources.v2.bucketing.enabled" -> "true") ++ pushed ++ noBroadcast) {
      body.localCheckpoint()
    }
  }

  def hash(id: Long): Long = graft.functions.PortableSql.seedLadder(id)
  def channel(id: Long): String = Channels((hash(id) % 5L).toInt)
  def amountCents(id: Long): Long = hash(id) % 100000L + 1L

  /** The generated-cell arithmetic as a DuckDB fragment over an `id`
    * column — the oracle side of every q_dsv2_* query.
    */
  def oracleCells(idCol: String): String = {
    val h = graft.functions.PortableSql.seedLadderSql(idCol)
    val ch = Channels.zipWithIndex.init
      .map { case (c, i) => s"WHEN ($h) % 5 = $i THEN '$c'" }
      .mkString("CASE ", " ", s" ELSE '${Channels.last}' END")
    s"$ch AS channel, CAST(($h) % 100000 + 1 AS BIGINT) AS amount_cents"
  }

  /** Channel rollup over a pushed id-range read: the filter reaches the
    * source as pruned generation ranges (never generate-then-discard)
    * and the payload column is pruned out of the scan entirely — both
    * pinned in SynthSourceSpec; this registry row scores the generated
    * CONTENT against the ladder arithmetic replayed in DuckDB.
    */
  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "q_dsv2_source" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.SynthDataSource")
        .option("rows", "60000").option("slices", "32").load()
        .filter(col("id") >= 1000L && col("id") < 50000L)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"))
    }),

    // AGGREGATE pushdown: the grouped rollup folds inside the source
    // readers (≤5 cells per partition out of the scan, never 50k rows);
    // SynthSourceSpec pins the SynthAggScan plan + partial-row bound
    "q_dsv2_agg" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.SynthDataSource")
        .option("rows", "60000").option("slices", "32").load()
        .filter(col("id") >= 5000L && col("id") < 55000L)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"),
          min(col("amount_cents")).as("lo_cents"),
          max(col("amount_cents")).as("hi_cents"))
    }),

    // LIMIT pushdown: the generator stops at exactly lo+n — the scan
    // range tightens to [1000, 21000) instead of generate-then-discard
    // (plan pinned in SynthSourceSpec); deterministic because ids stream
    // in order, so "any 20000 rows" IS the first 20000 ids
    "q_dsv2_limit" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.SynthDataSource")
        .option("rows", "60000").option("slices", "32").load()
        .filter(col("id") >= 1000L)
        .limit(20000)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"))
    }),

    // STATS-DRIVEN JOIN: the filtered synth read reports its exact
    // post-pushdown size (SupportsReportStatistics), so the planner
    // broadcasts it against the orders fact instead of shuffling both
    // sides — the custom source participating in join planning like a
    // native table (broadcast choice pinned in SynthSourceSpec)
    "q_dsv2_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val synth = s.read.format("graft.sources.SynthDataSource")
        .option("rows", "60000").option("slices", "8").load()
        .filter(col("id") >= 1L && col("id") < 3000L)
        .select(col("id"), col("channel"), col("amount_cents"))
      graft.Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .join(synth, col("o_orderkey") === col("id"))
        .groupBy(col("channel"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"))
    }),

    // REPORTED PARTITIONING (SupportsReportPartitioning): the bucketed
    // read plans one partition per `bucket = id DIV 2000` and reports
    // KeyGroupedPartitioning(bucket), so this GROUP BY bucket rollup
    // plans with NO Exchange anywhere — the partial/final aggregate runs
    // inside the scan's own partitions (exchange-freedom pinned in
    // SynthSourceSpec). The un-aligned id range exercises clipped edge
    // buckets. The sum-of-expression aggregate is deliberately
    // non-pushable, keeping this row the SPARK-SIDE-aggregate
    // demonstration (its fully pushed twin is q_dsv2_part_agg_pushed).
    "q_dsv2_part_agg" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      withBucketingConfs(s) {
        s.read.format("graft.sources.SynthDataSource")
          .option("rows", "60000").option("bucketWidth", "2000").load()
          .filter(col("id") >= 4500L && col("id") < 51500L)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("amount_cents") * 2L).as("cents2"),
            max(col("amount_cents")).as("hi_cents"))
      }
    }),

    // THE CAPABILITIES COMPOSED: aggregate pushdown GROUPED BY THE
    // PARTITION KEY — each bucket-aligned partition folds its range into
    // ONE (bucket, count, sum, min, max) cell inside the reader: the
    // scan emits exactly |buckets| rows (24 here) instead of 47k. The
    // residual merge exchange therefore moves one ROW per bucket — a
    // constant-size shuffle regardless of data volume (Spark's pushed-agg
    // rewrite aliases the group column, which currently defeats
    // alias-propagation of the scan's KeyGroupedPartitioning; the
    // non-pushed twin q_dsv2_part_agg shows the fully exchange-free
    // plan). Plan + one-cell-per-partition bound pinned in
    // SynthSourceSpec.
    "q_dsv2_part_agg_pushed" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      withBucketingConfs(s) {
        s.read.format("graft.sources.SynthDataSource")
          .option("rows", "60000").option("bucketWidth", "2000").load()
          .filter(col("id") >= 4500L && col("id") < 51500L)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"),
            min(col("amount_cents")).as("lo_cents"),
            max(col("amount_cents")).as("hi_cents"))
      }
    }),

    // REPORTED ORDERING (SupportsReportOrdering): readers emit ids
    // ascending within each single-bucket partition, and the scan says
    // so — this window (PARTITION BY bucket ORDER BY id) plans with NO
    // Exchange and NO Sort: the two operators that dominate windowed
    // scans at 100 TB both vanish when the source reports its layout
    // (pinned in SynthSourceSpec).
    "q_dsv2_order_window" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      withBucketingConfs(s) {
        s.read.format("graft.sources.SynthDataSource")
          .option("rows", "60000").option("bucketWidth", "2000").load()
          .filter(col("id") >= 4500L && col("id") < 51500L)
          .select(col("bucket"), col("id"), col("amount_cents"))
          .withColumn("rn", row_number()
            .over(Window.partitionBy(col("bucket")).orderBy(col("id")))
            .cast("long"))
          .filter(col("rn") <= 3L)
      }
    }),

    // STORAGE-PARTITIONED JOIN: both sides are bucket-aligned reads of
    // the synth table reporting KeyGroupedPartitioning(bucket) and
    // (bucket, id) ordering, and the join keys include the partition
    // key — so the SortMergeJoin plans with ZERO exchange and ZERO sort
    // on EITHER side (pinned in SynthSourceSpec). This is the Iceberg/
    // Delta bucketed-join shape: at 100 TB a fact-fact join on
    // co-partitioned layout skips both full-table shuffles, which ARE
    // the query cost. The sides' bucket sets differ (one is filtered),
    // exercising the partially-pushed partition-values path. 2M rows a
    // side keeps the planner honest — no broadcast dissolves the demo.
    "q_dsv2_spj" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      // the join keys (bucket, id) STRICTLY contain the partition key
      // (bucket) — clustering on a subset still co-locates equal keys;
      // pushPartValues=true also relaxes requireAllClusterKeys
      withBucketingConfs(s, pushPartValues = true) {
        def side = s.read.format("graft.sources.SynthDataSource")
          .option("rows", "2000000").option("bucketWidth", "62500").load()
        val a = side.select(col("bucket"), col("id"), col("amount_cents"))
        val b = side.filter(col("id") >= 500000L && col("id") < 1500000L)
          .select(col("bucket"), col("id"), col("channel"))
        a.join(b, Seq("bucket", "id"))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"))
      }
    }),

    // RUNTIME FILTERING (SupportsRuntimeFiltering — the DSv2 face of
    // dynamic partition pruning): the dim filter sits on a NON-join
    // attribute (priority), so the surviving join keys exist only at
    // runtime — Spark evaluates the broadcast dim side, hands the key
    // set to the scan as an In("id", ...) filter, and the 2M-id fact
    // read re-plans to ONLY the id ranges those keys touch (64 planned
    // slices -> the few covering the live key domain; partition-count
    // drop pinned in SynthSourceSpec). A statically-known key predicate
    // would be constraint-propagated at compile time instead (q_dsv2_join
    // covers that path); this row is the keys-known-only-at-runtime case.
    // Correctness never depends on the pruning firing — dropped ranges
    // contain no joinable rows.
    "q_dsv2_runtime_filter" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val synth = s.read.format("graft.sources.SynthDataSource")
        .option("rows", "2000000").option("slices", "64").load()
        .select(col("id"), col("channel"), col("amount_cents"))
      graft.Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .join(synth, col("o_orderkey") === col("id"))
        .groupBy(col("channel"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"))
    }),

    // the STREAMING face: Trigger.AvailableNow drains the bounded table
    // through the admission-controlled MicroBatchStream in 3 real
    // micro-batches (60000 ids / 20000 per batch), the channel rollup
    // accumulating in complete mode across them — offset round-trips and
    // multi-batch state through a CUSTOM connector, not a file source
    "q_stream_dsv2" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      graft.RunOnce(s.readStream.format("graft.sources.SynthDataSource")
        .option("rows", "60000").option("slices", "8")
        .option("rowsPerBatch", "20000").load()
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents")), "complete")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_dsv2_source" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(1000, 49999)) AS i) t)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents) AS BIGINT) AS cents
         |FROM g GROUP BY channel""".stripMargin,

    "q_dsv2_agg" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(5000, 54999)) AS i) t)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents) AS BIGINT) AS cents,
         | CAST(min(amount_cents) AS BIGINT) AS lo_cents,
         | CAST(max(amount_cents) AS BIGINT) AS hi_cents
         |FROM g GROUP BY channel""".stripMargin,

    // the pushed limit admits exactly ids [1000, 21000)
    "q_dsv2_limit" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(1000, 20999)) AS i) t)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents) AS BIGINT) AS cents
         |FROM g GROUP BY channel""".stripMargin,

    "q_dsv2_part_agg" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(4500, 51499)) AS i) t)
         |SELECT CAST(id // 2000 AS BIGINT) AS bucket,
         | CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents * 2) AS BIGINT) AS cents2,
         | CAST(max(amount_cents) AS BIGINT) AS hi_cents
         |FROM g GROUP BY 1""".stripMargin,

    "q_dsv2_part_agg_pushed" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(4500, 51499)) AS i) t)
         |SELECT CAST(id // 2000 AS BIGINT) AS bucket,
         | CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents) AS BIGINT) AS cents,
         | CAST(min(amount_cents) AS BIGINT) AS lo_cents,
         | CAST(max(amount_cents) AS BIGINT) AS hi_cents
         |FROM g GROUP BY 1""".stripMargin,

    "q_dsv2_order_window" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(4500, 51499)) AS i) t)
         |SELECT bucket, id, amount_cents, rn FROM (
         | SELECT CAST(id // 2000 AS BIGINT) AS bucket, id, amount_cents,
         |  CAST(row_number() OVER (PARTITION BY id // 2000 ORDER BY id)
         |   AS BIGINT) AS rn
         | FROM g) z
         |WHERE rn <= 3""".stripMargin,

    // the co-partitioned join pairs each id with itself across the two
    // reads, so the oracle is one generation pass over the filtered side
    "q_dsv2_spj" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(500000, 1499999)) AS i) t)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents) AS BIGINT) AS cents
         |FROM g GROUP BY channel""".stripMargin,

    // the runtime filter is a plan optimization, not a semantics change:
    // every surviving (unique) o_orderkey under the synth domain joins
    // exactly one generated row, so the oracle generates cells AT the
    // surviving keys directly — the same reduction the runtime filter
    // performs inside the engine
    "q_dsv2_runtime_filter" ->
      s"""SELECT channel, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents) AS BIGINT) AS cents
         |FROM (SELECT o_orderpriority, ${oracleCells("o_orderkey")}
         |      FROM orders
         |      WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 2000000) z
         |GROUP BY 1, 2""".stripMargin,

    "q_dsv2_join" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(1, 2999)) AS i) t)
         |SELECT channel, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents) AS BIGINT) AS cents
         |FROM orders JOIN g ON o_orderkey = g.id
         |GROUP BY 1, 2""".stripMargin,

    // the streamed rollup covers the FULL id domain — multi-batch
    // accumulation must land exactly where one batch pass would
    "q_stream_dsv2" ->
      s"""WITH g AS (SELECT i AS id, ${oracleCells("i")}
         |  FROM (SELECT unnest(generate_series(0, 59999)) AS i) t)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(amount_cents) AS BIGINT) AS cents
         |FROM g GROUP BY channel""".stripMargin
  )
}

class SynthTable(rows: Long, slices: Int, bucketWidth: Long = 0L)
    extends Table with SupportsRead {
  override def name(): String = s"synth($rows)"
  override def schema(): StructType =
    if (bucketWidth > 0L) SynthDataSource.BucketedSchema
    else SynthDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SynthScanBuilder(rows, slices,
      options.getLong("rowsPerBatch", 1000L), bucketWidth)
}

class SynthScanBuilder(rows: Long, slices: Int, rowsPerBatch: Long = 1000L,
    bucketWidth: Long = 0L)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType =
    if (bucketWidth > 0L) SynthDataSource.BucketedSchema
    else SynthDataSource.Schema
  private var lo = 0L          // inclusive
  private var hi = rows        // exclusive
  private var pushed = Array.empty[Filter]
  private var hadResidual = false        // a filter we could NOT push
  private var aggFuncs: Seq[String] = Nil
  private var aggGrouped = false
  private var aggByBucket = false

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark passes the pruned schema in FIELD ORDER of the original, and
    // an empty schema for count(*)-style scans — both legal here. With an
    // aggregation pushed the agg fixes the output schema instead.
    if (aggFuncs.isEmpty) required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThan("id", v: Long) => lo = math.max(lo, v + 1); true
      case GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v); true
      case LessThan("id", v: Long) => hi = math.min(hi, v); true
      case LessThanOrEqual("id", v: Long) => hi = math.min(hi, v + 1); true
      case EqualTo("id", v: Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v + 1); true
      case _ => false
    }
    pushed = accepted
    hadResidual = rejected.nonEmpty
    rejected // everything else stays a post-scan Filter
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT pushdown: ids stream in order from `lo`, so the first `n`
    * surviving rows of a fully-pushed-filter scan are exactly
    * [lo, lo+n) — the generator simply stops early instead of
    * generate-then-discard (at 100 TB a `LIMIT 1000` sample costs 1000
    * rows of work, not a full table pass). Refused when a residual
    * post-scan filter exists (the first n GENERATED rows would no longer
    * be the first n SURVIVING rows) or an aggregation is already pushed.
    * Spark keeps its own limit on top (`isPartiallyPushed` default) —
    * a no-op over the exactly-n rows this scan emits.
    */
  override def pushLimit(limit: Int): Boolean = {
    if (hadResidual || aggFuncs.nonEmpty) return false
    hi = math.min(hi, lo + limit.toLong)
    true
  }

  // both Limit and TopN declare this default; Scala requires the diamond
  // be resolved explicitly. True = Spark keeps its limit/sort on top (a
  // no-op over the exactly-n rows the scan emits) — the honest claim,
  // since a multi-slice scan emits per-partition ranges, not one global
  // ordered stream.
  override def isPartiallyPushed(): Boolean = true

  /** TOP-N pushdown: ids stream in ASCENDING order, so `ORDER BY id
    * [ASC] LIMIT n` is satisfiable by the same early stop as a plain
    * limit — accepted only for that exact sort (single key, id,
    * ascending) with no residual filter. Spark keeps its own sort+limit
    * on top (`isPartiallyPushed` default true), which is a no-op over
    * the exactly-n ordered rows the scan emits; the win is the scan
    * generating n rows instead of the domain.
    */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    if (hadResidual || aggFuncs.nonEmpty) return false
    val idAsc = orders match {
      case Array(o) => (o.expression() match {
        case r: NamedReference => r.fieldNames.mkString(".") == "id"
        case _ => false
      }) && o.direction() == SortDirection.ASCENDING
      case _ => false
    }
    if (!idAsc) return false
    hi = math.min(hi, lo + limit.toLong)
    true
  }

  /** AGGREGATE pushdown (partial): COUNT/SUM/MIN/MAX over `amount_cents`,
    * optionally grouped by `channel`, fold into per-partition cells inside
    * the reader — each of the `slices` partitions emits at most 5 rows
    * (|channel domain|) instead of its id range, and Spark's final
    * aggregate merges the partials. `supportCompletePushDown` stays false
    * by design: with multiple independent partitions the scan CANNOT
    * produce final groups without its own shuffle — partial-push +
    * Spark-side merge is the honest distributed shape (map-side combine
    * done by the source itself).
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (hadResidual) return false
    def colName(f: AggregateFunc): Option[String] = f match {
      case s: Sum if !s.isDistinct => s.column() match {
        case r: NamedReference => Some(r.fieldNames.mkString("."))
        case _ => None
      }
      case m: Min => m.column() match {
        case r: NamedReference => Some(r.fieldNames.mkString("."))
        case _ => None
      }
      case m: Max => m.column() match {
        case r: NamedReference => Some(r.fieldNames.mkString("."))
        case _ => None
      }
      case c: Count if !c.isDistinct => c.column() match {
        case r: NamedReference => Some(r.fieldNames.mkString("."))
        case _ => None
      }
      case _ => None
    }
    // group keys: none (global), channel, or — on a bucketed table — the
    // partition key itself (bucket), where the fold degenerates to ONE
    // cell per partition and composes with KeyGroupedPartitioning into a
    // fully exchange-free pushed rollup
    var byBucket = false
    val grouped = aggregation.groupByExpressions() match {
      case Array() => false
      case Array(r: NamedReference) if r.fieldNames.mkString(".") == "channel" => true
      case Array(r: NamedReference)
          if r.fieldNames.mkString(".") == "bucket" && bucketWidth > 0L =>
        byBucket = true; false
      case _ => return false
    }
    val funcs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => "count"
      case s: Sum if colName(s).contains("amount_cents") => "sum"
      case m: Min if colName(m).contains("amount_cents") => "min"
      case m: Max if colName(m).contains("amount_cents") => "max"
      // COUNT(col) over a non-nullable generated column = COUNT(*)
      case c: Count if colName(c).exists(SynthDataSource.Schema.fieldNames.contains) => "count"
      case _ => return false
    }
    aggGrouped = grouped
    aggByBucket = byBucket
    aggFuncs = funcs
    // positional contract with V2ScanRelationPushDown: group cols first,
    // then one column per pushed aggregate, all LongType except channel
    required = StructType(
      (if (grouped) Seq(StructField("channel", StringType, nullable = false))
       else if (byBucket) Seq(StructField("bucket", LongType, nullable = false))
       else Nil) ++
        funcs.zipWithIndex.map { case (f, i) =>
          StructField(s"agg_${i}_$f", LongType, nullable = false)
        })
    true
  }

  override def build(): Scan =
    if (aggFuncs.nonEmpty)
      new SynthAggScan(required, lo, hi, slices, aggGrouped, aggFuncs,
        if (aggByBucket) bucketWidth else 0L)
    else new SynthScan(required, lo, hi, slices, rowsPerBatch, bucketWidth)
}

class SynthScan(schema: StructType, lo: Long, hi: Long, slices: Int,
    rowsPerBatch: Long = 1000L, bucketWidth: Long = 0L)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsReportOrdering
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** RUNTIME FILTERING state (the DSv2 face of dynamic partition
    * pruning): when this scan is the fact side of a join whose dim side
    * carries a selective filter, Spark evaluates the dim's join keys at
    * runtime and hands them here as an `In("id", ...)` filter BEFORE
    * re-planning partitions — [[planInputPartitions]] then drops every
    * id range containing none of the surviving keys. At 100 TB this is
    * the difference between scanning the whole fact domain and scanning
    * only the ranges the dim actually references. Sorted for the
    * per-partition binary search.
    */
  @volatile private var runtimeKeep: Option[Array[Long]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("id"))

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("id", vs) =>
      runtimeKeep = Some(vs.collect { case l: Long => l }.sorted)
    case EqualTo("id", v: Long) => runtimeKeep = Some(Array(v))
    case _ => () // unrecognized runtime filters are advisory — ignoring
                 // them is always correct (Spark re-applies them post-scan)
  }

  /** Does [from, until) contain any runtime-surviving key? (no filter =
    * everything survives). Binary search over the sorted key array.
    */
  private def rangeLive(from: Long, until: Long): Boolean =
    runtimeKeep.forall { ks =>
      val i = util.Arrays.binarySearch(ks, from)
      val at = if (i >= 0) i else -i - 1
      at < ks.length && ks(at) < until
    }

  /** Post-pushdown statistics — numRows is EXACT (the pruned id range)
    * and bytes follow the pruned schema's row width, so the planner's
    * join-strategy choice sees the real size of a filtered read: a
    * tightly-filtered synth scan falls under the broadcast threshold and
    * plans as the build side of a BroadcastHashJoin instead of forcing a
    * shuffle (pinned in SynthSourceSpec). Without this a custom source
    * reports unknown size and the planner must assume huge.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val n = math.max(0L, hi - lo)
    private val rowBytes = schema.fieldNames.map {
      case "id" | "amount_cents" => 8L
      case "channel" => 4L
      case "payload" => 272L
      case _ => 16L
    }.sum.max(1L)
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(n * rowBytes)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(n)
  }
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SynthMicroBatchStream(schema, lo, hi, slices, rowsPerBatch, bucketWidth)
  override def description(): String =
    s"SynthScan(range=[$lo, $hi), slices=$slices, bucketWidth=$bucketWidth, " +
      s"cols=${schema.fieldNames.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val n = math.max(0L, hi - lo)
    val parts: Array[InputPartition] =
      if (n == 0L) Array.empty
      else if (bucketWidth > 0L) {
        // BUCKET-ALIGNED planning: one partition per `bucket = id DIV
        // bucketWidth` value overlapping [lo, hi) — every partition holds
        // exactly one bucket, which is what lets outputPartitioning
        // promise KeyGroupedPartitioning truthfully. Edge buckets clip to
        // the pushed range.
        (lo / bucketWidth to (hi - 1L) / bucketWidth).iterator.map { b =>
          SynthBucketPartition(math.max(lo, b * bucketWidth),
            math.min(hi, (b + 1L) * bucketWidth), b): InputPartition
        }.filter { p0 =>
          val p = p0.asInstanceOf[SynthBucketPartition]
          rangeLive(p.from, p.until)
        }.toArray
      } else {
        val k = math.min(slices.toLong, n).toInt
        (0 until k).iterator.map { i =>
          // equal-width ranges: partition i covers [lo + i*n/k, lo + (i+1)*n/k)
          SynthPartition(lo + i * n / k, lo + (i + 1) * n / k): InputPartition
        }.filter { p0 =>
          val p = p0.asInstanceOf[SynthPartition]
          rangeLive(p.from, p.until)
        }.toArray
      }
    SynthDataSource.lastPlannedPartitions.set(parts.length)
    parts
  }

  /** With bucket-aligned partitions the scan IS key-grouped on `bucket`:
    * a `GROUP BY bucket` (or a join on it) over this scan needs NO
    * Exchange — the planner sees ClusteredDistribution(bucket) already
    * satisfied (requires `spark.sql.sources.v2.bucketing.enabled`; the
    * registry rows set it). At 100 TB this is the last pushdown-family
    * lever: the exchange IS the query cost for a partition-key rollup,
    * and a source that knows its own layout deletes it from the plan.
    * Reported only when `bucket` survives column pruning — the keys must
    * resolve against the scan output.
    */
  override def outputPartitioning(): Partitioning =
    if (bucketWidth > 0L && schema.fieldNames.contains("bucket"))
      new KeyGroupedPartitioning(Array(Expressions.identity("bucket")),
        planInputPartitions().length)
    else new UnknownPartitioning(planInputPartitions().length)

  /** Readers emit ids in ascending order within every partition, and a
    * bucket-aligned partition holds a single bucket value — so
    * (bucket, id) ascending holds within each partition and the scan
    * reports it: a window PARTITION BY bucket ORDER BY id (or a
    * merge-join on id) plans with NO Sort on top of the scan.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val cols = (if (bucketWidth > 0L) Seq("bucket", "id") else Seq("id"))
      .filter(schema.fieldNames.contains)
    cols.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory(schema, bucketWidth)
}

case class SynthPartition(from: Long, until: Long) extends InputPartition

/** A bucket-aligned range partition: [from, until) ⊆ one bucket, whose
  * value is the partition key Spark's key-grouped planning reads.
  */
case class SynthBucketPartition(from: Long, until: Long, bucket: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

class SynthReaderFactory(schema: StructType, bucketWidth: Long = 0L)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case SynthPartition(from, until) =>
        new SynthReader(schema, from, until, bucketWidth)
      case SynthBucketPartition(from, until, _) =>
        new SynthReader(schema, from, until, bucketWidth)
    }
}

/** The STREAMING face of the same table — a real `MicroBatchStream` with
  * Kafka/Pub-Sub-shaped OFFSET semantics (the S1 source tier as a custom
  * connector, not a file-drop stand-in): offsets are id watermarks,
  * `latestOffset` advances by `rowsPerBatch` per micro-batch until the
  * bounded end (so `Trigger.AvailableNow` drains the table in ceil(n/b)
  * batches), each batch plans the SAME pruned-range partitions as the
  * batch scan, and offsets round-trip the checkpoint log via
  * `deserializeOffset` — a restarted query resumes mid-table exactly
  * like a committed consumer group.
  */
class SynthMicroBatchStream(schema: StructType, lo: Long, hi: Long,
    slices: Int, rowsPerBatch: Long, bucketWidth: Long = 0L)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows}

  override def initialOffset(): Offset = SynthOffset(lo)

  // ADMISSION CONTROL: each micro-batch admits at most rowsPerBatch ids,
  // so Trigger.AvailableNow drains the bounded table in ceil(n/b)
  // batches — real multi-batch offsets through the checkpoint log, not
  // one mega-batch
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)
  /** Admitted-row cap implied by `limit`, or Long.MaxValue for
    * ReadAllAvailable. CompositeReadLimit (what some Spark versions pass
    * under Trigger.AvailableNow) unwraps recursively to the TIGHTEST
    * member cap — falling through to `hi` on it would silently drop
    * admission control and drain the table in one mega-batch, defeating
    * the multi-batch shape this source exists to exercise (ADVICE r12).
    */
  private def admitCap(limit: ReadLimit): Long = limit match {
    case r: ReadMaxRows => r.maxRows()
    case _: ReadAllAvailable => Long.MaxValue
    case c: CompositeReadLimit => c.getReadLimits.map(admitCap).min
    case _ => Long.MaxValue // unknown limit kinds admit everything, explicitly
  }
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SynthOffset].n
    val cap = admitCap(limit)
    val next = if (cap == Long.MaxValue) hi else s + cap
    SynthOffset(math.min(next, hi))
  }
  override def reportLatestOffset(): Offset = SynthOffset(hi)
  override def prepareForTriggerAvailableNow(): Unit = ()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")

  override def deserializeOffset(json: String): Offset =
    SynthOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[SynthOffset].n
    val e0 = end.asInstanceOf[SynthOffset].n
    val n = math.max(0L, e0 - s0)
    if (n == 0L) return Array.empty
    val k = math.min(slices.toLong, n).toInt
    (0 until k).map { i =>
      SynthPartition(s0 + i * n / k, s0 + (i + 1) * n / k): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory(schema, bucketWidth)
}

/** The aggregate-pushdown face: each partition folds its id range into
  * ≤5 channel cells (or one global cell) as it generates — the source
  * does the map-side combine, Spark's final aggregate merges the ≤
  * `slices`×5 partial rows. Scan output is rows-out-of-scan ∝ group
  * cardinality, never data size.
  */
class SynthAggScan(schema: StructType, lo: Long, hi: Long, slices: Int,
    grouped: Boolean, funcs: Seq[String], bucketWidth: Long = 0L)
    extends Scan with Batch with SupportsReportPartitioning {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"SynthAggScan(range=[$lo, $hi), slices=$slices, " +
      s"agg=[${funcs.mkString(",")}], groupBy=${
        if (grouped) "channel" else if (bucketWidth > 0L) "bucket" else "<global>"})"

  override def planInputPartitions(): Array[InputPartition] = {
    val n = math.max(0L, hi - lo)
    if (n == 0L) return Array.empty
    if (bucketWidth > 0L)
      // one bucket per partition: the pushed per-bucket fold emits ONE
      // row per partition, and the reported key grouping (below) lets
      // the final aggregate merge it without any exchange
      (lo / bucketWidth to (hi - 1L) / bucketWidth).map { b =>
        SynthBucketPartition(math.max(lo, b * bucketWidth),
          math.min(hi, (b + 1L) * bucketWidth), b): InputPartition
      }.toArray
    else {
      val k = math.min(slices.toLong, n).toInt
      (0 until k).map { i =>
        SynthPartition(lo + i * n / k, lo + (i + 1) * n / k): InputPartition
      }.toArray
    }
  }

  /** The pushed per-bucket fold composes with key-grouped planning: the
    * scan's partial rows are already clustered by `bucket` (one row per
    * partition), so Spark's final merge aggregate needs NO exchange —
    * the whole per-bucket rollup runs scan-local end to end.
    */
  override def outputPartitioning(): Partitioning =
    if (bucketWidth > 0L && schema.fieldNames.contains("bucket"))
      new KeyGroupedPartitioning(Array(Expressions.identity("bucket")),
        planInputPartitions().length)
    else new UnknownPartitioning(planInputPartitions().length)

  override def createReaderFactory(): PartitionReaderFactory =
    new SynthAggReaderFactory(grouped, funcs, bucketWidth)
}

class SynthAggReaderFactory(grouped: Boolean, funcs: Seq[String],
    bucketWidth: Long = 0L)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case SynthPartition(from, until) =>
        new SynthAggReader(from, until, grouped, funcs)
      case SynthBucketPartition(from, until, bucket) =>
        new SynthAggReader(from, until, grouped, funcs, bucket)
    }
}

/** One pass over [from, until): accumulate count/sum/min/max per channel
  * cell in primitive arrays, then emit the non-empty cells. No per-row
  * allocation — one ladder hash and a few long ops per id.
  */
class SynthAggReader(from: Long, until: Long, grouped: Boolean,
    funcs: Seq[String], bucket: Long = -1L)
    extends PartitionReader[InternalRow] {
  private val cells = if (grouped) SynthDataSource.Channels.size else 1
  private val cnt = new Array[Long](cells)
  private val sum = new Array[Long](cells)
  private val mn = Array.fill(cells)(Long.MaxValue)
  private val mx = Array.fill(cells)(Long.MinValue)
  locally {
    var id = from
    while (id < until) {
      val h = SynthDataSource.hash(id)
      val c = if (grouped) (h % 5L).toInt else 0
      val a = h % 100000L + 1L
      cnt(c) += 1L; sum(c) += a
      if (a < mn(c)) mn(c) = a
      if (a > mx(c)) mx(c) = a
      id += 1L
    }
  }
  private val live = (0 until cells).filter(cnt(_) > 0L).toArray
  private var i = -1

  override def next(): Boolean = { i += 1; i < live.length }
  override def get(): InternalRow = {
    val c = live(i)
    val aggVals: Seq[Any] = funcs.map {
      case "count" => cnt(c)
      case "sum" => sum(c)
      case "min" => mn(c)
      case "max" => mx(c)
    }
    val vals: Seq[Any] =
      if (grouped) UTF8String.fromString(SynthDataSource.Channels(c)) +: aggVals
      else if (bucket >= 0L) bucket +: aggVals // per-bucket fold: one cell
      else aggVals
    InternalRow.fromSeq(vals)
  }
  override def close(): Unit = ()
}

/** Offset = the next unread id (a Kafka-style watermark). */
case class SynthOffset(n: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

/** Generates exactly the pruned columns for its id range — one cheap
  * ladder hash per row, no allocation beyond the row array.
  */
class SynthReader(schema: StructType, from: Long, until: Long,
    bucketWidth: Long = 0L)
    extends PartitionReader[InternalRow] {
  private var id = from - 1
  // resolve column generators ONCE per partition, not per row
  private val gens: Array[Long => Any] = schema.fieldNames.map {
    case "id" => (i: Long) => i
    case "channel" => (i: Long) => UTF8String.fromString(SynthDataSource.channel(i))
    case "amount_cents" => (i: Long) => SynthDataSource.amountCents(i)
    case "bucket" => (i: Long) => i / bucketWidth
    case "payload" => (i: Long) =>
      // deliberately expensive to build: pruning it away must be visible
      UTF8String.fromString("x" * 256 + java.lang.Long.toHexString(i))
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  override def next(): Boolean = { id += 1; id < until }
  override def get(): InternalRow =
    InternalRow.fromSeq(gens.map(g => g(id)).toIndexedSeq)
  override def close(): Unit = ()
}
