package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Generators
import graft.ingest.{AvroWire, IngestQueries}
import graft.load.DimLoader
import graft.operators.{Analytics, AsofJoin, Audio, AuditOps, Bmp, CorpusOps, EvalOps, FeatureOps, ImageIoCodec, DedupOps, FinanceOps, Governance, GraphOps, LayoutOps, MixOps, Multimodal, Phash, MiningOps, PackOps, SampleOps, SequenceOps, ShuffleOps, SplitOps, StringSimOps, TextOps, TypedAgg, VectorOps}
import graft.sources.{GraftCatalog, ManifestSink, SynthDataSource}
import graft.streaming.{StreamAsof, StreamIngest, StreamQueries, StreamTws}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's operator inventory (SURVEY.md §2), one entry per
  * operator, each paired with a DuckDB oracle in `oracleSql` where the
  * semantics are SQL-expressible. Modules contribute their own maps.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Star join + grouped aggregate over the smallest scale factor.
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.queries("q_star_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * CACHE CONTRACT: a query whose plan consumes a shared sub-plan from
    * several branches fills it first with `RunOnce.materialize` (cache
    * plus one count; its scaladoc is the policy); a few leave a
    * `.cache()` lazy for the first branch to fill (the ingest wire
    * fixture). Some queries return a frame that reads a scratch
    * directory (every stream row, every lake row that builds its own
    * table). The returned DataFrame is lazy, so the query function cannot
    * know when the consuming action finishes: cache and scratch lifetimes
    * are CALLER-owned. Run `Harness.afterQuery(spark)` after each query's
    * action completes (Bench and Verify both do). It clears the caches,
    * which unrelated queries could otherwise silently reuse through
    * logical-plan matching, and deletes every directory under
    * `RunOnce.root`; the root itself is deleted at JVM exit.
    * Content-keyed fixtures (`StreamQueries.fixtureDir`,
    * `GraftCatalog.ensureLakeRtfFixture`) stay, and are reused by content.
    *
    * SESSION-CONF CONTRACT: a query pins session conf only through
    * `RunOnce.withConf`, which sets the pins for the length of a body and
    * in a finally restores each key's previous value, or unsets it if it
    * had none. A stream row passes its pins to `RunOnce`, which holds them
    * while the stream starts and runs (`RunOnce.Stateful` lowers
    * spark.sql.shuffle.partitions, since state-store instances = shuffle
    * partitions; q_stream_tws adds the RocksDB
    * spark.sql.streaming.stateStore.providerClass that transformWithState
    * requires). A batch row that needs a plan-shape conf (q_bucket_prune,
    * q_skew_aqe, the q_lake_*cbo* rows, the `withBucketingConfs` rows)
    * plans, and where the plan must run under the conf materializes,
    * inside the body. Run queries sequentially per session: a query
    * PLANNED concurrently on the same session while pins hold would pick
    * them up. The persistent sets are not pins: `graft_cat`
    * (`RunOnce.withCatalog`), `graft_fns`, the events table's
    * nanosAsLong and the bucketed tables' marker key are idempotent and
    * never unset.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Analytics.queries ++ AsofJoin.queries ++ AuditOps.queries ++ Governance.queries ++ LayoutOps.queries ++ MiningOps.queries ++ SampleOps.queries ++ SequenceOps.queries ++ StringSimOps.queries ++ TextOps.queries ++ DedupOps.queries ++
      VectorOps.queries ++ Multimodal.queries ++ Phash.queries ++ Audio.queries ++ Bmp.queries ++ ImageIoCodec.queries ++ AvroWire.queries ++ IngestQueries.queries ++
      StreamIngest.queries ++ StreamQueries.queries ++ StreamAsof.queries ++ StreamTws.queries ++ DimLoader.queries ++
      Generators.queries ++ ShuffleOps.queries ++ TypedAgg.queries ++
      MixOps.queries ++ FeatureOps.queries ++ GraphOps.queries ++ FinanceOps.queries ++ SplitOps.queries ++ PackOps.queries ++ CorpusOps.queries ++ EvalOps.queries ++ SynthDataSource.queries ++ ManifestSink.queries ++ GraftCatalog.queries ++ graft.functions.GraftFunctionCatalog.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Analytics.oracleSql ++ AsofJoin.oracleSql ++ AuditOps.oracleSql ++ Governance.oracleSql ++ LayoutOps.oracleSql ++ MiningOps.oracleSql ++ SampleOps.oracleSql ++ SequenceOps.oracleSql ++ StringSimOps.oracleSql ++ TextOps.oracleSql ++ DedupOps.oracleSql ++
      VectorOps.oracleSql ++ Multimodal.oracleSql ++ Phash.oracleSql ++ Audio.oracleSql ++ Bmp.oracleSql ++ ImageIoCodec.oracleSql ++ AvroWire.oracleSql ++ IngestQueries.oracleSql ++
      StreamIngest.oracleSql ++ StreamQueries.oracleSql ++ StreamAsof.oracleSql ++ StreamTws.oracleSql ++ DimLoader.oracleSql ++
      Generators.oracleSql ++ ShuffleOps.oracleSql ++ TypedAgg.oracleSql ++
      MixOps.oracleSql ++ FeatureOps.oracleSql ++ GraphOps.oracleSql ++ FinanceOps.oracleSql ++ SplitOps.oracleSql ++ PackOps.oracleSql ++ CorpusOps.oracleSql ++ EvalOps.oracleSql ++ SynthDataSource.oracleSql ++ ManifestSink.oracleSql ++ GraftCatalog.oracleSql ++ graft.functions.GraftFunctionCatalog.oracleSql
}
