package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

import graft.{RunOnce, Tables}

final case class TwsIn(user_id: Long, event_id: Long, ms: Long, vmicro: Long)
final case class TwsOut(user_id: Long, event_id: Long, seen_before: Long,
    sum_before_micro: Long)

/** Per-key running totals on the transformWithState API (Spark 4's
  * arbitrary-state successor to mapGroupsWithState): each user's event
  * count and value sum accumulate in a [[ValueState]], and every input
  * row emits the totals BEFORE itself — the running-enrichment shape a
  * fraud pipeline uses ("how much has this account moved before this
  * transaction").
  *
  * Determinism: within a batch the processor SORTS each key's rows by
  * (ms, event_id) before folding (the iterator's arrival order is a
  * shuffle artifact, not a contract), and the fixture is one globally
  * time-sorted file, so cross-batch order is arrival order under any
  * split. Value sums fold in integer micro-units fixed at fixture-build
  * time, so no double accumulation order or JSON float round-trip can
  * flip the oracle hash. The oracle is the batch window form (running
  * count / sum over the same ordering).
  *
  * transformWithState requires the RocksDB state store — the query
  * pins the provider for its own execution and restores the session
  * conf after, like the shuffle-partition contract.
  */
class RunningTotalsProcessor extends StatefulProcessor[Long, TwsIn, TwsOut] {

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    totals = getHandle.getValueState[(Long, Long)]("totals",
      Encoders.product[(Long, Long)], TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[TwsIn],
      timerValues: TimerValues): Iterator[TwsOut] = {
    var (n, sum) = if (totals.exists()) totals.get() else (0L, 0L)
    val out = ArrayBuffer.empty[TwsOut]
    rows.toSeq.sortBy(r => (r.ms, r.event_id)).foreach { r =>
      out += TwsOut(key, r.event_id, n, sum)
      n += 1L
      sum += r.vmicro
    }
    totals.update((n, sum))
    out.iterator
  }
}

object StreamTws {

  private val twsSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("ms", LongType),
    StructField("vmicro", LongType)))

  private def twsFixtureDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 1000000.0) AS BIGINT)").as("vmicro"))
      .repartition(1).sortWithinPartitions(col("ms"), col("event_id"))

  def warmFixture(s: SparkSession, dir: String): Unit = {
    StreamQueries.ensureJsonFixture(
      StreamQueries.fixtureDir("tws", dir, "events"), twsFixtureDf(s, dir))
    ()
  }

  def runningTotals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = StreamQueries.ensureJsonFixture(
      StreamQueries.fixtureDir("tws", dir, "events"), twsFixtureDf(s, dir))
    RunOnce(s.readStream.schema(twsSchema).json(landing).as[TwsIn]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append()),
      pins = RunOnce.Stateful + ("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tws" -> ((s, dir) => runningTotals(s, dir))
  )

  def oracleSql: Map[String, String] = Map(
    // batch window form over the identical (ms, event_id) ordering
    "q_stream_tws" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |   CAST(round(value * 1000000.0) AS BIGINT) AS vmicro FROM events)
        |SELECT user_id, event_id,
        | CAST(row_number() OVER w - 1 AS BIGINT) AS seen_before,
        | CAST(coalesce(sum(vmicro) OVER (PARTITION BY user_id
        |   ORDER BY ms, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS sum_before_micro
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)""".stripMargin
  )
}
