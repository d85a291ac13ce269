package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** One shared local session for the whole test run (sessions are ~10s to
  * start; suites must not each build their own).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // match Bench/Verify: bound plan-description rendering
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Collect over a physical plan DESCENDING through AQE wrappers —
    * AdaptiveSparkPlanExec / QueryStageExec are leaf nodes whose real
    * subtree hangs off a field, not `children`, so a plain `collect`
    * never sees the scans/windows inside them. Shared by every
    * plan-shape spec that needs actual nodes (not the plan string).
    */
  def collectInPlan[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectInPlan(a.executedPlan)(pf)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectInPlan(q.plan)(pf)
      case n if pf.isDefinedAt(n) => Seq(pf(n))
    }.flatten

  /** Run a streaming frame once into a parquet file sink against a
    * checkpoint the spec owns, so a second call restarts it on the same
    * state.
    */
  def runToFiles(df: DataFrame, out: String, ckpt: String): Unit =
    df.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
}
