package graft.tools

/** Diagnostic main: print `.explain("formatted")` for a comma-separated
  * SPARK_GRAFT_ONLY list of SparkEntry queries, without executing them.
  * The session is [[graft.Harness.session]], so a printed plan is the plan
  * Verify and Bench run.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "q_star_join")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      finally graft.Harness.afterQuery(spark)
    }
    spark.stop()
  }
}
