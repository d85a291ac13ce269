package graft.tools

import org.apache.spark.scheduler._

/** Diagnostic main (not part of the library surface): runs one
  * SparkEntry query (env SPARK_GRAFT_Q) with a per-stage listener so
  * blocked-task time (task_run >> task_cpu in the bench telemetry)
  * attributes to a specific stage, and samples executor-thread stacks
  * during the run to catch the blocking call site. Found r6's
  * q_gen_constraints mystery in one run: every fact-audit task RUNNABLE
  * inside ICU's case mapping (CollationSupport.Lower.execBinaryICU),
  * not cache-block locks as first theorized.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = sys.env.getOrElse("SPARK_GRAFT_Q", "q_gen_constraints")
    // ad-hoc A/B dial: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
      .map(_.split(";").filter(_.contains("=")))
      .getOrElse(Array.empty)
      .foldLeft(graft.Harness.builder()) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          stages.merge(e.stageId, ("", 1L, m.executorRunTime, m.executorCpuTime / 1000000),
            (a, b) => (a._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.merge(i.stageId, (i.name, 0L, 0L, 0L),
          (a, b) => (b._1, a._2, a._3, a._4))
      }
    })

    // Dump executor-task thread stacks a few seconds in, to catch the
    // blocked stage in flagrante.
    val dumper = new Thread(() => {
      (1 to 20).foreach { i =>
        Thread.sleep(500)
        val shown = new scala.collection.mutable.ArrayBuffer[String]
        Thread.getAllStackTraces.forEach { (t, st) =>
          if (t.getName.startsWith("Executor task launch") &&
              !st.exists(_.toString.contains("SynchronousQueue"))) {
            shown += s"-- ${t.getName} state=${t.getState}\n" +
              st.take(12).map(f => s"   $f").mkString("\n")
          }
        }
        if (shown.nonEmpty) {
          println(s"==== THREAD DUMP @${i * 500}ms: ${shown.size} busy ====")
          shown.take(3).foreach(println)
        }
      }
    })
    dumper.setDaemon(true)
    dumper.start()

    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(q)(spark, sfDir)
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) df.explain("formatted")
    graft.Harness.rowHash(df)
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    println(f"QUERY $q wall=$wall%.2f s")
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(_._1).foreach { case (sid, (name, n, run, cpu)) =>
      println(f"stage $sid%3d tasks=$n%3d run=${run / 1e3}%8.2fs cpu=${cpu / 1e3}%8.2fs  $name")
    }
    spark.stop()
  }
}
