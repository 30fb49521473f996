package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge

/** Dev runner for timing and plan inspection. Usage:
  *   runMain graft.Dev <sfDir> <q1,q2,...|all> [reps]
  * Per query: `reps` (default 1) timed noop-sink writes, each printing
  * wall time with its job and stage counts, plus one line per stage
  * slower than 0.3 s; `reps = 0` prints the formatted physical plan
  * instead. A failing query is logged and the run goes on. */
object Dev {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args(1) == "all") Registry.all.map(_.name) else args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Session()
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L)
          - si.submissionTime.getOrElse(0L)) / 1e3
        if (wall > 0.3)
          println(f"[stage] ${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"wall=$wall%5.2f s  '${si.name.take(60)}'")
      }
    })
    val fns = Registry.queries
    names.foreach { name =>
      try {
        val fn = fns(name)
        if (reps == 0)
          println(s"==== $name ====\n" +
            fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        (1 to reps).foreach { i =>
          Bridge.drainListeners(spark)
          jobs.set(0); stages.set(0)
          val t0 = System.nanoTime()
          // noop write, NOT count(): count lets Catalyst eliminate
          // row-preserving joins/projections and time a hollowed-out plan
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val wall = (System.nanoTime() - t0) / 1e9
          Bridge.drainListeners(spark)
          println(f"[dev] $name rep $i: $wall%.2f s" +
            s" jobs=${jobs.get} stages=${stages.get}")
        }
      } catch { case e: Throwable =>
        println(s"[dev] $name FAILED: ${e.getMessage}")
      } finally graft.ops.CacheScope.releaseAll()
    }
    spark.stop()
  }
}
