package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge

import graft.app.BatchMain
import graft.ops.CacheScope
import graft.sources.CsvSource

/** The handler's source and P7 guard cost a fixed set of generated
  * classes and a fixed number of jobs: a repeated invocation compiles
  * nothing new, and each routed file costs one job to read. */
class HandlerCodegenSpec extends SparkSpec {

  private val fixtures = Seq(
    "Amazon Sale Report_2022-04-30_10-00-00.csv",
    "Sale Report_2022-04-30_10-00-00.csv",
    "International Sale Report_2022-04-30_10-00-00.csv")

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; Bridge.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("a second read and P7 decision compile no new class") {
    val path = TestSpark.fixture(fixtures.head)
    def round(): Boolean =
      try CacheScope.isEmpty(CsvSource.read(spark, path))
      finally CacheScope.releaseAll()
    assert(!round())
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(!round())
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the second round compiled new classes")
  }

  test("latestPerClass: one job per routed file") {
    val landing = java.nio.file.Files.createTempDirectory("landing").toFile
    fixtures.foreach(n => java.nio.file.Files.copy(
      new java.io.File(TestSpark.fixture(n)).toPath,
      new java.io.File(landing, n).toPath))
    var routed = 0
    val jobs = jobsDuring {
      routed = BatchMain.latestPerClass(spark, landing.toString, None).size
    }
    assert(routed == 3)
    assert(jobs == 3)
  }
}
