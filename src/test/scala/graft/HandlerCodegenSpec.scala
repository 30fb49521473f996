package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.app.BatchMain
import graft.ops.CacheScope
import graft.pipeline.{Cleaners, Transform}
import graft.sources.CsvSource

/** The handler's source, cleaning and P7 guard cost a fixed set of
  * generated classes and a fixed number of jobs: a repeated invocation
  * compiles nothing new, each routed file costs one job to read, and
  * Transform's decisions cost only the job that fills its cache. */
class HandlerCodegenSpec extends SparkSpec {

  private val fixtures = Seq(
    "Amazon Sale Report_2022-04-30_10-00-00.csv",
    "Sale Report_2022-04-30_10-00-00.csv",
    "International Sale Report_2022-04-30_10-00-00.csv")

  /** Runs `round` twice; the second run must compile no new class. */
  private def assertSecondRoundCompilesNothing(round: () => Boolean): Unit = {
    assert(!round())
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(!round())
    val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(again == 0, s"the second round compiled $again new classes")
  }

  test("a second read and P7 decision compile no new class") {
    val path = TestSpark.fixture(fixtures.head)
    assertSecondRoundCompilesNothing { () =>
      try CacheScope.isEmpty(CsvSource.read(spark, path))
      finally CacheScope.releaseAll()
    }
  }

  test("a second amazon cleaning and P7 decision compile no new class") {
    val path = TestSpark.fixture(fixtures.head)
    assertSecondRoundCompilesNothing { () =>
      try CacheScope.isEmpty(
        Cleaners.amazon(CsvSource.read(spark, path), cacheSplit = true)._1)
      finally CacheScope.releaseAll()
    }
  }

  test("Transform of a filled cached frame starts exactly one job") {
    val x = CsvSource.read(spark, TestSpark.fixture(fixtures(1)))
    try {
      assert(!CacheScope.isEmpty(x))
      assert(jobsDuring { Transform(x) } == 1)
    } finally CacheScope.releaseAll()
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
