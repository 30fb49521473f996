package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
object TestSpark {
  lazy val spark: SparkSession = Session(4)
  def fixture(name: String): String =
    java.nio.file.Paths.get(
      getClass.getResource(s"/fixtures/$name").toURI).toString
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The id below every RDD the context creates from now on. */
  protected def rddMark(): Int = spark.sparkContext.emptyRDD[Int].id

  /** RDDs created after `mark` that still hold blocks. Release is
    * asynchronous, so this polls for up to 5 s before answering. */
  protected def rddsPinnedSince(mark: Int): Set[Int] = {
    def pinned = org.apache.spark.sql.graftbridge.Blocks.rddsWithBlocks()
      .filter(_ > mark)
    val deadline = System.nanoTime() + 5000000000L
    var left = pinned
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = pinned
    }
    left
  }
}
