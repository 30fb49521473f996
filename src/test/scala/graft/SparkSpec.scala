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
}
