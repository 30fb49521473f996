package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: every main gets its SparkSession from [[Session]], so the
  * engine settings live in one file and cannot diverge per entry point. */
class SessionSpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only in the Session factory") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val factory = root.resolve("graft/Session.scala")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p != factory)
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions with graft.Session instead: ${offenders.mkString(", ")}")
  }
}
