package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: the handler's class dispatch (file class → cleaner → the
  * five cleaned frames) is written once, in `Cleaners.byClass`, and every
  * driver — batch, batch+JDBC, streaming — cleans through it. The only
  * other callers of the per-class cleaners are ParityQueries' single-class
  * parity queries. */
class HandlerPathSpec extends AnyFunSuite {
  test("the per-class cleaners are called only by Cleaners.byClass and " +
      "ParityQueries") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val allowed = Set("graft/pipeline/Cleaners.scala",
      "graft/ParityQueries.scala").map(root.resolve)
    val call = """Cleaners\.(amazon\(|sale\b|international\()""".r
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p))
        .filter(p => call.findFirstIn(Files.readString(p)).isDefined)
        .toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"clean through Cleaners.byClass instead: ${offenders.mkString(", ")}")
  }
}
