package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: each native kernel of `graft.functions` is written once,
  * whatever the key or element type — one bounded top-k heap
  * (`functions/TopKAgg`, long ids and string keys) and one Catalyst
  * vector-dot expression (`functions/VecDot`, INT and FLOAT arrays). A
  * type-specialised copy of either does not go back in beside it. */
class KernelsSpec extends AnyFunSuite {
  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p))
      .toList
    finally walk.close()
  }

  test("src/main/scala defines def siftDown once: one bounded heap") {
    val defs = sources.flatMap { case (p, s) =>
      Seq.fill("def siftDown\\b".r.findAllIn(s).size)(p) }
    assert(defs.size == 1,
      s"def siftDown in: ${defs.mkString(", ")}; add a key kind to " +
        "graft.functions.TopKHeap instead of a second heap")
  }

  test("one Catalyst expression class in src/main/scala computes a " +
      "vector dot") {
    // a dot takes the common prefix of two arrays: min of both lengths
    val commonPrefix =
      """min\(\s*\$?\w+\.numElements\(\),\s*\$?\w+\.numElements\(\)\)""".r
    val exprClass = """class\s+(\w+)[^{]*?extends\s+\w*Expression\b""".r
    val dots = sources.collect {
      case (p, s) if commonPrefix.findFirstIn(s).isDefined =>
        exprClass.findAllMatchIn(s).map(m => s"$p:${m.group(1)}").toSeq
    }.flatten
    assert(dots.size == 1,
      s"vector-dot expressions: ${dots.mkString(", ")}; add an element " +
        "kind to graft.functions.VecDot instead of a second expression")
  }
}
