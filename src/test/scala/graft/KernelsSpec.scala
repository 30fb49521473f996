package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: mechanisms written once in `src/main/scala` stay written
  * once. The native kernels of `graft.functions`, whatever the key or
  * element type: one bounded top-k heap (`functions/TopKAgg`, long ids
  * and string keys) and one Catalyst vector-dot expression
  * (`functions/VecDot`, INT and FLOAT arrays). The on-disk adapters'
  * scratch-tree lifecycle (`ops/Scratch`): one temp-dir factory, one
  * recursive delete and one collect-to-local copy; and one foreachBatch
  * stream start (`StreamPipeline.startForeachBatch`). A copy of any of
  * them does not go back in beside it. */
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

  /** Assert `re` matches once in `src/main/scala`; else name every
    * `path:line` it matches and what to do `instead`. */
  private def writtenOnce(what: String, re: scala.util.matching.Regex,
      instead: String): Unit = {
    val found = sources.flatMap { case (p, s) =>
      re.findAllMatchIn(s).map(m =>
        s"$p:${s.substring(0, m.start).count(_ == '\n') + 1}") }
    assert(found.size == 1, s"$what at ${found.mkString(", ")}; $instead")
  }

  test("src/main/scala defines def siftDown once: one bounded heap") {
    writtenOnce("def siftDown", "def siftDown\\b".r,
      "add a key kind to graft.functions.TopKHeap instead of a second heap")
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

  test("src/main/scala makes a temp dir once: Scratch") {
    writtenOnce("createTempDirectory", "createTempDirectory".r,
      "run the adapter body in graft.ops.Scratch(prefix) instead")
  }

  test("src/main/scala deletes a tree recursively once: Scratch.rmRf") {
    writtenOnce("recursive listFiles() delete",
      """listFiles\(\)[^\n]*\.foreach\(""".r,
      "call graft.ops.Scratch.rmRf instead")
  }

  test("src/main/scala copies a result to the driver once: " +
      "Scratch.localize") {
    writtenOnce("createDataFrame(java.util.Arrays.asList(",
      """createDataFrame\(\s*java\.util\.Arrays\.asList\(""".r,
      "call graft.ops.Scratch.localize instead")
  }

  test("src/main/scala builds a foreachBatch stream once: " +
      "StreamPipeline.startForeachBatch") {
    writtenOnce(".foreachBatch", """\.foreachBatch\b""".r,
      "start the stream through StreamPipeline.startForeachBatch instead")
  }
}
