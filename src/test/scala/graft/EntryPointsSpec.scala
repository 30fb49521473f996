package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: `src/main` has five entry points — the two handler
  * drivers, the bench, the oracle dump and the one dev runner. A
  * one-off measurement main does not go back in beside them. */
class EntryPointsSpec extends AnyFunSuite {
  test("the only mains in src/main/scala are BatchMain, CorpusMain, " +
      "Bench, Verify and Dev") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = Files.walk(root)
    val mains =
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("def main("))
        .map(p => root.relativize(p).toString.stripSuffix(".scala"))
        .toSet
      finally walk.close()
    val expected = Set("app/BatchMain", "app/CorpusMain", "Bench", "Verify",
      "Dev").map("graft/" + _)
    assert(mains == expected,
      s"mains found: ${mains.toSeq.sorted.mkString(", ")}; expected only " +
        s"${expected.toSeq.sorted.mkString(", ")}. Measure with graft.Dev, " +
        "or put a harness under plans/")
  }
}
