package graft

import graft.ext.{Curation, Graph, TextDedup}
import graft.ops.CacheScope

/** The six iterative operators pin a checkpoint per round. After the
  * caller's action and `CacheScope.releaseAll()`, none of the RDDs a
  * call created may still hold blocks: not a superseded round, not the
  * final state, not a scope cache. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def nodes = (1L to 6L).toDF("node")
  // two triangles bridged by 3-4
  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L),
    (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")

  private def releasesEverything(action: => Unit): Unit = {
    CacheScope.releaseAll()
    val mark = rddMark()
    action
    CacheScope.releaseAll()
    val left = rddsPinnedSince(mark)
    assert(left.isEmpty,
      s"RDDs still holding blocks after releaseAll: ${left.toSeq.sorted}")
  }

  test("pageRank releases every round") {
    releasesEverything(Graph.pageRank(nodes, edges, iters = 5).collect())
  }

  test("hits releases both half-step states of every round") {
    releasesEverything(Graph.hits(nodes, edges, iters = 4).collect())
  }

  test("labelPropagation releases every round") {
    releasesEverything(
      Graph.labelPropagation(nodes, edges, iters = 4).collect())
  }

  test("kCore releases every round") {
    releasesEverything(Graph.kCore(edges, k = 2, iters = 4).collect())
  }

  test("bradleyTerry releases every round") {
    val matches = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (4L, 3L)).toDF("winner", "loser")
    releasesEverything(
      Curation.bradleyTerry(matches, "winner", "loser", iters = 5)
        .collect())
  }

  test("connectedComponents releases every round") {
    // a 12-doc chain: several pointer-jump rounds before the label sum
    // stops moving
    val docs = (1L to 12L).toDF("id")
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    releasesEverything {
      val reps = TextDedup.connectedComponents(docs, "id", pairs)
        .collect().map(_.getLong(1)).toSet
      assert(reps == Set(1L))
    }
  }
}
