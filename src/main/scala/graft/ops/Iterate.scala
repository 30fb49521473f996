package graft.ops

import org.apache.spark.sql.DataFrame

/** The loop mechanics every iterative DataFrame operator shares:
  * checkpoint → stats reset → release of the superseded round.
  *
  * Lineage: a loop whose round references the previous state more than
  * once (a self-join, a dangling-mass side branch) would grow its
  * Catalyst plan tree geometrically per round if the state were only
  * `persist`ed (caching stores blocks but keeps the full logical plan).
  * Every state is therefore pinned with an eager `localCheckpoint`,
  * which truncates the lineage. On a real cluster swap it for reliable
  * `checkpoint` so executor loss cannot drop a truncated partition.
  *
  * Statistics: Spark 4's `localCheckpoint` REWRITES the child plan's
  * statistics onto the new LogicalRDD
  * (ExistingRDD.rewriteStatsAndConstraints). A loop that references
  * the checkpoint 2+ times per round multiplies those stats into the
  * next round's plan, so `sizeInBytes` SQUARES (or cubes) every
  * iteration: after R rounds the stat is a BigInt with ~2^R digits and
  * every further stats visit costs minutes of
  * `BigInteger.multiplyToomCook3` inside SizeInBytesOnlyStatsPlanVisitor
  * before any task runs — the driver "hangs" planning, with zero tasks
  * submitted (found by thread-dumping a stuck connected-components
  * run). [[pin]] therefore re-roots every checkpoint at its
  * materialized RDD with the session-default stats, keeping the
  * checkpoint's outputPartitioning/ordering and the InternalRow RDD,
  * so a round that joins or aggregates on the key the state is already
  * laid out on skips that exchange. Content is untouched, planning
  * stays O(1) per round, and deep `iters` is a safe public knob.
  *
  * Release: a checkpoint is not registered with the CacheManager, so
  * `Dataset.unpersist` frees nothing on it. A superseded round is
  * freed through [[CacheScope.release]] (which unpersists the pinned
  * RDD itself), and only after its successor has materialized — the
  * truncated lineage cannot be recomputed. The final state is
  * registered with [[CacheScope]]: the returned plans read it lazily,
  * and the caller's `releaseAll` frees it after the action. */
object Iterate {

  /** Eager `localCheckpoint` plus the layout-keeping stats reset. */
  def pin(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.freshStatsKeepLayout(
      df.localCheckpoint())

  /** Run `n` rounds from `init`. A round applies `steps` in order; each
    * step's result is pinned and its predecessor released. Returns the
    * final pinned state, registered with [[CacheScope]]. */
  def rounds(init: DataFrame, n: Int)(
      steps: (DataFrame => DataFrame)*): DataFrame = {
    var cur = pin(init)
    for (_ <- 1 to n) cur = round(cur, steps)
    CacheScope.track(cur)
  }

  /** Run rounds from `init` until `measure` (collected once per pinned
    * state, the initial one included) returns the same value twice in a
    * row, or `maxIter` rounds have run. Returns the final pinned state,
    * registered with [[CacheScope]], and whether it is stable. */
  def untilStable[A](init: DataFrame, maxIter: Int)(measure: DataFrame => A)(
      steps: (DataFrame => DataFrame)*): (DataFrame, Boolean) = {
    var cur = pin(init)
    var last = measure(cur)
    var iter = 0
    var stable = false
    while (iter < maxIter && !stable) {
      cur = round(cur, steps)
      val m = measure(cur)
      stable = m == last
      last = m
      iter += 1
    }
    (CacheScope.track(cur), stable)
  }

  private def round(cur: DataFrame,
      steps: Seq[DataFrame => DataFrame]): DataFrame =
    steps.foldLeft(cur) { (prev, step) =>
      val next = pin(step(prev))
      CacheScope.release(prev)
      next
    }
}
