package graft.ops

import java.util.{ArrayDeque, IdentityHashMap}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Deterministic lifetime for mid-pipeline caches.
  *
  * Operators that must materialize statistics before building their final
  * plan (e.g. [[graft.pipeline.Transform]]'s column decisions, read from
  * its cache fill) persist their input so the caller's action does not
  * recompute the upstream lineage. But a bare `persist` with no matching
  * `unpersist` leaks storage: invoked per micro-batch (StreamPipeline) or
  * per bench rep, cached blocks accumulate until GC-driven cleanup happens
  * to run — unbounded memory/disk growth under sustained load, and
  * eviction thrash under storage pressure.
  *
  * This registry makes release explicit: operators register through
  * [[persist]], and every driver-side consumer calls [[releaseAll]] once
  * its materializing action (write/collect) completes. Contract: release
  * AFTER the action — the returned plans reference the cached data
  * lazily.
  *
  * The registry is THREAD-LOCAL: plan construction and the matching
  * release happen on the same driver thread in every consumer (a
  * foreachBatch body runs whole on its stream's microbatch thread), and
  * scoping per thread means one stream's release cannot unpersist a
  * concurrent stream's still-needed caches.
  */
object CacheScope {

  private val active =
    ThreadLocal.withInitial[ArrayDeque[DataFrame]](() => new ArrayDeque())

  /** This thread's fill counts, by frame identity, until [[releaseAll]]. */
  private val fills = ThreadLocal.withInitial[
    IdentityHashMap[DataFrame, Bridge.CacheCounts]](() => new IdentityHashMap())

  /** Persist `df` (memory-then-disk) and register it for the next
    * [[releaseAll]]. If an identical plan is already cached (e.g. a caller
    * pre-cached the input), the frame is neither re-persisted nor
    * registered — ownership stays with whoever cached it first. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      active.get.add(df)
    }
    df
  }

  /** Register a frame whose storage the caller created itself — a
    * `persist`ed frame, or a `localCheckpoint`ed one (its bare
    * LogicalRDD plan, not a projection of it) — for release at the next
    * [[releaseAll]]/[[releaseSince]]. A checkpoint pins its RDD outside
    * the CacheManager, so without registration its blocks go only when
    * GC happens to collect the plan (ContextCleaner). */
  def track(df: DataFrame): DataFrame = {
    active.get.add(df)
    df
  }

  /** The row count and per-column non-NULL counts of `df`, decided once
    * per scope. The first call persists `df` (as [[persist]] does) and
    * fills that cache in one job ([[Bridge.fillCache]], the one fill
    * path), which counts as it fills: the answer costs no job beyond the
    * cache fill every later consumer needs, and no limit operator (a
    * `limit` plan compiles fresh code on every call — Spark names each
    * limit's counter from a JVM-wide sequence). The fill runs under the
    * session's SQL confs and job-artifact state, as the session's queries
    * do, so the cached plan's generated classes are compiled once for
    * the session's executor class loader and hit Spark's codegen cache on
    * the next invocation. The counts are recorded with the frame; later
    * calls on the same frame object read them until [[releaseAll]] (or a
    * [[releaseSince]] that frees the frame). */
  def counts(df: DataFrame): Bridge.CacheCounts = {
    val known = fills.get.get(df)
    if (known != null) known
    else {
      val c = Bridge.fillCache(persist(df))
      fills.get.put(df, c)
      c
    }
  }

  /** P7 — empty-input guard (ecommerce_s3_to_pg.py:430-432): the row
    * count of [[counts]], so both sinks of a run share one fill. */
  def isEmpty(df: DataFrame): Boolean = counts(df).rows == 0

  /** Position marker for [[releaseSince]]: the number of frames this
    * thread has registered so far. */
  def mark(): Int = active.get.size

  /** Unpersist ONLY the frames this thread registered after `mark` —
    * the scoped release for operators that pin their outputs
    * (localCheckpoint) mid-body and then REWRITE the storage their
    * internal stages were read from (the ArchiveIndex commit loop):
    * the stage caches are both a per-micro-batch storage leak and, in
    * the session-wide CacheManager, live holders of dead file indexes
    * that a post-GC recache would re-list. Caller-registered frames
    * (below the mark) keep their caller-owned lifetime. */
  def releaseSince(mark: Int): Unit = {
    val q = active.get
    while (q.size > mark) {
      val df = q.pollLast()
      fills.get.remove(df)
      release(df)
    }
  }

  /** Unpersist every frame registered ON THIS THREAD and forget its
    * recorded counts. Idempotent; non-blocking (block deletion proceeds
    * asynchronously, correctness never depends on it). */
  def releaseAll(): Unit = {
    fills.get.clear()
    val q = active.get
    var df = q.poll()
    while (df != null) {
      release(df)
      df = q.poll()
    }
  }

  /** Free `df`'s storage now: CacheManager unpersist for a cached
    * frame, plus unpersist of the pinned RDD for a bare
    * `localCheckpoint` frame (a no-op on every other plan). Non-blocking.
    * The one release path for everything this registry and
    * [[Iterate]] free. */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    org.apache.spark.sql.graftbridge.Bridge.unpersistCheckpoint(df)
    ()
  }
}
