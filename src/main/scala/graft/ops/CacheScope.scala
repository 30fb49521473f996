package graft.ops

import java.util.{Collections, IdentityHashMap}
import java.util.concurrent.{CompletionException, ConcurrentLinkedDeque}

import scala.util.{Failure, Try}

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
  * The registry is THREAD-LOCAL, except for the branches of one [[all]]
  * fan-out: they register in the scope of the thread that forked them, so
  * the caller's [[releaseAll]] frees what they cached. Plan construction
  * and the matching release otherwise happen on the same driver thread in
  * every consumer (a foreachBatch body runs whole on its stream's
  * microbatch thread), and scoping per thread means one stream's release
  * cannot unpersist a concurrent stream's still-needed caches.
  */
object CacheScope {

  /** One thread's registered frames and, by frame identity, their fill
    * counts until [[releaseAll]]. Thread-safe: the branches of an [[all]]
    * fan-out share their caller's scope. */
  private final class Scope {
    val active = new ConcurrentLinkedDeque[DataFrame]()
    val fills = Collections.synchronizedMap(
      new IdentityHashMap[DataFrame, Bridge.CacheCounts]())
  }

  private val scope = ThreadLocal.withInitial[Scope](() => new Scope)

  /** Branches beyond this many would fork more threads than one handler
    * invocation has independent chains (five cleaned frames). */
  private val MaxWidth = 5

  /** Run independent `branches` concurrently and return their results in
    * order. The caller runs the first branch itself; each other branch
    * runs on a thread of one process-wide daemon pool that never queues,
    * so a nested call cannot deadlock and a call forks at most
    * `branches.size - 1` threads, fixed by the caller's code, never by its
    * data. A call with one branch runs it inline.
    *
    * Each forked branch runs with the caller's Spark thread state — the
    * active session, the local properties and the job-artifact state
    * (`SQLExecution.withThreadLocalCaptured`) — so its jobs compile under
    * the same executor class loader as the caller's, and in the caller's
    * scope, so the caller's [[releaseAll]] frees what it cached. Branches
    * must not decide [[counts]] of one frame concurrently ([[eachFrame]]
    * keeps such frames on one branch).
    *
    * Returns only after every branch has finished; if any failed, the
    * first failure in branch order is rethrown then, with the others
    * suppressed on it, so a caller's release never frees a cache a
    * running branch still reads. */
  def all[A](branches: Seq[() => A]): Seq[A] = {
    require(branches.size <= MaxWidth,
      s"${branches.size} branches; a fan-out forks at most ${MaxWidth - 1} threads")
    if (branches.size <= 1) branches.map(_())
    else {
      val caller = scope.get
      val forked = branches.tail.map { b =>
        Bridge.forkWithThreadState(Pool.threads) {
          val own = scope.get
          scope.set(caller)
          try b() finally scope.set(own)
        }
      }
      val first = Try(branches.head())
      val results = first +: forked.map(f => Try(f.join()).recoverWith {
        case e: CompletionException if e.getCause != null => Failure(e.getCause)
      })
      results.collect { case Failure(e) => e } match {
        case e +: more => more.foreach(e.addSuppressed); throw e
        case _ => results.map(_.get)
      }
    }
  }

  /** The forked branches' threads, created on first use. */
  private object Pool {
    val threads = Bridge.daemonCachedPool("cache-scope-branch")
  }

  /** `f` over each of `items` through [[all]], results in order. Items
    * whose frames (`frameOf`) are one object or read one cache not yet
    * filled share a branch and run there in list order, so a shared
    * parent fills once — by the first of them — and [[counts]] of one
    * frame is never decided twice at once. */
  def eachFrame[A, B](items: Seq[A])(frameOf: A => DataFrame)(f: A => B): Seq[B] = {
    // one group per branch: its items' indices and identity keys (the
    // frame itself and the unfilled caches it reads); an item merges
    // every group it shares a key with
    val keys = items.map { a =>
      val df = frameOf(a)
      df +: Bridge.unfilledCaches(df)
    }
    val branches = items.indices.foldLeft(Vector.empty[(Seq[Int], Seq[AnyRef])]) {
      (groups, i) =>
        val (meet, rest) = groups.partition(_._2.exists(k => keys(i).exists(_ eq k)))
        rest :+ ((meet.flatMap(_._1) :+ i, meet.flatMap(_._2) ++ keys(i)))
    }.map(_._1.sorted).sortBy(_.head)
    val out = all(branches.map(is => () => is.map(i => i -> f(items(i)))))
    out.flatten.sortBy(_._1).map(_._2)
  }

  /** Persist `df` (memory-then-disk) and register it for the next
    * [[releaseAll]]. If an identical plan is already cached (e.g. a caller
    * pre-cached the input), the frame is neither re-persisted nor
    * registered — ownership stays with whoever cached it first. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      scope.get.active.add(df)
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
    scope.get.active.add(df)
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
    val fills = scope.get.fills
    val known = fills.get(df)
    if (known != null) known
    else {
      val c = Bridge.fillCache(persist(df))
      fills.put(df, c)
      c
    }
  }

  /** P7 — empty-input guard (ecommerce_s3_to_pg.py:430-432): the row
    * count of [[counts]], so both sinks of a run share one fill. */
  def isEmpty(df: DataFrame): Boolean = counts(df).rows == 0

  /** Position marker for [[releaseSince]]: the number of frames this
    * thread has registered so far. */
  def mark(): Int = scope.get.active.size

  /** Unpersist ONLY the frames this thread registered after `mark` —
    * the scoped release for operators that pin their outputs
    * (localCheckpoint) mid-body and then REWRITE the storage their
    * internal stages were read from (the ArchiveIndex commit loop):
    * the stage caches are both a per-micro-batch storage leak and, in
    * the session-wide CacheManager, live holders of dead file indexes
    * that a post-GC recache would re-list. Caller-registered frames
    * (below the mark) keep their caller-owned lifetime. */
  def releaseSince(mark: Int): Unit = {
    val s = scope.get
    while (s.active.size > mark) {
      val df = s.active.pollLast()
      s.fills.remove(df)
      release(df)
    }
  }

  /** Unpersist every frame registered ON THIS THREAD and forget its
    * recorded counts. Idempotent; non-blocking (block deletion proceeds
    * asynchronously, correctness never depends on it). */
  def releaseAll(): Unit = {
    val s = scope.get
    s.fills.clear()
    var df = s.active.poll()
    while (df != null) {
      release(df)
      df = s.active.poll()
    }
  }

  /** Free `df`'s storage now: CacheManager unpersist for a cached
    * frame, plus unpersist of the pinned RDD for a bare
    * `localCheckpoint` frame (a no-op on every other plan). Non-blocking.
    * The one release path for everything this registry and
    * [[Iterate]] free. */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    Bridge.unpersistCheckpoint(df)
    ()
  }
}
