package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.columnar.{CachedBatch, SimpleMetricsCachedBatch}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}
import org.apache.spark.sql.execution.datasources.csv.TextInputCSVDataSource
import org.apache.spark.sql.types.StructType

/** Minimal bridge to the `private[sql]` Column↔Expression converters —
  * the documented escape hatch for libraries registering custom Catalyst
  * expressions without going through the string-SQL function registry.
  * Lives under `org.apache.spark.sql` purely for access; no Spark
  * internals are modified. */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = ExpressionUtils.column(e)

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point a
    * library needs to hand Catalyst a custom [[LogicalPlan]] node (e.g.
    * [[graft.plans.AsofJoinNode]]) that the DataFrame DSL cannot spell. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** True when the session's CacheManager holds no cached plans — the
    * leak probe behind the registry-wide persist-hygiene lint. */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[CSparkSession].sharedState.cacheManager.isEmpty

  /** Drop every cached plan (test hygiene between lint iterations). */
  def clearCache(spark: SparkSession): Unit =
    spark.asInstanceOf[CSparkSession].sharedState.cacheManager.clearCache()

  /** Unpersist the materialized RDD a `localCheckpoint()`-ed frame
    * pins (its plan is a [[org.apache.spark.sql.execution.LogicalRDD]]
    * holding the checkpointed RDD). `Dataset.unpersist` goes through
    * the CacheManager and is a NO-OP on checkpoint storage — without
    * this, release is GC-driven only (ContextCleaner). Frames whose
    * plan is not a bare LogicalRDD are left untouched (false). */
  def unpersistCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); true
      case _ => false
    }

  /** Re-root a `localCheckpoint()`-ed frame at its materialized RDD with
    * DEFAULT planning statistics but the checkpoint's actual
    * outputPartitioning/outputOrdering kept (r15 opt). The stats reset is
    * the [[graft.ops.Iterate]] contract (checkpoint-inherited
    * sizeInBytes squares per round in self-referencing loops); the old
    * reset path — `createDataFrame(df.rdd, df.schema)` — additionally
    * (a) DISCARDED the partitioning metadata, forcing every loop to
    * re-exchange frames that are already laid out on the join key, and
    * (b) round-tripped rows through the external Row encoder on every
    * consumption. Rebuilding the LogicalRDD directly keeps the
    * InternalRow RDD and the layout, drops only the inherited stats
    * (originStats = None → session default). Partitioning metadata is
    * descriptive, not behavioral: values are unchanged. Falls back to
    * the Row round-trip for frames whose plan is not a bare LogicalRDD. */
  def freshStatsKeepLayout(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        ofRows(df.sparkSession,
          org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
            lr.isStreaming)(
            df.sparkSession.asInstanceOf[CSparkSession], None, None))
      case _ =>
        df.sparkSession.createDataFrame(df.rdd, df.schema)
    }

  /** Block until the listener bus has delivered every posted event, so
    * counters a listener keeps are complete when read after an action. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Invalidate the session's shared file-status cache — required
    * after a maintenance pass deletes data files OUTSIDE a Spark
    * command (the ArchiveIndex compaction GC): a later read or
    * partitioned append would otherwise re-list the deleted paths from
    * the stale cache (a warn-and-skip, harmless but noisy and a wasted
    * driver-side listing round). `catalog.refreshByPath` is the wrong
    * tool for this — it eagerly RECACHES every cached plan touching
    * the path, re-listing the dead file index it holds. */
  def invalidateFileStatusCache(spark: SparkSession): Unit =
    org.apache.spark.sql.execution.datasources.FileStatusCache
      .getOrCreate(spark.asInstanceOf[CSparkSession]).invalidateAll()

  /** A daemon pool that starts a thread for every task it cannot hand to
    * an idle one: it never queues, so a task never waits on another. */
  def daemonCachedPool(prefix: String): java.util.concurrent.ExecutorService =
    org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool(prefix)

  /** Run `body` on `pool` under the calling thread's Spark thread state:
    * its active session, local properties and job-artifact state, as
    * Spark's own broadcast-exchange futures do. Without a session it
    * just runs `body` there. */
  def forkWithThreadState[T](pool: java.util.concurrent.ExecutorService)(
      body: => T): java.util.concurrent.CompletableFuture[T] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) =>
        SQLExecution.withThreadLocalCaptured(s.asInstanceOf[CSparkSession], pool)(body)
      case None =>
        java.util.concurrent.CompletableFuture.supplyAsync(() => body, pool)
    }

  /** The caches `df`'s plan reads that are not filled yet, by identity:
    * two frames that share one are filled by the same job if they are
    * filled one after the other, and both fill it if filled at once. */
  def unfilledCaches(df: DataFrame): Seq[CachedRDDBuilder] =
    df.sparkSession.asInstanceOf[CSparkSession].sharedState.cacheManager
      .useCachedData(df.asInstanceOf[CDataset[_]].logicalPlan)
      .collectWithSubqueries {
        case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
          r.cacheBuilder
      }

  /** Row count of a filled cache, and each column's non-NULL count by
    * its position in the frame's columns. */
  final case class CacheCounts(rows: Long, nonNull: IndexedSeq[Long])

  /** Materialize the cache of a persisted frame in ONE job over every
    * partition and return its counts, summed from the statistics every
    * cached batch already carries: its row count and, per column, the
    * `(lower, upper, nullCount, count, sizeInBytes)` the in-memory
    * columnar format keeps, so non-NULL = `count − nullCount`. Counts are
    * read by column position, so names that need quoting never matter.
    * A later query over the frame finds the cache loaded and starts no
    * job to fill it (a query that meets an unloaded cache first runs a
    * cache-fill job of its own, then its own job); on a loaded cache the
    * job reads the stored batches' statistics only.
    *
    * The job runs as a SQL execution runs: under the session's SQL confs
    * (building the cached RDD already runs the cached plan's shuffle
    * stages) and under the session's job-artifact state. Without that
    * state the tasks would compile the cached plan's generated classes
    * under another executor class loader than the session's queries
    * use, and Spark's codegen cache, keyed by class loader, would hold
    * and recompile them twice. */
  def fillCache(df: DataFrame): CacheCounts = {
    val spark = df.sparkSession.asInstanceOf[CSparkSession]
    val relation = spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[CDataset[_]])
      .getOrElse(throw new IllegalArgumentException("frame is not persisted"))
      .cachedRepresentation
    val width = relation.output.size
    val perPartition = SQLExecution.withSQLConfPropagated(spark) {
      spark.artifactManager.withResources {
        spark.sparkContext.runJob(relation.cacheBuilder.cachedColumnBuffers,
          (it: Iterator[CachedBatch]) => batchCounts(it, width))
      }
    }
    val sums = (0 to width).map(i => perPartition.iterator.map(_(i)).sum)
    CacheCounts(sums.head, sums.tail)
  }

  /** `[rows, nonNull(0), …, nonNull(width − 1)]` of one partition's
    * cached batches. */
  private def batchCounts(it: Iterator[CachedBatch], width: Int): Array[Long] = {
    val acc = new Array[Long](width + 1)
    it.foreach {
      case b: SimpleMetricsCachedBatch =>
        acc(0) += b.numRows
        var c = 0
        while (c < width) {
          acc(c + 1) += b.stats.getInt(5 * c + 3) - b.stats.getInt(5 * c + 2)
          c += 1
        }
      case b => throw new IllegalStateException(
        s"${b.getClass.getName} carries no column statistics; " +
          "the cache fill needs the default cached-batch serializer")
    }
    acc
  }

  /** The CSV file source's own schema inference (`header` and
    * `inferSchema` on), run over lines already in memory: `header` names
    * the columns and, as in the file scan's inference, every line equal
    * to it is left out of the type vote. One job. */
  def inferCsvSchema(lines: Dataset[String], header: String): StructType = {
    val conf = lines.sparkSession.asInstanceOf[CSparkSession].sessionState.conf
    val options = new CSVOptions(
      Map("header" -> "true", "inferSchema" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    TextInputCSVDataSource.inferFromDataset(
      lines.sparkSession, lines, Some(header), options)
  }
}
