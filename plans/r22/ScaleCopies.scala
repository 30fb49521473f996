// N-copy scaling of an sf directory, kept as the record of how the
// plans/r22 scaled runs were produced. It is not part of either build: to
// rerun it, copy this file into src/main/scala/graft/ of a scratch checkout
// (`git archive HEAD | tar -x -C <dir>`) and, from there, run
//   sbt "runMain graft.ScaleCopies <sfDir> <n> <outDir> amazon_pipeline_e2e 2" \
//       "runMain graft.Dev <outDir> amazon_pipeline_e2e 2"
// once per N. ScaleCopies writes <outDir> and then times the query as Dev
// does (noop write per rep), but releases the CacheScope after each rep,
// printing per rep the cached MB and the spilled MB; Dev, which releases
// after the last rep, prints wall time, jobs, stages and compiled classes
// for the same directory.

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Writes N copies of every sf table into one scaled sf directory.
  * Copy i shifts every integral key column (`*key`, `*_id`) by i·K and
  * every timestamp column by i·90 days; K is the next power of ten above
  * the largest key value in any table, so foreign keys join within a copy
  * and never across copies. Text and every other column are copied
  * unchanged, so dedup and similarity queries see the copies as
  * duplicates. Then, if a query is named, runs it `reps` times and prints
  * per rep the peak cached MB and the spilled MB as perfbench's Tracer
  * measures them: the running total of RDD block bytes (memory + disk)
  * from block updates, taken from the rep's start, and the tasks'
  * `diskBytesSpilled`. Unpersisting an RDD posts no block update, so
  * that total never falls: it is the bytes cached during the rep, an
  * upper bound of the bytes cached at once. `held_peak_mb` is the most
  * the block manager held at once (`getRDDStorageInfo`, sampled every
  * 50 ms), `cand_cache_peak_mb` the most Transform's scope cache held
  * (the cached RDDs whose plan's top operator outputs `__cand_*`
  * columns), and
  * `held_after_release_mb` what the block manager still holds after the
  * rep's `releaseAll`. */
object ScaleCopies {
  private val MB = 1024.0 * 1024.0

  private def isKey(name: String) = name.endsWith("key") || name.endsWith("_id")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    val outDir = args(2)
    val spark = Session()
    val tables = Tables.names.map { t =>
      t -> (if (t == "events") Tables.events(spark, sfDir)
            else Tables.load(spark, sfDir, t))
    }
    val maxKey = tables.flatMap { case (_, df) =>
      df.schema.fields.filter(f => isKey(f.name) && (f.dataType match {
        case IntegerType | LongType | ShortType => true
        case _ => false
      })).map(f => df.agg(max(col(f.name)).cast("long")).head().getLong(0))
    }.max
    val k = Iterator.iterate(1L)(_ * 10).dropWhile(_ <= maxKey).next()
    println(s"[scale] max key $maxKey, K = $k, copies = $n")

    def copy(df: DataFrame, i: Int): DataFrame = df.select(df.schema.fields.map { f =>
      val c = col(f.name)
      (f.dataType match {
        case t @ (IntegerType | LongType | ShortType) if isKey(f.name) =>
          (c + lit(i * k)).cast(t)
        case TimestampType | TimestampNTZType =>
          c + expr(s"INTERVAL ${i * 90} DAYS")
        case _ => c
      }).as(f.name)
    }.toIndexedSeq: _*)

    tables.foreach { case (t, df) =>
      (0 until n).map(copy(df, _)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    if (args.length > 3) {
      val query = Registry.queries(args(3))
      val reps = if (args.length > 4) args(4).toInt else 2
      val blocks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      @volatile var cached = 0L
      @volatile var peak = 0L
      val spilled = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
          val info = e.blockUpdatedInfo
          if (info.blockId.isRDD) {
            val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
            val prev = Option(blocks.put(info.blockId.name, size)).map(_.longValue).getOrElse(0L)
            synchronized { cached += size - prev; peak = math.max(peak, cached) }
          }
        }
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => spilled.addAndGet(m.diskBytesSpilled))
      })
      (1 to reps).foreach { i =>
        Bridge.drainListeners(spark)
        val start = cached
        peak = start
        spilled.set(0)
        // the block manager's own view, sampled: bytes cached at once,
        // and those of Transform's scope cache (a cached plan whose top
        // operator outputs __cand_* columns; the RDD is named after it)
        def heldBy(p: String => Boolean) = spark.sparkContext.getRDDStorageInfo
          .filter(r => p(r.name)).map(r => r.memSize + r.diskSize).sum
        def held = heldBy(_ => true)
        def isCand(name: String) = name.linesIterator
          .find(!_.startsWith("AdaptiveSparkPlan")).exists(_.contains("__cand_"))
        @volatile var sampling = true
        @volatile var heldPeak = held
        @volatile var candPeak = 0L
        val sampler = new Thread(() => while (sampling) {
          heldPeak = math.max(heldPeak, held)
          candPeak = math.max(candPeak, heldBy(isCand))
          Thread.sleep(50)
        })
        sampler.setDaemon(true)
        sampler.start()
        val t0 = System.nanoTime()
        try query(spark, outDir).write.mode("overwrite").format("noop").save()
        finally {
          val wall = (System.nanoTime() - t0) / 1e9
          sampling = false
          sampler.join()
          Bridge.drainListeners(spark)
          graft.ops.CacheScope.releaseAll()
          Thread.sleep(2000)
          println(f"[scale] ${args(3)} n=$n rep $i: $wall%.2f s " +
            f"cache_peak_mb=${(peak - start) / MB}%.1f " +
            f"spill_mb=${spilled.get / MB}%.1f " +
            f"held_peak_mb=${heldPeak / MB}%.1f " +
            f"cand_cache_peak_mb=${candPeak / MB}%.1f " +
            f"held_after_release_mb=${held / MB}%.1f")
        }
      }
    }
    spark.stop()
  }
}
