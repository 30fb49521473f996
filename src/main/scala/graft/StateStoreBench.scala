package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** State-store provider A/B bench (dev tool, like [[ScaleProbe]]): times
  * the stateful streaming headliners under the default
  * HDFSBackedStateStoreProvider and under RocksDB with changelog
  * checkpointing ([[graft.streaming.StreamPipeline.useRocksDbStateStore]]
  * carries the 100 TB rationale — bounded executor memory + delta-only
  * checkpoint uploads), evidencing the large-state path the streaming
  * story claims.
  *
  * r12 adjudication upgrade (the r11 VERDICT contradiction —
  * BENCH_statestore_r10 booked RocksDB 2.8× FASTER on
  * q_stream_attribution, the r11 config-hook rerun booked it slightly
  * SLOWER): times alone can't adjudicate a provider, so each run now
  * also records the STATE VOLUME it carried — max total state rows and
  * provider-reported state memory across the run's progress events, via
  * a session [[StreamingQueryListener]] — and the whole grid runs at
  * TWO SFs, giving a matched-shape state-size axis per query. The
  * per-shape reading this produced (SURVEY §8.19): provider choice at
  * local SF tracks CHECKPOINT/COMMIT overhead per micro-batch, not
  * lookup speed; RocksDB wins on many-key map-shaped state (dedup keys)
  * where HDFS re-snapshots the whole map per batch, and is a wash or a
  * slight loss on small or short-lived state (interval-join buffers
  * with tight watermarks, few-key flatMapGroups) where the JNI + disk
  * path buys nothing. The crossover argument for production stays
  * MEMORY (bounded block cache vs whole-map heap), which no local[32]
  * timing can exhibit — so the shipped default remains Spark's own
  * (HDFS) with the one-conf switch, not a blanket rocksdb booking.
  *
  * Expectation at local test scale: RocksDB is SLOWER (JNI boundary +
  * disk writes vs a heap map that trivially fits) — the point of the
  * measurement is that the provider swap is a working, output-identical
  * configuration whose crossover argument is memory, not test-SF speed.
  * Output rows are asserted identical across providers per query.
  *
  * Prints one JSON line:
  * {"metric":"statestore","grid":[{"sf":dir,"query":name,"hdfs":s,
  *   "rocksdb":s,"rows":n,"state_rows":n,"state_mem_hdfs":b,
  *   "state_mem_rocksdb":b}]}
  */
object StateStoreBench {
  def main(args: Array[String]): Unit = {
    val sfDirs = sys.env.get("SPARK_GRAFT_SF_DIR")
      .map(Seq(_))
      .getOrElse(Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Session()

    // state-volume accounting: every progress event's stateOperators
    // totals, maxed per measurement phase (cleared between phases).
    // Listener events are async; phases drain with a short sleep after
    // the last run — a dev-tool tolerance, not shipped code.
    val maxStateRows = new java.util.concurrent.atomic.AtomicLong(0)
    val maxStateMem = new java.util.concurrent.atomic.AtomicLong(0)
    def bump(al: java.util.concurrent.atomic.AtomicLong, v: Long): Unit = {
      var cur = al.get()
      while (v > cur && !al.compareAndSet(cur, v)) cur = al.get()
    }
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty) {
          bump(maxStateRows, ops.map(_.numRowsTotal).sum)
          bump(maxStateMem, ops.map(_.memoryUsedBytes).sum)
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def phase[A](f: => A): (A, Long, Long) = {
      // drain BEFORE resetting too: the warm-up run executed just
      // before this phase can still deliver late progress events, and
      // without a quiesced listener bus those stragglers would land in
      // the cleared counters and over-read the phase (r12 ADVICE)
      Thread.sleep(1500)
      maxStateRows.set(0); maxStateMem.set(0)
      val a = f
      Thread.sleep(1500) // drain async listener events
      (a, maxStateRows.get(), maxStateMem.get())
    }

    val names = Seq("q_stream_attribution", "q_stream_growth_accounting",
      "q_stream_dedup_lsh")
    val qs = Registry.all.filter(q => names.contains(q.name))

    def runOnce(q: Q, sfDir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n =
        try q.run(spark, sfDir).count()
        finally graft.ops.CacheScope.releaseAll()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // providers switch through the BUILDER config hook
    // (StreamPipeline.StateStoreConfKey, applied at every stream
    // start) — the bench exercises the exact path a production caller
    // flips, not a side door
    def setProvider(p: String): Unit =
      spark.conf.set(graft.streaming.StreamPipeline.StateStoreConfKey, p)

    val rows = for (sfDir <- sfDirs; q <- qs) yield {
      // warm-up + timed reps per provider; min across reps (the Bench
      // throttle-noise methodology)
      setProvider("default")
      runOnce(q, sfDir)
      val ((hdfsTimes, hdfsRows), hRowsSt, hMemSt) = phase {
        val rs = (1 to reps).map(_ => runOnce(q, sfDir))
        (rs.map(_._1), rs.head._2)
      }
      setProvider("rocksdb")
      runOnce(q, sfDir)
      val ((rocksTimes, rocksRows), rRowsSt, rMemSt) = phase {
        val rs = (1 to reps).map(_ => runOnce(q, sfDir))
        (rs.map(_._1), rs.head._2)
      }
      setProvider("default")
      require(hdfsRows == rocksRows,
        s"${q.name}: provider changed row count $hdfsRows -> $rocksRows")
      // max state rows should agree across providers (same watermark
      // fold); a mismatch is either a real provider divergence or a
      // dropped async progress event — surface it, don't crash the grid
      if (hRowsSt != rRowsSt)
        System.err.println(s"[ssbench] WARN ${q.name}: max state rows " +
          s"differ across providers: $hRowsSt vs $rRowsSt")
      System.err.println(f"[ssbench] $sfDir ${q.name}: " +
        f"hdfs=${hdfsTimes.min}%.2f rocksdb=${rocksTimes.min}%.2f " +
        f"rows=$hdfsRows stateRows=$hRowsSt " +
        f"mem=$hMemSt/$rMemSt")
      s"""{"sf":"$sfDir","query":"${q.name}",""" +
        f""""hdfs":${hdfsTimes.min}%.3f,"rocksdb":${rocksTimes.min}%.3f,""" +
        s""""rows":$hdfsRows,"state_rows":$hRowsSt,""" +
        s""""state_mem_hdfs":$hMemSt,"state_mem_rocksdb":$rMemSt}"""
    }
    val json =
      s"""{"metric":"statestore","grid":[${rows.mkString(",")}]}"""
    println(json)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_statestore_r12.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
