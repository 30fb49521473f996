package graft

/** Benchmark main (driver contract): times the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: one warm-up pass over every query (codegen + broadcast
  * build + JIT), then `BENCH_REPS` timed ROUNDS, each round running every
  * query once, reporting the per-query min across rounds. Rounds are
  * interleaved rather than back-to-back reps of one query because this
  * box throttles sustained CPU in multi-second windows (hypervisor
  * pauses): consecutive reps of the same heavy query land in the SAME
  * throttle window and inflate both, while interleaving spreads a window
  * across different queries so the per-query min stays quiet. Each run
  * forces FULL materialization through the noop sink (a bare `count()`
  * would let Catalyst prune the projections being measured).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Session()

    val headline = Registry.all.filter(_.bench)
    def runOnce(q: Q): Double = {
      val t0 = System.nanoTime()
      try q.run(spark, sfDir).write.mode("overwrite").format("noop").save()
      finally graft.ops.CacheScope.releaseAll()
      (System.nanoTime() - t0) / 1e9
    }
    def attempt(q: Q, tag: String): (String, Double) =
      q.name -> (try runOnce(q) catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name}$tag FAILED: ${e.getMessage}")
        -1.0
      })
    // Drift sentinel (r12 VERDICT #3): a fixed, pure-CPU,
    // data-independent workload timed once per round — constant plan,
    // constant input (an in-memory range), no IO, no registry coupling
    // — so box/JVM regime shifts show up as a sentinel move and every
    // query can be read as a RATIO to the box's own speed that round
    // instead of adjudicating "the box moved" from code diffs after
    // the fact (the §8.19.3 effort this column replaces).
    def sentinelOnce(): Double = {
      import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
      val t0 = System.nanoTime()
      // pmod bounds the addends: a raw sum of full-range hashes
      // overflows int64 under ANSI after ~2 rows on average
      spark.range(0L, 600000000L, 1L, Session.cpus)
        .select(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("s"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    sentinelOnce() // warm-up (codegen + JIT), untimed like the queries'
    val warm = headline.map(attempt(_, " warm-up")).toMap
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rounds: Seq[Map[String, Double]] =
      (1 to reps).map { _ =>
        sentinels += sentinelOnce()
        headline.map(attempt(_, "")).toMap
      }
    // Retry pass: a throttle window (hypervisor pause) can swallow EVERY
    // timed round of a heavy query — with reps=2, two inflated runs make
    // the min itself a 5-10x artifact. A query whose observed runs spread
    // by > 1.5x is flagged unstable and re-timed up to two more times;
    // stable queries never re-run, so the extra cost is bounded by the
    // noisy subset. The min over ALL observations is reported.
    val retried: Map[String, Seq[Double]] = headline.map { q =>
      val times = rounds.map(_(q.name)).filter(_ >= 0)
      val unstable = times.nonEmpty &&
        times.max > 1.5 * times.min
      val extra = scala.collection.mutable.ArrayBuffer.empty[Double]
      if (unstable) {
        var i = 0
        // stop early once a retry beats the prior floor (quiet window)
        while (i < 2 && (extra.isEmpty || extra.min > times.min)) {
          val t = attempt(q, " retry")._2
          if (t >= 0) extra += t
          i += 1
        }
      }
      q.name -> (times ++ extra)
    }.toMap
    val results = headline.map { q =>
      val times = retried(q.name).sorted
      System.err.println(f"[bench] ${q.name}: warm=${warm(q.name)}%.2f " +
        s"runs=${times.mkString(",")}")
      // min, not median: throttle windows inflate individual runs by up
      // to 10x — min across interleaved rounds is the noise-robust stat
      q.name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val sentMin = if (sentinels.nonEmpty) sentinels.min else -1.0
    System.err.println(
      s"[bench] __sentinel: runs=${sentinels.mkString(",")}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""sentinel":$sentMin,""" +
        s""""sentinel_runs":[${sentinels.mkString(",")}],"sf":"$sfDir",""" +
        s""""cpus":${Session.cpus}}"""
    println(json)
    // Redundant copy on disk: sbt interleaves logger lines around stdout,
    // and the one JSON line has been lost to prefix-wrapping before.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
    System.out.flush()
  }
}
