package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}

/** Benchmark driver: one workload, one JVM, one closed-loop client.
  *
  * Usage: perfbench.Main --workload handler|analytics --seed N
  *          --seconds S --trace 0|1 --work DIR --data DIR [--pin FILE]
  *
  * Set-up generates the inputs three times (each must reproduce the same
  * bytes) and runs one checked warm-up op. Then ops run back to back for
  * `--seconds`; each is timed alone, its outputs checked afterwards. With
  * `--trace 1` the first half runs untraced and the second half traced;
  * the per-layer metrics come from the traced ops, `op_s` and
  * `trace.overhead_frac` from both halves. The last stdout line is the
  * JSON result; a readable report goes to stderr.
  *
  * The end-to-end op metric is CPU time, not wall time: on a shared
  * 4-vCPU VM, ten-run sets of identical runs spread 7-15 % (IQR / median)
  * in wall time per op and 4-8 % in CPU time (perfbench/STEADINESS.json).
  */
object Main {

  final case class OpRun(seconds: Double, cpuSeconds: Double,
      outcome: Option[Outcome], failures: Seq[String],
      stats: Map[String, Tracer.SpanStats])

  private val PrepareReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    work.mkdirs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val w = Workload(name, spark, seed, work, new File(opt("data")), Pins.load())

    val prep = (1 to PrepareReps).map(_ => timed(w.prepare()))
    val inputFailures =
      if (prep.map(_._1).distinct.size == 1) Nil
      else Seq(s"input generation is not repeatable: ${prep.map(_._1)}")
    val warm = op(w, 0, None)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 -
      prep.map(_._2).sum + median(prep.map(_._2))

    opt.get("pin").foreach { f =>
      val seedKey = if (name == "handler") seed.toString else "*"
      warm.outcome.foreach(Pins.write(new File(f), name, seedKey, _))
      System.err.println(s"[perfbench] pinned $name seed $seedKey to $f: " +
        (if (warm.failures.isEmpty) "checks passed" else warm.failures.mkString("; ")))
      spark.stop()
      return
    }

    def loop(budget: Double, tracer: Option[Tracer], first: Int): Seq[OpRun] = {
      val t0 = System.nanoTime()
      val runs = Seq.newBuilder[OpRun]
      var i = first
      while (i == first || (System.nanoTime() - t0) / 1e9 < budget) {
        val r = op(w, i, tracer)
        val drift = for (a <- warm.outcome; b <- r.outcome if a != b) yield
          "outcome differs from the warm-up op: " +
            (a.values.toSet diff b.values.toSet).take(3).mkString(", ")
        runs += r.copy(failures = r.failures ++ drift)
        i += 1
      }
      runs.result()
    }

    val (plain, traced, sentinel) =
      if (!trace) (loop(seconds, None, 1), Nil, Double.NaN)
      else {
        val p = loop(seconds / 2, None, 1)
        val tracer = new Tracer(spark)
        tracer.install()
        val t = try loop(seconds / 2, Some(tracer), 1 + p.size) finally tracer.uninstall()
        (p, t, median((1 to 3).map(_ => sentinelOnce(spark))))
      }
    val all = plain ++ traced
    val failures = inputFailures ++ warm.failures.map("warm-up: " + _) ++
      all.zipWithIndex.flatMap { case (r, i) => r.failures.map(s"op ${i + 1}: " + _) }
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAIL $f"))

    val metrics: Seq[(String, Double, String, Int)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s", PrepareReps),
        ("op_cpu_s", median(plain.map(_.cpuSeconds)), "s", plain.size))
      else {
        val perOp = traced.flatMap(r => r.outcome.map(o => w.layers(r.stats, o)))
        Metrics.perLayer.map {
          case ("trace.overhead_frac", u) =>
            ("trace.overhead_frac",
              median(traced.map(_.seconds)) / median(plain.map(_.seconds)) - 1, u, traced.size)
          case ("box.sentinel_s", u) => ("box.sentinel_s", sentinel, u, 3)
          case ("peak_rss_mb", u) => ("peak_rss_mb", peakRssMb(), u, 1)
          case ("op_s", u) => ("op_s", median(plain.map(_.seconds)), u, plain.size)
          case (m, u) => (m, median(perOp.map(_.getOrElse(m, 0.0))), u, perOp.size)
        }
      }
    System.err.println(s"[perfbench] box: nproc=${Runtime.getRuntime.availableProcessors} " +
      s"mem_total_kb=${memTotalKb()} jdk=${sys.props("java.version")} " +
      s"spark=${spark.version} sentinel_s=${num(sentinel)}")
    System.err.println("[perfbench] input generation s: " +
      prep.map(p => f"${p._2}%.3f").mkString(", ") + f"; warm-up op ${warm.seconds}%.3f s")
    report(name, seed, trace, plain, traced, metrics)
    spark.stop()

    val failed = all.count(_.failures.nonEmpty)
    val correct = failures.isEmpty
    val body = metrics.map { case (m, v, u, _) =>
      s""""$m":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${all.size},"failed":$failed,"metrics":{$body}}""")
    System.out.flush()
  }

  private def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def op(w: Workload, i: Int, tracer: Option[Tracer]): OpRun =
    try {
      w.before(i)
      val cpu0 = cpuSeconds()
      val (_, s) = timed(tracer.fold(w.run())(w.runTraced))
      val cpu = cpuSeconds() - cpu0
      val stats = tracer.map(_.collect()).getOrElse(Map.empty)
      val o = w.outcome()
      OpRun(s, cpu, Some(o), w.check(o), stats)
    } catch {
      case NonFatal(e) =>
        tracer.foreach(_.collect())
        OpRun(Double.NaN, Double.NaN, None,
          Seq(s"${e.getClass.getName}: ${e.getMessage}"), Map.empty)
    } finally {
      try w.after() catch { case NonFatal(_) => () }
    }

  /** A fixed pure-CPU range job: reads the box's speed, not the code's. */
  private def sentinelOnce(spark: SparkSession): Double = timed {
    spark.range(0L, 100000000L, 1L, Runtime.getRuntime.availableProcessors)
      .select(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("s"))
      .write.mode("overwrite").format("noop").save()
  }._2

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.filterNot(_.isNaN), 0.5)

  private def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** First number on the `key:` line of a /proc file, in kB. */
  private def procKb(file: String, key: String): Double = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().collectFirst {
      case l if l.startsWith(key) => l.split("\\s+")(1).toDouble
    }.getOrElse(Double.NaN) finally src.close()
  }

  /** CPU time of the whole JVM (every thread, JIT and GC included). Time
    * the hypervisor steals from the box is not in it, wall time is. */
  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The JVM's peak resident set (VmHWM). */
  private def peakRssMb(): Double = procKb("/proc/self/status", "VmHWM:") / 1024

  private def memTotalKb(): Long = procKb("/proc/meminfo", "MemTotal:").toLong

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def report(name: String, seed: Long, trace: Boolean,
      plain: Seq[OpRun], traced: Seq[OpRun],
      metrics: Seq[(String, Double, String, Int)]): Unit = {
    val ops = plain ++ traced
    val times = plain.map(_.seconds).filterNot(_.isNaN)
    val e = System.err
    e.println(f"[perfbench] workload=$name seed=$seed trace=${if (trace) 1 else 0} " +
      f"ops=${ops.size} failed=${ops.count(_.failures.nonEmpty)} " +
      f"ops_failed_frac=${if (ops.isEmpty) 0.0 else ops.count(_.failures.nonEmpty).toDouble / ops.size}%.4f")
    e.println(f"[perfbench] untraced op_s: n=${times.size} q1=${quantile(times, 0.25)}%.4f " +
      f"median=${quantile(times, 0.5)}%.4f q3=${quantile(times, 0.75)}%.4f " +
      s"all=${times.map(t => f"$t%.3f").mkString(",")}")
    metrics.foreach { case (m, v, u, n) => e.println(f"[perfbench]   $m%-44s $v%14.4f $u%-7s n=$n") }
  }
}

/** Every per-layer metric the traced run reports, with its unit. */
object Metrics {
  private def unit(m: String): String =
    if (m.endsWith("rows_per_s")) "rows/s"
    else if (m.endsWith("_ms")) "ms"
    else if (m.endsWith("_s")) "s"
    else if (m.endsWith("_mb")) "MB"
    else if (m.endsWith("jobs") || m.endsWith("stages")) "count"
    else "ratio"

  val perLayer: Seq[(String, String)] = {
    val five = Seq("sources", "pipeline.amazon", "pipeline.sale",
      "pipeline.international", "sinks.csv", "sinks.jdbc")
      .flatMap(l => Workload.Five.map(k => s"$l.$k"))
    val handler = Seq("sinks.jdbc.rows_per_s", "handler.plan_ms",
      "handler.input_mb", "handler.scan_amp", "handler.cache_peak_mb",
      "handler.spill_mb")
    val corpus = Corpus.Stats.map(k => s"corpus.$k")
    val queries = Seq("build_s", "exec_s", "jobs", "plan_ms", "driver_s",
      "task_s", "shuffle_mb", "spill_mb", "cache_peak_mb").map(k => s"queries.$k")
    val perQuery = Queries.Pinned.flatMap(n => Seq(s"q.$n.wall_s", s"q.$n.jobs"))
    (five ++ handler ++ corpus ++ queries ++ perQuery ++
      Seq("op_s", "peak_rss_mb", "box.sentinel_s", "trace.overhead_frac"))
      .map(m => m -> unit(m))
  }
}
