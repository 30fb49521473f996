package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. Spans are opened only by the
  * benchmark, around its calls into each layer's public functions; a
  * `SparkListener` and a `QueryExecutionListener` record jobs, stages,
  * tasks, cached blocks and planning phases, and each is attributed to
  * every span whose wall interval contains its start. The driver runs one
  * op at a time, so interval attribution is exact up to clock resolution
  * (1 ms).
  */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val planPhases = new ConcurrentLinkedQueue[(Long, Long)]()
  // cached RDD bytes: per block, and the running total as (time, total)
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cacheSeries = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var cachedBytes = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[A](name: String)(body: => A): A = {
    val start = System.currentTimeMillis()
    try body finally spans += Span(name, start, System.currentTimeMillis())
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Stats of every span recorded since the last call, then forgets them
    * and their events. Spans with the same name are summed. */
  def collect(): Map[String, SpanStats] = {
    drain()
    val out = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(stats).reduce(_ + _)
    }
    spans.clear()
    jobs.clear(); tasks.clear(); stageStarts.clear(); planPhases.clear()
    val last = cachedBytes
    cacheSeries.clear()
    cacheSeries.add((System.currentTimeMillis(), last))
    out
  }

  private def stats(s: Span): SpanStats = {
    def in(t: Long) = t >= s.start && t <= s.end
    val js = jobs.values.asScala.filter(j => in(j.start)).toSeq
    // wall time covered by at least one running job of the span
    val busy = js.map(j => (j.start, if (j.end < 0) s.end else math.min(j.end, s.end)))
      .sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        val from = math.max(a, reach)
        (acc + math.max(0L, b - from), math.max(reach, b))
      }._1
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    val series = cacheSeries.asScala.toSeq
    val before = series.filter(_._1 <= s.start).lastOption.map(_._2).getOrElse(0L)
    val during = series.filter(p => p._1 > s.start && p._1 <= s.end).map(_._2)
    val wallMs = (s.end - s.start).toDouble
    SpanStats(
      wallS = wallMs / 1e3,
      jobs = js.size,
      stages = stageStarts.asScala.count(t => in(t)),
      taskS = ts.map(_.runMs).sum / 1e3,
      driverS = (wallMs - busy) / 1e3,
      planMs = planPhases.asScala.filter(p => in(p._1)).map(_._2).sum.toDouble,
      shuffleMb = ts.map(_.shuffleBytes).sum / MB,
      spillMb = ts.map(_.spillBytes).sum / MB,
      inputMb = ts.map(_.inputBytes).sum / MB,
      cachePeakMb = (before +: during).max / MB)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new JobRec(e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageStarts.add(t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(TaskRec(e.taskInfo.launchTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = Option(blocks.put(info.blockId.name, size)).map(_.longValue).getOrElse(0L)
      synchronized {
        cachedBytes += size - prev
        cacheSeries.add((System.currentTimeMillis(), cachedBytes))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.values.foreach(p =>
      planPhases.add((p.startTimeMs, p.endTimeMs - p.startTimeMs)))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  private val MB = 1024.0 * 1024.0

  private final class JobRec(val start: Long) { @volatile var end: Long = -1L }
  private final case class TaskRec(launch: Long, runMs: Long,
      shuffleBytes: Long, spillBytes: Long, inputBytes: Long)

  final case class Span(name: String, start: Long, end: Long)

  final case class SpanStats(wallS: Double, jobs: Int, stages: Int,
      taskS: Double, driverS: Double, planMs: Double, shuffleMb: Double,
      spillMb: Double, inputMb: Double, cachePeakMb: Double) {
    def +(o: SpanStats): SpanStats = SpanStats(wallS + o.wallS,
      jobs + o.jobs, stages + o.stages, taskS + o.taskS, driverS + o.driverS,
      planMs + o.planMs, shuffleMb + o.shuffleMb, spillMb + o.spillMb,
      inputMb + o.inputMb, math.max(cachePeakMb, o.cachePeakMb))

    def field(k: String): Double = k match {
      case "wall_s" => wallS
      case "jobs" => jobs
      case "stages" => stages
      case "task_s" => taskS
      case "driver_s" => driverS
      case "plan_ms" => planMs
      case "shuffle_mb" => shuffleMb
      case "spill_mb" => spillMb
      case "input_mb" => inputMb
      case "cache_peak_mb" => cachePeakMb
    }
  }

  val Zero: SpanStats = SpanStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}
