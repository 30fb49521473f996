package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.{BatchMain, CorpusMain}
import graft.ops.CacheScope
import graft.pipeline.Cleaners
import graft.sinks.{PgLoad, Sinks}
import graft.sources.CsvSource

/** What one op produced: named counts and digests, compared against the
  * pinned values and across ops. */
final case class Outcome(values: Map[String, String])

/** One closed-loop operation and its untimed set-up, check and clean-up.
  * Per op: [[before]], then the timed [[run]] (or [[runTraced]]), then
  * [[outcome]] and [[after]]. */
trait Workload {
  /** Writes the op's inputs for the seed; returns a digest of them. */
  def prepare(): Long
  def before(op: Int): Unit = ()
  def run(): Unit
  /** The same public calls as [[run]], each inside a tracer span. */
  def runTraced(t: Tracer): Unit
  def outcome(): Outcome
  /** Failure reasons; empty when the outcome is correct. */
  def check(o: Outcome): Seq[String]
  def after(): Unit = ()
  /** Per-layer metrics of one traced op from its span stats. */
  def layers(stats: Map[String, Tracer.SpanStats], o: Outcome): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: File,
      data: File, pins: Pins): Workload = name match {
    case "handler" => new Handler(spark, seed, work, data, pins)
    case "analytics" => new Analytics(new Corpus(spark, seed, work, data),
      new Queries(spark, data), pins)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def fileDigest(dir: File): Long =
    dir.listFiles().filter(_.isFile).sortBy(_.getName).map { f =>
      Digest.ofString(f.getName) +
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath)).toLong
    }.sum

  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** `sources`, `pipeline`, `sinks` layer keys — five stats each. */
  val Five: Seq[String] = Seq("wall_s", "jobs", "task_s", "driver_s", "shuffle_mb")
}

/** `BatchMain.runWithPg` over a seeded landing batch into a fresh
  * in-memory Derby database. */
final class Handler(spark: SparkSession, seed: Long, work: File, data: File,
    pins: Pins) extends Workload {
  import Workload._

  private val landing = new File(work, "landing")
  private val out = new File(work, "cleaned")
  private val loadedAt = Timestamp.valueOf("2022-04-30 10:00:00")
  private var manifest: Landing.Manifest = _
  private var db: DerbyTarget = _

  def prepare(): Long = {
    rm(landing)
    manifest = Landing.generate(spark, new File(data, "sf0.1").getPath,
      landing, seed, Handler.Scale)
    fileDigest(landing)
  }

  override def before(op: Int): Unit = {
    rm(out)
    db = new DerbyTarget(s"perfbench$op")
    db.create()
  }

  def run(): Unit =
    BatchMain.runWithPg(spark, landing.getPath, out.getPath, db.connect,
      loadedAt, upsertSqlFor = DerbyTarget.upsertSql,
      insertSqlFor = DerbyTarget.insertSql, createTables = false)

  /** `runWithPg`'s body, call for call, one span per layer call. */
  def runTraced(t: Tracer): Unit = t.span("handler") {
    val byClass = t.span("sources") {
      BatchMain.latestPerClass(spark, landing.getPath, None)
    }
    val empty = spark.emptyDataFrame
    try {
      val (amC, amF) = t.span("pipeline.amazon") {
        byClass.get(CsvSource.AmazonSale)
          .map(Cleaners.amazon(_, cacheSplit = true)).getOrElse((empty, empty))
      }
      val sa = t.span("pipeline.sale") {
        byClass.get(CsvSource.PlainSale).map(Cleaners.sale).getOrElse(empty)
      }
      val (i1, i2) = t.span("pipeline.international") {
        byClass.get(CsvSource.InternationalSale)
          .map(Cleaners.international).getOrElse((empty, empty))
      }
      t.span("sinks.csv") {
        Sinks.writeCsvAll(Seq(
          "amazon_sale" -> amC, "amazon_sale_duplicates" -> amF,
          "sale" -> sa, "international_1" -> i1, "international_2" -> i2),
          out.getPath)
      }
      t.span("sinks.jdbc") {
        PgLoad.loadAll(amC, amF, sa, i1, i2, loadedAt, db.connect,
          DerbyTarget.upsertSql, DerbyTarget.insertSql, createTables = false)
      }
    } finally CacheScope.releaseAll()
  }

  def outcome(): Outcome = {
    val csv = Handler.Folders.map(f => f -> Digest.ofCsvDir(new File(out, f)))
    val tables = db.contents()
    val digest = (csv.map(_._2._2) ++ tables.map(_._3)).sum
    Outcome((csv.map { case (f, (n, _)) => s"csv.$f" -> n.toString } ++
      tables.map { case (t, n, _) => s"db.$t" -> n.toString } :+
      ("digest" -> digest.toString)).toMap)
  }

  def check(o: Outcome): Seq[String] = {
    def n(k: String) = o.values(k).toLong
    val planted = manifest.expected.toSeq.collect {
      case (f, want) if n(s"csv.$f") != want =>
        s"csv.$f has ${n(s"csv.$f")} rows, the planted batch implies $want"
    }
    val zones = Seq(
      "amazon_sale" -> n("csv.amazon_sale"),
      "amazon_sale_version" -> n("csv.amazon_sale_duplicates"),
      "sale" -> n("csv.sale"),
      "international_sales" -> (n("csv.international_1") + n("csv.international_2")))
      .collect { case (t, want) if n(s"db.$t") != want =>
        s"db.$t has ${n(s"db.$t")} rows, the CSV zone has $want" }
    planted ++ zones ++ pins.check("handler", seed, o)
  }

  override def after(): Unit = db.drop()

  def layers(s: Map[String, Tracer.SpanStats], o: Outcome): Map[String, Double] = {
    val st = s.withDefaultValue(Tracer.Zero)
    val five = Seq("sources", "pipeline.amazon", "pipeline.sale",
      "pipeline.international", "sinks.csv", "sinks.jdbc")
      .flatMap(l => Five.map(k => s"$l.$k" -> st(l).field(k)))
    val dbRows = DerbyTarget.tables.map(t => o.values(s"db.${t._1}").toDouble).sum
    val op = st("handler")
    five.toMap ++ Map(
      "sinks.jdbc.rows_per_s" -> dbRows / math.max(st("sinks.jdbc").wallS, 1e-3),
      "handler.plan_ms" -> op.planMs,
      "handler.input_mb" -> op.inputMb,
      "handler.scan_amp" -> op.inputMb * 1024 * 1024 / manifest.bytes,
      "handler.cache_peak_mb" -> op.cachePeakMb,
      "handler.spill_mb" -> op.spillMb)
  }
}

object Handler {
  /** Share of the reference's Kaggle row counts the batch is drawn at. */
  val Scale = 0.1
  val Folders: Seq[String] = Seq("amazon_sale", "amazon_sale_duplicates",
    "sale", "international_1", "international_2")
}

/** `CorpusMain.run` over `documents.parquet` in a seeded row order. The
  * corpus operators are order-independent, so every seed has the same
  * pinned output. */
final class Corpus(spark: SparkSession, seed: Long, work: File, data: File)
    extends Workload {
  import Workload._

  private val docsDir = new File(work, "docs")
  private val out = new File(work, "corpus")
  private var docs: DataFrame = _
  private var summary = ""

  def prepare(): Long = {
    spark.read.parquet(new File(data, "sf0.1/documents.parquet").getPath)
      .orderBy(xxhash64(col("doc_id"), lit(seed)), col("doc_id"))
      .write.mode("overwrite").parquet(docsDir.getPath)
    docs = spark.read.parquet(docsDir.getPath)
    docs.select("doc_id").collect().map(_.getLong(0)).toSeq.hashCode.toLong
  }

  override def before(op: Int): Unit = rm(out)

  def run(): Unit = summary = CorpusMain.run(spark, docs, out.getPath)

  def runTraced(t: Tracer): Unit = t.span("corpus")(run())

  def outcome(): Outcome = {
    val counts = Corpus.Counts.map { k =>
      k -> ("\"" + k + "\":(\\d+)").r.findFirstMatchIn(summary)
        .map(_.group(1)).getOrElse("missing")
    }
    val (rows, digest) = Digest.ofFrame(spark.read
      .parquet(new File(out, "corpus").getPath)
      .select("doc_id", "lang", "text", "n_tokens", "quality"))
    Outcome((counts :+ ("rows" -> rows.toString) :+ ("digest" -> digest)).toMap)
  }

  def check(o: Outcome): Seq[String] =
    if (o.values("rows") == o.values("clean")) Nil
    else Seq(s"corpus parquet has ${o.values("rows")} rows, the summary says ${o.values("clean")}")

  def layers(s: Map[String, Tracer.SpanStats], o: Outcome): Map[String, Double] = {
    val st = s.getOrElse("corpus", Tracer.Zero)
    Corpus.Stats.map(k => s"corpus.$k" -> st.field(k)).toMap
  }
}

/** The analytics side in one op: a corpus build, then the query pass.
  * Neither part touches the handler's sources, cleaners or sinks. Both
  * outputs are the same for every seed, so they are pinned under seed `*`.
  */
final class Analytics(corpus: Corpus, queries: Queries, pins: Pins)
    extends Workload {
  private val parts = Seq("corpus" -> corpus, "queries" -> queries)

  def prepare(): Long = parts.map(_._2.prepare()).sum
  override def before(op: Int): Unit = parts.foreach(_._2.before(op))
  def run(): Unit = parts.foreach(_._2.run())
  def runTraced(t: Tracer): Unit = parts.foreach(_._2.runTraced(t))

  def outcome(): Outcome = Outcome(parts.flatMap { case (n, w) =>
    w.outcome().values.map { case (k, v) => s"$n.$k" -> v }
  }.toMap)

  private def part(n: String, o: Outcome): Outcome = Outcome(o.values.collect {
    case (k, v) if k.startsWith(s"$n.") => k.stripPrefix(s"$n.") -> v
  })

  def check(o: Outcome): Seq[String] =
    parts.flatMap { case (n, w) => w.check(part(n, o)) } ++
      pins.check("analytics", 0L, o)
  override def after(): Unit = parts.foreach(_._2.after())

  def layers(s: Map[String, Tracer.SpanStats], o: Outcome): Map[String, Double] =
    parts.flatMap { case (n, w) => w.layers(s, part(n, o)) }.toMap
}

object Corpus {
  val Counts: Seq[String] = Seq("total", "gated", "exact_deduped", "clean")
  val Stats: Seq[String] = Seq("wall_s", "jobs", "stages", "task_s",
    "driver_s", "plan_ms", "shuffle_mb", "spill_mb", "cache_peak_mb", "input_mb")
}

/** One pass, in a fixed order, over the pinned registry queries; each
  * result goes to the `noop` sink with a row count and digest observed on
  * the same execution. The inputs are the fixed sf tables, so the seed
  * changes nothing. */
final class Queries(spark: SparkSession, data: File) extends Workload {

  private val sf = new File(data, Queries.ScaleFactor).getPath
  private val byName = graft.Registry.all.map(q => q.name -> q).toMap
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, () => (Long, String)]

  def prepare(): Long = 0L

  private def one(name: String, t: Option[Tracer]): Unit = {
    def span[A](n: String)(f: => A): A = t.fold(f)(_.span(n)(f))
    val q = byName.getOrElse(name,
      throw new NoSuchElementException(s"query $name is not in the registry"))
    span(s"q.$name") {
      try {
        val (df, obs) = span("build")(Digest.observe(q.run(spark, sf)))
        span("exec")(df.write.mode("overwrite").format("noop").save())
        results(name) = () => Digest.ofObservation(obs)
      } finally CacheScope.releaseAll()
    }
  }

  override def before(op: Int): Unit = results.clear()

  def run(): Unit = Queries.Pinned.foreach(one(_, None))

  def runTraced(t: Tracer): Unit = t.span("queries") {
    Queries.Pinned.foreach(one(_, Some(t)))
  }

  def outcome(): Outcome = Outcome(results.toSeq.flatMap { case (n, r) =>
    val (rows, digest) = r()
    Seq(s"$n.rows" -> rows.toString, s"$n.digest" -> digest)
  }.toMap)

  def check(o: Outcome): Seq[String] =
    Queries.Pinned.filterNot(n => o.values.contains(s"$n.rows"))
      .map(n => s"query $n produced no result")

  def layers(s: Map[String, Tracer.SpanStats], o: Outcome): Map[String, Double] = {
    val st = s.withDefaultValue(Tracer.Zero)
    val pass = st("queries")
    Map(
      "queries.build_s" -> st("build").wallS,
      "queries.exec_s" -> st("exec").wallS) ++
      Seq("jobs", "plan_ms", "driver_s", "task_s", "shuffle_mb", "spill_mb",
        "cache_peak_mb").map(k => s"queries.$k" -> pass.field(k)) ++
      Queries.Pinned.flatMap(n => Seq(
        s"q.$n.wall_s" -> st(s"q.$n").wallS,
        s"q.$n.jobs" -> st(s"q.$n").jobs.toDouble))
  }
}

object Queries {
  val ScaleFactor = "sf0.01"

  /** Three of the `bench = true` registry queries: the streaming
    * AvailableNow aggregate, the native as-of join and the Bradley-Terry
    * loop (the benched query with the most jobs). A pass over all 34
    * benched queries (minus the five `handler` and `corpus` cover) takes
    * ~45 s cold and ~25 s warm on 4 cores, and seven take ~30 s cold and
    * ~15 s warm; neither fits the run budget next to the other two
    * workloads. */
  val Pinned: Seq[String] = Seq(
    "q_stream_events_hourly", "q_asof_native", "ext_bradley_terry")
}
