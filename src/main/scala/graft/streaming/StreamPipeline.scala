package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.CacheScope
import graft.pipeline.Cleaners
import graft.sinks.{PgLoad, Sinks}
import graft.sources.CsvSource

/** Structured Streaming variant of the reference's event-driven micro-batch
  * pipeline (SURVEY.md §2.8).
  *
  * The reference reacts to S3 ObjectCreated events with a LastModified
  * time-window heuristic and is known to double-process files when one
  * upload batch triggers several Lambda invocations (README.md:119-127).
  * The Spark file source + checkpointing replaces both: files are tracked
  * exactly-once in the checkpoint, `maxFileAge` matches the ingestion
  * window, and `Trigger.AvailableNow` gives the drain-then-stop batch
  * semantics of a Lambda invocation.
  *
  * A file-source stream has ONE fixed schema, so each report class runs as
  * its own stream with a class glob (`Amazon*.csv`, …) — the production
  * shape for heterogeneous landing dirs; S5 routing becomes the glob.
  * Each micro-batch then takes the batch handler's own path: the class
  * dispatch [[Cleaners.byClass]], then [[Sinks.writeCsvAll]]
  * ([[cleanClassStream]]) or [[PgLoad.loadAllStaged]]
  * ([[loadClassStream]]).
  */
object StreamPipeline {

  /** File-source stream over a raw-CSV landing directory (S4's streaming
    * form). `maxFileAge` mirrors the reference's `minutes` window; the
    * glob is the streaming twin of S5 routing. */
  def fileStream(
      spark: SparkSession, dir: String, schema: StructType,
      glob: String = "*.csv", maxFileAge: String = "7d"): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFileAge", maxFileAge)
      .option("pathGlobFilter", glob)
      .csv(dir)

  /** Clean + land each micro-batch of one report class. Batches are
    * idempotent per checkpoint, so event re-delivery cannot double-load —
    * strictly stronger than the reference's ON CONFLICT mitigation.
    *
    * Batch dirs are namespaced by a hash of the CHECKPOINT (the
    * [[loadClassStream]] rule): batch ids restart at 0 whenever the
    * checkpoint changes, and without the namespace a restarted stream's
    * new batch 0 would `mode=overwrite` the PREVIOUS run's landed
    * batch_0 output. Output lands under `$outDir/run_<hash>/batch_<id>`
    * (NOT the bare `$outDir/batch_<id>` — consumers glob the run_ level
    * too). The hash is of the CANONICALIZED checkpoint path
    * ([[runNamespace]]), so two spellings of the same local checkpoint
    * (`./ckpt`, `ckpt/`, `a/../ckpt`) land in the same run dir. */
  def cleanClassStream(
      raw: DataFrame, cls: CsvSource.FileClass, outDir: String,
      checkpointDir: String): StreamingQuery = {
    applyConfiguredStateStore(raw.sparkSession)
    val sid = runNamespace(checkpointDir)
    raw.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try Sinks.writeCsvAll(cleanBatch(batch, cls).csvZone,
          s"$outDir/run_$sid/batch_$batchId"): Unit
        finally CacheScope.releaseAll() // per-batch: no leak
      }
      .start()
  }

  /** The run-dir namespace for a checkpoint: an 8-hex md5 of the
    * CANONICAL form of the checkpoint location, so equivalent
    * spellings (relative vs absolute, trailing slash, `..` segments,
    * `file://` vs bare local path) key the same run dir. Remote URIs
    * (`hdfs://…`, `s3a://…`) normalize via `java.net.URI`; `file:` URIs
    * and bare paths resolve absolute + normalized through the local
    * filesystem. A location `java.net.URI` cannot parse (spaces, `%` —
    * legal in Hadoop paths) falls back to hashing the raw string: a
    * stable namespace for that spelling, never a setup crash. */
  def runNamespace(checkpointDir: String): String = {
    def local(p: String) = java.nio.file.Paths.get(p)
      .toAbsolutePath.normalize().toString.stripSuffix("/")
    val canon =
      if (checkpointDir.contains("://") || checkpointDir.startsWith("file:"))
        try {
          val u = new java.net.URI(checkpointDir).normalize()
          if (u.getScheme == "file") local(java.nio.file.Paths.get(u).toString)
          else u.toString.stripSuffix("/")
        } catch {
          case _: java.net.URISyntaxException
               | _: IllegalArgumentException => checkpointDir
        }
      else local(checkpointDir)
    md5Hex8(canon)
  }

  /** 8-hex md5 of a string — the namespace digest. Also applied to the
    * RAW (un-canonicalized) checkpoint spelling to reproduce the ledger
    * key a pre-canonicalization release would have written, so
    * [[loadClassStream]] can honor it during a rolling upgrade. */
  private[streaming] def md5Hex8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  /** The international cleaner's embedded-header split is POSITIONAL
    * within one file, but a file-source micro-batch may concatenate
    * several files — the global first all-alphabetic row would then
    * re-header every file with file 1's embedded header. Split the batch
    * per source file, `clean` each alone, and union the parts
    * (allowMissingColumns: files of the same class share a layout, but a
    * drifted column falls back to O2-style null padding instead of an
    * error). Non-file inputs (tests, memory streams) have a single empty
    * file name and take the direct path. */
  private def perSourceFile(clean: DataFrame => (DataFrame, DataFrame))(
      df: DataFrame): (DataFrame, DataFrame) = {
    val files = df.select(input_file_name().as("__f")).distinct()
      .collect().map(_.getString(0)).sorted
    if (files.length <= 1) clean(df)
    else {
      val parts = files.toSeq.map(fn =>
        clean(df.filter(input_file_name() === fn)))
      (parts.map(_._1).reduce(_.unionByName(_, allowMissingColumns = true)),
        parts.map(_._2).reduce(_.unionByName(_, allowMissingColumns = true)))
    }
  }

  /** One micro-batch of one class through the handler's class dispatch,
    * the international cleaner split per source file. */
  private def cleanBatch(batch: DataFrame,
      cls: CsvSource.FileClass): Cleaners.Cleaned =
    Cleaners.byClass(Map(cls -> batch), perSourceFile(Cleaners.international))

  /** Stream one report class into Postgres, exactly-once: foreachBatch
    * is at-least-once (a batch can replay after a mid-batch crash or on
    * redelivery), so each batch promotes through
    * [[PgLoad.loadAllStaged]]'s staged single-transaction path claiming
    * ledger key `<class>#<id>` — a replayed already-committed batch is a
    * no-op even for the append-only tables, strictly stronger than the
    * reference's ON CONFLICT-only mitigation (README.md:119-127).
    * `loadedAtFor` keeps the F10 stamp deterministic per batch.
    *
    * Ledger keys and stage-table names are namespaced by a hash of the
    * CHECKPOINT directory: batch ids restart at 0 whenever the
    * checkpoint changes, and without the namespace a new checkpoint (or
    * a second parallel query on the same class) would collide with old
    * ledger rows — batches silently skipped as "already committed" — and
    * with the other query's in-flight stage tables. Deleting a
    * checkpoint but keeping its exact path intentionally keeps the keys:
    * the ledger then (correctly) refuses to re-load data it already
    * committed. */
  def loadClassStream(
      raw: DataFrame, cls: CsvSource.FileClass,
      connect: () => java.sql.Connection, checkpointDir: String,
      loadedAtFor: Long => java.sql.Timestamp,
      promoteSqlFor: (String, String, Seq[String], Seq[String]) => String =
        PgLoad.promoteSql,
      legacyCheckpointSpellings: Seq[String] = Nil): StreamingQuery = {
    // canonicalized ([[runNamespace]]): the ledger key must be STABLE
    // across restarts — a restart that spells the same checkpoint
    // differently (cwd-relative vs absolute) would otherwise mint a new
    // namespace and double-load the one in-flight replayed batch
    val sid = runNamespace(checkpointDir)
    // one-release migration shim: the pre-canonicalization release keyed
    // the ledger on the RAW checkpoint spelling. A restart whose location
    // was spelled non-canonically (relative path, trailing slash,
    // `file://` form) would otherwise mint a fresh namespace and promote
    // the one in-flight replayed batch TWICE. The legacy key is checked
    // (never written) inside the claim transaction — see
    // [[graft.sinks.PgLoad.loadAllStaged]].
    //
    // ASSUMPTION: deriving the legacy key from THIS run's raw
    // `checkpointDir` only reproduces the pre-upgrade key when the
    // restart spells the location exactly as the old release did. A
    // restart that upgrades AND re-spells the path (relative → absolute,
    // adds `file://`) must pass the old spelling(s) in
    // `legacyCheckpointSpellings` — each is hashed into an extra legacy
    // key checked the same way — or the in-flight batch can
    // double-promote.
    val legacySids =
      (md5Hex8(checkpointDir) +: legacyCheckpointSpellings.map(md5Hex8))
        .distinct.filterNot(_ == sid)
    val legacyFor: Long => Seq[String] =
      if (legacySids.isEmpty) _ => Nil
      else id => legacySids.map(l => s"$cls#$l#$id")
    applyConfiguredStateStore(raw.sparkSession)
    raw.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try {
          val c = cleanBatch(batch, cls)
          PgLoad.loadAllStaged(c.amazonClean, c.amazonDuplicates, c.sale,
            c.international1, c.international2, loadedAtFor(batchId),
            connect, promoteSqlFor, createTables = false,
            runTag = s"${sid}_b$batchId",
            ledgerKey = Some(s"$cls#$sid#$batchId"),
            legacyLedgerKeys = legacyFor(batchId)): Unit
        } finally CacheScope.releaseAll() // per-batch: no leak
      }
      .start()
  }

  /** Run a (bounded) streaming frame to completion under AvailableNow
    * through a memory sink and return the result as a SELF-CONTAINED
    * local DataFrame. The four registered AvailableNow adapters are
    * re-executed per bench rep / verify run; without this cleanup each
    * call would leak a full result set in driver memory (memory sinks
    * retain all rows for the session's lifetime) plus an orphaned
    * checkpoint directory on disk. Results here are aggregate/
    * event-table grain (bounded at test SFs); production paths use the
    * real file/JDBC sinks. */
  private def runAvailableNow(
      out: DataFrame, prefix: String, mode: String): DataFrame = {
    val spark = out.sparkSession
    applyConfiguredStateStore(spark)
    val qn = prefix +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ckpt")
    // finally-guarded so a failed start/drain never leaks the temp
    // checkpoint tree (r11 ADVICE — same discipline as the temp-dir
    // adapters below) NOR the named memory-sink view: memory sinks
    // retain all rows for the session lifetime, so the dropTempView
    // must run even when start/awaitTermination/localize throws (the
    // view may not exist if start() itself failed — drop is guarded).
    try withStatePartitions(spark) {
      val q = out.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode)
        .format("memory")
        .queryName(qn)
        .start()
      q.awaitTermination()
      localize(spark.table(qn))
    } finally {
      try spark.catalog.dropTempView(qn)
      catch { case scala.util.control.NonFatal(_) => }
      rmRf(ckpt.toFile)
    }
  }

  /** Recursive temp-tree delete shared by every AvailableNow adapter. */
  private def rmRf(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
    f.delete(); ()
  }

  /** Copy a (bounded) result into a SELF-CONTAINED local DataFrame so
    * the adapter can delete its temp tree before returning — the
    * runAvailableNow convention shared by the LSH probe adapters. */
  private def localize(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** File-source stream over one parquet table in the sf dir — the
    * shared bootstrap of every AvailableNow adapter (the file source
    * wants a DIRECTORY, so the glob narrows the listing to the one
    * table file — the S5 routing idiom; the schema probes the batch
    * reader; events readers also need the nanosAsLong conf and ts
    * normalization, applied when `normalizeEvents`). One definition:
    * a change to the probe/glob/normalization applies to every
    * adapter, not to whichever copies remember it. */
  private def streamTable(spark: SparkSession, dir: String,
      file: String, normalizeEvents: Boolean): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$dir/$file").schema)
      .option("pathGlobFilter", file)
      .parquet(dir)
    if (normalizeEvents) graft.Tables.normalizeEventsTs(raw) else raw
  }

  /** The hourly rollup plan of the registered query; its scaling
    * curve at 1–32× sf0.1 is `stream_hourly` in `SCALEPROBE_r10.json`
    * and `SCALEPROBE_r11.json`. */
  private def hourlyRollup(ev: DataFrame): DataFrame = {
    import graft.Det.dsum
    ev.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** The full streaming hourly-rollup pipeline executed end to end with
    * `Trigger.AvailableNow` over the events parquet — the drain-then-stop
    * micro-batch shape of a Lambda invocation, benchmarked and
    * oracle-checked against the BATCH hourly rollup: exactly-once file
    * tracking means the streamed result must equal the batch result
    * row-for-row, and the DuckDB gate enforces it.
    *
    * Sink is memory/complete for the self-contained round trip (the
    * production shape is append + file/JDBC sink, spec'd in
    * [[loadClassStream]]); the watermark rides along to keep the plan
    * the production plan. Checkpoint and sink name are fresh per call so
    * bench reps re-execute the whole stream. */
  def eventsHourlyAvailableNow(
      spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(
      hourlyRollup(streamTable(spark, dir, "events.parquet",
        normalizeEvents = true)),
      "stream_ev_", "complete")

  /** Per-hour DISTINCT USERS as a structured stream via the mergeable
    * HLL sketch — exact `countDistinct` is unsupported in streaming
    * (it would need unbounded per-key sets in the state store), and
    * the sketch is the standard answer: state per hour window is 256
    * register bytes whatever the user cardinality, merged register-wise
    * across micro-batches by the same `TypedImperativeAggregate` the
    * batch HLL family uses. The oracle replays per-hour registers and
    * the shared estimator ([[graft.ops.IncrementalAgg.hllEstimateSql]])
    * in batch SQL — streamed sketch state ≡ batch sketch hash-exactly.
    *
    * Scale: the shuffle carries partial sketches (one per hour ×
    * map partition) and the state store holds one 256-byte sketch per
    * hour window. NOTE on the adapter's output mode: this AvailableNow
    * drain runs in `complete` mode (the memory-sink snapshot the oracle
    * compare needs), where Spark retains every window's state and the
    * watermark evicts nothing — state here is bounded by the DRAINED
    * dataset's hour span, not by eviction. The genuinely-unbounded
    * production shape is the same plan under `update`/`append` output,
    * where the 2-hour watermark does evict closed hours and state is
    * O(live windows) × 256 bytes. */
  def eventsHourlyHllAvailableNow(
      spark: SparkSession, dir: String): DataFrame = {
    val p = 8
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val agg = ev.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.HllAgg.hll_sketch(
        graft.ext.TextDedup.baseHash(col("user_id").cast("string")), p)
        .as("sk"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        graft.ops.IncrementalAgg.hllEstimate(col("sk"), p)
          .as("users_hll"))
    runAvailableNow(agg, "stream_hll_", "complete")
  }

  /** Count-Min-Sketch counters as a structured stream — the frequency
    * twin of [[eventsHourlyHllAvailableNow]]'s distinct sketch: exact
    * per-key frequency over an unbounded stream needs one state row per
    * DISTINCT KEY (unbounded); the CMS keeps a fixed d×w counter
    * matrix (≤ 256 state rows here) whatever the key cardinality, and
    * counters merge by addition — which IS Spark's partial aggregation,
    * so micro-batches fold in with no custom state code. Probing
    * (point estimates / heavy-hitter candidates) happens downstream on
    * the drained matrix exactly as in the batch `ext_heavy_hitters_cms`
    * path. The oracle replays the counter build in batch SQL —
    * streamed counter state ≡ batch counters hash-exactly. */
  def eventsCmsCountersAvailableNow(
      spark: SparkSession, dir: String,
      d: Int = 4, w: Int = 64): DataFrame = {
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val agg = ev
      .select(posexplode(array(graft.ext.Sketches.cmsBuckets(
        col("user_id").cast("string"), d, w): _*))
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    runAvailableNow(agg, "stream_cms_", "complete")
  }

  /** Per-hour VALUE QUANTILES (p50/p90/p99) as a structured stream via
    * the mergeable equi-width histogram sketch — exact quantiles are
    * unsupported in streaming (they'd need every raw value in state);
    * the histogram is the classic mergeable answer: state per hour
    * window is one count per occupied `width`-wide bucket (bounded by
    * value-range/width whatever the row count), combined across
    * micro-batches by plain count addition, exactly like the batch
    * [[graft.ext.Sketches.histogramQuantiles]] family. The drained
    * state then goes through the IDENTICAL inverse-CDF read-off
    * ([[graft.ext.Sketches.quantileReadoff]]) — query-time
    * post-processing over the bounded hour×bucket grain, the way a
    * dashboard serves latency percentiles from streamed counters. The
    * oracle replays histogram + interpolation in batch SQL, so the
    * ESTIMATES are hash-gated end to end.
    *
    * Parity note: bucketing uses explicit `floor` (not a bare long
    * cast) because Spark's double→long cast truncates while DuckDB's
    * rounds half-even — floor is the one spelling both engines agree
    * on (values are non-negative here).
    *
    * Like the other AvailableNow adapters, this drain runs `complete`
    * output for the snapshot; under `update`/`append` the watermark
    * evicts closed hours and state is O(live windows × buckets). */
  def eventsHourlyQuantilesAvailableNow(
      spark: SparkSession, dir: String,
      width: Int = 8,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val v = floor(col("value")).cast("long")
    val hist = ev.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"),
        (v - (v % width)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("bucket"), col("cnt"))
    val drained = runAvailableNow(hist, "stream_qt_", "complete")
    graft.ext.Sketches.quantileReadoff(drained, "hour", width, qs)
  }

  /** User-journey transitions as a structured stream
    * ([[TransitionStream]]): per-user event-type bigrams extracted
    * statefully (last-event-per-user state, watermark-finalized
    * emission), then rolled up into the SAME transition-matrix shape
    * as the batch `q_markov_transitions` — counts and probabilities
    * over (from, to). The rollup runs on the drained append stream
    * (in production it is the downstream aggregation over the
    * transition feed; here it is query-time post-processing like the
    * quantile read-off).
    *
    * The streamed matrix covers exactly the transitions whose TO event
    * the final watermark passed (the sessionize-stream finality rule);
    * the oracle replays the batch lag-window with that cutoff. Events
    * inside the final watermark horizon stay buffered, exactly as a
    * live deployment would hold them. */
  def markovTransitionsAvailableNow(
      spark: SparkSession, dir: String): DataFrame = {
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val trans = TransitionStream.transitions(ev, "2 hours")
    val drained = runAvailableNow(
      trans.toDF().select(col("from_type"), col("to_type")),
      "stream_markov_", "append")
    val counts = drained.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("tot"))
    counts.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("tot"), 6).as("p"))
  }

  /** Stream-static DIMENSION ENRICHMENT — the most common production
    * streaming join: each event is joined to a slow-moving dimension
    * (customer → market segment) and rolled up per hour. The static
    * side is an explicit `broadcast` of the two needed columns only, so
    * the join is stateless map-side hash probing — NO join state in the
    * state store, no shuffle of the stream (contrast the stream-stream
    * interval join in [[attributionAvailableNow]], which must keep both
    * sides' watermark-bounded state). At 100 TB/day of events the only
    * stateful operator is the downstream windowed agg, whose state is
    * one row per (hour window × segment) — bounded by dimension
    * cardinality, not traffic. The dimension is re-read per micro-batch
    * (Spark re-plans the static side), which is exactly how slowly
    * changing dims pick up updates between batches.
    *
    * Oracle: the batch equi-join + group-by replay of the same plan. */
  def eventsEnrichedSegmentAvailableNow(
      spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.dsum
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val dim = broadcast(graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    val out = ev.withWatermark("ts", "2 hours")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("c_mktsegment"), col("n"), col("total_value"))
    runAvailableNow(out, "stream_enrich_", "complete")
  }

  /** INCREMENTAL record linkage as a structured stream — the streaming
    * twin of the batch ER family (`er_match_scores`,
    * [[graft.ext.RecordLinkage]]): each newly arriving record is
    * blocked against the existing MASTER, edit-distance-verified and
    * field-agreement-scored, and assigned the matching master entity —
    * without ever re-linking the archive (the mirror of
    * `ext_dedup_incremental`'s never-re-read-the-archive posture).
    *
    * The whole path is STATELESS: the blocking key is a projection, the
    * candidate join is stream-static on the key (re-planned per
    * micro-batch, so master updates are picked up between batches), and
    * verify + score are row-local — append output, no state store, no
    * watermark. At 10⁹ master rows the static side is bucketed on the
    * blocking key so each micro-batch probes only matching buckets.
    *
    * The latency path runs ONE blocking pass (the name-prefix key);
    * multi-pass recall (typos inside the prefix span) belongs to the
    * periodic batch back-fill, which also owns transitive re-clustering
    * — the standard split between streaming assignment and batch
    * consolidation in MDM systems. Incoming feed is the same in-flight
    * 'web' perturbation as the batch fixture; the oracle replays the
    * block-join + verify + score in batch SQL. */
  def erAssignAvailableNow(
      spark: SparkSession, dir: String): DataFrame = {
    val master = graft.Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("rid_m"),
      lower(col("c_name")).as("nm_m"),
      col("c_nationkey").as("nation_m"),
      col("c_mktsegment").as("segment_m"),
      col("c_acctbal").as("bal_m"))
    val mk = master.withColumn("bk",
      col("nm_m").substr(lit(1), length(col("nm_m")) - 2))
    val in = streamTable(spark, dir, "customer.parquet",
      normalizeEvents = false)
      .filter(col("c_custkey") % 7 === 0)
      .select(
        (col("c_custkey").cast("long") + 10000000L).as("rid"),
        lower(col("c_name")).as("nm"),
        col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        (col("c_acctbal") + 0.25).as("bal"))
      .select(col("rid"),
        concat(
          col("nm").substr(lit(1), length(col("nm")) - 1),
          translate(col("nm").substr(length(col("nm")), lit(1)),
            "0123456789", "1234567890")).as("nm"),
        col("nation"), col("segment"), col("bal"))
      .withColumn("bk",
        col("nm").substr(lit(1), length(col("nm")) - 2))
    val out = in.join(mk, Seq("bk"))
      .withColumn("name_dist", levenshtein(col("nm"), col("nm_m"), 2))
      .filter(col("name_dist").between(0, 2))
      .withColumn("score", round(
        (lit(4.0) - lit(2.0) * col("name_dist"))
          + when(col("nation") === col("nation_m"), 3.0).otherwise(-1.5)
          + when(col("segment") === col("segment_m"), 1.2).otherwise(-0.8)
          + when(abs(col("bal") - col("bal_m")) <= 1.0, 2.0)
              .otherwise(-1.0),
        6))
      .filter(col("score") >= 8.0)
      .select(col("rid"), col("rid_m").as("entity_id"),
        col("name_dist"), col("score"))
    runAvailableNow(out, "stream_er_", "append")
  }

  /** ONLINE k-means inference as a structured stream — the deploy side
    * of [[graft.ext.Lloyd]]: the model (k·d float centroids) is fitted
    * on the static corpus at startup, and each arriving vector is
    * assigned
    * its nearest centroid by the SAME literal-broadcast codegen argmin
    * projection the batch fit uses ([[graft.ext.Lloyd.assignTo]]) —
    * completely stateless (append output, no state store, no
    * watermark), the standard model-serving split: streaming assigns,
    * the periodic batch refit owns centroid movement. The incoming feed
    * is the vec_id % 5 slice of the embeddings table; the oracle
    * replays fit + assignment relationally. */
  def kmeansAssignAvailableNow(
      spark: SparkSession, dir: String): DataFrame = {
    val model = graft.ext.Lloyd.fitCentroids(
      graft.Tables.embeddings(spark, dir), k = 8, updates = 3)
    val in = streamTable(spark, dir, "embeddings.parquet",
      normalizeEvents = false)
      .filter(col("vec_id") % 5 === 0)
    val out = graft.ext.Lloyd.assignTo(in, model)
      .select(col("vec_id"), col("cid"), col("dist"))
    runAvailableNow(out, "stream_kmeans_", "append")
  }

  /** Streaming growth accounting ([[GrowthStream]]): watermark-final
    * per-(user, week) lifecycle facts — including the event-time-
    * timeout CHURN absences — drained AvailableNow; the caller
    * aggregates the fact rows to the week grain. */
  def growthLifecycleAvailableNow(
      spark: SparkSession, dir: String): DataFrame = {
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    runAvailableNow(GrowthStream.lifecycle(ev, "7 days").toDF(),
      "stream_growth_", "append")
  }

  /** Session rollup via Spark's NATIVE `session_window` aggregation —
    * the built-in operator next to the custom
    * `flatMapGroupsWithState` sessionizer (`q_stream_sessions_state`):
    * dynamic-gap windows merge while events land within `gap` of the
    * session's moving end (window end = last event + gap; TOUCHING
    * windows merge too — an event at exactly `gap` after the last one
    * extends the session, spec-pinned — only a strictly larger gap
    * starts a new one), and append mode emits each session once the watermark
    * passes its end. State per (user, open session) is one merging
    * window — bounded by the watermark horizon like every stateful
    * agg here. */
  def sessionWindowNativeAvailableNow(
      spark: SparkSession, dir: String, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame = {
    import graft.Det.dsum
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val agg = ev.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"), col("total_value"))
    runAvailableNow(agg, "stream_sessnat_", "append")
  }

  /** SLIDING-window rollup as a structured stream, drained with
    * `Trigger.AvailableNow` — the trending-metrics shape (every event
    * counts into the `slide`-spaced windows of length `window` covering
    * it; window/slide = 4 overlapping windows per event at the
    * defaults). The oracle replays the window fan-out in batch SQL
    * (each event joins its window÷slide covering window starts), so the
    * streamed sliding state is pinned to batch semantics hash-exactly,
    * like the tumbling twin `q_stream_events_hourly`.
    *
    * Scale: Spark expands each event to window/slide state rows BEFORE
    * the shuffle, so the exchange carries the fan-out — keep
    * window/slide small (4 here); state is bounded by
    * (watermark + window)/slide live windows per key, evicted by the
    * watermark as usual. */
  def eventsSlidingAvailableNow(
      spark: SparkSession, dir: String,
      window: String = "1 hour", slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame = {
    import graft.Det.dsum
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val agg = ev.withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"),
        col("event_type"), col("n"), col("total_value"))
    runAvailableNow(agg, "stream_slide_", "complete")
  }

  /** CDC apply as a structured stream: the change log (base snapshot +
    * updates + deletes + inserts, exactly the `q_cdc_apply` fixture)
    * arrives as a stream and the latest-per-key snapshot materializes by
    * STATEFUL `max(struct(seq, op, payload…))` — windowless latest-wins,
    * delete winners filtered after the aggregate. Streamed ≡ batch
    * apply hash-exactly (same oracle SQL as `q_cdc_apply`).
    *
    * Scale: state is ONE struct per live key (the compacted table
    * itself), keyed shuffle like the batch form; complete-mode memory
    * output is the test adapter — a production run uses update mode
    * with a downstream merge sink (the PgLoad upsert path), which
    * emits only keys the batch touched. */
  def cdcApplyAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val raw = streamTable(spark, dir, "orders.parquet",
      normalizeEvents = false)
    val base = raw.select(col("o_orderkey").as("k"), lit(0L).as("seq"),
      lit("U").as("op"), col("o_orderstatus").as("st"),
      col("o_totalprice").as("pr"))
    val upd = raw.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey").as("k"), lit(1L).as("seq"),
        lit("U").as("op"), lit("U1").as("st"),
        (col("o_totalprice") + lit(100.0)).as("pr"))
    val del = raw.filter(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey").as("k"), lit(2L).as("seq"),
        lit("D").as("op"), lit("").as("st"), lit(0.0).as("pr"))
    val ins = raw.filter(col("o_orderkey") % 11 === 0)
      .select((-col("o_orderkey")).as("k"), lit(2L).as("seq"),
        lit("U").as("op"), lit("NEW").as("st"), col("o_totalprice").as("pr"))
    val snap = base.unionByName(upd).unionByName(del).unionByName(ins)
      .groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("st"), col("pr"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(col("k").as("o_orderkey"), col("m.st").as("o_orderstatus"),
        col("m.pr").as("o_totalprice"))
    runAvailableNow(snap, "stream_cdc_", "complete")
  }

  /** Event-time windowed aggregation with watermarking over the events
    * stream — the §2.8 extension surface (absent in the reference). */
  def eventsWindowed(
      events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming exact dedup — the D1/ext-dedup family on an unbounded
    * stream. `dropDuplicatesWithinWatermark` keys the state store on
    * `keyCols` but, unlike plain `dropDuplicates`, EVICTS each key once
    * the event-time watermark passes it — bounded state, the only shape
    * that survives an unbounded corpus feed. Contract: a duplicate is
    * suppressed if it arrives within the watermark delay of the first
    * occurrence; later re-occurrences (state already evicted) re-emit,
    * which is the documented at-least-once dedup trade every bounded-
    * state streaming dedup makes. */
  def dedupStream(raw: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    raw.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming corpus ingestion: the stateless head of the batch corpus
    * pipeline (annotate → PII redact → quality/token/repetition gate)
    * followed by bounded-state exact dedup on the content fingerprint —
    * every stage per-row except the dedup, whose state the watermark
    * evicts. This is the shape that keeps up with an unbounded document
    * feed: near-dup mining (LSH) and split assignment stay DOWNSTREAM
    * batch jobs over the landed clean corpus ([[graft.app.CorpusMain]]),
    * because they need corpus-global context a stream cannot hold. */
  def corpusCleanStream(docs: DataFrame, tsCol: String, watermark: String,
      minTokens: Int = 10, minQuality: Double = 0.2,
      maxDupTokenFrac: Double = 0.9,
      stripMarkup: Boolean = true, domainBlocklist: Seq[String] = Nil,
      gopher: Boolean = false): DataFrame = {
    import graft.ext.{Markup, TextStats}
    // same head order as CorpusMain: provenance gate on RAW text (hrefs
    // visible), then markup strip — both stateless, stream-safe
    val provenanced =
      if (domainBlocklist.isEmpty) docs
      else docs.filter(Markup.domainKeep(col("text"), domainBlocklist))
    val demarked =
      if (!stripMarkup) provenanced
      else provenanced.withColumn("text", Markup.stripHtml(col("text")))
        // NFC before fingerprinting, like CorpusMain: decomposed vs
        // precomposed spellings must dedup as one key (stateless,
        // stream-safe)
        .withColumn("text", graft.functions.NfcNormalize.nfc(col("text")))
    // same annotate order as CorpusMain: fp on the raw text (dedup key),
    // stats on the REDACTED text that actually ships
    val annotated = demarked
      .select(col("doc_id"), col(tsCol),
        TextStats.fingerprint(col("text")).as("fp"),
        TextStats.redactPii(col("text")).as("text"))
      .select(col("doc_id"), col(tsCol), col("fp"), col("text"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        TextStats.qualityScore(col("text")).as("quality"),
        TextStats.dupTokenFrac(col("text")).as("dup_frac"))
    val baseGate =
      col("n_tokens") >= minTokens && col("quality") >= minQuality &&
        col("dup_frac") <= maxDupTokenFrac
    val gated = annotated.filter(
      if (gopher) baseGate && TextStats.gopherKeep(col("text"))
      else baseGate)
    dedupStream(gated, Seq("fp"), tsCol, watermark)
      .select("doc_id", tsCol, "text", "n_tokens", "quality")
  }

  /** Stream-stream interval join — attribute each purchase to the same
    * user's clicks in the preceding `window`. Both sides carry
    * watermarks and the join condition bounds event-time distance, which
    * is what lets Spark EVICT join state: without the interval bound a
    * stream-stream inner join must retain every row forever. State per
    * side is O(rows within watermark+window), the bounded shape that
    * survives an unbounded feed. Columns are prefixed to keep the output
    * unambiguous. */
  def clickAttributionStream(clicks: DataFrame, purchases: DataFrame,
      window: String = "1 hour", watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user_id"),
      col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("p_ts"),
      col("value").as("purchase_value"))
      .withWatermark("p_ts", watermark)
    // purchases are the preserved side: with joinType = "leftOuter" an
    // unattributed purchase still emits (click_id NULL) — but only once
    // the watermark passes its join window, when Spark can PROVE no
    // matching click can still arrive; until then it waits in state.
    p.join(c, expr(s"""c_user_id = p_user_id
        AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL $window"""), joinType)
      .select(col("p_user_id").as("user_id"), col("click_id"),
        col("purchase_id"), col("purchase_value"))
  }

  /** [[clickAttributionStream]] drained end-to-end over the testdata
    * events table with `Trigger.AvailableNow` — the registered,
    * oracle-checked form (`q_stream_attribution`). Both join sides read
    * the SAME file-source stream (one listing, two filtered branches);
    * the interval bound + watermarks make the join state bounded, and
    * because exactly-once file tracking delivers every event exactly
    * once, the streamed inner-join result must equal the batch interval
    * join row-for-row — the DuckDB gate enforces streamed ≡ batch.
    *
    * Scale: state per side is O(events within watermark + window), not
    * O(stream length) — the only stream-stream join shape that survives
    * an unbounded feed. Fresh checkpoint + sink name per call so bench
    * reps re-execute the full micro-batch (the
    * [[eventsHourlyAvailableNow]] contract). */
  def clickAttributionAvailableNow(
      spark: SparkSession, dir: String,
      window: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val out = clickAttributionStream(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"),
      window, watermark)
    runAvailableNow(out, "stream_attr_", "append")
  }

  /** Custom-state sessionization, registered end-to-end: the
    * `flatMapGroupsWithState` path ([[SessionWindows.sessionizeStream]])
    * run as an AvailableNow stream over the events table. A session is
    * emitted ONLY when the event-time watermark passes `last_event +
    * gap` (successor closure alone never emits — an out-of-order
    * above-watermark event could still merge into it): emitted iff
    * `floor((last_us + gapUs)/1000) < final watermark (ms)`, final
    * watermark = `floor(max(ts in data)/1000) − delay`. The rule is
    * deterministic integer arithmetic, so the DuckDB oracle replays the
    * batch islands AND the finality cutoff — streaming
    * event-time semantics themselves are hash-gated, not just spec'd.
    * (The no-data micro-batch after the last file is what fires the
    * timeouts; sessions inside the final watermark horizon stay open by
    * design — on a live feed they close as the watermark advances.)
    *
    * Scale: state shuffles on user_id; per-task state = open sessions
    * per user; timers evict with the watermark. */
  def sessionsStateAvailableNow(
      spark: SparkSession, dir: String,
      gapUs: Long = 4L * 3600 * 1000000,
      watermark: String = "2 hours"): DataFrame = {
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val sess = SessionWindows.sessionizeStream(ev, gapUs, watermark)
    val out = sess.toDF()
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")),
          "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(timestamp_micros(col("end_us")),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("total_value"))
    runAvailableNow(out, "stream_sess_", "append")
  }

  /** Streaming exactly-once DEDUP over an at-least-once feed — the
    * streaming upgrade of the reference's duplicate-invocation defect
    * (README.md:119-127) applied to ROW duplicates, not just file
    * re-reads: `dropDuplicatesWithinWatermark` keeps one row per
    * event_id, with state EVICTED once the watermark passes the event's
    * time (the only dedup shape whose state stays bounded on an
    * unbounded feed — a plain `dropDuplicates` would grow one key per
    * event forever).
    *
    * The at-least-once upstream is SIMULATED by unioning two independent
    * file-source reads of the same events table — every event arrives
    * exactly twice, so the deduped output must equal the source table
    * row-for-row, and the DuckDB gate (plain SELECT over events) enforces
    * it hash-exactly.
    *
    * Scale: dedup state shuffles on event_id like any keyed stateful op;
    * state size is bounded by the watermark horizon × arrival rate, not
    * corpus size. ts is emitted as a formatted string (the repo's
    * timestamp determinism rule). */
  def dedupStreamAvailableNow(
      spark: SparkSession, dir: String,
      watermark: String = "2 hours"): DataFrame = {
    def readOnce() = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val doubled = readOnce().union(readOnce())
    val deduped = doubled
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("user_id"), col("event_type"), col("value"))
    runAvailableNow(deduped, "stream_dedup_", "append")
  }

  /** Streaming NEAR-dedup against the archive-as-index — the streaming
    * twin of `ext_dedup_incremental_lsh` (the one high-traffic
    * LLM-ingest shape the batch/stream matrix was missing): arriving
    * docs shingle → MinHash → band ONCE, probe the STATIC archive LSH
    * index ([[graft.ext.TextDedup.lshIndex]] — (band, id) buckets +
    * per-id hash sets, the archive never re-read or re-shingled) via a
    * stream-static equi-join on the band key, and Jaccard-verify only
    * the collisions against the hash sets fetched by archive id.
    *
    * State: the only stateful op is the candidate-pair dedup (a pair
    * colliding in several bands must emit once) —
    * `dropDuplicatesWithinWatermark` on (id, archive_id), whose state
    * the ingest-time watermark EVICTS one horizon after the doc
    * arrives: all of a doc's band collisions carry the doc's single
    * ingest timestamp, so they land within one watermark window and
    * state never outlives it. The band and verify joins are
    * stream-static (re-planned per micro-batch; at 10⁹ archive docs
    * both index frames live bucketed BY BAND / BY ID on disk, so a
    * micro-batch probes only colliding buckets).
    *
    * The incoming doc's hash set rides the band join (the latency-path
    * trade: per-doc payload crosses one shuffle; the batch variant
    * re-joins by id instead because its candidate volume is
    * corpus-scale). The feed is the batch query's exact incoming frame
    * — the odd-id half plus near-dup twins of every 10th archive doc —
    * built in ONE pass with a two-leg explode; the ingest timestamp is
    * a deterministic function of doc_id so the drain replays exactly.
    * Output (doc_id, archive_id, jaccard) is hash-pinned to the batch
    * incremental replay: the registered query reuses
    * `ext_dedup_incremental_lsh`'s oracle SQL verbatim. */
  def dedupLshAvailableNow(spark: SparkSession, dir: String,
      threshold: Double = 0.5, watermark: String = "10 minutes")
      : DataFrame = {
    import graft.ext.TextDedup
    val docs = graft.Tables.documents(spark, dir)
    val (idxBands, idxHashes) = TextDedup.lshIndex(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    val ib = graft.ops.CacheScope.persist(
      idxBands.select(col("band"), col("id").as("archive_id")))
    val ih = graft.ops.CacheScope.persist(
      idxHashes.select(col("id").as("archive_id"), col("hs").as("hs_a")))
    val raw = streamTable(spark, dir, "documents.parquet",
      normalizeEvents = false)
    val incoming = raw.select(explode(array(
        when(col("doc_id") % 2 === 1,
          struct(col("doc_id").as("doc_id"), col("text").as("text"))),
        when(col("doc_id") % 10 === 0,
          struct((col("doc_id") + 600000L).as("doc_id"),
            concat(col("text"), lit(" zz extra")).as("text")))))
        .as("d"))
      .filter(col("d").isNotNull)
      .select(col("d.doc_id").as("id"), col("d.text").as("text"))
      // deterministic ingest time (one doc per second from a fixed
      // epoch) — the drain replays exactly; in production this is the
      // source's arrival timestamp
      .withColumn("ing_ts", timestamp_seconds(
        lit(1704067200L) + col("id") % 86400L))
    runAvailableNow(
      lshDedupStream(incoming, ib, ih, threshold, watermark),
      "stream_lshdedup_", "append")
  }

  /** BUCKET-PRUNED stream-static LSH probe — the 10⁹-archive plan the
    * plain [[lshDedupStream]] only gestures at. `SCALEPROBE_r11.json`
    * measured the plain stream-static join honestly: the static side
    * is re-scanned per run, so probe cost grows LINEARLY with the
    * archive (2.9 s → 6.0 s at 2×) — a full-index scan per micro-batch
    * is the 100 TB failure mode. Here the index tables live
    * PARTITIONED BY HASH BUCKET on disk (ib by band bucket, ih by
    * archive-id bucket, `bkt = pmod(xxhash64(key), nBuckets)`), and
    * each micro-batch in `foreachBatch`
    *
    *   1. shingles→bands once (localCheckpoint shared by both probes),
    *   2. collects its DISTINCT touched band buckets — a BOUNDED
    *      collect, ≤ min(4·batchDocs, nBuckets) ints — and reads ONLY
    *      those partitions of ib (partition pruning at planning time),
    *   3. after the collision join, does the same for the candidate
    *      archive ids against ih,
    *
    * so per-batch IO is (touched buckets)·(bucket size), bounded by
    * the BATCH's key footprint — constant as the archive grows N× —
    * times the per-bucket share that shrinks as nBuckets rises. The
    * residual last mile from bucket-granular IO to true O(collisions)
    * is a point-lookup store (the RocksDB state-store posture);
    * at file granularity this is the standard lakehouse answer.
    * Output is IDENTICAL to the plain plan (pruning is lossless:
    * untouched buckets cannot contain a matching band/id by
    * construction) — the registered query shares the batch oracle
    * verbatim. No streaming state: the probe is batch-local, a doc
    * probes in exactly one batch. */
  def lshDedupPrunedStart(incoming: DataFrame, threshold: Double,
      nBuckets: Int, pairsDir: String, ibDir: String, ihDir: String,
      ckptDir: String, availableNow: Boolean): StreamingQuery = {
    val spark = incoming.sparkSession
    applyConfiguredStateStore(spark)
    val writer = incoming.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (bBands, bHs) = prunedProbeBatch(batch, threshold, nBuckets,
          pairsDir, ibDir, ihDir)
        graft.ops.CacheScope.release(bBands)
        graft.ops.CacheScope.release(bHs)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One micro-batch of the bucket-pruned probe: shingle once, prune
    * both index reads to the batch's touched buckets, verify
    * collisions, append surviving pairs to `pairsDir`. Returns the
    * batch's (bands, hashes) checkpoints so the growing variant can
    * append them to the index; the caller releases them. */
  private def prunedProbeBatch(batch: DataFrame, threshold: Double,
      nBuckets: Int, pairsDir: String, ibDir: String, ihDir: String)
      : (DataFrame, DataFrame) = {
    import graft.ext.TextDedup
    val spark = batch.sparkSession
    val (bBands0, bHs0) = TextDedup.lshIndex(
      batch.select(col("id"), col("text")), "text", "id")
    val bBands = bBands0.localCheckpoint()
    val bHs = bHs0.localCheckpoint()
    val bandBkts = bBands
      .select(pmod(xxhash64(col("band")), lit(nBuckets)).as("bkt"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // both index reads resolve through the manifest snapshot, so a
    // probe racing the maintenance pass scans one consistent file set
    val ib = graft.ext.ArchiveIndex.readBucketedTable(spark, ibDir)
      .filter(col("bkt").isin(bandBkts: _*))
    val cand = bBands
      .join(ib.select(col("band"), col("id").as("archive_id")),
        Seq("band"))
      .select(col("id"), col("archive_id"))
      .dropDuplicates("id", "archive_id")
      .localCheckpoint()
    val idBkts = cand
      .select(pmod(xxhash64(col("archive_id")), lit(nBuckets))
        .as("bkt"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val ih = graft.ext.ArchiveIndex.readBucketedTable(spark, ihDir)
      .filter(col("bkt").isin(idBkts: _*))
    cand
      .join(bHs.select(col("id"), col("hs").as("hs_i")), Seq("id"))
      .join(ih.select(col("id").as("archive_id"),
        col("hs").as("hs_a")), Seq("archive_id"))
      .withColumn("inter",
        size(array_intersect(col("hs_i"), col("hs_a"))))
      .withColumn("uni",
        size(col("hs_i")) + size(col("hs_a")) - col("inter"))
      .withColumn("jaccard",
        round(col("inter") / col("uni").cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id").as("doc_id"), col("archive_id"),
        col("jaccard"))
      .write.mode("append").parquet(pairsDir)
    graft.ops.CacheScope.release(cand)
    (bBands, bHs)
  }

  /** The CAPSTONE ingest loop — [[lshDedupGrowStart]]'s growing archive
    * with [[lshDedupPrunedStart]]'s bounded probe, in one operator:
    * each micro-batch (1) shingles once, (2) probes ONLY its touched
    * buckets of the bucket-partitioned index as of batch start,
    * (3) appends its own band/hash rows INTO the bucket layout
    * (`partitionBy(bkt)` append — O(batch) files landing in the same
    * partition dirs later batches prune against), so the archive grows
    * across batches AND every probe's read volume stays bounded by the
    * batch's key footprint. The complete 100 TB ingest shape: bucket
    * count sized to the archive, and the MAINTENANCE path wired in —
    * every `compactEvery` batches the loop executes
    * [[graft.ext.ArchiveIndex.compactBucketedDir]] on both index dirs
    * (`gcGraceMs` goes to its GC), so per-bucket file counts stay
    * bounded (≤ compactEvery append waves above the packed floor)
    * however many micro-batches run, and per-batch cost stays
    * O(batch + collisions) rows read instead of eroding under
    * unbounded small-file listings. The default cadence 16 is the
    * SCALEPROBE_r13 `compact_cost` recommendation — at 32 batches it
    * was the fastest measured configuration outright (93 s vs 166 s
    * append-only: the un-maintained loop's listing/footer overhead on
    * 1,397 small files costs more per batch than two amortized full
    * rewrites; cadence 1 over-pays rewrites at 259 s), with pairs
    * identical under every cadence. `compactEvery <= 0` disables the
    * pass (the pre-r12 behavior) and logs a warning — legitimate only
    * for short-lived drains. Output is IDENTICAL to
    * [[lshDedupGrowStart]] (pruning is lossless; compaction rewrites
    * files, never rows), so the registered queries share the grow
    * oracle verbatim. */
  def lshDedupGrowPrunedStart(incoming: DataFrame, threshold: Double,
      nBuckets: Int, pairsDir: String, ibDir: String, ihDir: String,
      ckptDir: String, availableNow: Boolean, compactEvery: Int = 16,
      gcGraceMs: Long = 0L): StreamingQuery = {
    val spark = incoming.sparkSession
    applyConfiguredStateStore(spark)
    if (compactEvery <= 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "lshDedupGrowPrunedStart: compactEvery is disabled — index " +
          "data files grow linearly in micro-batch count (measured " +
          "552 -> 1,397 over 4 -> 32 batches, SCALEPROBE_r12) and " +
          "the un-maintained loop is MEASURABLY SLOWER than the " +
          "default cadence 16 (166 s vs 93 s over 32 batches, " +
          "SCALEPROBE_r13 compact_cost); disable only for " +
          "short-lived drains")
    val writer = incoming.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (bBands, bHs) = prunedProbeBatch(batch, threshold, nBuckets,
          pairsDir, ibDir, ihDir)
        graft.ext.ArchiveIndex.appendBucketedTable(
          bBands, "band", ibDir, nBuckets)
        graft.ext.ArchiveIndex.appendBucketedTable(
          bHs, "id", ihDir, nBuckets)
        graft.ops.CacheScope.release(bBands)
        graft.ops.CacheScope.release(bHs)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          graft.ext.ArchiveIndex.compactBucketedDir(spark, ibDir, gcGraceMs)
          graft.ext.ArchiveIndex.compactBucketedDir(spark, ihDir, gcGraceMs)
        }
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Write the [[graft.ext.TextDedup.lshIndex]] frames of `archive` as
    * the bucket-partitioned on-disk index [[lshDedupPrunedStart]]
    * probes (ib partitioned by band bucket, ih by id bucket) — the
    * [[graft.ext.ArchiveIndex]] table layout at caller-chosen paths. */
  def writeBucketedLshIndex(archive: DataFrame, textCol: String,
      idCol: String, nBuckets: Int, ibDir: String, ihDir: String): Unit = {
    val (ab, ah) = graft.ext.TextDedup.lshIndex(archive, textCol, idCol)
    graft.ext.ArchiveIndex.writeBucketedTable(ab, "band", ibDir, nBuckets)
    graft.ext.ArchiveIndex.writeBucketedTable(ah, "id", ihDir, nBuckets)
  }

  /** Registered adapter for the bucket-pruned probe: the EXACT feed and
    * archive of [[dedupLshAvailableNow]] (so the batch oracle is shared
    * verbatim), the index on disk in bucket-partitioned form. At test
    * SFs the single micro-batch touches most buckets (pruning is a
    * no-op); `SCALEPROBE_r11.json` and `SCALEPROBE_r12.json` hold the
    * sf0.1 evidence where the archive dwarfs the batch. */
  def dedupLshPrunedAvailableNow(spark: SparkSession, dir: String,
      threshold: Double = 0.5, nBuckets: Int = 32): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("graft-lshprune")
    try {
      import graft.ext.ArchiveIndex
      val (pairsDir, idx, ckpt) =
        (s"$base/pairs", s"$base/idx", s"$base/ckpt")
      ArchiveIndex.write(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", nBuckets, idx)
      val (ibDir, ihDir) = (ArchiveIndex.ibDir(idx), ArchiveIndex.ihDir(idx))
      val raw = streamTable(spark, dir, "documents.parquet",
        normalizeEvents = false)
      val incoming = raw.select(explode(array(
          when(col("doc_id") % 2 === 1,
            struct(col("doc_id").as("id"), col("text").as("text"))),
          when(col("doc_id") % 10 === 0,
            struct((col("doc_id") + 600000L).as("id"),
              concat(col("text"), lit(" zz extra")).as("text")))))
          .as("d"))
        .filter(col("d").isNotNull)
        .select(col("d.id").as("id"), col("d.text").as("text"))
      lshDedupPrunedStart(incoming, threshold, nBuckets, pairsDir,
        ibDir, ihDir, ckpt, availableNow = true).awaitTermination()
      localize(spark.read.parquet(pairsDir))
    } finally rmRf(base.toFile)
  }

  /** Streaming twin of the day-N COMMIT loop (r12 VERDICT #5): each
    * micro-batch runs
    * [[graft.ext.Curation.corpusBuildIncrementalCommit]] — clean the
    * batch against the archive artifact (exact gate → quality gate →
    * near-dedup), COMMIT the survivors' fp/band/hash rows into ALL
    * THREE tables of the unified [[graft.ext.ArchiveIndex]] layout,
    * compact — then appends the wave's survivors (tagged with the
    * micro-batch id) to `outDir`. Where the capstone grow loop
    * ([[lshDedupGrowPrunedStart]]) maintains the two LSH tables only,
    * this maintains the FULL artifact, fp included, so wave N's exact
    * copies of wave N−1 survivors drop at the fp gate — the batch
    * day-N loop's semantics, in foreachBatch.
    *
    * Scale: everything inherits the batch commit's shape — per-batch
    * probes read only touched buckets, appends are O(batch), the
    * maintenance pass is file-count-bounded, and the manifest commit
    * keeps concurrent readers on consistent snapshots. */
  def corpusCommitStart(incoming: DataFrame, textCol: String,
      idCol: String, archiveDir: String, outDir: String,
      minQuality: Double, ckptDir: String, availableNow: Boolean,
      gcGraceMs: Long = 0L): StreamingQuery = {
    val spark = incoming.sparkSession
    applyConfiguredStateStore(spark)
    val writer = incoming.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (cleaned, _) =
          graft.ext.Curation.corpusBuildIncrementalCommit(
            batch, textCol, idCol, archiveDir, minQuality,
            gcGraceMs = gcGraceMs)
        cleaned.select(col(idCol), col("source"),
            lit(batchId).as("wave"))
          .write.mode("append").parquet(outDir)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Registered adapter for the streaming day-N commit
    * (`q_stream_corpus_commit`): the EXACT archive seed, day-2 feed,
    * and day-3 feed of the batch `ext_corpus_build_day3` query, as two
    * mtime-ordered wave files — so the day-3 oracle is shared
    * VERBATIM, and hash-equality proves the stream's per-wave
    * commit+compact fold reproduces the batch two-day fold. The day-3
    * feed derives from day-2's survivors; it is computed READ-ONLY
    * against the seed artifact (identical rows to what the stream's
    * own wave-0 commit produces) and MATERIALIZED into its wave file
    * BEFORE the stream starts — the stream's committed artifact, not
    * this derivation, adjudicates every day-3 drop. */
  def corpusCommitAvailableNow(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text", "source")
    val base = java.nio.file.Files.createTempDirectory("graft-scommit")
    try {
      import graft.ext.{ArchiveIndex, Curation}
      val (idx, inDir, outDir, ckpt) =
        (s"$base/idx", s"$base/in", s"$base/out", s"$base/ckpt")
      ArchiveIndex.write(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", nBuckets = 32, idx)
      val feedDay2 = graft.ExtQueries.corpusIncrementalIncoming(docs)
      val (cleaned2, _) = Curation.corpusBuildIncremental(
        feedDay2, "text", "doc_id",
        ArchiveIndex.readFp(spark, idx)
          .select("fp", "representative_id"),
        ArchiveIndex.readBands(spark, idx),
        ArchiveIndex.readHashes(spark, idx), minQuality = 0.72)
      val feedDay3 = graft.ExtQueries.day3Feed(cleaned2, docs)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(inDir))
      val t0 = System.currentTimeMillis()
      Seq(feedDay2, feedDay3).zipWithIndex.foreach { case (f, k) =>
        val staging = s"$base/stage_$k"
        f.coalesce(1).write.parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = java.nio.file.Paths.get(s"$inDir/wave_$k.parquet")
        java.nio.file.Files.move(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(t0 + k * 1000))
      }
      // the derivation's stage caches are fully materialized into the
      // wave files; release them BEFORE the stream rewrites the seed
      // artifact they were read from (dead-file-index hygiene — the
      // commit loop's releaseSince, at adapter scope)
      graft.ops.CacheScope.releaseAll()
      val raw = spark.readStream.schema(feedDay2.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(inDir)
      corpusCommitStart(raw, "text", "doc_id", idx, outDir,
        minQuality = 0.72, ckpt, availableNow = true).awaitTermination()
      localize(spark.read.parquet(outDir)
        .filter(col("wave") === 1).select("doc_id", "source"))
    } finally rmRf(base.toFile)
  }

  /** STREAMING grow twin of the PERSISTED IVF index — the retrieval
    * analog of [[corpusCommitAvailableNow]]: the index is seeded from
    * a quarter of the vectors, the remaining three quarters arrive as
    * mtime-ordered wave files, and every micro-batch APPENDS its wave
    * into the bucketed assignment table through the manifest CAS
    * commit ([[graft.ext.IvfIndex.appendVectors]] — assignment against
    * the COMMITTED centroids, an O(batch) bucket append, never an
    * index rewrite), then runs the file-count-bounded compaction — the
    * same committed-artifact lifecycle the dedup commit loop
    * maintains, driven from foreachBatch. The registered result is the
    * ON-DISK probe after the drain with `ext_sim_ivf_topk`'s
    * parameters, so that query's oracle is shared VERBATIM:
    * hash-equality proves stream-grown index ≡ batch-grown index ≡
    * session-frame search. No streaming state at all — the growth IS
    * the state, durable in the manifest-committed tables (the
    * grow-capstone convention). */
  def ivfGrowAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.IvfIndex
    val emb = graft.Tables.embeddings(spark, dir)
    val model = IvfIndex.seedModel(emb, nlist = 8)
    val base = java.nio.file.Files.createTempDirectory("graft-sivf")
    val markPos = graft.ops.CacheScope.mark()
    try {
      val (idx, inDir, ckpt) = (s"$base/ivf", s"$base/in", s"$base/ckpt")
      IvfIndex.writeIndex(emb.filter(col("vec_id") % 4 === 0), model,
        idx, nBuckets = 8)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(inDir))
      val t0 = System.currentTimeMillis()
      (1 to 3).foreach { k =>
        val staging = s"$base/stage_$k"
        emb.filter(col("vec_id") % 4 === k).coalesce(1)
          .write.parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = java.nio.file.Paths.get(s"$inDir/wave_$k.parquet")
        java.nio.file.Files.move(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(t0 + k * 1000))
      }
      val raw = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(inDir)
      raw.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          IvfIndex.appendVectors(batch, idx)
          IvfIndex.compactIndex(spark, idx)
        }
        .start()
        .awaitTermination()
      localize(IvfIndex.searchOnDisk(spark, idx,
        col("vec_id") < 8, k = 5, nprobe = 2))
    } finally {
      // release the probe's internal cache BEFORE deleting the dirs
      // its plan reads (dead-file-index hygiene), then the temp tree
      graft.ops.CacheScope.releaseSince(markPos)
      rmRf(base.toFile)
    }
  }

  /** GROWING-archive streaming near-dedup — [[dedupLshAvailableNow]]'s
    * residual closed (its archive index is FROZEN at stream start, so a
    * novel doc accepted in micro-batch 1 is invisible to batch 3): the
    * LSH index lives as two PARQUET TABLES ((band, id) buckets and
    * (id, hs) hash sets — at corpus scale, bucketed BY band / BY id),
    * and every micro-batch in `foreachBatch`
    *
    *   1. shingles→minhashes→bands ONCE ([[graft.ext.TextDedup.lshIndex]]
    *      on the batch, localCheckpoint so probe and append share it),
    *   2. PROBES the index as of the batch start
    *      ([[graft.ext.TextDedup.lshProbePairs]] — collision-bounded
    *      band equi-join, Jaccard verify on collisions only),
    *   3. APPENDS the batch's band/hash rows to the index tables —
    *      an O(batch) file append, never an index rewrite,
    *
    * so a batch-k doc is a findable near-dup target for every batch
    * > k. Probe-before-append makes within-batch pairs out of scope by
    * construction (the batch variant's documented split:
    * [[graft.ext.TextDedup.minhashNearDups]] owns intra-batch dup
    * structure). No streaming state at all: the growth IS the state,
    * durable in the index tables, and a pair can't emit twice because
    * each doc probes in exactly one batch. Restart semantics: the
    * checkpoint replays an unfinished batch, whose probe then sees its
    * own partially-appended rows — production callers make the append
    * idempotent (batch-id-named files, the exactly-once ledger pattern
    * of [[loadClassStream]]); the registered adapter runs fresh dirs
    * per call so replay never arises. */
  def lshDedupGrowStart(incoming: DataFrame, threshold: Double,
      pairsDir: String, ibDir: String, ihDir: String, ckptDir: String,
      availableNow: Boolean): StreamingQuery = {
    import graft.ext.TextDedup
    val spark = incoming.sparkSession
    applyConfiguredStateStore(spark)
    val writer = incoming.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (bBands0, bHs0) = TextDedup.lshIndex(
          batch.select(col("id"), col("text")), "text", "id")
        // one shingle pass per batch: both consumers (probe, append)
        // read the checkpointed result
        val bBands = bBands0.localCheckpoint()
        val bHs = bHs0.localCheckpoint()
        // index AS OF batch start — the read snapshots the file listing
        // before this batch's append below
        val ib = spark.read.parquet(ibDir)
        val ih = spark.read.parquet(ihDir)
        TextDedup.lshProbePairs(bBands, bHs, ib, ih, threshold)
          .write.mode("append").parquet(pairsDir)
        bBands.write.mode("append").parquet(ibDir)
        bHs.write.mode("append").parquet(ihDir)
        graft.ops.CacheScope.release(bBands)
        graft.ops.CacheScope.release(bHs)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** The three-wave incoming feed both growing-archive adapters share
    * (wave = id mod 3): the odd-id half (novel docs); near-dup twins
    * of every 10th ARCHIVE doc (id + 600000, " zz extra") — these
    * match through the SEED index, the static query's behavior
    * preserved; and near-dup twins of every doc_id % 10 == 5 doc
    * (id + 1200001, " qq extra") — twins of NOVEL wave-(id%3) docs
    * arriving in wave (id+1)%3, the pairs ONLY a growing index can
    * catch (when the twin's wave trails its source the twin matches
    * the source; when it leads, the source later matches the twin). */
  private def growIncoming(docs: DataFrame): DataFrame =
    docs.select(explode(array(
        when(col("doc_id") % 2 === 1,
          struct(col("doc_id").as("id"), col("text").as("text"))),
        when(col("doc_id") % 10 === 0,
          struct((col("doc_id") + 600000L).as("id"),
            concat(col("text"), lit(" zz extra")).as("text"))),
        when(col("doc_id") % 10 === 5,
          struct((col("doc_id") + 1200001L).as("id"),
            concat(col("text"), lit(" qq extra")).as("text")))))
        .as("d"))
      .filter(col("d").isNotNull)
      .select(col("d.id").as("id"), col("d.text").as("text"))

  /** Write `incoming` as one parquet file per wave (wave = id mod 3)
    * with strictly increasing mtimes and return the wave-ordered file
    * stream: the file source (latestFirst=false) drains oldest-first
    * with `maxFilesPerTrigger = 1`, so wave k IS micro-batch k. */
  private def waveStream(incoming: DataFrame, base: java.nio.file.Path,
      inDir: String): DataFrame = {
    val spark = incoming.sparkSession
    val waves = 3
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val t0 = System.currentTimeMillis()
    (0 until waves).foreach { k =>
      val staging = s"$base/stage_$k"
      incoming.filter(pmod(col("id"), lit(waves)) === k)
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = java.nio.file.Paths.get(s"$inDir/wave_$k.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(t0 + k * 1000))
    }
    spark.readStream
      .schema(incoming.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(inDir)
  }

  /** The registered growing-archive adapter: even docs seed the plain
    * parquet index, the [[growIncoming]] feed arrives via
    * [[waveStream]] (one mtime-ordered file per wave,
    * maxFilesPerTrigger = 1 → one micro-batch per wave), and
    * [[lshDedupGrowStart]] drains it. Output (doc_id, archive_id,
    * jaccard); the oracle replays the whole fold in ONE SQL pass —
    * band archive ∪ all waves, pair i↔a exactly when
    * wave(i) > wave(a) with archive wave −1. */
  def dedupLshGrowAvailableNow(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("graft-lshgrow")
    try {
      val (inDir, pairsDir, ibDir, ihDir, ckpt) =
        (s"$base/in", s"$base/pairs", s"$base/ib", s"$base/ih",
          s"$base/ckpt")
      val (ab, ah) = graft.ext.TextDedup.lshIndex(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      ab.write.parquet(ibDir)
      ah.write.parquet(ihDir)
      val raw = waveStream(growIncoming(docs), base, inDir)
      lshDedupGrowStart(raw, threshold, pairsDir, ibDir, ihDir, ckpt,
        availableNow = true).awaitTermination()
      // self-contained local result (the runAvailableNow convention),
      // so the temp tree can be deleted before returning
      localize(spark.read.parquet(pairsDir))
    } finally rmRf(base.toFile)
  }

  /** Registered adapter for the capstone grow+prune loop
    * ([[lshDedupGrowPrunedStart]]): the EXACT feed, archive, and wave
    * boundaries of [[dedupLshGrowAvailableNow]] — so the grow oracle is
    * shared verbatim — with the index seeded AND grown in the
    * bucket-partitioned layout every probe prunes against. */
  def dedupLshGrowPrunedAvailableNow(spark: SparkSession, dir: String,
      threshold: Double = 0.5, nBuckets: Int = 32): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("graft-lshgrowpr")
    try {
      import graft.ext.ArchiveIndex
      val (inDir, pairsDir, idx, ckpt) =
        (s"$base/in", s"$base/pairs", s"$base/idx", s"$base/ckpt")
      ArchiveIndex.write(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", nBuckets, idx)
      val (ibDir, ihDir) = (ArchiveIndex.ibDir(idx), ArchiveIndex.ihDir(idx))
      val raw = waveStream(growIncoming(docs), base, inDir)
      lshDedupGrowPrunedStart(raw, threshold, nBuckets, pairsDir,
        ibDir, ihDir, ckpt, availableNow = true).awaitTermination()
      localize(spark.read.parquet(pairsDir))
    } finally rmRf(base.toFile)
  }

  /** Registered adapter for the capstone WITH the maintenance path
    * exercised ([[graft.ext.ArchiveIndex.compactBucketedDir]]):
    * identical feed, archive, and wave boundaries to
    * [[dedupLshGrowPrunedAvailableNow]], but
    * the loop compacts BOTH index dirs after EVERY micro-batch
    * (`compactEvery = 1` — each later wave probes an index the earlier
    * wave's compaction fully rewrote). The grow oracle is shared
    * verbatim a third time, so the registry hash-pins compaction's
    * losslessness end-to-end, not just file-count hygiene. */
  def dedupLshGrowCompactAvailableNow(spark: SparkSession, dir: String,
      threshold: Double = 0.5, nBuckets: Int = 32): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("graft-lshgrowc")
    try {
      import graft.ext.ArchiveIndex
      val (inDir, pairsDir, idx, ckpt) =
        (s"$base/in", s"$base/pairs", s"$base/idx", s"$base/ckpt")
      ArchiveIndex.write(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", nBuckets, idx)
      val (ibDir, ihDir) = (ArchiveIndex.ibDir(idx), ArchiveIndex.ihDir(idx))
      val raw = waveStream(growIncoming(docs), base, inDir)
      lshDedupGrowPrunedStart(raw, threshold, nBuckets, pairsDir,
        ibDir, ihDir, ckpt, availableNow = true, compactEvery = 1)
        .awaitTermination()
      localize(spark.read.parquet(pairsDir))
    } finally rmRf(base.toFile)
  }

  /** Streaming QUARANTINE ROUTING — the landing-zone twin of the batch
    * `q_dq_quarantine` pair ([[graft.ops.DqConstraints.quarantine]]):
    * arriving lineitem rows join the static order dates (stream-static,
    * re-planned per micro-batch — the cross-table rule made row-local
    * BEFORE the gate, the quarantine contract), route through the SAME
    * rulebook the batch gate uses (one definition,
    * [[graft.ExtQueries3.liGateRules]]), and the violating half lands
    * with its self-describing `violated_rules`. Completely STATELESS —
    * routing is a per-row projection + filter, so no watermark, no
    * state store: bad rows divert at ingest speed, which is the point
    * of a landing-zone gate. Oracle = the batch flagged oracle
    * verbatim (stateless streams drain exactly their input). The clean
    * half takes the symmetric filter into the load path
    * ([[cleanClassStream]]'s shape); the registered query surfaces the
    * flagged half — the side an operator actually inspects. */
  def dqQuarantineAvailableNow(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.ops.DqConstraints
    val li = streamTable(spark, dir, "lineitem.parquet",
      normalizeEvents = false)
    val joined = li.join(
      graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
      col("l_orderkey") === col("o_orderkey"))
    val (_, flagged) = DqConstraints.quarantine(
      joined, graft.ExtQueries3.liGateRules)
    runAvailableNow(
      graft.ExtQueries3.liGateProj(flagged, Seq("violated_rules")),
      "stream_dqquar_", "append")
  }

  /** Multimodal DECODE as a structured stream — the streaming leg of
    * the WAV-decode story ([[graft.ext.WavCodec]]): arriving payloads
    * (synthesized per doc with the `ext_wav_roundtrip` generator,
    * encoded to REAL RIFF bytes in-stream) decode per micro-batch into
    * header fields + waveform stats. Completely stateless — decode is
    * a per-row projection, so the stream needs no watermark and no
    * state store: the media-ingest shape where feature extraction
    * keeps up with arrival because nothing ever waits on anything.
    * Oracle = the batch roundtrip replay (no cutoff — stateless
    * streams drain exactly their input). */
  def wavDecodeAvailableNow(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.ext.WavCodec
    val docs = streamTable(spark, dir, "documents.parquet",
      normalizeEvents = false)
    val n = lit(64) + pmod(col("doc_id"), lit(32))
    val rate = (lit(8000) + pmod(col("doc_id"), lit(3)) * 4000)
      .cast("int")
    val gen = transform(sequence(lit(0), n - 1), i =>
      (pmod(col("doc_id") * 31 + i * 17, lit(65536)) - 32768)
        .cast("int"))
    val enc = docs.select(col("doc_id"),
      WavCodec.encodeWav(gen, rate).as("wav"))
    val ss = WavCodec.samples(col("wav"))
    val out = enc.select(col("doc_id"),
      WavCodec.sampleRate(col("wav")).as("sample_rate"),
      WavCodec.numSamples(col("wav")).as("n_samples"),
      aggregate(ss, lit(0L), (acc, x) => acc + abs(x)).as("sum_abs"))
    runAvailableNow(out, "stream_wav_", "append")
  }

  /** Streaming DATA-QUALITY AUDIT — [[graft.ops.DqConstraints]]'s
    * rulebook as a landing-zone monitor: arriving lineitem rows
    * LEFT-join the static dimension keys (stream-static, re-planned
    * per micro-batch) so referential rules become row-local null
    * checks, and ONE global streaming aggregate accumulates every
    * rule's violation sums — state is a single wide row of counters
    * whatever the arrival volume, drained in complete mode. All rules
    * here are LINEITEM-GRAIN (n_checked = rows audited so far), which
    * is the monitor's natural shape; the batch `q_dq_constraints`
    * keeps the per-table grains. Stateless-per-row + one bounded agg:
    * the audit that updates as files land. */
  def dqConstraintsAvailableNow(spark: SparkSession, dir: String)
      : DataFrame = {
    val li = streamTable(spark, dir, "lineitem.parquet",
      normalizeEvents = false)
    val ord = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("__ok"),
        col("o_orderdate").as("__odate"))
    val prt = graft.Tables.part(spark, dir)
      .select(col("p_partkey").as("__pk"))
    val joined = li
      .join(ord, col("l_orderkey") === col("__ok"), "left")
      .join(prt, col("l_partkey") === col("__pk"), "left")
    val report = graft.ops.DqConstraints.checkRules(joined, Seq(
      "li_quantity_out_of_range" ->
        (col("l_quantity") < 1 || col("l_quantity") > 50),
      "li_nonpositive_price" -> (col("l_extendedprice") <= 0),
      "li_bad_returnflag" ->
        !col("l_returnflag").isin("R", "A", "N"),
      "li_ship_before_order" ->
        (col("__odate").isNotNull &&
          col("l_shipdate").cast("date") < col("__odate").cast("date")),
      "li_orphan_orderkey" -> col("__ok").isNull,
      "li_orphan_partkey" -> col("__pk").isNull))
    runAvailableNow(report, "stream_dq_", "complete")
  }

  /** Streaming CORPUS-INGEST DQ monitor — the [[dqConstraintsAvailableNow]]
    * landing-zone pattern applied to the LLM ingest feed: arriving
    * documents (the SAME day-2 feed as `ext_corpus_build_incremental`,
    * one definition in [[graft.ExtQueries.corpusIncrementalIncoming]])
    * stream-static-join the archive's fingerprint index (the cross-
    * corpus rule made row-local before the gate), then three rules
    * fold into ONE wide counter row per micro-batch: exact-dup-vs-
    * archive, below-quality, too-short. The receipt an ingest operator
    * watches BEFORE the expensive near-dedup stages run — counter
    * state is volume-independent (one row), no watermark, no join
    * state. */
  def corpusDqAvailableNow(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val base = java.nio.file.Files.createTempDirectory("graft-corpusdq")
    try {
      val inDir = s"$base/in"
      val feed = graft.ExtQueries.corpusIncrementalIncoming(docs)
      feed.write.parquet(inDir)
      val raw = spark.readStream.schema(feed.schema).parquet(inDir)
      // the archive side arrives through the UNIFIED on-disk artifact
      // ([[graft.ext.ArchiveIndex]]) — the same fp table the batch
      // incremental build probes, not a session-frame convention of
      // this monitor's own
      graft.ext.ArchiveIndex.write(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
        nBuckets = 32, s"$base/idx")
      val afp = graft.ext.ArchiveIndex.readFp(spark, s"$base/idx")
        .select(col("fp").as("__afp"))
      val joined = raw
        .withColumn("__fp",
          graft.ext.TextStats.fingerprint(col("text")))
        .join(afp, col("__fp") === col("__afp"), "left")
      val report = graft.ops.DqConstraints.checkRules(joined, Seq(
        "doc_exact_dup_vs_archive" -> col("__afp").isNotNull,
        "doc_below_quality" ->
          (graft.ext.TextStats.qualityScore(col("text")) < 0.72),
        "doc_too_short" ->
          (graft.ext.TextStats.tokenCount(col("text")) < 17)))
      runAvailableNow(report, "stream_corpus_dq_", "complete")
    } finally rmRf(base.toFile)
  }

  /** Streaming SCD2 ([[Scd2Stream]]): watermark-final CLOSED dimension
    * versions drained AvailableNow, formatted like the batch twin
    * (`q_scd2_user_segments`) minus the open versions the stream by
    * definition cannot settle. */
  def scd2AvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    runAvailableNow(
      Scd2Stream.versions(ev, "2 hours").toDF()
        .select(col("user_id"), col("segment"),
          date_format(timestamp_micros(col("from_us")),
            "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(timestamp_micros(col("to_us")),
            "yyyy-MM-dd HH:mm:ss").as("valid_to")),
      "stream_scd2_", "append")
  }

  /** Per-hour TOP-K high-value events as a structured stream — the
    * trending/alerting shape ("this hour's biggest transactions") next
    * to the tumbling rollup: one stateful window aggregate whose state
    * per hour is the K-BOUNDED heap of [[graft.functions.TopKAgg]]
    * (k·(8 B + key) bytes whatever the event volume — an exact top-k
    * would buffer every event of the hour in the state store). The
    * heap is a TypedImperativeAggregate, so map-side partials push k
    * entries per (window, partition) into the shuffle and state merges
    * register-wise across micro-batches — the HLL/CMS discipline
    * applied to ranking.
    *
    * Total order is (value desc, event_id asc) over finite scores —
    * identical to a row_number window — so the append-mode drain is
    * hash-pinned to a batch window replay with the final-watermark
    * cutoff (max ts − 2 h, the q_stream_markov discipline). */
  def eventsTopValueAvailableNow(
      spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val ev = streamTable(spark, dir, "events.parquet",
      normalizeEvents = true)
    val agg = ev.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.TopKAgg.top_k_str(
        col("value"), col("event_id").cast("string"), k).as("tk"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        explode(col("tk")).as("t"))
      .select(col("hour"), col("t.rank").as("rank"),
        col("t.key").as("event_id"), col("t.score").as("value"))
    runAvailableNow(agg, "stream_topk_", "append")
  }

  /** The [[dedupLshAvailableNow]] transform on an arbitrary incoming
    * stream (`id`, `text`, `ing_ts`) against a prepared archive index
    * (`ib` = (band, archive_id), `ih` = (archive_id, hs_a)) — exposed
    * so the MemoryStream spec can drive cross-batch near-dup arrival
    * through the exact plan the registered query runs. */
  def lshDedupStream(incoming: DataFrame, ib: DataFrame, ih: DataFrame,
      threshold: Double, watermark: String): DataFrame = {
    import graft.ext.TextDedup
    val banded = incoming
      .select(col("id"), col("ing_ts"),
        graft.functions.ShingleHashes.shingle_hashes(col("text"), 3)
          .as("hs"))
      .withColumn("sig", TextDedup.signatureFromHashes(col("hs"), 8))
      .select(col("id"), col("ing_ts"), col("hs"),
        explode(TextDedup.lshBandKeys(col("sig"), 4, 2)).as("band"))
    banded
      .join(ib, Seq("band"))
      .withWatermark("ing_ts", watermark)
      .dropDuplicatesWithinWatermark("id", "archive_id")
      .join(ih, Seq("archive_id"))
      .withColumn("inter", size(array_intersect(col("hs"), col("hs_a"))))
      .withColumn("uni",
        size(col("hs")) + size(col("hs_a")) - col("inter"))
      .withColumn("jaccard",
        round(col("inter") / col("uni").cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id").as("doc_id"), col("archive_id"), col("jaccard"))
  }

  /** Session conf key every stream BUILDER in this module honors at
    * start time: `rocksdb` routes state through
    * [[useRocksDbStateStore]] (the production posture for large
    * state — bounded executor memory + changelog-delta checkpoints),
    * `default`/`hdfs` pins the in-memory provider, unset leaves the
    * session's current provider untouched (test hygiene: suites that
    * A/B providers set the session conf themselves). A CONFIG, not a
    * hardcode — the same pipeline code runs small-state dev streams on
    * the heap provider and corpus-scale ingest on RocksDB by flipping
    * one conf, and the provider pins into each query's checkpoint at
    * first start exactly as Spark documents. */
  val StateStoreConfKey = "graft.streaming.stateStoreProvider"

  /** State partitions each AvailableNow drain pins into its fresh
    * checkpoint: the drains' cost is per-partition state-store commits
    * (`SCALEPROBE_r14.json`), so state partitions are sized to state
    * volume, not to the CPU count. */
  private val DrainStatePartitions = 8

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to
    * [[DrainStatePartitions]], restoring the previous value after.
    * The pin needs to span the stream's micro-batch planning, and
    * every adapter drain is synchronous and single-threaded on its
    * session, so the restore lands before any other work reads the
    * conf. */
  private def withStatePartitions[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, DrainStatePartitions.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Apply [[StateStoreConfKey]] to the session — called by every
    * stream start in this module ([[runAvailableNow]],
    * [[cleanClassStream]], [[loadClassStream]]) so the provider choice
    * is one conf away for ANY pipeline, bench, or production caller. */
  def applyConfiguredStateStore(spark: SparkSession): Unit =
    spark.conf.getOption(StateStoreConfKey).map(_.toLowerCase) match {
      case Some("rocksdb") => useRocksDbStateStore(spark)
      case Some("default") | Some("hdfs") => useDefaultStateStore(spark)
      case None => ()
      case Some(other) => throw new IllegalArgumentException(
        s"$StateStoreConfKey: unknown provider '$other' " +
          "(expected rocksdb | default)")
    }

  /** Switch the session's streaming state store to ROCKSDB with
    * changelog checkpointing — the LARGE-STATE configuration for the
    * stateful operators in this module (dedup keys, sliding windows,
    * session state, stream-stream join buffers, CDC latest-per-key).
    *
    * The default HDFSBackedStateStoreProvider keeps each partition's
    * ENTIRE key map on the executor heap and snapshots it whole per
    * batch — at corpus scale (billions of dedup keys / join-buffer rows)
    * that is an OOM, and snapshot upload dominates the micro-batch.
    * RocksDB spills state to local disk with bounded block-cache memory,
    * and changelog checkpointing uploads only the DELTA per batch
    * instead of re-snapshotting resident state.
    *
    * PER-SHAPE guidance (the r12 adjudication of the r10/r11 artifact
    * contradiction — BENCH_statestore_r12.json, SURVEY §8.19.1, each
    * timing annotated with the state volume it carried): at state that
    * fits the heap, stream-stream interval joins and keyed dedup are
    * provider-NEUTRAL (RocksDB marginally slower — JNI + disk vs a
    * heap map); the reproducible RocksDB win is MANY-micro-batch
    * stateful aggs, where per-batch delta changelogs beat whole-map
    * snapshot commits (1.6× on the growth-lifecycle shape at sf0.1)
    * even with tiny state. Choose rocksdb when per-executor state
    * approaches heap (the real 100 TB crossover, unreachable at test
    * SF) or when the job runs many micro-batches; the shipped default
    * stays Spark's own provider — a blanket flip is not supported by
    * the committed evidence.
    *
    * Takes effect for QUERIES STARTED AFTERWARD (the provider is pinned
    * into each query's checkpoint at first start; restarting an existing
    * checkpoint keeps its original provider). State CONTENTS are
    * provider-independent — StreamingSpec asserts RocksDB output is
    * row-identical to the default provider on the dedup pipeline. */
  def useRocksDbStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing" +
        ".enabled", "true")
  }

  /** Reset to the default in-memory provider (test hygiene). */
  def useDefaultStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing" +
        ".enabled", "false")
  }
}
