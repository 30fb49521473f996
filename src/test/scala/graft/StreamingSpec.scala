package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.app.BatchMain
import graft.ops.Scratch
import graft.sources.CsvSource
import graft.streaming.{Scd2Stream, StreamPipeline}

/** Streaming + batch-driver end-to-end specs (SURVEY.md §2.8, §3.2). */
class StreamingSpec extends SparkSpec {

  test("file-source stream: amazon fixture cleaned exactly-once") {
    val landing = Files.createTempDirectory("landing").toFile
    val out = Files.createTempDirectory("out").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val fixture = new java.io.File(
      TestSpark.fixture("Amazon Sale Report_2022-04-30_10-00-00.csv"))
    java.nio.file.Files.copy(fixture.toPath,
      new java.io.File(landing, fixture.getName).toPath)

    val schema = CsvSource.read(spark, fixture.getPath).schema
    val raw = StreamPipeline.fileStream(spark, landing.toString, schema,
      glob = "Amazon*.csv")
    val q = StreamPipeline.cleanClassStream(raw, CsvSource.AmazonSale,
      out, ckpt)
    q.awaitTermination(120000)

    val cleaned = spark.read.option("header", "true")
      .csv(s"$out/run_*/batch_0/amazon_sale")
    assert(cleaned.count() == 8)
    val flagged = spark.read.option("header", "true")
      .csv(s"$out/run_*/batch_0/amazon_sale_duplicates")
    assert(flagged.count() == 2)

    // restart over the same checkpoint: no new batch output (exactly-once)
    val raw2 = StreamPipeline.fileStream(spark, landing.toString, schema,
      glob = "Amazon*.csv")
    val q2 = StreamPipeline.cleanClassStream(raw2, CsvSource.AmazonSale,
      out, ckpt)
    q2.awaitTermination(120000)
    // same checkpoint -> same run namespace; exactly-once means the
    // single run dir holds only batch_0
    val runDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("run_"))
    assert(runDirs.length == 1)
    assert(!new java.io.File(runDirs.head, "batch_1").exists())
  }

  test("runNamespace: equivalent checkpoint spellings key one run dir; " +
      "distinct checkpoints key distinct dirs") {
    val abs = Files.createTempDirectory("ckptns").toString
    val base = StreamPipeline.runNamespace(abs)
    // spelling variants of the SAME path all collapse to one namespace
    assert(StreamPipeline.runNamespace(s"$abs/") == base)
    assert(StreamPipeline.runNamespace(s"$abs/x/..") == base)
    val cwd = java.nio.file.Paths.get("").toAbsolutePath.toString
    if (abs.startsWith(cwd + "/"))
      assert(StreamPipeline.runNamespace(abs.drop(cwd.length + 1)) == base)
    // a different checkpoint must not collide
    assert(StreamPipeline.runNamespace(s"$abs-other") != base)
    // URI form: dot segments and trailing slash normalize away
    assert(StreamPipeline.runNamespace("hdfs://nn/a/./b/") ==
      StreamPipeline.runNamespace("hdfs://nn/a/b"))
    assert(StreamPipeline.runNamespace("hdfs://nn/a/c/../b") ==
      StreamPipeline.runNamespace("hdfs://nn/a/b"))
    // file:// URI and the bare local path are the SAME checkpoint
    assert(StreamPipeline.runNamespace(s"file://$abs") == base)
    // URI-illegal characters (legal in Hadoop paths) must not crash —
    // they fall back to a stable raw-string namespace
    val odd = StreamPipeline.runNamespace("hdfs://nn/user/my dir/ckpt")
    assert(odd == StreamPipeline.runNamespace("hdfs://nn/user/my dir/ckpt"))
  }

  test("RocksDB state store: stateful dedup output is row-identical to " +
      "the default provider (the 100 TB state configuration)") {
    val sf = "/root/testdata/sf0.001"
    val defaultRows = StreamPipeline
      .dedupStreamAvailableNow(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    StreamPipeline.useRocksDbStateStore(spark)
    try {
      val rocksRows = StreamPipeline
        .dedupStreamAvailableNow(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(rocksRows == defaultRows,
        "state-store provider must not change streaming semantics")
      assert(rocksRows.nonEmpty)
    } finally StreamPipeline.useDefaultStateStore(spark)
  }

  test("state-store CONFIG hook: the builder conf key routes the " +
      "provider at stream start; unknown values fail loudly") {
    val key = StreamPipeline.StateStoreConfKey
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    try {
      spark.conf.set(key, "rocksdb")
      // the hook every stream start calls — providers must flip
      StreamPipeline.applyConfiguredStateStore(spark)
      assert(spark.conf.get(providerConf).contains("RocksDB"))
      spark.conf.set(key, "default")
      StreamPipeline.applyConfiguredStateStore(spark)
      assert(spark.conf.get(providerConf).contains("HDFSBacked"))
      // integration: a real stream started with the conf set runs and
      // is output-identical (provider never changes semantics)
      spark.conf.set(key, "rocksdb")
      val viaConf = StreamPipeline
        .dedupStreamAvailableNow(spark, "/root/testdata/sf0.001")
        .count()
      assert(spark.conf.get(providerConf).contains("RocksDB"))
      spark.conf.set(key, "default")
      val viaDefault = StreamPipeline
        .dedupStreamAvailableNow(spark, "/root/testdata/sf0.001")
        .count()
      assert(viaConf == viaDefault && viaConf > 0)
      spark.conf.set(key, "levelhashmap")
      assertThrows[IllegalArgumentException](
        StreamPipeline.applyConfiguredStateStore(spark))
    } finally {
      spark.conf.unset(key)
      StreamPipeline.useDefaultStateStore(spark)
    }
  }

  test("AvailableNow drain: stateful operators run on 8 state " +
      "partitions whatever the session's shuffle partitions, which the " +
      "drain leaves as it found them") {
    import org.apache.spark.sql.streaming.{StreamingQueryListener,
      StreamingQueryProgress}
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val progress =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.conf.set(key, "5")
    spark.streams.addListener(listener)
    try {
      val rows = StreamPipeline
        .eventsHourlyAvailableNow(spark, "/root/testdata/sf0.001").count()
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark)
      assert(rows > 0)
      assert(spark.conf.get(key) == "5")
      val ops = progress.toArray(Array.empty[StreamingQueryProgress])
        .filter(_.name.startsWith("stream_ev_"))
        .flatMap(_.stateOperators)
      assert(ops.nonEmpty, "the drain reported no stateful operator")
      assert(ops.forall(_.numShufflePartitions == 8),
        ops.map(_.numShufflePartitions).mkString(", "))
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set(key, prev)
    }
  }

  test("growing-archive LSH dedup: a later batch catches a near-dup of " +
      "an earlier batch's NOVEL doc; output pins to the foldwise batch " +
      "replay (incrementalLshPairs applied wave by wave)") {
    import spark.implicits._
    import graft.ext.TextDedup
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-lshgrow-spec")
    val (pairsDir, ibDir, ihDir, ckpt) =
      (s"$base/pairs", s"$base/ib", s"$base/ih", s"$base/ckpt")
    val archive = Seq(
      (2L, "alpha beta gamma delta epsilon zeta eta"),
      (4L, "one two three four five six seven eight")).toDF("id", "text")
    val (ab, ah) = TextDedup.lshIndex(archive, "text", "id")
    ab.write.parquet(ibDir)
    ah.write.parquet(ihDir)
    // wave 1: a NOVEL doc (no archive match); wave 2: unrelated; wave 3:
    // a near-dup of wave 1's novel doc — catchable ONLY if wave 1's
    // bands joined the index after its batch
    val waves = Seq(
      Seq((101L, "red orange yellow green blue indigo violet")),
      Seq((201L, "cat dog bird fish mouse horse cow goat")),
      Seq((301L, "red orange yellow green blue indigo violet crimson")))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String)]
    val mark = rddMark()
    val q = graft.streaming.StreamPipeline.lshDedupGrowStart(
      in.toDF.toDF("id", "text"), threshold = 0.5,
      pairsDir, ibDir, ihDir, ckpt, availableNow = false)
    try {
      waves.foreach { w => in.addData(w: _*); q.processAllAvailable() }
    } finally q.stop()
    // every micro-batch releases the checkpoints it pinned
    val leftGrow = rddsPinnedSince(mark)
    assert(leftGrow.isEmpty, s"grow: blocks left by the run: $leftGrow")
    val got = spark.read.parquet(pairsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // the growth catch: 301 pairs with 101 (5 shared shingles of 6 →
    // jaccard 5/6); nothing pairs with the unrelated doc or the archive
    assert(got.exists(p => p._1 == 301L && p._2 == 101L && p._3 > 0.5),
      s"the grown index must surface the batch-3 near-dup of the " +
        s"batch-1 novel doc: $got")
    assert(!got.exists(p => p._1 == 201L || p._2 == 201L))
    // foldwise batch replay with the SAME growth order must be
    // set-identical (the verdict's hash-pin contract)
    var ib = ab
    var ih = ah
    val expected = waves.flatMap { w =>
      val wDf = w.toDF("id", "text")
      val p = TextDedup.incrementalLshPairs(wDf, "text", "id", ib, ih,
        threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val (wb, wh) = TextDedup.lshIndex(wDf, "text", "id")
      ib = ib.unionByName(wb)
      ih = ih.unionByName(wh)
      p
    }.toSet
    assert(got == expected,
      s"streamed growth must equal the foldwise replay: $got vs $expected")
    // the capstone grow+prune loop on the SAME arrival pattern must be
    // set-identical (bucket pruning is lossless through growth)
    val base2 = java.nio.file.Files.createTempDirectory("graft-lshgp-spec")
    graft.streaming.StreamPipeline.writeBucketedLshIndex(
      archive, "text", "id", nBuckets = 16,
      s"$base2/ib", s"$base2/ih")
    val in2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String)]
    val mark2 = rddMark()
    val q2 = graft.streaming.StreamPipeline.lshDedupGrowPrunedStart(
      in2.toDF.toDF("id", "text"), threshold = 0.5, nBuckets = 16,
      s"$base2/pairs", s"$base2/ib", s"$base2/ih", s"$base2/ckpt",
      availableNow = false)
    try {
      waves.foreach { w => in2.addData(w: _*); q2.processAllAvailable() }
    } finally q2.stop()
    val leftPruned = rddsPinnedSince(mark2)
    assert(leftPruned.isEmpty,
      s"grow+prune: blocks left by the run: $leftPruned")
    val gotPruned = spark.read.parquet(s"$base2/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(gotPruned == got,
      s"grow+prune must equal plain grow: $gotPruned vs $got")
    Scratch.rmRf(base.toFile)
    Scratch.rmRf(base2.toFile)
  }

  test("capstone compaction: executed plan bounds per-bucket files to " +
      "one while pairs AND live index content stay set-identical") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val archive = Seq(
      (2L, "alpha beta gamma delta epsilon zeta eta"),
      (4L, "one two three four five six seven eight")).toDF("id", "text")
    val waves = Seq(
      Seq((101L, "red orange yellow green blue indigo violet")),
      Seq((201L, "cat dog bird fish mouse horse cow goat")),
      Seq((301L, "red orange yellow green blue indigo violet crimson")))
    def run(compactEvery: Int): (Set[(Long, Long, Double)],
        Set[(String, Long)], Set[(Long, String)], Map[String, Int]) = {
      val base = java.nio.file.Files.createTempDirectory("graft-cmp-spec")
      val (ibDir, ihDir) = (s"$base/ib", s"$base/ih")
      graft.streaming.StreamPipeline.writeBucketedLshIndex(
        archive, "text", "id", nBuckets = 16, ibDir, ihDir)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = graft.streaming.StreamPipeline.lshDedupGrowPrunedStart(
        in.toDF.toDF("id", "text"), threshold = 0.5, nBuckets = 16,
        s"$base/pairs", ibDir, ihDir, s"$base/ckpt",
        availableNow = false, compactEvery = compactEvery)
      try {
        waves.foreach { w => in.addData(w: _*); q.processAllAvailable() }
      } finally q.stop()
      val pairs = spark.read.parquet(s"$base/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // live index CONTENT after the run (bkt is derivable, not data)
      val ib = spark.read.parquet(ibDir).select("band", "id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val ih = spark.read.parquet(ihDir).select("id", "hs")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).mkString(",")))
        .toSet
      val filesPerBucket = Seq(ibDir, ihDir).flatMap { d =>
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("bkt="))
          .map(b => s"$d/${b.getName}" ->
            Option(b.listFiles()).getOrElse(Array.empty)
              .count(_.getName.endsWith(".parquet")))
      }.toMap
      val out = (pairs, ib, ih, filesPerBucket)
      Scratch.rmRf(base.toFile)
      out
    }
    val (pPlain, ibPlain, ihPlain, fPlain) = run(compactEvery = 0)
    val (pComp, ibComp, ihComp, fComp) = run(compactEvery = 1)
    // losslessness: pairs AND the surviving index rows are identical
    assert(pComp == pPlain, s"pairs changed under compaction: " +
      s"$pComp vs $pPlain")
    assert(ibComp == ibPlain, "band-index content changed")
    assert(ihComp == ihPlain, "hash-index content changed")
    // hygiene: the compacted run ends at the packed floor (targetBytes
    // far above bucket size → exactly ONE data file per bucket dir),
    // while the append-only run has accumulated multi-file buckets
    assert(fComp.values.forall(_ == 1),
      s"compacted buckets must hold exactly one file: $fComp")
    assert(fPlain.values.sum > fComp.values.sum,
      s"append-only run should carry more files (${fPlain.values.sum}) " +
        s"than the compacted one (${fComp.values.sum})")
  }

  test("events windowed agg with watermark matches batch computation") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    // batch form of the same plan (streaming-specific parts removed)
    val expected = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .count()
    val got = StreamPipeline.eventsWindowed(events, "1 hour", "2 hours")
    assert(got.count() == expected)
  }

  test("session windows: custom flatMapGroupsWithState == native session_window") {
    import spark.implicits._
    import graft.streaming.SessionWindows
    val gapUs = 4L * 3600 * 1000000
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val native = SessionWindows.sessions(events, "4 hours")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    val custom = SessionWindows.sessionizeWithState(
      events.select(col("user_id"), col("ts"), col("value"))
        .as[SessionWindows.SessionEvent], gapUs)
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"), col("total_value"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    assert(native.nonEmpty)
    assert(custom == native)
  }

  test("transition stream: out-of-order buffering and cross-batch " +
      "predecessor linking") {
    import spark.implicits._
    import graft.streaming.TransitionStream
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, java.sql.Timestamp, Long, String)]
    val q = TransitionStream.transitions(
      in.toDF.toDF("user_id", "ts", "event_id", "event_type"),
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      def u1 = spark.table("trans_out").filter(col("user_id") === 1L)
        .select(col("from_type"), col("to_type"))
        .as[(String, String)].collect().toSet
      // batch 1: view@0, click@100 — watermark hasn't moved, no emission
      in.addData((1L, at(0), 1L, "view"), (1L, at(100), 2L, "click"))
      q.processAllAvailable()
      assert(u1.isEmpty, "nothing may emit before the watermark moves")
      // batch 2: purchase@3600 plus an OUT-OF-ORDER (above-watermark)
      // error@50 that must slot between view@0 and click@100
      in.addData((1L, at(50), 9L, "error"), (1L, at(3600), 3L, "purchase"))
      q.processAllAvailable()
      // batches 3-4: far-future filler user advances the watermark past
      // all of user 1's events, then lets the event-time timer fire
      in.addData((99L, at(10000), 100L, "view"))
      q.processAllAvailable()
      in.addData((99L, at(10001), 101L, "view"))
      q.processAllAvailable()
      assert(u1 == Set(("view", "error"), ("error", "click"),
        ("click", "purchase")),
        s"flush must walk the buffered events in (ts, id) order: $u1")
      // batch 5: a new event for user 1 long after the flush — its FROM
      // side is the last-emitted state carried across batches
      in.addData((1L, at(10500), 4L, "view"))
      q.processAllAvailable()
      in.addData((99L, at(20000), 102L, "view"))
      q.processAllAvailable()
      in.addData((99L, at(20001), 103L, "view"))
      q.processAllAvailable()
      assert(u1.contains(("purchase", "view")),
        s"cross-batch predecessor link must produce purchase→view: $u1")
    } finally q.stop()
  }

  test("session windows stream: event-time timeout closes sessions finally") {
    import spark.implicits._
    import graft.streaming.SessionWindows
    implicit val sq = spark.sqlContext
    val gapUs = 30L * 60 * 1000000 // 30 min
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, java.sql.Timestamp, Double)]
    val q = SessionWindows.sessionizeStream(
      in.toDF.toDF("user_id", "ts", "value"), gapUs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two events 10s apart (one open session)
      in.addData((1L, at(0), 1.0), (1L, at(10), 2.0))
      q.processAllAvailable()
      // batch 2: user 2 far in the future advances the watermark past
      // user 1's last_event + gap → user 1's timeout becomes eligible
      in.addData((2L, at(3 * 3600), 5.0))
      q.processAllAvailable()
      // batch 3: another trigger lets the timed-out group fire
      in.addData((2L, at(3 * 3600 + 5), 6.0))
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .select(col("user_id"), col("n_events"), col("total_value"))
        .as[(Long, Long, Double)].collect()
      val u1 = out.filter(_._1 == 1L)
      assert(u1.length == 1)
      assert(u1.head._2 == 2 && u1.head._3 == 3.0)
      // user 2's session is still open (watermark has not passed it)
      assert(!out.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("session windows stream: an out-of-order (above-watermark) event " +
      "BRIDGES two pending sessions — nothing emits before finality") {
    import spark.implicits._
    import graft.streaming.SessionWindows
    implicit val sq = spark.sqlContext
    val gapUs = 30L * 60 * 1000000 // 30 min
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, java.sql.Timestamp, Double)]
    val q = SessionWindows.sessionizeStream(
      in.toDF.toDF("user_id", "ts", "value"), gapUs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_bridge_out")
      .outputMode("append").start()
    try {
      // batch 1: two sessions 2000s apart (>= 30 min gap) — both pending
      in.addData((1L, at(0), 1.0), (1L, at(2000), 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_bridge_out").count() == 0,
        "no session may emit before the watermark passes last + gap — " +
          "an early successor-closure emit would be unmergeable")
      // batch 2: out-of-order event at 1500s (above the 1400s watermark)
      // lands within the gap of BOTH pending sessions → they bridge into
      // one [0s, 2000s] session
      in.addData((1L, at(1500), 4.0))
      q.processAllAvailable()
      // batch 3: far-future event advances the watermark past finality
      in.addData((2L, at(7200), 9.0))
      q.processAllAvailable()
      in.addData((2L, at(7205), 9.0))
      q.processAllAvailable()
      val out = spark.table("sess_bridge_out")
        .filter(col("user_id") === 1L)
        .select(col("start_us"), col("end_us"), col("n_events"),
          col("total_value"))
        .as[(Long, Long, Long, Double)].collect()
      assert(out.length == 1, s"expected ONE bridged session, got " +
        s"${out.toSeq}")
      val (start, end, n, v) = out.head
      val base = t0.getTime * 1000L
      assert(start == base && end == base + 2000L * 1000000 + gapUs)
      assert(n == 3 && math.abs(v - 7.0) < 1e-9)
    } finally q.stop()
  }

  test("streaming dedup: within-watermark duplicates suppressed across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, Double)]
    val q = StreamPipeline.dedupStream(
      in.toDF.toDF("fp", "ts", "value"), Seq("fp"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: fp "a" twice in-batch, fp "b" once
      in.addData(("a", at(0), 1.0), ("a", at(5), 2.0), ("b", at(10), 3.0))
      q.processAllAvailable()
      // batch 2: "a" again within the watermark delay → still suppressed
      in.addData(("a", at(60), 4.0))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select(col("fp"), col("value"))
        .as[(String, Double)].collect().sorted
      // exactly one row per key, and it is the FIRST occurrence
      assert(out.toSeq == Seq(("a", 1.0), ("b", 3.0)))
    } finally q.stop()
  }

  test("streaming dedup: state EVICTS past the watermark horizon — a " +
      "far-late duplicate re-emits (the documented bounded-state trade)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, Double)]
    val q = StreamPipeline.dedupStream(
      in.toDF.toDF("fp", "ts", "value"), Seq("fp"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_evict_out")
      .outputMode("append").start()
    try {
      in.addData(("a", at(0), 1.0))
      q.processAllAvailable()
      // advance the watermark far past a's time + delay → a's dedup
      // state is evicted
      in.addData(("z", at(3600), 2.0))
      q.processAllAvailable()
      // the same key arrives again, far late: bounded state CANNOT
      // remember it — the row re-emits. This is the trade that keeps
      // state O(watermark window) instead of O(stream); exactly-once
      // beyond the horizon needs the batch dedup downstream.
      in.addData(("a", at(3601), 9.0))
      q.processAllAvailable()
      val out = spark.table("dedup_evict_out").select(col("fp"), col("value"))
        .as[(String, Double)].collect().sorted
      assert(out.toSeq == Seq(("a", 1.0), ("a", 9.0), ("z", 2.0)),
        s"expected the far-late duplicate to re-emit, got ${out.toSeq}")
    } finally q.stop()
  }

  test("streaming corpus clean: gates drop noise, dedup keeps first copy") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val good = "the quick brown fox jumps over the lazy dog and it is fine"
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, java.sql.Timestamp, String)]
    val q = StreamPipeline.corpusCleanStream(
      in.toDF.toDF("doc_id", "ts", "text"), "ts", "10 minutes",
      minTokens = 5, minQuality = 0.2)
      .writeStream.format("memory").queryName("corpus_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, at(0), good),
        (2L, at(1), "too short"),                      // token gate
        (3L, at(2), good + " "),                       // exact dup of 1 (fp ignores trim)
        (4L, at(3), good + " extra tail words here"))  // distinct survivor
      q.processAllAvailable()
      in.addData((5L, at(30), good))                   // cross-batch dup of 1
      q.processAllAvailable()
      val ids = spark.table("corpus_out").select("doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 4L))
    } finally q.stop()
  }

  test("SCD2 stream: versions close at watermark finality, no-op and " +
      "out-of-order events absorb, the open version never emits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, java.sql.Timestamp, Long, String)]
    val q = Scd2Stream.versions(
      in.toDF.toDF("user_id", "ts", "event_id", "event_type"),
      "10 minutes")
      .toDF()
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      // batch 1: view, no-op view, cart — watermark still 0, nothing final
      in.addData((1L, at(0), 1L, "view"), (1L, at(60), 2L, "view"),
        (1L, at(120), 3L, "cart"))
      q.processAllAvailable()
      // batch 2: an OUT-OF-ORDER no-op view@90 (buffered and re-sorted
      // between the batch-1 events) plus buy@3600, which advances the
      // watermark to 3000 s -> the view version closes at cart@120
      in.addData((1L, at(90), 4L, "view"), (1L, at(3600), 5L, "buy"))
      q.processAllAvailable()
      // batch 3: another user far ahead advances the watermark past
      // buy@3600 -> the cart version closes; buy stays OPEN forever
      in.addData((2L, at(8000), 6L, "signup"))
      q.processAllAvailable()
      val out = spark.table("scd2_out")
        .select("user_id", "segment", "from_us", "to_us")
        .as[(Long, String, Long, Long)].collect().toSet
      def us(sec: Long) = (t0.getTime / 1000 + sec) * 1000000L
      assert(out == Set(
        (1L, "view", us(0), us(120)),
        (1L, "cart", us(120), us(3600))),
        s"got $out")
      // the state store holds O(users) rows (open version + pending
      // buffer per user), never O(events) — the bounded-state claim
      // read off the engine's own metrics
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st(0).numRowsTotal <= 2,
        s"state must stay user-bounded, got ${st(0).numRowsTotal}")
    } finally q.stop()
  }

  test("streaming DQ rulebook: counters accumulate across micro-batches " +
      "and the report re-derives in complete mode") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Double)]
    val rep = graft.ops.DqConstraints.checkRules(
      in.toDF.toDF("k", "v"),
      Seq("neg_value" -> (col("v") < 0),
        "big_value" -> (col("v") > 100)))
    val q = rep.writeStream.format("memory").queryName("dq_counters_out")
      .outputMode("complete").start()
    try {
      in.addData((1L, 1.0), (2L, -1.0))
      q.processAllAvailable()
      in.addData((3L, -2.0), (4L, 500.0))
      q.processAllAvailable()
      val out = spark.table("dq_counters_out")
        .select("rule", "n_checked", "n_violations", "violation_rate")
        .as[(String, Long, Long, Double)].collect().toSet
      // counters carry batch-1 state into batch 2: 4 rows audited,
      // 2 negative, 1 oversized
      assert(out == Set(
        ("neg_value", 4L, 2L, 0.5),
        ("big_value", 4L, 1L, 0.25)), s"got $out")
    } finally q.stop()
  }

  test("streaming corpus DQ: the archive-dup rule stays row-local via " +
      "the static fp index and counters accumulate across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val tA = "the cat and the dog and the fox and the bird sit here"
    val archive = Seq((2L, tA)).toDF("doc_id", "text")
    val afp = graft.ext.TextDedup.exactDedup(archive, "text", "doc_id")
      .select(col("fp").as("__afp"))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String)]
    val joined = in.toDF.toDF("doc_id", "text")
      .withColumn("__fp", graft.ext.TextStats.fingerprint(col("text")))
      .join(afp, col("__fp") === col("__afp"), "left")
    val rep = graft.ops.DqConstraints.checkRules(joined, Seq(
      "dup_vs_archive" -> col("__afp").isNotNull,
      "too_short" -> (graft.ext.TextStats.tokenCount(col("text")) < 3)))
    val q = rep.writeStream.format("memory").queryName("corpus_dq_out")
      .outputMode("complete").start()
    try {
      in.addData((11L, "we read many books in the library"), (13L, tA))
      q.processAllAvailable()
      // batch 2: a SECOND archive dup (the static index answers again)
      // and a too-short doc
      in.addData((15L, tA), (17L, "zz qq"))
      q.processAllAvailable()
      val out = spark.table("corpus_dq_out")
        .select("rule", "n_checked", "n_violations")
        .as[(String, Long, Long)].collect().toSet
      assert(out == Set(("dup_vs_archive", 4L, 2L), ("too_short", 4L, 1L)),
        s"got $out")
    } finally q.stop()
  }

  test("streaming LSH near-dedup: cross-batch arrivals probe the static " +
      "archive index and match the batch incremental replay") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)
    val archive = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (200L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val (ib0, ih0) = graft.ext.TextDedup.lshIndex(archive, "text", "doc_id")
    val ib = ib0.select(col("band"), col("id").as("archive_id"))
    val ih = ih0.select(col("id").as("archive_id"), col("hs").as("hs_a"))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, java.sql.Timestamp)]
    val q = StreamPipeline.lshDedupStream(
      in.toDF.toDF("id", "text", "ing_ts"), ib, ih, 0.5, "10 minutes")
      .writeStream.format("memory").queryName("lshdedup_out")
      .outputMode("append").start()
    try {
      // batch 1: an exact twin of archive 100, a near-dup of it (one
      // appended token), and a novel doc
      in.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta", at(0)),
        (2L, "alpha beta gamma delta epsilon zeta eta theta tail", at(1)),
        (3L, "nine ten eleven twelve thirteen fourteen", at(2)))
      q.processAllAvailable()
      // batch 2 (cross-batch): a near-dup of archive 200 arrives later
      in.addData(
        (4L, "one two three four five six seven eight nine", at(30)))
      q.processAllAvailable()
      val streamed = spark.table("lshdedup_out")
        .select("doc_id", "archive_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val batch = graft.ext.TextDedup.incrementalLshPairs(
        Seq(
          (1L, "alpha beta gamma delta epsilon zeta eta theta"),
          (2L, "alpha beta gamma delta epsilon zeta eta theta tail"),
          (3L, "nine ten eleven twelve thirteen fourteen"),
          (4L, "one two three four five six seven eight nine"))
          .toDF("doc_id", "text"),
        "text", "doc_id", ib0, ih0, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch,
        s"streamed pairs $streamed must equal the batch replay $batch")
      assert(streamed.contains((1L, 100L, 1.0)), "exact twin must match")
      assert(streamed.exists(p => p._1 == 2L && p._2 == 100L),
        "the in-batch near-dup must band-collide with its source")
      assert(streamed.exists(p => p._1 == 4L && p._2 == 200L),
        "the CROSS-BATCH near-dup must band-collide with its source")
      assert(!streamed.exists(_._1 == 3L), "the novel doc matches nothing")
    } finally q.stop()
  }

  test("stream-stream interval join: purchases attribute to in-window clicks") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val clicks = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Long, java.sql.Timestamp)]
    val purchases = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Long, java.sql.Timestamp, Double)]
    val q = StreamPipeline.clickAttributionStream(
      clicks.toDF.toDF("user_id", "event_id", "ts"),
      purchases.toDF.toDF("user_id", "event_id", "ts", "value"),
      window = "1 hour")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      clicks.addData((1L, 100L, at(0)), (2L, 101L, at(0)))
      // u1 buys 30 min after the click (in window); u2 buys 2h after
      // (outside); u3 buys with no click at all
      purchases.addData((1L, 200L, at(1800), 9.99),
        (2L, 201L, at(7200), 5.0), (3L, 202L, at(60), 1.0))
      q.processAllAvailable()
      val out = spark.table("attr_out")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(out == Seq((1L, 100L, 200L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched purchase emits " +
      "with NULL click only after the watermark closes its window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val clicks = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Long, java.sql.Timestamp)]
    val purchases = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Long, java.sql.Timestamp, Double)]
    val q = StreamPipeline.clickAttributionStream(
      clicks.toDF.toDF("user_id", "event_id", "ts"),
      purchases.toDF.toDF("user_id", "event_id", "ts", "value"),
      window = "1 hour", watermark = "2 hours", joinType = "leftOuter")
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode("append").start()
    try {
      // batch 1: u1 attributes; u3 has NO click — an inner join drops it
      clicks.addData((1L, 100L, at(0)))
      purchases.addData((1L, 200L, at(1800), 9.99), (3L, 202L, at(60), 1.0))
      q.processAllAvailable()
      val early = spark.table("attr_outer_out")
        .select(col("purchase_id")).as[Long].collect().toSet
      // u3's outer row may NOT emit yet: its click window is still open
      assert(early == Set(200L))

      // batch 2: both feeds advance to t=+6h → watermark ≈ +4h, past
      // u3's (ts + window) — the unmatched row must now emit
      clicks.addData((9L, 900L, at(21600)))
      purchases.addData((9L, 901L, at(21600), 2.0))
      q.processAllAvailable()
      val rows = spark.table("attr_outer_out")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((3L, -1L, 202L))) // outer row, NULL click
      assert(rows.contains((1L, 100L, 200L)))
      // the batch-2 dummy purchase's window is still open — not emitted
      assert(!rows.exists(_._3 == 901L) ||
        rows.contains((9L, 900L, 901L))) // (it may match its own click)
    } finally q.stop()
  }

  test("streaming: multi-file international batch splits per source file") {
    val landing = Files.createTempDirectory("multiint").toFile
    val out = Files.createTempDirectory("multiint_out").toString
    val ckpt = Files.createTempDirectory("multiint_ckpt").toString
    val fx = new java.io.File(
      TestSpark.fixture("International Sale Report_2022-04-30_10-00-00.csv"))
    Seq("International Sale Report_A.csv", "International Sale Report_B.csv")
      .foreach { n =>
        java.nio.file.Files.copy(fx.toPath,
          new java.io.File(landing, n).toPath)
      }
    val schema = graft.sources.CsvSource.read(spark, fx.getPath).schema
    val q = StreamPipeline.cleanClassStream(
      StreamPipeline.fileStream(spark, landing.toString, schema,
        glob = "International*.csv"),
      graft.sources.CsvSource.InternationalSale, out, ckpt)
    q.awaitTermination(120000)
    // both files must split around their OWN embedded header: 4 part1 +
    // 3 part2 rows each. The pre-fix global split re-headered file B's
    // part1 rows into part2 using file A's embedded header.
    def readAll(sub: String) = spark.read.option("header", "true")
      .csv(s"$out/run_*/batch_*/$sub")
    assert(readAll("international_1").count() == 8)
    assert(readAll("international_2").count() == 6)
  }

  test("BatchMain: routes all three classes + skips unrecognized") {
    val landing = Files.createTempDirectory("landing2").toFile
    val out = Files.createTempDirectory("out2").toString
    Seq("Amazon Sale Report_2022-04-30_10-00-00.csv",
      "Sale Report_2022-04-30_10-00-00.csv",
      "International Sale Report_2022-04-30_10-00-00.csv").foreach { n =>
      java.nio.file.Files.copy(
        new java.io.File(TestSpark.fixture(n)).toPath,
        new java.io.File(landing, n).toPath)
    }
    java.nio.file.Files.writeString(
      new java.io.File(landing, "inventory sale notes.txt").toPath, "x")

    BatchMain.run(spark, landing.toString, out, None)

    def readOut(sub: String) =
      spark.read.option("header", "true").csv(s"$out/$sub")
    assert(readOut("amazon_sale").count() == 8)
    assert(readOut("amazon_sale_duplicates").count() == 2)
    assert(readOut("sale").count() == 5)
    assert(readOut("international_1").count() == 4)
    assert(readOut("international_2").count() == 3)
  }

  test("native session_window: exact-gap event still MERGES (touching " +
      "windows coalesce), strictly-larger gap separates") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, java.sql.Timestamp, Double)]
    val out = in.toDF.toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        date_format(col("sw.start"), "HH:mm:ss").as("st"),
        date_format(col("sw.end"), "HH:mm:ss").as("en"), col("n"))
    val q = out.writeStream.format("memory").queryName("sessnat_out")
      .outputMode("append").start()
    try {
      // user 1: 10:00 then 10:29:59 (inside gap -> same session) then
      // 11:00:00 (exactly 30:01 after the moving end? no — 10:29:59 +
      // 30:00 = 10:59:59, so 11:00:00 is 1s PAST the end -> new).
      // user 2: 10:00 then 10:30:00 exactly -> touching windows MERGE
      // (only a strictly larger gap separates sessions).
      in.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:29:59"), 1.0),
        (1L, ts("2024-01-01 11:00:00"), 1.0),
        (2L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 10:30:00"), 1.0))
      q.processAllAvailable()
      // advance the watermark far past every session end
      in.addData((99L, ts("2024-01-02 00:00:00"), 1.0))
      q.processAllAvailable()
      val got = spark.table("sessnat_out")
        .select("user_id", "st", "en", "n")
        .as[(Long, String, String, Long)].collect().toSet
      val expected = Set(
        (1L, "10:00:00", "10:59:59", 2L), // merged, end = last + gap
        (1L, "11:00:00", "11:30:00", 1L),
        (2L, "10:00:00", "11:00:00", 2L)) // exact-gap: still merges
      assert(got == expected, s"got $got")
    } finally q.stop()
  }

  test("growth lifecycle stream: weeks classify at watermark finality, " +
      "churn fires as an event-time timeout, resurrection re-opens") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def wk(s: String): Long = java.time.LocalDate.parse(s).toEpochDay
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, java.sql.Timestamp)]
    val q = graft.streaming.GrowthStream.lifecycle(
      in.toDF.toDF("user_id", "ts"), "1 day")
      .writeStream.format("memory").queryName("growth_out")
      .outputMode("append").start()
    try {
      // batch 1: users 1 and 2 active in week 2024-01-01; watermark
      // still inside the week -> nothing classifies yet
      in.addData((1L, ts("2024-01-02 10:00:00")),
        (2L, ts("2024-01-03 11:00:00")))
      q.processAllAvailable()
      assert(spark.table("growth_out").count() == 0,
        "no week is settled before the watermark passes its end")
      // batch 2: user 1 active in week 01-08 (user 2 silent); user 99
      // advances the watermark to 01-16 -> weeks 01-01 and 01-08 settle
      in.addData((1L, ts("2024-01-09 09:00:00")),
        (99L, ts("2024-01-17 10:00:00")))
      q.processAllAvailable()
      // batch 3: user 2 resurrects in week 01-22; user 99 advances the
      // watermark to 02-06 -> weeks through 01-29 settle
      in.addData((2L, ts("2024-01-23 08:00:00")),
        (99L, ts("2024-02-07 10:00:00")))
      q.processAllAvailable()
      val out = spark.table("growth_out")
        .select("user_id", "week_day", "cls")
        .as[(Long, Long, String)].collect().toSet
      val expected = Set(
        (1L, wk("2024-01-01"), "new"),
        (1L, wk("2024-01-08"), "retained"),
        (1L, wk("2024-01-15"), "churned"), // timeout absence
        (2L, wk("2024-01-01"), "new"),
        (2L, wk("2024-01-08"), "churned"), // gap churn, exactly once
        (2L, wk("2024-01-22"), "resurrected"),
        (2L, wk("2024-01-29"), "churned"), // cycle re-opened then closed
        (99L, wk("2024-01-15"), "new"),
        (99L, wk("2024-01-22"), "churned"))
        // user 99's week 02-05 stays pending (end above the watermark)
      assert(out == expected, s"got $out")
    } finally q.stop()
  }
}
