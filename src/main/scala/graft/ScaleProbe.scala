package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dev tool: empirical scaling curves for representative operator shapes.
  *
  * Synthesizes N× copies of the sf tables with SHIFTED keys/timestamps
  * (so key cardinality and join/pair density scale with the data, not
  * just row count) and times each shape at N = 1, 2, 4, 8. A shape whose
  * per-copy cost stays flat scales linearly — the local-mode proxy for
  * the 100× claim; a super-linear curve exposes an all-pairs or
  * single-reducer term the plan lint cannot see.
  *
  * Usage: `runMain graft.ScaleProbe <sfDir> [maxN]` — prints one JSON
  * line per (shape, N) with seconds.
  */
object ScaleProbe {
  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val maxN = if (args.length > 1) args(1).toInt else 8
    val mode = if (args.length > 2) args(2) else "all"
    val spark = Session()

    def scaledLineitem(n: Int): DataFrame = {
      val li0 = Tables.lineitem(spark, sfDir)
      (0 until n).map { i =>
        li0.withColumn("l_orderkey",
            col("l_orderkey") + lit(i.toLong * 100000000000L))
          .withColumn("l_partkey",
            col("l_partkey") + lit(i.toLong * 100000000L))
      }.reduce(_ unionAll _)
    }

    def scaledEvents(n: Int): DataFrame = {
      val ev0 = Tables.events(spark, sfDir)
      (0 until n).map { i =>
        // shift each copy 90 days out so band-join pair density per copy
        // is unchanged (copies never pair with each other)
        ev0.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 90} DAYS"))
          .withColumn("event_id",
            col("event_id") + lit(i.toLong * 100000000000L))
      }.reduce(_ unionAll _)
    }

    // warmup: exercise codegen/JIT and the parquet footers before timing
    scaledLineitem(1).filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag")).agg(count(lit(1))).collect()
    // ...and the streaming machinery (checkpoint dir, state store
    // provider, memory sink) — otherwise first-run setup lands entirely
    // on the n=1 stream observation
    locally {
      val warmDir = "/tmp/graft_scaleprobe_ev/warm"
      Tables.events(spark, sfDir).limit(1000)
        .write.mode("overwrite").parquet(warmDir)
      graft.streaming.StreamPipeline
        .eventsHourlyAvailableNowParts(spark, warmDir).count()
      ()
    }

    // mode "sdedup-rows": deterministic per-batch READ-VOLUME
    // accounting for the two streaming-dedup plans — no timing, no
    // noise. At probe SFs both time curves are dominated by fixed
    // per-stream overhead (checkpoint setup, job latency, dir
    // listings), so the scaling claim is evidenced on the quantity
    // that actually grows: rows the micro-batch must READ. The full
    // stream-static plan re-scans |ib| + |ih| every batch (linear in
    // the archive by construction); the bucket-pruned plan reads only
    // the batch's touched buckets (emulated row-exactly here with the
    // same pmod(xxhash64) predicate the partition filter applies) —
    // bounded by the batch's key footprint at every N.
    if (mode == "sdedup-rows") {
      val nBuckets = 1024
      Seq(1, 2, 4, 8, 16, 32).filter(_ <= maxN).foreach { n =>
        import graft.ext.TextDedup
        def salted(i: Int, d: DataFrame) = d.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"a${i}_$$1"))
        val docs0 = Tables.documents(spark, sfDir)
        val arch = (0 until n).map { i =>
          salted(i, docs0.withColumn("doc_id",
            col("doc_id") + lit(i.toLong * 100000000L)))
        }.reduce(_ unionAll _).filter(col("doc_id") % 2 === 0)
        val (ib0, ih0) = TextDedup.lshIndex(arch, "text", "doc_id")
        val ib = graft.ops.CacheScope.persist(ib0)
        val ih = graft.ops.CacheScope.persist(ih0)
        val incoming = salted(0, docs0).select(explode(array(
            when(col("doc_id") % 2 === 1 && col("doc_id") < 64,
              struct(col("doc_id").as("id"), col("text").as("text"))),
            when(col("doc_id") % 10 === 0 && col("doc_id") < 320,
              struct((col("doc_id") + 600000L).as("id"),
                concat(col("text"), lit(" zz extra")).as("text")))))
            .as("d"))
          .filter(col("d").isNotNull)
          .select(col("d.id").as("id"), col("d.text").as("text"))
        val (incB0, incH0) = TextDedup.lshIndex(incoming, "text", "id")
        val incB = graft.ops.CacheScope.persist(incB0)
        val fullRows = ib.count() + ih.count()
        val bandBkts = incB
          .select(pmod(xxhash64(col("band")), lit(nBuckets)).as("bkt"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val prunedIb = ib
          .filter(pmod(xxhash64(col("band")), lit(nBuckets))
            .isin(bandBkts: _*)).count()
        val cand = incB
          .join(ib.select(col("band"), col("id").as("archive_id")),
            Seq("band"))
          .select(col("id"), col("archive_id")).distinct()
        val collisions = cand.count()
        val idBkts = cand
          .select(pmod(xxhash64(col("archive_id")), lit(nBuckets))
            .as("bkt"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val prunedIh = ih
          .filter(pmod(xxhash64(col("id")), lit(nBuckets))
            .isin(idBkts: _*)).count()
        // the SCALED-bucket posture (bucket count grows with the
        // archive so bucket SIZE stays constant — how a production
        // index is actually laid out, targeting a fixed MB per
        // bucket): touched buckets stay bounded by the batch's key
        // footprint while per-bucket rows stay flat, so read volume
        // is CONSTANT in archive size — fixed-bucket pruning is only
        // a constant-factor cut (measured: ~5.4×), never sub-linear
        val sBuckets = nBuckets * n
        val sBandBkts = incB
          .select(pmod(xxhash64(col("band")), lit(sBuckets)).as("bkt"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val sIb = ib
          .filter(pmod(xxhash64(col("band")), lit(sBuckets))
            .isin(sBandBkts: _*)).count()
        val sIdBkts = cand
          .select(pmod(xxhash64(col("archive_id")), lit(sBuckets))
            .as("bkt"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val sIh = ih
          .filter(pmod(xxhash64(col("id")), lit(sBuckets))
            .isin(sIdBkts: _*)).count()
        graft.ops.CacheScope.releaseAll()
        println(s"""{"probe":"sdedup_rows","n":$n,""" +
          s""""rows_full":$fullRows,"rows_pruned":${prunedIb + prunedIh},""" +
          s""""rows_pruned_ib":$prunedIb,"rows_pruned_ih":$prunedIh,""" +
          s""""rows_pruned_scaled":${sIb + sIh},""" +
          s""""band_collisions":$collisions,""" +
          s""""touched_band_buckets":${bandBkts.length},""" +
          s""""touched_id_buckets":${idBkts.length}}""")
      }
      spark.stop()
      return
    }

    // mode "sdedup-compact": the sdedup_rows methodology extended along
    // the BATCH axis (r11 VERDICT #2) — run the capstone grow+prune
    // loop over a growing number of micro-batches, with and without the
    // wired-in compaction pass, and report the DETERMINISTIC quantities
    // the maintenance claim rests on: total index data files at end of
    // run (the listing-cost driver — linear in batch count append-only,
    // bounded under a fixed compaction cadence) and the emitted pair
    // count (identical across cadences = losslessness at scale).
    if (mode == "sdedup-compact") {
      Seq(4, 8, 16, 32).filter(_ <= maxN).foreach { waves =>
        val (pairs0, files0) = graft.streaming.StreamPipeline
          .growPrunedCompactProbe(spark, sfDir, waves, nBuckets = 64,
            compactEvery = 0)
        val (pairsC, filesC) = graft.streaming.StreamPipeline
          .growPrunedCompactProbe(spark, sfDir, waves, nBuckets = 64,
            compactEvery = 4)
        println(s"""{"probe":"sdedup_compact","batches":$waves,""" +
          s""""files_nocompact":$files0,"files_compact":$filesC,""" +
          s""""pairs_nocompact":$pairs0,"pairs_compact":$pairsC}""")
      }
      spark.stop()
      return
    }

    // mode "compact-cost": the COST side of the r12 compaction evidence
    // (r12 VERDICT #2 — SCALEPROBE_r12 proved compaction bounds file
    // counts with identical pairs, but the price of the maintenance
    // pass itself had no probe row, and compactEvery shipped disabled).
    // Runs the capstone grow+prune loop over `maxN` micro-batches at
    // each cadence and reports total wall seconds, mean per-batch
    // seconds, end-of-run file count, and the pair count (invariance
    // guard). The curve this draws: cadence 1 pays a full index
    // rewrite EVERY batch (quadratic-ish total rewrite bytes), cadence
    // 0 pays unbounded listing/footer growth instead; the sane regime
    // is a fixed cadence where the rewrite amortizes — the measured
    // basis for the non-zero production default.
    if (mode == "compact-cost") {
      val waves = math.max(maxN, 32)
      Seq(0, 1, 4, 16).foreach { every =>
        val t0 = System.nanoTime()
        val (pairs, files) = graft.streaming.StreamPipeline
          .growPrunedCompactProbe(spark, sfDir, waves, nBuckets = 64,
            compactEvery = every)
        val sec = (System.nanoTime() - t0) / 1e9
        println(s"""{"probe":"compact_cost","batches":$waves,""" +
          s""""compact_every":$every,""" +
          s""""sec_total":${"%.3f".format(sec)},""" +
          s""""sec_per_batch":${"%.4f".format(sec / waves)},""" +
          s""""files_end":$files,"pairs":$pairs}""")
      }
      spark.stop()
      return
    }

    // mode "avnow-cost": decompose the AvailableNow streaming twins'
    // wall time (r13 VERDICT #2 — the 27 twins contribute ~24 s of the
    // bench headline and the top twin runs ~20x its batch analog on
    // the same rows; is that amortizable overhead or the fixed price
    // of exactly-once?). Three representative shapes — stateless
    // projection (pure scaffold floor), watermarked hourly window agg,
    // stream-stream interval join (q_stream_attribution's plan) — each
    // drained `reps` times with a FRESH checkpoint (the bench
    // contract), reporting: seconds until start() returns, total wall,
    // micro-batch count, and the per-trigger durationMs split
    // (latestOffset+getBatch = source listing, queryPlanning, addBatch
    // = execution, walCommit+commitOffsets = exactly-once bookkeeping)
    // plus state-store commit time — so the dominant component is a
    // measured number, not a guess.
    if (mode == "avnow-cost") {
      val reps = math.max(3, if (args.length > 1) maxN else 3)
      // sweep the state-partition sizing (the knob the decomposition
      // motivated): cpus = the old CPU-sized default, 8 = the
      // state-volume-sized drain default — the delta between the two
      // sweeps IS the booked win
      Seq(Session.cpus.toString, "8").distinct.foreach { sp =>
        spark.conf.set(
          graft.streaming.StreamPipeline.StatePartitionsConfKey, sp)
        graft.streaming.StreamPipeline.avnowProbeFrames(spark, sfDir)
        .foreach { case (name, frame, outMode) =>
          (1 to reps).foreach { rep =>
            val (startSec, wall, progress) = graft.streaming.StreamPipeline
              .probeAvailableNow(frame, outMode)
            def sumDur(key: String): Double = progress.map { p =>
              Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)
            }.sum / 1000.0
            val stateCommit = progress.flatMap(_.stateOperators)
              .map(_.commitTimeMs).sum / 1000.0
            val trigger = sumDur("triggerExecution")
            println(s"""{"probe":"avnow_cost","shape":"$name",""" +
              s""""state_partitions":$sp,""" +
              s""""rep":$rep,"wall_sec":${"%.3f".format(wall)},""" +
              s""""start_call_sec":${"%.3f".format(startSec)},""" +
              s""""n_batches":${progress.length},""" +
              s""""trigger_exec_sec":${"%.3f".format(trigger)},""" +
              s""""source_listing_sec":${"%.3f".format(
                sumDur("latestOffset") + sumDur("getBatch"))},""" +
              s""""query_planning_sec":${"%.3f".format(
                sumDur("queryPlanning"))},""" +
              s""""add_batch_sec":${"%.3f".format(sumDur("addBatch"))},""" +
              s""""wal_commit_sec":${"%.3f".format(
                sumDur("walCommit") + sumDur("commitOffsets"))},""" +
              s""""state_commit_sec":${"%.3f".format(stateCommit)},""" +
              s""""outside_trigger_sec":${"%.3f".format(wall - trigger)}}""")
          }
        }
      }
      spark.stop()
      return
    }

    // mode "pfjoin": the EXACT Jaccard-threshold join both ways — full
    // inverted index vs prefix-filtered (Bayardo 2007) — at growing N.
    // Per-copy word salt keeps cross-copy shingles disjoint, so pair
    // density per copy is constant and the probe measures the candidate
    // machinery. Alongside the (noisy) seconds, the DETERMINISTIC
    // volumes: index postings and distinct candidate pairs per plan —
    // the quantities that hit the shuffle and the verify join.
    if (mode == "pfjoin") {
      import graft.ext.TextDedup
      Seq(1, 2, 4, 8, 16, 32).filter(_ <= maxN).foreach { n =>
        val docs0 = Tables.documents(spark, sfDir)
        val docs = (0 until n).map { i =>
          docs0.withColumn("doc_id",
              col("doc_id") + lit(i.toLong * 100000000L))
            .withColumn("text",
              regexp_replace(col("text"), "(\\S+)", s"p${i}_$$1"))
        }.reduce(_ unionAll _)
        val withHs = docs.select(col("doc_id"),
          array_sort(graft.functions.ShingleHashes
            .shingle_hashes(col("text"), 3)).as("hs"))
        val plen = (size(col("hs"))
          - ceil(size(col("hs")) * lit(0.5)).cast("int") + 1).cast("int")
        val vols = withHs
          .agg(sum(size(col("hs"))).as("full"), sum(plen).as("pref"))
          .head()
        val inv = withHs.select(col("doc_id"), explode(col("hs")).as("h"))
        val candFull = inv.as("a")
          .join(inv.as("b"), Seq("h"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
        val pref = withHs.select(col("doc_id"),
          explode(slice(col("hs"), lit(1), plen)).as("h"))
        val candPref = pref.as("a")
          .join(pref.as("b"), Seq("h"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
        val tFull = time {
          TextDedup.ngramJaccardPairs(
            docs, "text", "doc_id", n = 3, threshold = 0.5).count()
        }
        val tPref = time {
          TextDedup.prefixFilterJaccardPairs(
            docs, "text", "doc_id", n = 3, threshold = 0.5).count()
        }
        println(s"""{"probe":"pfjoin","n":$n,""" +
          s""""postings_full":${vols.getLong(0)},""" +
          s""""postings_prefix":${vols.getLong(1)},""" +
          s""""cand_full":$candFull,"cand_prefix":$candPref,""" +
          s""""sec_full":${"%.3f".format(tFull)},""" +
          s""""sec_prefix":${"%.3f".format(tPref)}}""")
      }
      spark.stop()
      return
    }

    Seq(1, 2, 4, 8, 16, 32).filter(_ <= maxN).foreach { n =>
      val li = scaledLineitem(n)
      val q1 = time {
        li.filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(Det.dsum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n"))
          .collect()
      }
      val pareto = time {
        val rev = li.groupBy(col("l_partkey"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 6))).as("rev_dec"))
        val r = RetailQueries.paretoCumShare(rev, "l_partkey", "rev_dec")
          .count()
        graft.ops.CacheScope.releaseAll()
        r
      }
      val ev = scaledEvents(n)
      val band = time {
        val e = ev.select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("value"))
        val r = graft.ops.BandAgg(e, "event_id", "us", e, "us", "value",
          1800L * 1000000).count()
        graft.ops.CacheScope.releaseAll()
        r
      }
      def scaledDocs(n: Int,
          perCopy: (Int, DataFrame) => DataFrame = (_, d) => d)
          : DataFrame = {
        val docs0 = Tables.documents(spark, sfDir)
        (0 until n).map { i =>
          perCopy(i, docs0.withColumn("doc_id",
            col("doc_id") + lit(i.toLong * 100000000L)))
        }.reduce(_ unionAll _)
      }
      val dedup = time {
        val r = graft.ext.TextDedup
          .exactDedup(scaledDocs(n), "text", "doc_id").count()
        graft.ops.CacheScope.releaseAll()
        r
      }
      // banded MinHash-LSH candidate mining: EVERY WORD of each copy is
      // salted with the copy index, so every shingle differs across
      // copies and near-dup density PER COPY stays constant (copies
      // never band-collide with each other — the 90-day-shift rationale
      // applied to shingles); the probe then measures the candidate
      // machinery, not a synthetic n² pair blowup
      val lsh = time {
        val docs = scaledDocs(n, (i, d) => d.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1")))
        val r = graft.ext.TextDedup
          .minhashNearDups(docs, "text", "doc_id")
          .count()
        graft.ops.CacheScope.releaseAll()
        r
      }
      // streaming shape: the AvailableNow hourly rollup over the same
      // N×-scaled events, written as a 32-part directory so the file
      // source lists/plans a realistic multi-file micro-batch. The write
      // happens OUTSIDE the timed region; the timing covers listing,
      // micro-batch planning, watermark bookkeeping, and the stateful
      // window agg — the parts of the streaming story the batch probes
      // above cannot see. Copies are 90-day-shifted, so hour-window
      // state cardinality scales with the data (the realistic axis).
      val streamDir = s"/tmp/graft_scaleprobe_ev/n$n"
      ev.repartition(32).write.mode("overwrite").parquet(streamDir)
      val stream = time {
        graft.streaming.StreamPipeline
          .eventsHourlyAvailableNowParts(spark, streamDir).count()
      }
      // streaming-dedup shapes (q_stream_dedup_lsh{,_pruned}): the
      // ARCHIVE scales N× (per-copy shingle salting — copies never
      // band-collide, the minhash_lsh rationale) while the ARRIVAL
      // STREAM stays FIXED and SMALL (copy 0's odd docs below id 64
      // plus near-dup twins of its every-10th doc below 320 — a
      // realistic micro-batch next to a huge archive), so the timed
      // region isolates the per-batch stream-side cost of probing an
      // ever-bigger index. TWO plans, probe as negative-control + fix:
      //   - stream_dedup_full: the plain stream-static join re-SCANS
      //     the whole index per run — expected ~linear in N (the 100 TB
      //     failure mode, measured on purpose: 2.9 → 6.0 s at 2× when
      //     first probed);
      //   - stream_dedup_pruned: the bucket-partitioned index with
      //     per-batch partition pruning (lshDedupPrunedStart) — IO
      //     bounded by the batch's key footprint, expected to stay far
      //     under N×.
      // Index builds and incoming writes happen OUTSIDE the timed
      // regions (the index is a standing disk asset in production).
      val sdBase = s"/tmp/graft_scaleprobe_sdedup/n$n"
      val sdBuckets = 1024
      val (streamDedupFull, streamDedupPruned) = {
        def salted(i: Int, d: DataFrame) = d.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"a${i}_$$1"))
        val arch = scaledDocs(n, salted).filter(col("doc_id") % 2 === 0)
        val (ib, ih) = graft.ext.TextDedup.lshIndex(arch, "text", "doc_id")
        ib.write.mode("overwrite").parquet(s"$sdBase/ib")
        ih.write.mode("overwrite").parquet(s"$sdBase/ih")
        // one file per bucket (the writeBucketedLshIndex discipline):
        // per-batch listing stays O(nBuckets) at every N
        ib.withColumn("bkt", pmod(xxhash64(col("band")), lit(sdBuckets)))
          .repartition(col("bkt"))
          .write.partitionBy("bkt").mode("overwrite")
          .parquet(s"$sdBase/ibb")
        ih.withColumn("bkt", pmod(xxhash64(col("id")), lit(sdBuckets)))
          .repartition(col("bkt"))
          .write.partitionBy("bkt").mode("overwrite")
          .parquet(s"$sdBase/ihb")
        val copy0 = salted(0, Tables.documents(spark, sfDir))
        copy0.select(explode(array(
            when(col("doc_id") % 2 === 1 && col("doc_id") < 64,
              struct(col("doc_id").as("id"), col("text").as("text"))),
            when(col("doc_id") % 10 === 0 && col("doc_id") < 320,
              struct((col("doc_id") + 600000L).as("id"),
                concat(col("text"), lit(" zz extra")).as("text")))))
            .as("d"))
          .filter(col("d").isNotNull)
          .select(col("d.id").as("id"), col("d.text").as("text"))
          .withColumn("ing_ts", timestamp_seconds(
            lit(1704067200L) + col("id") % 86400L))
          .write.mode("overwrite").parquet(s"$sdBase/in")
        val full = time {
          graft.streaming.StreamPipeline.dedupLshAvailableNowParts(
            spark, s"$sdBase/in", s"$sdBase/ib", s"$sdBase/ih").count()
        }
        val pruned = time {
          graft.streaming.StreamPipeline.dedupLshPrunedAvailableNowParts(
            spark, s"$sdBase/in", s"$sdBase/ibb", s"$sdBase/ihb",
            nBuckets = sdBuckets).count()
        }
        (full, pruned)
      }
      // graph wedge-join shape (triangles / link prediction): the
      // ring+random fixture graph built PER COPY over each copy's own
      // id range (copies never connect — the 90-day-shift rationale for
      // edges), so node count, edge count, and wedge density all scale
      // with N while per-node degree stays constant. Times the full
      // linkPrediction pipeline: degree agg, capped adjacency self-join,
      // pair aggregate, existing-edge anti join.
      val wedge = time {
        val c0 = Tables.documents(spark, sfDir).count()
        val nodes = scaledDocs(n).select(col("doc_id"))
        val base = (col("doc_id") / lit(100000000L)).cast("long") *
          lit(100000000L)
        val off = col("doc_id") - base
        val ring = (1 to 2).map { j =>
          nodes.select(col("doc_id").as("src"),
            (base + (off + j) % c0).as("dst"))
        }.reduce(_ unionAll _)
        val rand = nodes.select(col("doc_id").as("src"),
          (base + conv(substring(md5(concat(lit("tedge:"),
            off.cast("string"))), 1, 8), 16, 10).cast("long") % c0)
            .as("dst"))
        val r = graft.ext.Graph.linkPrediction(
          ring.unionAll(rand).filter(col("src") =!= col("dst")),
          maxDeg = 50, minCommon = 2).count()
        graft.ops.CacheScope.releaseAll()
        r
      }
      // k-means round shape (Lloyd): N× copies of the embeddings table
      // with shifted ids; times the md5-rank init (sort-limit) plus ONE
      // full assign+update cycle — the literal-broadcast codegen argmin
      // scan and the posexplode → k·d-key hash agg. Linear in vectors
      // by construction; the probe verifies no hidden super-linear term
      // (the d× posexplode fan-out is the candidate).
      val kmeans = time {
        val emb0 = Tables.embeddings(spark, sfDir)
        val emb = (0 until n).map { i =>
          emb0.withColumn("vec_id",
            col("vec_id") + lit(i.toLong * 100000000L))
        }.reduce(_ unionAll _)
        graft.ext.Lloyd.fitCentroids(emb, k = 8, updates = 1)
      }
      // basket-mining shape (q_basket_triples): the N×-scaled items
      // frame PLUS one injected pathological basket whose size grows
      // with N (40·N distinct parts in a single order — the bot/
      // wholesale-feed hazard). Timed twice: cap disabled (the
      // pre-r10 shape, where the hot key alone emits C(40N, 3)
      // candidate rows and the curve goes super-linear) and with the
      // DefaultMaxBasket contract (the hot basket is pre-agg-pruned
      // from N ≥ 8 up, flattening the worst case back to the sane
      // Σ C(basket,3) volume).
      val hotBasket = spark.range(40L * n).select(
        lit(999999999999L).as("l_orderkey"),
        (col("id") + 900000000000L).as("l_partkey"))
      def basketItems() = scaledLineitem(n)
        .select(col("l_orderkey"), col("l_partkey"))
        .unionAll(hotBasket)
      val basketPre = time {
        val r = AnalyticsQueries2.basketTriples(
          basketItems(), maxBasket = Long.MaxValue).count()
        graft.ops.CacheScope.releaseAll()
        r
      }
      val basketPost = time {
        val r = AnalyticsQueries2.basketTriples(basketItems()).count()
        graft.ops.CacheScope.releaseAll()
        r
      }
      println(s"""{"probe":"scale","n":$n,"q1_agg":$q1,""" +
        s""""pareto_prefix":$pareto,"band_agg":$band,""" +
        s""""exact_dedup":$dedup,"minhash_lsh":$lsh,""" +
        s""""stream_hourly":$stream,"stream_dedup_full":$streamDedupFull,""" +
        s""""stream_dedup_pruned":$streamDedupPruned,""" +
        s""""graph_wedge":$wedge,""" +
        s""""kmeans_round":$kmeans,"basket_uncapped":$basketPre,""" +
        s""""basket_capped":$basketPost}""")
    }
    spark.stop()
  }
}
