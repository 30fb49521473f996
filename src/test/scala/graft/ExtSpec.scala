package graft

import org.apache.spark.sql.functions._

import graft.ext.{Multimodal, Similarity, TextDedup, TextStats}

/** Specs for extension operators without a SQL oracle (plus semantic
  * checks the hash compare can't express). */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = Tables.documents(spark, sf)
  lazy val emb = Tables.embeddings(spark, sf)

  test("langid: argmax semantics and 'und' fallback") {
    val df = Seq(
      ("the cat is on the mat and it is flat", "en"),
      ("el perro y la casa de que en un", "es"),
      ("der hund und die katze ist nicht von", "de"),
      ("zzz qqq xxx", "und")).toDF("text", "expected")
    val out = df.withColumn("pred", TextStats.langId(col("text"))).collect()
    out.foreach(r => assert(r.getString(2) == r.getString(1),
      s"text='${r.getString(0)}'"))
  }

  test("quality score: bounded [0,1], monotone in stopword presence") {
    val scored = docs.select(TextStats.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).head()
    assert(scored.getDouble(0) >= 0.0 && scored.getDouble(1) <= 1.0)
    val good = Seq("the quick brown fox jumps over the lazy dog and it is fine")
      .toDF("text").select(TextStats.qualityScore(col("text"))).head().getDouble(0)
    val noisy = Seq("$$$ 123 456 789 %%% !!! 000 ###")
      .toDF("text").select(TextStats.qualityScore(col("text"))).head().getDouble(0)
    assert(good > noisy)
  }

  test("label centroids: one row per (label, dim), mean of member vectors") {
    val cent = Similarity.labelCentroids(emb)
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val nLabels = emb.select("label").distinct().count()
    assert(cent.count() == nLabels * dims)
    // spot-check one cell against a driver-side computation
    val l0d0 = cent.filter(col("label") === 0 && col("dim") === 0)
      .head().getDouble(2)
    val expected = emb.filter(col("label") === 0)
      .select(element_at(col("embedding"), 1).cast("double")).collect()
      .map(_.getDouble(0))
    assert(math.abs(l0d0 - expected.sum / expected.length) < 1e-6)
  }

  test("LSH top-k ⊆ brute-force scoring; bucket restriction holds") {
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 3)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val lsh = Similarity.lshTopK(emb, col("vec_id") < 4, 3, bits = 4)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect()
    // every LSH hit scores identically to the exhaustive computation
    lsh.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(bc => assert(bc == c))
    }
    val bucketOf = emb
      .withColumn("b", Similarity.signBucket(col("embedding"), 4))
      .select("vec_id", "b").as[(Long, String)].collect().toMap
    lsh.foreach { case (q, n, _) => assert(bucketOf(q) == bucketOf(n)) }
  }

  test("FloatVecDot codegen expression is bit-identical to the HOF dot") {
    val pairs = emb.limit(100).select(col("embedding").as("a"))
      .crossJoin(emb.limit(7).select(col("embedding").as("b")))
    val diffs = pairs.select(
      (Similarity.dot(col("a"), col("b"))
        - Similarity.dotHof(col("a"), col("b"))).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diffs == 0)
  }

  test("hyperplane LSH: deterministic planes, consistent scores, real recall") {
    val planes = Similarity.randomHyperplanes(4, 8, seed = 7)
    assert(planes.map(_.toSeq).toSeq ==
      Similarity.randomHyperplanes(4, 8, seed = 7).map(_.toSeq).toSeq)
    assert(planes.flatten.forall(v => v >= -1.0 && v < 1.0))
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 8, 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect()
    val bruteMap = brute.map(t => (t._1, t._2) -> t._3).toMap
    def run(radius: Int) = Similarity.lshTopKHyperplane(
      emb, col("vec_id") < 8, 5, bits = 4, dim = 64, probeRadius = radius)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect()
    val rh = run(0)
    val rhProbed = run(1)
    assert(rh.nonEmpty)
    // any shared (q, n) pair carries the identical rounded cosine
    (rh ++ rhProbed).foreach { case (q, n, c) =>
      bruteMap.get((q, n)).foreach(bc => assert(bc == c)) }
    // recall@5 vs exact — deterministic corpus + seed, so exact values;
    // multi-probe must dominate single-probe and clear a real floor
    def recall(xs: Array[(Long, Long, Double)]) =
      xs.count(t => bruteMap.contains((t._1, t._2))).toDouble / brute.length
    assert(recall(rhProbed) >= recall(rh))
    assert(recall(rhProbed) > 0.3,
      s"recall@5 probed=${recall(rhProbed)} single=${recall(rh)}")
  }

  test("cosineNearDups is symmetric-free (a<b) and thresholded") {
    val pairs = Similarity.cosineNearDups(emb, 0.5, bits = 4).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.5)
    }
  }

  test("cosineNearDups skew guard: salted hot bucket = unsalted pair set") {
    // 60 vectors, ALL in one sign bucket (positive coords) — the skew case
    val skewed = spark.range(60).select(col("id").as("vec_id"),
      array((lit(1.0) + col("id").cast("double") / 100).cast("float"),
        lit(0.5f), lit(0.25f), lit(0.125f)).as("embedding"))
    def pairSet(maxBucketRows: Long) =
      Similarity.cosineNearDups(skewed, 0.9, bits = 4, maxBucketRows)
        .select("id_a", "id_b", "cos").as[(Long, Long, Double)]
        .collect().toSet
    val unsalted = pairSet(maxBucketRows = 1000000L) // nsalt = 1 everywhere
    val salted = pairSet(maxBucketRows = 10L)        // nsalt = 6 in the bucket
    assert(unsalted.nonEmpty)
    assert(salted == unsalted) // replication preserves the exact result
  }

  test("bounded-heap top-k: matches window ranking incl. ties; no Window node") {
    import org.apache.spark.sql.expressions.Window
    // deliberate ties: score = id % 3 → many equal scores per query,
    // tie-break must pick LOWER neighbor_id first
    val scored = spark.range(200).select(
      (col("id") % 4).as("query_id"),
      col("id").as("neighbor_id"),
      (col("id") % 3).cast("double").as("cos"))
    val viaAgg = Similarity.topKPerQuery(scored, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaAgg == viaWindow)
    // fewer candidates than k: all rows come back, ranked densely
    val tiny = spark.range(3).select(lit(0L).as("query_id"),
      col("id").as("neighbor_id"), col("id").cast("double").as("cos"))
    val got = Similarity.topKPerQuery(tiny, 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(got.map(_._2).toSeq == Seq(2L, 1L, 0L))
    assert(got.map(_._4).toSeq == Seq(1, 2, 3))
    // the scale-killer is gone: no Window in the physical plan
    val plan = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    assert(plan.contains("ObjectHashAggregate"))
  }

  test("random projection: shuffle-free map stage, deterministic, and " +
      "recall holds on clustered geometry") {
    // pure projection: the reduced table must plan with ZERO exchanges —
    // at 100 TB this is the difference between a map pass and a shuffle
    val red = Similarity.randomProjection(emb, dOut = 16)
    val exchanges = red.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty)
    val row = red.select(size(col("reduced"))).head()
    assert(row.getInt(0) == 16)
    // same seed → identical output regardless of input layout
    val a = red.select(col("vec_id"), col("reduced")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = Similarity.randomProjection(emb.repartition(7), dOut = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b)
    // native MatProject loop ≡ the interpreted HOF+round reference,
    // bit-for-bit over the whole table (same in-order summation, same
    // BigDecimal HALF_UP rounding)
    val hof = Similarity.randomProjectionHof(emb, dOut = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == hof)

    // recall on data with real structure: 3 well-separated clusters of
    // near-identical vectors. Full-dim top-k is all cluster-mates; a
    // 64→16 JL projection must keep them (the iid-random testdata has
    // no stable neighbors, so the registry's ext_rp_recall measures
    // distortion there — THIS pins that the op preserves structure
    // where structure exists).
    val dim = 64
    val centers = Seq(
      Array.tabulate(dim)(i => if (i % 3 == 0) 1.0f else 0.0f),
      Array.tabulate(dim)(i => if (i % 3 == 1) 1.0f else 0.0f),
      Array.tabulate(dim)(i => if (i % 3 == 2) 1.0f else 0.0f))
    // 6 per cluster: each query's exact top-5 is EXACTLY its 5 cluster
    // mates (intra-cluster cos ≈ 1, inter ≈ 0), so recall measures
    // cluster preservation, not tie-ordering among surplus mates
    val pts = for {
      c <- 0 until 3; j <- 0 until 6
    } yield (c.toLong * 6 + j,
      centers(c).zipWithIndex.map { case (v, i) =>
        v + (if (i == j) 0.01f else 0.0f) })
    val fix = pts.toDF("vec_id", "embedding")
    val rec = Similarity.rpRecall(fix, col("vec_id") % 6 === 0, k = 5,
      dOut = 16, dim = dim)
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(rec == 1.0, s"clustered recall@5 = $rec")
  }

  test("MMR rerank: diverse results displace near-duplicate cluster mates") {
    // query 0 at e0; ids 1-3 a tight cluster near the query (the
    // near-dup flood), ids 4-5 equally relevant but mutually orthogonal
    def pad(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(8 - xs.length)(0.0)).map(_.toFloat).toArray
    val fix = Seq(
      (0L, pad(1.0)),
      (1L, pad(0.9, 0.30)),
      (2L, pad(0.9, 0.31)),
      (3L, pad(0.9, 0.32)),
      (4L, pad(0.9, -0.436)),
      (5L, pad(0.9, 0.0, 0.436))).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(fix, col("vec_id") === 0, k = 3, m = 5)
      .orderBy("mmr_rank")
      .collect().map(r => (r.getInt(2), r.getLong(1)))
    // rank 1 = pure relevance (cluster's best); ranks 2-3 = the two
    // orthogonal candidates — the redundant cluster mates 2 and 3 are
    // displaced even though THEY have the next-highest raw relevance
    assert(out.map(_._2).toSeq == Seq(1L, 4L, 5L), out.toSeq.toString)
    // pure relevance would have returned the whole cluster first
    val rel = Similarity.bruteForceTopK(fix, col("vec_id") === 0, 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(rel == Seq(1L, 2L, 3L))
    // layout invariance
    val again = Similarity.mmrRerank(
      fix.repartition(5), col("vec_id") === 0, k = 3, m = 5)
      .orderBy("mmr_rank").collect().map(r => (r.getInt(2), r.getLong(1)))
    assert(again.toSeq == out.toSeq)
  }

  test("IVF: clusters partition the corpus; search scores match exact path") {
    val model = graft.ext.IvfIndex.train(emb, nlist = 4)
    assert(model.nlist == 4)
    val indexed = graft.ext.IvfIndex.index(emb, model)
    assert(indexed.filter(col("cluster").isNull
      || col("cluster") < 0 || col("cluster") >= 4).count() == 0)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 10)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val ivf = graft.ext.IvfIndex.search(emb, model, col("vec_id") < 4,
      k = 5, nprobe = 2)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect()
    assert(ivf.nonEmpty)
    // any (q,n) pair surfaced by IVF that brute-force also ranked must
    // carry the identical rounded cosine
    ivf.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(bc => assert(bc == c)) }
  }

  test("IVF: recall rises with nprobe and is exact at full probe") {
    val model = graft.ext.IvfIndex.train(emb, nlist = 4)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(np: Int): Double = {
      val s = graft.ext.IvfIndex
        .search(emb, model, col("vec_id") < 4, k = 5, nprobe = np)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      s.intersect(brute).size.toDouble / brute.size
    }
    val (r1, r2, r4) = (recall(1), recall(2), recall(4))
    assert(r1 <= r2 && r2 <= r4, s"recall not monotone: $r1 $r2 $r4")
    // probing every cluster = no pruning: the SAME rounding and tie-break
    // as the exact path makes full-probe IVF identical to brute force
    assert(r4 == 1.0, s"full-probe recall $r4 != 1.0")
  }

  test("IVF deterministic: seed model replays; full probe equals brute force") {
    val m1 = graft.ext.IvfIndex.seedModel(emb, nlist = 4)
    val m2 = graft.ext.IvfIndex.seedModel(emb, nlist = 4)
    assert(m1.nlist == 4)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq,
      "seedModel is not replay-deterministic")
    // probing every cell = no pruning; same rounding + tie-break as the
    // exact path, so the deterministic search degenerates to brute force
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().sorted.toSeq
    val full = graft.ext.IvfIndex
      .searchDeterministic(emb, m1, col("vec_id") < 4, k = 5, nprobe = 4)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().sorted.toSeq
    assert(full == brute)
  }

  test("cluster-balanced sample: caps every cell, deterministic, no window") {
    val model = graft.ext.IvfIndex.seedModel(emb, nlist = 4)
    val df = graft.ext.IvfIndex.clusterBalancedSample(emb, model, cap = 5)
    val rows = df.select("cluster", "vec_id", "rank")
      .as[(Int, Long, Int)].collect()
    assert(rows.nonEmpty)
    val perCell = rows.groupBy(_._1).view.mapValues(_.length)
    assert(perCell.values.forall(_ <= 5), s"cap exceeded: ${perCell.toMap}")
    assert(rows.forall { case (c, _, r) => c >= 0 && c < 4 && r >= 1 && r <= 5 })
    // sampled ids are distinct corpus ids
    val ids = rows.map(_._2)
    assert(ids.distinct.length == ids.length)
    // replay-deterministic
    val again = graft.ext.IvfIndex.clusterBalancedSample(emb, model, cap = 5)
      .select("cluster", "vec_id", "rank").as[(Int, Long, Int)]
      .collect().sorted.toSeq
    assert(again == rows.sorted.toSeq)
    // bounded-heap aggregate, not a row-grained window
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
  }

  test("PQ deterministic: seed codebooks replay; full oversample = brute") {
    val m1 = graft.ext.PqIndex.seedModel(emb, dim = 64, m = 8, k = 16)
    val m2 = graft.ext.PqIndex.seedModel(emb, dim = 64, m = 8, k = 16)
    assert(m1.m == 8 && m1.k == 16 && m1.subDim == 8)
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "seedModel is not replay-deterministic")
    // oversample*k >= corpus: the shortlist admits every candidate, so
    // the exact re-rank degenerates to brute force
    val n = emb.count().toInt
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().sorted.toSeq
    val full = graft.ext.PqIndex.search(emb, m1, col("vec_id") < 4,
        k = 5, oversample = n / 5 + 1)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().sorted.toSeq
    assert(full == brute)
  }

  test("IVFPQ deterministic: full probe + full oversample = brute force") {
    val n = emb.count().toInt
    val ivf = graft.ext.IvfIndex.seedModel(emb, nlist = 4)
    val pq = graft.ext.PqIndex.seedModel(emb, dim = 64, m = 8, k = 16)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().sorted.toSeq
    val full = graft.ext.PqIndex.searchWithIvfDeterministic(emb, ivf, pq,
        col("vec_id") < 4, k = 5, nprobe = 4, oversample = n / 5 + 1)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().sorted.toSeq
    assert(full == brute)
  }

  test("PQ: codes compress, re-rank scores are exact, recall beats floor") {
    val model = graft.ext.PqIndex.train(emb, dim = 64, m = 8, k = 32)
    assert(model.m == 8 && model.k == 32 && model.subDim == 8)
    val coded = graft.ext.PqIndex.encode(emb, model)
    // every vector encodes to m=8 codes in [0, k=32)
    assert(coded.filter(size(col("codes")) =!= 8).count() == 0)
    assert(coded.filter(exists(col("codes"),
      c => c < 0 || c >= 32)).count() == 0)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 8, 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect()
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val bruteCos = brute.map(t => (t._1, t._2) -> t._3).toMap
    val pq = graft.ext.PqIndex
      .search(emb, model, col("vec_id") < 8, k = 5, oversample = 8)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect()
    // surfaced scores are TRUE cosines (the re-rank is exact)
    pq.foreach { case (q, n, c) =>
      bruteCos.get((q, n)).foreach(bc => assert(bc == c)) }
    val recall = pq.map(t => (t._1, t._2)).toSet
      .intersect(bruteSet).size.toDouble / bruteSet.size
    assert(recall > 0.4, s"PQ recall@5 with 8x oversample = $recall")
  }

  test("IVFPQ: full probe equals PQ-only; pruning keeps exact scores") {
    val ivf = graft.ext.IvfIndex.train(emb, nlist = 4)
    val pq = graft.ext.PqIndex.train(emb, dim = 64, m = 8, k = 32)
    val pqOnly = graft.ext.PqIndex
      .search(emb, pq, col("vec_id") < 8, k = 5, oversample = 8)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().toSet
    // nprobe = nlist → no cluster pruning → identical candidates, and the
    // same rounding/tie-breaks → identical output to PQ-only search
    val fullProbe = graft.ext.PqIndex.searchWithIvf(emb, ivf, pq,
      col("vec_id") < 8, k = 5, nprobe = 4, oversample = 8)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().toSet
    assert(fullProbe == pqOnly)
    // pruned probe: whatever it surfaces carries TRUE cosines
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 8, 20)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val pruned = graft.ext.PqIndex.searchWithIvf(emb, ivf, pq,
      col("vec_id") < 8, k = 5, nprobe = 2, oversample = 8)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect()
    assert(pruned.nonEmpty)
    pruned.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(bc => assert(bc == c)) }
  }

  test("multimodal: batched extraction matches the expression-stub features") {
    val payloads = docs.limit(50)
      .select(col("doc_id"), Multimodal.asPayload(col("text")).as("payload"))
    val viaExpr = payloads.select(col("doc_id"),
      Multimodal.fakeDecodeFeatures(col("payload")).as("f"))
      .as[(Long, Seq[Double])].collect().toMap
    val viaBatch = Multimodal.extractFeaturesBatched(
      payloads, "doc_id", "payload", batchSize = 7)
      .as[(Long, Seq[Double])].collect().toMap
    assert(viaBatch.keySet == viaExpr.keySet)
    viaBatch.foreach { case (id, f) =>
      f.zip(viaExpr(id)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("WAV codec: byte-exact roundtrip incl. range edges, header fields, " +
      "and the decode dispatcher routes by format tag") {
    import graft.ext.WavCodec
    val edge = Seq(-32768, 32767, 0, -1, 1, 12345, -12345)
    val df = Seq((1L, edge, 44100), (2L, Seq(5, -5, 300, -300), 8000))
      .toDF("id", "ss", "rate")
      .select(col("id"), col("ss"), col("rate"),
        WavCodec.encodeWav(col("ss"), col("rate")).as("wav"))
    val out = df.select(col("id"),
        WavCodec.isWav(col("wav")).as("ok"),
        WavCodec.sampleRate(col("wav")).as("r"),
        WavCodec.numSamples(col("wav")).as("n"),
        WavCodec.samples(col("wav")).as("dec"),
        length(col("wav")).as("len"))
      .as[(Long, Boolean, Long, Long, Seq[Int], Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 && out(2L)._2, "both payloads must tag as WAV")
    assert(out(1L)._3 == 44100L && out(2L)._3 == 8000L)
    assert(out(1L)._4 == edge.length && out(2L)._4 == 4L)
    assert(out(1L)._5 == edge, "two's-complement edges must roundtrip")
    assert(out(2L)._5 == Seq(5, -5, 300, -300))
    assert(out(1L)._6 == 44 + 2 * edge.length, "canonical header + data")
    // dispatcher: a text payload is NOT a WAV and falls through to the
    // stub; a WAV payload gets REAL waveform features
    val d2 = Seq("just some text").toDF("t")
      .select(Multimodal.asPayload(col("t")).as("p"))
      .select(Multimodal.decodeFeatures(col("p")).as("via"),
        Multimodal.fakeDecodeFeatures(col("p")).as("stub"),
        WavCodec.isWav(col("p")).as("tag"))
      .head()
    assert(!d2.getBoolean(2))
    assert(d2.getSeq[Double](0) == d2.getSeq[Double](1))
    val wf = df.filter(col("id") === 2)
      .select(Multimodal.decodeFeatures(col("wav")).as("f")).head()
      .getSeq[Double](0)
    // blocks of [5,-5,300,-300]: mean|s| per single-sample block /32768
    assert(wf == Seq(5 / 32768.0, 5 / 32768.0, 300 / 32768.0,
      300 / 32768.0).map(v => math.rint(v * 1e6) / 1e6))
    // a structurally valid 0-sample WAV decodes to the empty array and
    // 0.0 features — no garbage samples, no NaN block energies
    val zero = Seq((Seq.empty[Int], 8000)).toDF("ss", "rate")
      .select(WavCodec.encodeWav(col("ss"), col("rate")).as("wav"))
      .select(WavCodec.isWav(col("wav")).as("ok"),
        WavCodec.samples(col("wav")).as("dec"),
        WavCodec.waveFeatures(col("wav")).as("f")).head()
    assert(zero.getBoolean(0) && zero.getSeq[Int](1).isEmpty)
    assert(zero.getSeq[Double](2) == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("bloom semi-join reduction: output identical to the plain " +
      "semi-join even with a deliberately tiny, collision-heavy bitmap") {
    val orders = Tables.orders(spark, sf)
    val dim = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val plain = orders
      .join(dim.select(col("c_custkey").as("o_custkey")).distinct(),
        Seq("o_custkey"), "left_semi")
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    // 256 bits for dozens of keys: false positives guaranteed, output
    // must not change (the exact verify is load-bearing)
    val viaBloom = graft.ops.BloomSemiJoin.prefilteredSemiJoin(
        orders, "o_custkey", dim, "c_custkey", mBits = 256, numHashes = 2)
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(plain.nonEmpty, "fixture slice empty — test is vacuous")
    assert(viaBloom == plain)
    // and the bitmap really does pass extra keys at this size: the
    // PRE-verify filter admits more distinct custkeys than the dim has
    val bm = graft.ext.Sketches.bloomBitmap(
      dim.select(col("c_custkey").cast("string").as("__k")), "__k",
      256, 2)
    val probed = orders.select(col("o_custkey").cast("string").as("__k"))
      .distinct()
      .select((col("__k") +: graft.ext.Sketches
        .cmsBuckets(col("__k"), 2, 256)
        .zipWithIndex.map { case (c, i) => c.as(s"__p$i") }): _*)
      .withColumn("__bm", typedLit(bm.toSeq))
      .filter(graft.ext.Sketches.bloomMemberExpr("__bm",
        Seq("__p0", "__p1")))
      .count()
    val trueKeys = dim.distinct().count()
    assert(probed > trueKeys,
      s"expected false positives at 256 bits (passed $probed vs $trueKeys true)")
  }

  test("prefix-filtered jaccard join: pair-identical to the full " +
      "inverted-index join; prefix index carries ~half the volume") {
    import graft.ext.TextDedup
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))
    val full = TextDedup.ngramJaccardPairs(
      docs, "text", "doc_id", n = 3, threshold = 0.5).collect().map(key)
    val pf = TextDedup.prefixFilterJaccardPairs(
      docs, "text", "doc_id", n = 3, threshold = 0.5).collect().map(key)
    assert(full.toSet == pf.toSet, "prefix filtering changed the output")
    assert(pf.nonEmpty, "fixture produced no pairs — test is vacuous")
    // the scale claim: the prefix inverted index posts ~|s|/2 + 1
    // hashes per doc instead of |s|
    val vol = docs.select(size(graft.functions.ShingleHashes
        .shingle_hashes(col("text"), 3)).as("nsh"))
      .agg(sum(col("nsh")).as("fullV"),
        sum(col("nsh") - ceil(col("nsh") * 0.5).cast("int") + 1)
          .as("prefV")).head()
    assert(vol.getLong(1) <= vol.getLong(0) / 2 + docs.count() + 1,
      s"prefix volume ${vol.getLong(1)} not ~half of ${vol.getLong(0)}")
  }

  test("incremental corpus build: every drop path fires exactly once " +
      "and the funnel books each stage") {
    import graft.ext.{Curation, TextDedup}
    val tA = "the cat and the dog and the fox and the bird and the " +
      "fish and the cow and the hen and the pig runs fast today"
    val tB = "a quick brown fox jumps over the lazy dog while it is " +
      "raining in the garden and the sun is bright"
    val n1 = "we like to read books in the library and it is a quiet " +
      "place for all of us to think deeply"
    val n2 = "they went to the market and bought some bread and milk " +
      "and then walked home by the old river path"
    val archive = Seq((2L, tA, "web"), (4L, tB, "web"))
      .toDF("doc_id", "text", "source")
    val incoming = Seq(
      (11L, n1, "web"),              // novel keeper
      (13L, tA, "web"),              // exact copy of archived doc
      (15L, tA + " extra", "web"),   // near-dup of archived doc
      (17L, n2, "web"),              // novel keeper
      (19L, n2, "web"),              // within-batch exact copy of 17
      (21L, n1 + " indeed", "web"),  // within-batch near-dup of 11
      (23L, "zz qq xx 123", "web"))  // fails the quality gate
      .toDF("doc_id", "text", "source")
    val fpIndex = TextDedup.exactDedup(archive, "text", "doc_id")
      .select("fp", "representative_id")
    val (bandsIdx, hashesIdx) =
      TextDedup.lshIndex(archive, "text", "doc_id")
    val (cleaned, funnel) = Curation.corpusBuildIncremental(
      incoming, "text", "doc_id", fpIndex, bandsIdx, hashesIdx,
      minQuality = 0.72)
    val ids = cleaned.select("doc_id").as[Long].collect().sorted.toSeq
    val f = funnel.orderBy("stage_ord").collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs"))
    graft.ops.CacheScope.releaseAll()
    assert(ids == Seq(11L, 17L), s"survivors: $ids")
    assert(f.toSeq == Seq("raw" -> 7L, "exact_dedup" -> 5L,
      "quality_gate" -> 4L, "near_dedup" -> 2L), s"funnel: ${f.toSeq}")
  }

  test("WAV downsample: positional decimation contract and halved rate, " +
      "odd lengths keep the ceil half") {
    import graft.ext.WavCodec
    val df = Seq((1L, (1 to 9).map(i => i * 100), 8000),
        (2L, Seq(7, -7, 300, -300), 12000))
      .toDF("id", "ss", "rate")
      .select(col("id"), col("ss"),
        WavCodec.downsample(
          WavCodec.encodeWav(col("ss"), col("rate")), 2).as("wav"))
    val out = df.select(col("id"),
        WavCodec.sampleRate(col("wav")).as("r"),
        WavCodec.numSamples(col("wav")).as("n"),
        WavCodec.samples(col("wav")).as("dec"))
      .as[(Long, Long, Long, Seq[Int])].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 4000L && out(2L)._2 == 6000L)
    // decode(downsample(x, 2))[i] == decode(x)[2*i]; 9 samples -> 5
    assert(out(1L)._4 == Seq(100, 300, 500, 700, 900))
    assert(out(1L)._3 == 5L)
    assert(out(2L)._4 == Seq(7, 300))
  }

  test("WAV downsample: a header rate whose byte rate overflows the " +
      "header field gives NULL for that row, not a failed query") {
    import graft.ext.WavCodec
    // bytes 25-28 (1-based) hold the sample rate; 0xFFFFFFFF / f · 2
    // exceeds Int.MaxValue for f = 1 and f = 2
    val wav = WavCodec.encodeWav(col("ss"), lit(8000))
    val df = Seq((1L, Seq(1, 2, 3), false), (2L, Seq(4, 5, 6), true))
      .toDF("id", "ss", "huge")
      .select(col("id"), when(col("huge"), concat(substring(wav, 1, 24),
        unhex(lit("FFFFFFFF")), substring(wav, 29, 1 << 20))).otherwise(wav)
        .as("wav"))
    val out = df.select(col("id"),
        WavCodec.isWav(col("wav")).as("valid"),
        WavCodec.downsample(col("wav"), 1).as("d1"),
        WavCodec.downsample(col("wav"), 2).as("d2"))
      .select(col("id"), col("valid"), col("d1").isNull, col("d2").isNull,
        WavCodec.samples(col("d1")), WavCodec.samples(col("d2")))
      .as[(Long, Boolean, Boolean, Boolean, Seq[Int], Seq[Int])]
      .collect().map(r => r._1 -> r).toMap
    assert(out(2L) == ((2L, true, true, true, Nil, Nil)))
    assert(out(1L) == ((1L, true, false, false, Seq(1, 2, 3), Seq(1, 3))))
  }

  test("WAV VAD: islands segmentation on designed quiet/loud runs, " +
      "all-quiet clips emit nothing, partial tail frame counted") {
    import graft.ext.WavCodec
    // clip 1: frames loud,loud,quiet,loud -> segments (0-1) and (3-3);
    // clip 2: all quiet -> no rows; clip 3: 1 loud frame + 4-sample
    // loud tail -> one segment spanning both, n_samples = 20
    def frame(v: Int) = Seq.fill(16)(v)
    val clips = Seq(
      (1L, frame(5000) ++ frame(6000) ++ frame(10) ++ frame(7000)),
      (2L, frame(3) ++ frame(7)),
      (3L, frame(4000) ++ Seq.fill(4)(9000)))
    val df = clips.toDF("id", "ss")
      .select(col("id"), WavCodec.encodeWav(col("ss"), lit(8000)).as("wav"))
    val out = WavCodec.vadSegments(df, "id", "wav").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("seg_id"),
        r.getAs[Int]("start_frame"), r.getAs[Int]("end_frame"),
        r.getAs[Long]("n_frames"), r.getAs[Long]("n_samples"),
        r.getAs[Double]("mean_energy"))).sortBy(t => (t._1, t._2))
    assert(out.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).toSeq == Seq(
      (1L, 1, 0, 1, 2L, 32L), (1L, 2, 3, 3, 1L, 16L),
      (3L, 1, 0, 1, 2L, 20L)))
    // energies: exact means of the constructed amplitudes
    assert(out(0)._7 == 5500.0)     // (5000 + 6000) / 2
    assert(out(1)._7 == 7000.0)
    assert(out(2)._7 == 6500.0)     // (4000 + 9000) / 2 (tail len 4)
  }

  test("BMP codec: byte-exact roundtrip incl. every row-pad case, the " +
      "bottom-up/BGR undo, and format-tag routing") {
    import graft.ext.{BmpCodec, WavCodec}
    // widths 1..4 cover pads 1, 2, 3, 0; pixels hit channel extremes
    val imgs = Seq(
      (1L, Seq(0xFF0000, 0x00FF00, 0x0000FF, 0x000000, 0xFFFFFF,
        0x123456), 3, 2),
      (2L, Seq(0x010203, 0xFEFDFC), 1, 2),
      (3L, Seq(0xABCDEF, 0x000001, 0x010000, 0x800080,
        0x7F7F7F, 0x40C080, 0x112233, 0x445566), 4, 2),
      (4L, Seq(0x0A0B0C, 0x0D0E0F), 2, 1))
    val df = imgs.toDF("id", "px", "w", "h")
      .select(col("id"), col("px"), col("w"), col("h"),
        BmpCodec.encodeBmp(col("px"), col("w"), col("h")).as("bmp"))
    val out = df.select(col("id"),
        BmpCodec.isBmp(col("bmp")).as("ok"),
        BmpCodec.width(col("bmp")).as("w2"),
        BmpCodec.height(col("bmp")).as("h2"),
        BmpCodec.pixels(col("bmp")).as("dec"),
        length(col("bmp")).as("len"))
      .as[(Long, Boolean, Long, Long, Seq[Int], Int)].collect()
      .map(r => r._1 -> r).toMap
    imgs.foreach { case (id, px, w, h) =>
      assert(out(id)._2, s"img $id must tag as BMP")
      assert(out(id)._3 == w && out(id)._4 == h)
      assert(out(id)._5 == px,
        s"img $id (pad ${(4 - w * 3 % 4) % 4}) must roundtrip: " +
          s"${out(id)._5}")
      assert(out(id)._6 == 54 + (w * 3 + (4 - w * 3 % 4) % 4) * h)
    }
    // cross-format: a WAV payload is not a BMP and vice versa; text is
    // neither; the pooled-profile dispatcher routes BMPs to pixel
    // pooling (header/padding bytes excluded) and leaves text on the
    // byte grid
    val wav = Seq((1L, Seq(1, 2, 3, 4), 8000)).toDF("id", "ss", "r")
      .select(WavCodec.encodeWav(col("ss"), col("r")).as("p"))
    assert(!wav.select(BmpCodec.isBmp(col("p"))).head().getBoolean(0))
    assert(!df.select(WavCodec.isWav(col("bmp"))).head().getBoolean(0))
    val txt = Seq("plain text payload").toDF("t")
      .select(Multimodal.asPayload(col("t")).as("p"))
    assert(!txt.select(BmpCodec.isBmp(col("p"))).head().getBoolean(0))
    // exact-length contract: a CONCATENATION of two valid BMPs (the
    // video payload shape) and a TRUNCATED image must both fall
    // through to the stub/byte-grid path, never half-decode
    val cat = df.filter(col("id") === 1)
      .select(concat(col("bmp"), col("bmp")).as("p"),
        expr("substring(bmp, 1, length(bmp) - 3)").as("trunc"))
      .select(BmpCodec.isBmp(col("p")).as("catTag"),
        BmpCodec.isBmp(col("trunc")).as("truncTag")).head()
    assert(!cat.getBoolean(0) && !cat.getBoolean(1))
    val viaDispatch = df.filter(col("id") === 1)
      .select(Multimodal.pooledProfile(col("bmp"), 3).as("v"),
        BmpCodec.resizePooledPixels(col("bmp"), 3).as("direct"))
      .head()
    assert(viaDispatch.getSeq[Double](0) == viaDispatch.getSeq[Double](1))
    // luminance cells of img 1 (6 px, k=3 → 2 px/cell): exact means
    val lums = imgs.head._2.map(p =>
      (p >> 16 & 255) + (p >> 8 & 255) + (p & 255))
    val expCells = lums.grouped(2).map(g =>
      math.rint(g.sum / 6.0 * 1e6) / 1e6).toSeq
    assert(viaDispatch.getSeq[Double](0) == expCells)
    // decodeFeatures: BMP arm yields block luminances, not the stub
    val f = df.filter(col("id") === 3)
      .select(Multimodal.decodeFeatures(col("bmp")).as("f"),
        BmpCodec.bmpFeatures(col("bmp")).as("direct")).head()
    assert(f.getSeq[Double](0) == f.getSeq[Double](1))
    // 0×0 image: empty pixel array, 0.0 features, no NaN (WAV lesson)
    val z = Seq((Seq.empty[Int], 0, 0)).toDF("px", "w", "h")
      .select(BmpCodec.encodeBmp(col("px"), col("w"), col("h")).as("bmp"))
      .select(BmpCodec.pixels(col("bmp")).as("dec"),
        BmpCodec.bmpFeatures(col("bmp")).as("f"),
        BmpCodec.isBmp(col("bmp")).as("ok")).head()
    assert(z.getAs[Boolean]("ok") && z.getSeq[Int](0).isEmpty)
    assert(z.getSeq[Double](1) == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("sourceOutliers: the off-center vector ranks first, sources " +
      "stay isolated, cosines recompute") {
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(1f, 0.05f, 0f)), (4L, Seq(-1f, 0f, 0f)),
      (10L, Seq(0f, 1f, 0f)), (11L, Seq(0f, 0.95f, 0.05f)))
      .toDF("vec_id", "embedding")
    val d2 = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"),
      (10L, "b"), (11L, "b")).toDF("doc_id", "source")
    val out = Similarity.sourceOutliers(emb, d2, k = 2)
      .select("source", "rank", "vec_id", "cos")
      .as[(String, Int, Long, Double)].collect()
    graft.ops.CacheScope.releaseAll()
    val a = out.filter(_._1 == "a").sortBy(_._2)
    val b = out.filter(_._1 == "b").sortBy(_._2)
    assert(a.length == 2 && b.length == 2)
    // source a's centroid points +x-ish; vec 4 (-x) is the clear outlier
    assert(a.head._3 == 4L && a.head._4 < 0,
      s"the anti-aligned vector must rank first, got ${a.toSeq}")
    assert(b.forall(r => r._3 == 10L || r._3 == 11L),
      "source b ranks only its own vectors")
    // ranks within a source are 1..k and cosines are non-decreasing
    assert(a.map(_._2).toSeq == Seq(1, 2) && a(0)._4 <= a(1)._4)
  }

  test("multimodal meta is BYTE-semantic, not character-semantic") {
    // é and ö are 2 UTF-8 bytes: 11 chars → 13 bytes; head = h,é,l bytes
    val df = Seq("héllo wörld").toDF("t")
      .select(Multimodal.asPayload(col("t")).as("payload"))
    val r = Multimodal.withPayloadMeta(df, "payload")
      .select("byte_len", "head_hex").head()
    assert(r.getInt(0) == 13)
    assert(r.getString(1) == "68c3a96c")
  }

  test("multimodal: chunk sampling strides over payload bytes") {
    val df = Seq("abcdefghijklmnopqrstuvwxyz").toDF("t")
      .select(Multimodal.asPayload(col("t")).as("p"))
    val chunks = df.select(Multimodal.sampleChunks(col("p"), 4, 10, 3).as("c"))
      .head().getSeq[Array[Byte]](0)
    assert(chunks.map(new String(_)).toSeq == Seq("abcd", "klmn", "uvwx"))
  }

  test("minhash LSH recall vs exact n-gram jaccard at matched threshold") {
    val exact = TextDedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = TextDedup.minhashNearDups(docs, "text", "doc_id", 3, 8, 4, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // verified-LSH output is always a subset of exact pairs
    assert(lsh.subsetOf(exact))
    // and at 8 hashes / 4 bands recall on this corpus should be substantial
    if (exact.nonEmpty) assert(lsh.size.toDouble / exact.size > 0.5)
  }

  test("edit-distance pairs: sound vs naive all-pairs; near-identical recall") {
    val base = "the quick brown fox jumps over the lazy dog near the river today"
    val fixture = Seq(
      (1L, base),
      (2L, base.replace('q', 'Q')), // dist 1
      (3L, base + " x"), // dist 2 (append " x")
      (4L, "completely different words entirely unrelated content written here"),
      (5L, base.replace("fox", "cat"))) // dist 3
      .toDF("doc_id", "text")
    val got = TextDedup.editDistancePairs(fixture, "text", "doc_id",
      n = 3, k = 8, bands = 4, maxDist = 4)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    // naive reference: all pairs, plain (unthresholded) levenshtein
    val naive = fixture.as("a").crossJoin(fixture.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.text"), col("b.text")).as("dist"))
      .filter(col("dist") <= 4)
      .as[(Long, Long, Int)].collect().toSet
    // soundness: every emitted pair is a true ≤ maxDist pair
    assert(got.subsetOf(naive))
    // recall on near-identical strings (1-2 char edits share almost all
    // shingles, so they band-collide): the dist-1/2 pairs must be found
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 2)))
    // the far doc pairs with nothing
    assert(got.forall { case (a, b, _) => a != 4L && b != 4L })
    // thresholded-DP parity: emitted distances match the plain DP's
    got.foreach(p => assert(naive.contains(p)))
  }

  test("pageRank: mass conserved, hubs rank highest, isolated gets teleport") {
    import graft.ext.Graph
    // star: 1..4 all link to 0; 0 itself is dangling; 9 is isolated
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 9L).toDF("node")
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("src", "dst")
    val r = Graph.pageRank(nodes, edges, iters = 10, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    // total rank mass is conserved by teleport + dangling redistribution
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // the hub all spokes point at dominates everything else
    assert(r(0L) > r(1L) * 3)
    // spokes and the isolated node both hold only teleport-derived mass;
    // the isolated node additionally receives its dangling share
    assert(Seq(1L, 2L, 3L, 4L, 9L).map(r).forall(_ > 0))
    assert(math.abs(r(1L) - r(2L)) < 1e-15)
  }

  test("triangles: K4 + pendant, dedup/orientation counts each once") {
    import graft.ext.Graph
    // K4 on 1..4 (4 triangles, every node in 3 of them, lcc = 1) plus a
    // pendant 5–1 (degree-1 node: 0 triangles, NULL coefficient). Edges
    // arrive messy on purpose: duplicates, both directions, a self-loop
    // — canonicalization must count each triangle exactly once.
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 2L),
      (2L, 4L), (3L, 4L), (4L, 3L), (1L, 5L), (5L, 5L))
      .toDF("src", "dst")
    val r = Graph.triangles(edges).collect()
      .map(row => row.getLong(0) -> ((row.getLong(1), row.getLong(2),
        Option(row.get(3)).map(_.asInstanceOf[Double])))).toMap
    graft.ops.CacheScope.releaseAll()
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // K4 corners: each sits in C(3,2) = 3 triangles of its 3 neighbors
    Seq(2L, 3L, 4L).foreach { n =>
      assert(r(n) == ((3L, 3L, Some(1.0))), s"node $n: ${r(n)}")
    }
    // node 1 has the extra pendant edge: degree 4, same 3 triangles,
    // lcc = 2*3/(4*3) = 0.5
    assert(r(1L) == ((4L, 3L, Some(0.5))))
    // the pendant: degree 1, no triangles, undefined coefficient
    assert(r(5L) == ((1L, 0L, None)))
  }

  test("kCore: pendant path peels one hop per round, clique survives") {
    import graft.ext.Graph
    // K4 on 1..4 plus the path 4–5–6–7. With k=2 the path unravels ONE
    // node per round (7 is degree-1, then 6 becomes degree-1, then 5):
    // batch peeling's round count is the peel depth, which this pins.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    // after 2 rounds: 7 and 6 are gone, 5 (still degree 1) is not yet
    val partial = Graph.kCore(edges, k = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(partial.keySet == Set(1L, 2L, 3L, 4L, 5L), s"got $partial")
    // after 3 rounds the cascade completes: the 2-core is exactly K4
    // with induced degree 3, and a 4th round changes nothing
    Seq(3, 4).foreach { it =>
      val r = Graph.kCore(edges, k = 2, iters = it)
        .as[(Long, Long)].collect().toMap
      assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
        s"iters=$it: $r")
    }
  }

  test("bm25PrfTopK: expansion retrieves docs with no original term") {
    import graft.ext.Retrieval
    // three feedback docs pair 'apple' with 'banana'; d10 has ONLY
    // 'banana' (round-1 BM25 can never rank it); 'common' is in every
    // doc so the df-fraction prune must reject it as an expansion term
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "apple banana banana common"),
      (3L, "apple banana common"),
      (10L, "banana banana banana common"),
      (20L, "cherry date common"),
      (21L, "cherry fig common"),
      (22L, "grape fig common"),
      (23L, "grape date common")).toDF("doc_id", "text")
    val r = Retrieval.bm25PrfTopK(docs, "text", "doc_id",
      Seq("apple"), k = 7, fbDocs = 3, fbTerms = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    graft.ops.CacheScope.releaseAll()
    assert(r.contains(10L) && r(10L) > 0.0,
      s"banana-only doc must enter via the expansion term: $r")
    // expansion picked 'banana' (not the pruned 'common'): docs with
    // neither apple nor banana score nothing and stay out
    assert(Seq(20L, 21L, 22L, 23L).forall(!r.contains(_)),
      s"filler docs must not score: $r")
  }

  test("labelPropagation: bridged triangles split into their cliques") {
    import graft.ext.Graph
    // two triangles joined by one bridge edge 3–10, plus isolated 99:
    // 4 synchronous min-tie-break rounds must settle each triangle on
    // its own min-id label (the bridge is outvoted by clique neighbors)
    // and leave the isolated node labeled as itself
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val r = Graph.labelPropagation(nodes, edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    graft.ops.CacheScope.releaseAll()
    assert(Seq(1L, 2L, 3L).map(r).toSet == Set(1L),
      s"left clique must share the min-id label: $r")
    assert(Seq(10L, 11L, 12L).map(r).toSet.size == 1 &&
      r(10L) != r(1L),
      s"right clique must share one label distinct from the left: $r")
    assert(r(99L) == 99L, "isolated node keeps its own label")
  }

  test("hits: authorities land on pointed-at nodes, L1 mass sums to 1") {
    import graft.ext.Graph
    // bipartite-ish: 1,2,3 all point at 8 and 9; nothing points back
    val nodes = Seq(1L, 2L, 3L, 8L, 9L, 5L).toDF("node")
    val edges = Seq((1L, 8L), (2L, 8L), (3L, 8L), (1L, 9L))
      .toDF("src", "dst")
    val r = Graph.hits(nodes, edges, iters = 4)
      .as[(Long, Double, Double)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap
    assert(math.abs(r.values.map(_._1).sum - 1.0) < 1e-9) // hub mass
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-9) // auth mass
    // 8 has 3 in-links from the best hubs; 9 has 1; isolated 5 has none
    assert(r(8L)._2 > r(9L)._2 && r(9L)._2 > 0)
    assert(r(5L) == ((0.0, 0.0)))
    // hub 1 points at both authorities, hub 2 at one — 1 must out-hub 2
    assert(r(1L)._1 > r(2L)._1)
    // pure authorities are not hubs
    assert(r(8L)._1 == 0.0 && r(9L)._1 == 0.0)
  }

  test("hashedLinearScore: 2n-1 features, sigmoid bounds, sign gate") {
    import graft.ext.TextStats
    val docs = Seq(
      (1L, "alpha beta gamma delta"), // 4 uni + 3 bi = 7
      (2L, "alpha beta gamma delta"), // identical → identical score
      (3L, "solo"),                   // 1 uni, no bigrams
      (4L, "totally different words here indeed")
    ).toDF("doc_id", "text")
    val r = TextStats.hashedLinearScore(docs, "text", "doc_id")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getInt(4)))).toMap
    assert(r(1L)._1 == 7 && r(3L)._1 == 1)
    assert(r(1L) == r(2L)) // pure function of text
    r.values.foreach { case (_, margin, score, keep) =>
      assert(score > 0.0 && score < 1.0)
      assert(keep == (if (margin >= 0) 1 else 0))
      // sigmoid orientation: positive margin ⇒ score above ½
      assert((margin >= 0) == (score >= 0.5))
    }
  }

  test("temperatureResample: alpha<1 upsamples starved sources, budget holds") {
    import graft.ext.Curation
    // big: 90 docs × 100 chars; small: 10 docs × 100 chars
    val docs = ((0 until 90).map(i => (i.toLong, "big", 100L)) ++
      (100 until 110).map(i => (i.toLong, "small", 100L)))
      .toDF("doc_id", "source", "n_chars")
    val r = Curation.temperatureResample(
      docs, "doc_id", "source", "n_chars", alpha = 0.3, budgetFraction = 1.0)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2),
        x.getInt(3)))
    val rateBy = r.groupBy(_._2).map { case (s, xs) => s -> xs.head._3 }
    // p_small^0.3 / p_big^0.3 ≫ p_small / p_big: the flattening upsamples
    assert(rateBy("small") > 1.5 && rateBy("big") < 1.0)
    // every small-source doc repeats at least floor(rate) times
    assert(r.filter(_._2 == "small").forall(_._4 >= rateBy("small").toInt))
    // materialized volume stays within coin noise of the budget (=supply)
    val sampled = r.map(_._4.toLong * 100).sum
    assert(math.abs(sampled - 10000L) < 2000)
  }

  test("percentileBins: equal populations without ties, approx ≈ exact") {
    import graft.ext.Curation
    // 100 distinct values 1..100 → deciles of exactly 10 each
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val exact = Curation.percentileBins(df, "v", "id", bins = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // bin(v) = |{cuts ≤ v}| puts each cut VALUE in the upper bin, so edge
    // bins flex by one around n/bins; all 10 bins exist and balance
    val sizes = exact.values.groupBy(identity).values.map(_.size)
    assert(sizes.size == 10 && sizes.forall(s => s >= 9 && s <= 11))
    // monotone: higher value never gets a lower bin
    assert(exact.toSeq.sortBy(_._1).map(_._2) ==
      exact.toSeq.sortBy(_._1).map(_._2).sorted)
    // the sketch path agrees on all but boundary-adjacent rows
    val approx = Curation.percentileBins(df, "v", "id", bins = 10,
      exactCuts = false).collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(exact.keys.count(k => exact(k) != approx(k)) <= 5)
  }

  test("percentileBins: bounded-distinct cut plan is value-identical to " +
      "the distributed rank-selection plan (the r11 BT adjudication pin)") {
    import graft.ext.Curation
    // ties + an uneven support, both paths must yield the same
    // percentile_disc cuts and therefore identical bins per row
    val df = (1 to 500).map(i => (i.toLong, (i % 37).toDouble / 7))
      .toDF("id", "v")
    def bins(bounded: Boolean) = Curation.percentileBins(
      df, "v", "id", bins = 8, exactCuts = true,
      boundedDistinct = bounded)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(bins(bounded = true) == bins(bounded = false))
  }

  test("compactionPlan: bounded overfill, per-partition reset, monotone") {
    import graft.ext.Curation
    val m = Seq(
      ("a", 1L, 30L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 90L),
      ("b", 1L, 10L), ("b", 2L, 10L)
    ).toDF("part", "shard", "bytes")
    val plan = Curation.compactionPlan(m, "shard", "bytes",
      targetSize = 50L, partitionCols = Seq("part"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    val byPart = plan.groupBy(_._1)
    // partition b restarts at offset 0 and fits one file
    assert(byPart("b").forall(_._5 == 0))
    // a: starts 0,30,60,90 → files 0,0,1,1
    assert(byPart("a").sortBy(_._2).map(_._5).toSeq == Seq(0, 0, 1, 1))
    // no file exceeds target + one overhanging shard
    val maxShard = plan.map(_._3).max
    plan.groupBy(p => (p._1, p._5)).values.foreach { f =>
      assert(f.map(_._3).sum <= 50 + maxShard)
    }
    // out_file is monotone in shard order within a partition
    byPart.values.foreach { xs =>
      val files = xs.sortBy(_._2).map(_._5).toSeq
      assert(files == files.sorted)
    }
  }

  test("rankingMetrics: known hits/recall/precision/RR, unretrieved query") {
    import graft.ext.Retrieval
    val ranked = Seq(
      (1L, 10L, 1), (1L, 99L, 2), (1L, 11L, 3),   // hits at rank 1 and 3
      (3L, 98L, 1), (3L, 97L, 2))                  // no relevant retrieved
      .toDF("query_id", "neighbor_id", "rank")
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 50L), (3L, 96L)).toDF("query_id", "doc_id")
    val m = Retrieval.rankingMetrics(ranked, truth, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        r.getDouble(4), r.getDouble(5)))).toMap
    // q1: 3 relevant, 2 hit, first at rank 1
    assert(m(1L) == ((3L, 2L, Some(0.666667), 0.666667, 1.0)))
    // q2: relevant exists but nothing ranked → all-zero row still present
    assert(m(2L) == ((1L, 0L, Some(0.0), 0.0, 0.0)))
    // q3: ranked rows but no hits → RR 0
    assert(m(3L) == ((1L, 0L, Some(0.0), 0.0, 0.0)))
  }

  test("pageRank: lineage truncation keeps the plan flat across iterations") {
    import graft.ext.Graph
    val nodes = (0L to 20L).toDF("node")
    val edges = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    // without per-iteration localCheckpoint the optimized plan would grow
    // ~3× per iteration (ranks referenced thrice); with it, the final
    // frame's plan hangs off ONE truncated scan regardless of iters
    def planSize(iters: Int) =
      Graph.pageRank(nodes, edges, iters = iters)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    val p2 = planSize(2)
    val p8 = planSize(8)
    assert(p8 == p2, s"plan grew with iterations: $p2 -> $p8")
    assert(p8 < 20, s"plan unexpectedly deep: $p8 nodes")
  }

  test("preferencePairs: sides from opposite bins, slot-bounded, no overlap") {
    import graft.ext.Curation
    val scored = (0 until 40).map { i =>
      (i.toLong, s"src${i % 2}", i % 8, i % 8 / 10.0 + 0.1)
    }.toDF("doc_id", "source", "bin", "quality")
    val pairs = Curation.preferencePairs(scored, "doc_id", "source",
      "bin", "quality", hiMin = 6, loMax = 1, pairsPerSource = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    assert(pairs.nonEmpty && pairs.length <= 2 * 4) // ≤ sources × slots
    // a doc never appears on both sides, and sides honor the bin gates
    val byId = scored.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    pairs.foreach { case (_, _, cid, _, rid, _) =>
      assert(cid != rid)
      assert(byId(cid) >= 6 && byId(rid) <= 1)
    }
    // deterministic: a second run elects identical representatives
    val again = Curation.preferencePairs(scored, "doc_id", "source",
      "bin", "quality", hiMin = 6, loMax = 1, pairsPerSource = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    assert(pairs.sortBy(p => (p._1, p._2)).toSeq ==
      again.sortBy(p => (p._1, p._2)).toSeq)
  }

  test("distributionDrift: zero PSI on identity, positive on a real shift") {
    import graft.ext.Curation
    val ref = (1 to 100).map(i => Tuple1(i % 50)).toDF("v")
    // identical snapshot → every contribution is exactly 0
    val same = Curation.distributionDrift(ref, ref, "v", width = 10)
      .collect()
    assert(same.forall(_.getDouble(5) == 0.0))
    // shifted snapshot: all mass moved up one bucket → total PSI large
    val cur = (1 to 100).map(i => Tuple1(i % 50 + 20)).toDF("v")
    val drift = Curation.distributionDrift(ref, cur, "v", width = 10)
      .collect()
    val totalPsi = drift.map(_.getDouble(5)).sum
    assert(totalPsi > 0.25, s"expected alarm-level PSI, got $totalPsi")
    // contributions are individually non-negative (p−q and ln share sign)
    assert(drift.forall(_.getDouble(5) >= 0.0))
    // empty-on-one-side buckets survive the full join with n=0
    assert(drift.exists(r => r.getLong(1) == 0L || r.getLong(2) == 0L))
  }

  test("phashPairs: exact dup at hamming 0, small edit near, disjoint out") {
    import graft.ext.Multimodal
    val lowHigh = "aaaaaaaaaaaaaaaa" * 4 + "zzzzzzzzzzzzzzzz" * 4
    val docs = Seq(
      (1L, lowHigh), (2L, lowHigh),                    // exact dup
      (3L, lowHigh.updated(0, 'b').toString),          // one-byte edit
      (4L, "az" * 64)                                  // alternating: far
    ).toDF("doc_id", "text")
      .select(col("doc_id"), Multimodal.asPayload(col("text")).as("payload"))
    val pairs = Multimodal.phashPairs(docs, "doc_id", "payload",
      k = 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 0)))                // identical payloads
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 <= 1))
    assert(!pairs.exists(p => p._2 == 4L))             // far profile absent
    assert(pairs.forall(_._3 <= 3))
  }

  test("dHashPairs: brightness-shift invariant, local edit near, disjoint out") {
    // constructed near-identical payload pairs over raw bytes (no text
    // detour): 130 bytes = 2 bytes per cell on the 65-cell dHash grid
    val base = Array.tabulate(130)(i => ((i * 37) % 101).toByte)
    val bright = base.map(b => (b + 10).toByte)
    val edited = base.clone(); edited(10) = 99; edited(11) = 0
    val far = Array.tabulate(130)(i => ((i * 53 + 17) % 101).toByte)
    val docs = Seq((1L, base), (2L, bright), (3L, edited), (4L, far))
      .toDF("id", "payload")
    val pairs = Multimodal.dHashPairs(docs, "id", "payload",
      bands = 4, bandBits = 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    graft.ops.CacheScope.releaseAll()
    // a uniform +10 on every byte shifts every cell mean equally, so every
    // gradient SIGN is unchanged: hamming exactly 0 — the re-encode
    // invariance the absolute-threshold aHash does not have
    assert(pairs.contains((1L, 2L, 0)))
    // a two-byte local edit perturbs one cell → at most its two adjacent
    // gradients flip
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 <= 2))
    // an unrelated byte pattern never survives verification
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("shingles: documents shorter than n tokens yield an empty array") {
    // sequence(1,0) is the DESCENDING [1,0] in Spark — without the short-doc
    // guard, slice throws INVALID_PARAMETER_VALUE.START on these rows
    val df = Seq(
      (0L, ""), (1L, "one"), (2L, "two tokens"),
      (3L, "exactly three tokens"), (4L, "now four whole tokens"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextDedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(0L).isEmpty && out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L) == Seq("exactly three tokens"))
    assert(out(4L).size == 2)
    // the downstream signatures must also survive short docs end-to-end
    val sig = df.select(TextDedup.simhash(col("text"), 3),
      TextDedup.minhashSignature(col("text"), 3, 4)).collect()
    assert(sig.length == 5)
  }

  test("ShingleHashes: codegen'd (not CodegenFallback), both paths agree") {
    import graft.functions.ShingleHashes
    assert(!ShingleHashes(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("x"),
        org.apache.spark.sql.types.StringType), 2).isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
    val df = Seq((1L, "a b c d a b c"), (2L, ""), (3L, "one two"))
      .toDF("id", "t")
    def run(): Map[Long, Seq[Long]] = df.select(col("id"),
      ShingleHashes.shingle_hashes(col("t"), 2).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = try run()
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(gen == interp)
    assert(gen(1L).size == 4) // "a b","b c","c d","d a" distinct of 6
    assert(gen(2L).isEmpty && gen(3L).size == 1)
  }

  test("connected components: chain, pair, singletons → min-id labels") {
    // chain 0–1–2–3 (diameter 3 forces multi-round propagation),
    // pair 5–6 (listed twice, reversed), singletons 4 and 7
    val ids = spark.range(8).select(col("id").as("doc_id"))
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L), (6L, 5L))
      .toDF("id_a", "id_b")
    val comp = TextDedup.connectedComponents(ids, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connected components: pointer jumping converges a deep chain in " +
      "O(log diameter) rounds (diameter 40 under maxIter 10)") {
    // a 41-node chain has diameter 40: plain min-label propagation needs
    // ~40 rounds and would blow the maxIter=10 cap (the require throws);
    // path doubling must land it in ~log2(40)+1 ≈ 7 rounds
    val n = 41
    val ids = spark.range(n).select(col("id").as("doc_id"))
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    val comp = TextDedup
      .connectedComponents(ids, "doc_id", pairs, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    graft.ops.CacheScope.releaseAll()
    assert(comp.size == n)
    assert(comp.values.forall(_ == 0L),
      "every chain node must label to the component min 0")
  }

  test("simhash banded pairing is COMPLETE at Hamming ≤ bands−1") {
    val viaBands = TextDedup.simhashNearDups(docs, "text", "doc_id",
      n = 3, bands = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    // ground truth: driver-side all-pairs popcount over the signatures
    val sigs = docs.select(col("doc_id"),
      TextDedup.simhash(col("text"), 3)).as[(Long, Long)].collect()
    val expected = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(viaBands == expected) // pigeonhole: nothing ≤ 3 escapes a band
  }

  test("simhash: near-identical docs collide, distinct docs do not") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "completely different content about spark query engines and parquet"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextDedup.simhash(col("text"), 3).as("h")).as[(Long, Long)]
      .collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(out(1L), out(2L)) < hamming(out(1L), out(3L)))
  }

  test("CorpusMain: end-to-end corpus run lands partitioned clean output") {
    val out = java.nio.file.Files.createTempDirectory("corpus_out").toString
    // salt with one exact dup so the dedup stages do real work
    val salted = docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 90000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")))
    val summary = graft.app.CorpusMain.run(
      TestSpark.spark, salted, out, minTokens = 5, minQuality = 0.0)
    def field(k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(summary).get.group(1).toLong
    val (total, gated, exact, clean) = (field("total"), field("gated"),
      field("exact_deduped"), field("clean"))
    assert(total == docs.count() + docs.filter(col("doc_id") % 5 === 0).count())
    assert(gated <= total && exact <= gated && clean <= exact)
    // every salted exact copy was removed
    assert(exact <= docs.count())
    val landed = TestSpark.spark.read.parquet(s"$out/corpus")
    assert(landed.count() == clean)
    assert(new java.io.File(s"$out/corpus").listFiles()
      .exists(_.getName.startsWith("lang=")))
    // the split column landed and only carries the three values
    assert(landed.select("split").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("CorpusMain: excideDupSpans cuts cross-doc passages before stats") {
    val out = java.nio.file.Files.createTempDirectory("corpus_spans").toString
    // two long docs sharing a 10-token passage; span excision must cut it
    // from both, so the landed text for those ids no longer contains it
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    val salted = docs.unionByName(Seq(
      (97001L, s"unique left words here $passage", "en", "spec", 1L),
      (97002L, s"other distinct opening tokens $passage", "en", "spec", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    graft.app.CorpusMain.run(TestSpark.spark, salted, out,
      minTokens = 3, minQuality = 0.0, excideDupSpans = true)
    val landed = TestSpark.spark.read.parquet(s"$out/corpus")
      .filter(col("doc_id") >= 97001L)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(landed.nonEmpty)
    landed.values.foreach(t => assert(!t.contains("p1 p2"), t))
  }

  test("incremental dedup: batch dedups against index without old corpus") {
    val batch1 = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val empty = spark.emptyDataFrame
      .sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("representative_id",
            org.apache.spark.sql.types.LongType))))
    val (s1, idx1) = TextDedup.incrementalDedup(batch1, "text", "doc_id", empty)
    assert(s1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(idx1.count() == 2)
    // batch 2: a cross-batch dup (alpha beta), an in-batch dup pair
    // (epsilon twice — keep-first id 4), and whitespace-variant of a
    // batch-1 doc (fingerprint-normalized → dup)
    val batch2 = Seq((3L, "alpha beta"), (5L, "epsilon zeta"),
      (4L, "epsilon zeta"), (6L, "  GAMMA   delta  "))
      .toDF("doc_id", "text")
    val (s2, idx2) = TextDedup.incrementalDedup(batch2, "text", "doc_id", idx1)
    assert(s2.select("doc_id").as[Long].collect().toSet == Set(4L))
    assert(idx2.count() == 3)
    // replay of batch 2 is a no-op against the updated index
    val (s3, idx3) = TextDedup.incrementalDedup(batch2, "text", "doc_id", idx2)
    assert(s3.count() == 0 && idx3.count() == 3)
  }

  test("PII redaction: staged order keeps URL-embedded emails as URLs") {
    val out = Seq(
      ("see https://a.b/c?u=x@y.zz now", "see <URL> now"),
      ("mail bob@corp.io today", "mail <EMAIL> today"),
      ("host 192.168.0.1 up", "host <IP> up"),
      ("call +1 (555) 867-5309 now", "call <PHONE> now"),
      ("clean text stays", "clean text stays"))
      .toDF("t", "expected")
      .select(TextStats.redactPii(col("t")).as("got"), col("expected"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
    // a doc with all four classes counts all four, staged
    val n = Seq("x@y.zz https://h/p 1.2.3.4 +1 (555) 867-5309")
      .toDF("t").select(TextStats.piiCount(col("t"))).head().getInt(0)
    assert(n == 4)
  }

  test("trigram langid separates languages when the text carries signal") {
    // the driver corpus's lang labels are random over a SHARED vocabulary
    // (unlearnable by construction), so discrimination is proven on a
    // fixture with real per-language character statistics instead
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the garden", "en"),
      (2L, "she was walking through the forest with her little brother", "en"),
      (3L, "le renard brun saute par dessus le chien paresseux dans le jardin", "fr"),
      (4L, "elle marchait dans la foret avec son petit frere hier soir", "fr"),
      (5L, "der schnelle braune fuchs springt uber den faulen hund im garten", "de"),
      (6L, "sie ging gestern abend mit ihrem kleinen bruder durch den wald", "de"),
      (7L, "el rapido zorro marron salta sobre el perro perezoso en el jardin", "es"),
      (8L, "ella caminaba por el bosque con su hermanito ayer por la noche", "es"))
      .toDF("doc_id", "text", "lang")
    val prof = TextStats.trainTrigramProfiles(train, "text", "lang", 50)
    val test = Seq(
      (11L, "the dog sleeps in the garden with the fox", "en"),
      (12L, "le chien dort dans le jardin avec le renard", "fr"),
      (13L, "der hund schlaft im garten mit dem fuchs", "de"),
      (14L, "el perro duerme en el jardin con el zorro", "es"))
      .toDF("doc_id", "text", "lang")
    val pred = TextStats.langIdTrigram(test, "text", "doc_id", prof)
    val agree = test.select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
      .select(avg((col("lang") === col("lang_pred")).cast("double")))
      .head().getDouble(0)
    assert(agree == 1.0, s"held-out accuracy $agree")
  }

  test("KmvAgg: set semantics, exact under k, k smallest ascending") {
    import graft.functions.KmvAgg.kmv_sketch
    // duplicates of the same hash must occupy ONE slot
    val dup = (1 to 50).flatMap(_ => Seq(7L, 3L, 9L)).toDF("h")
      .repartition(8) // force partial buffers + merge
    val sk = dup.agg(kmv_sketch(col("h"), 4)).head().getSeq[Long](0)
    assert(sk == Seq(3L, 7L, 9L)) // 3 distinct → exact, ascending
    // more distinct values than k → the k smallest, deduped
    val many = ((1 to 100).map(_.toLong) ++ (1 to 100).map(_.toLong))
      .toDF("h").repartition(8)
    val sk2 = many.agg(kmv_sketch(col("h"), 5)).head().getSeq[Long](0)
    assert(sk2 == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("KMV estimate lands near the exact distinct count") {
    import graft.functions.KmvAgg.kmv_sketch
    val k = 128
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val row = docs.agg(
      kmv_sketch(graft.ext.TextDedup.baseHash(col("text")), k).as("sk"),
      countDistinct(col("text")).as("exact")).head()
    val sk = row.getSeq[Long](0)
    val exact = row.getLong(1)
    val est =
      if (sk.size < k) sk.size.toDouble
      else (k - 1).toDouble / ((sk(k - 1) + 1) / 4294967296.0)
    // KMV relative std error ≈ 1/sqrt(k-2) ≈ 9% at k=128; allow 4 sigma
    assert(math.abs(est - exact) / exact < 0.36,
      s"est=$est exact=$exact")
  }

  test("boilerplate line removal: frequent lines stripped, order kept") {
    val corpus = (1 to 30).map { i =>
      (i.toLong, s"unique head $i\nSHARED BANNER LINE\nunique tail $i")
    }.toDF("doc_id", "text")
      // doc 31 is pure boilerplate; doc 32 repeats the banner twice
      // (in-doc repeats count once toward doc-frequency)
      .union(Seq(
        (31L, "SHARED BANNER LINE"),
        (32L, "SHARED BANNER LINE\nkeep me\nSHARED BANNER LINE"))
        .toDF("doc_id", "text"))
    val out = TextDedup.removeBoilerplateLines(corpus, "text", "doc_id", 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(5L) == (("unique head 5\nunique tail 5", 1)))
    assert(out(31L) == (("", 1)))
    assert(out(32L) == (("keep me", 2)))
  }

  test("boilerplate line removal: blank lines are structure, never removed") {
    val corpus = (1 to 30).map(i =>
      (i.toLong, s"para one $i\n\npara two $i")).toDF("doc_id", "text")
    val out = TextDedup.removeBoilerplateLines(corpus, "text", "doc_id", 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    // every doc has a blank separator line; it must survive everywhere
    assert(out(3L) == (("para one 3\n\npara two 3", 0)))
  }

  test("boilerplate line removal: below-threshold lines untouched") {
    val corpus = (1 to 5).map(i => (i.toLong, s"a $i\nrare shared line"))
      .toDF("doc_id", "text")
    val out = graft.ext.TextDedup
      .removeBoilerplateLines(corpus, "text", "doc_id", 10)
      .agg(sum("n_removed")).head().getLong(0)
    assert(out == 0L)
  }

  test("repetition stats: hand-computed fractions") {
    val corpus = Seq(
      (1L, "a a a a"),       // 3 of 4 tokens repeat; all bigrams 'a a'
      (2L, "a b c d"),       // no repeats; 3 distinct bigrams
      (3L, "x y x y x")).toDF("doc_id", "text") // 'x y' twice of 4
    val out = TextStats.repetitionStats(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(out(1L) == ((0.75, 1.0)))
    assert(out(2L) == ((0.0, 0.333333)))
    assert(out(3L) == ((0.6, 0.5)))
  }

  test("hash split: deterministic, fractions near 90/5/5") {
    val ids = spark.range(0, 10000).toDF("doc_id")
    val a = TextDedup.hashSplit(ids, "doc_id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(a("train") - 9000.0) / 9000 < 0.05)
    assert(math.abs(a("val") - 500.0) / 500 < 0.3)
    assert(math.abs(a("test") - 500.0) / 500 < 0.3)
    val b = TextDedup.hashSplit(ids.repartition(7), "doc_id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b) // layout-independent
  }

  test("contamination: only salted docs flagged, control snippet clean") {
    val snippet = "the quick brown fox jumps over the lazy dog today"
    val bench = Seq((1, snippet), (2, "completely unrelated benchmark text here with many words"))
      .toDF("bench_id", "text")
    val corpus = Seq(
      (10L, s"some filler words then $snippet and more filler"),
      (11L, "entirely innocent document with its own vocabulary set"),
      (12L, snippet)).toDF("doc_id", "text")
    val out = TextDedup
      .benchmarkContamination(corpus, bench, "text", "doc_id", "bench_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out == Set((10L, 1), (12L, 1)))
  }

  test("int8 quantize: reconstruction error bounded by scale/2") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 2.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val rows = vecs
      .select(col("vec_id"), col("embedding"),
        Similarity.int8Scale(col("embedding")).as("s"))
      .select(col("vec_id"), col("s"),
        Similarity.quantizeInt8(col("embedding"), col("s")).as("q"),
        col("embedding"))
      .select(col("vec_id"), col("s"), col("q"), col("embedding"))
      .collect()
    rows.foreach { r =>
      val s = r.getDouble(1)
      val q = r.getSeq[Int](2)
      val e = r.getSeq[Float](3)
      if (r.getLong(0) == 2L) assert(s == 0.0 && q.forall(_ == 0))
      else q.zip(e).foreach { case (qi, ei) =>
        assert(math.abs(qi * s - ei) <= s / 2 + 1e-12)
        assert(math.abs(qi) <= 127)
      }
    }
  }

  test("pack offsets: distributed prefix sum == naive, layout-invariant") {
    val lens = (1L to 100L).map(i => (i, (i % 7) + 1)).toDF("doc_id", "n")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Packing.packOffsets(df, "doc_id", "n", 16)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
    val a = run(lens)
    val b = run(lens.repartition(13))
    assert(a == b)
    // naive sequential expectation
    var off = 0L
    val expected = (1L to 100L).map { i =>
      val n = (i % 7) + 1
      val row = (i, off, off / 16, off % 16)
      off += n
      row
    }.toSet
    assert(a == expected)
  }

  test("bin pack: serpentine deal == naive, layout-invariant, balanced") {
    val lens = (1L to 97L).map(i => (i, (i * 13 % 29) + 1)).toDF("doc_id", "n")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Packing.binPack(df, "doc_id", "n", 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = run(lens)
    val b = run(lens.repartition(11))
    assert(a == b)
    // naive single-node reference: rank longest-first, serpentine stripe
    val rows = (1L to 97L).map(i => (i, (i * 13 % 29) + 1))
    val total = rows.map(_._2).sum
    val nb = (total + 63) / 64
    val expected = rows.sortBy { case (id, n) => (-n, id) }.zipWithIndex
      .map { case ((id, n), rn) =>
        val bin = if ((rn / nb) % 2 == 0) rn % nb else nb - 1 - rn % nb
        (id, n, bin.toLong)
      }.toSet
    assert(a == expected)
    // bins number ceil(total/ctx) and the serpentine deal stays balanced:
    // every bin within (max doc + max per-round spread) of the mean
    val totals = a.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(totals.keySet == (0L until nb).toSet)
    val maxDoc = rows.map(_._2).max
    assert(totals.values.max - totals.values.min <= 2 * maxDoc,
      s"imbalance ${totals.values.max - totals.values.min}")
  }

  test("inverted index: two-phase rank == naive window, shards bounded") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog and the cat"),
      (3L, "a dog ran far"),
      (4L, "the the the unique"),
      (5L, "cat dog mat the")).toDF("doc_id", "text")
    val got = graft.ext.Retrieval
      .invertedIndexShards(corpus, "text", "doc_id",
        shardPostings = 2, minDf = 2)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    graft.ops.CacheScope.releaseAll()
    // naive reference: per-term doc_id-ordered postings, 2-entry shards
    val naive = Seq(1L -> "the cat sat on the mat", 2L -> "the dog and the cat",
      3L -> "a dog ran far", 4L -> "the the the unique", 5L -> "cat dog mat the")
      .flatMap { case (id, t) => t.split("\\s+").map(w => (w, id)) }
      .groupBy { case (w, id) => (w, id) }.view
      .mapValues(_.size).toSeq
      .map { case ((w, id), tf) => (w, id, tf.toLong) }
      .groupBy(_._1).filter(_._2.size >= 2)
      .flatMap { case (term, ps) =>
        val sorted = ps.sortBy(_._2)
        sorted.zipWithIndex.groupBy(_._2 / 2).map { case (shard, entries) =>
          (term, shard) -> (sorted.size.toLong, entries.size.toLong,
            entries.map(_._1._2).mkString(","),
            entries.map(_._1._3).mkString(","))
        }
      }.toMap
    assert(got == naive)
    // every shard bounded by shardPostings
    assert(got.values.forall(_._2 <= 2))
    // hapax terms (df=1) are absent
    assert(!got.keySet.exists(_._1 == "unique"))
  }

  test("index delta: incremental merge == full rebuild; hapax resurrects") {
    val base = Seq(
      (2L, "the cat sat"),
      (4L, "the dog and rare the"),
      (6L, "cat mat dog")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "the rare bird"),
      (13L, "cat the bird")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSet
    val idx = graft.ext.Retrieval
      .invertedIndexShards(base, "text", "doc_id", 2, minDf = 1)
    val merged = rows(graft.ext.Retrieval
      .invertedIndexDelta(idx, batch, "text", "doc_id", 2, minDf = 2))
    val rebuilt = rows(graft.ext.Retrieval
      .invertedIndexShards(base.unionByName(batch), "text", "doc_id", 2,
        minDf = 2))
    graft.ops.CacheScope.releaseAll()
    assert(merged == rebuilt)
    // 'rare' was hapax in the base (kept only because the base index is
    // minDf=1); the batch's second occurrence resurrects doc 4's posting
    assert(merged.exists { case (t, _, df, _, docs, _) =>
      t == "rare" && df == 2 && docs == "4,11" })
    // 'mat'/'sat' stay hapax after the merge and are filtered by minDf=2
    assert(!merged.exists(r => r._1 == "mat" || r._1 == "sat"))
  }

  test("DSIR weights: target docs score above non-target on average") {
    val w = graft.ext.Curation.dsirWeights(docs, "text", "doc_id",
        targetPred = col("lang") === "en")
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("t")),
        "doc_id")
    val byT = w.groupBy("t")
      .agg(avg(col("dsir_weight") / col("n_feats")).as("m"))
      .as[(Boolean, Double)].collect().toMap
    assert(byT.keySet == Set(true, false))
    // the defining DSIR property: the likelihood ratio separates the
    // target domain from the rest (per-feature mean removes length bias)
    assert(byT(true) > byT(false),
      s"no target/raw separation: $byT")
    assert(w.filter(col("dsir_weight").isNull
      || isnan(col("dsir_weight"))).count() == 0)
  }

  test("token budget select: exact greedy prefix, layout-invariant") {
    val docs = Tables.documents(spark, sf)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Curation.tokenBudgetSelect(df, "text", "doc_id", 2000L)
        .select("doc_id", "n_tokens", "cum_tokens")
        .as[(Long, Long, Long)].collect().toSet
    val got = run(docs)
    assert(got.nonEmpty)
    // budget is exact and inclusive
    assert(got.forall(_._3 <= 2000L))
    // toSeq first — mapping the Set would dedup equal token counts
    assert(got.toSeq.map(_._2).sum == got.toSeq.map(_._3).max)
    // sequential reference: same (quality desc, id) greedy fill
    val ranked = docs.select(col("doc_id"),
        graft.ext.TextStats.tokenCount(col("text")).cast("long").as("n"),
        graft.ext.TextStats.qualityScore(col("text")).as("q"))
      .as[(Long, Long, Double)].collect()
      .sortBy { case (id, _, q) => (-q, id) }
    var off = 0L
    val expected = ranked.iterator.map { case (id, n, _) =>
      off += n; (id, n, off)
    }.takeWhile(_._3 <= 2000L).toSet
    assert(got == expected)
    // partition layout must not change the selection
    assert(run(docs.repartition(13)) == got)
  }

  test("containment: embedded doc flagged even when jaccard is low") {
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " filler1 filler2 filler3"
    val corpus = Seq((1L, small), (2L, big), (3L, "totally different words"))
      .toDF("doc_id", "text")
    val cont = TextDedup.minhashContainmentPairs(
      corpus, "text", "doc_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // IF banding surfaced (1,2) as a candidate, containment must be 1.0
    // while jaccard is far below; with only 3 docs and full-prefix
    // overlap the first band collides deterministically
    assert(cont.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      s"got ${cont.toSeq}")
    val jac = TextDedup.minhashNearDups(
      corpus, "text", "doc_id", threshold = 0.9)
      .collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("tfidf keywords: rare terms outrank ubiquitous ones") {
    val corpus = Seq(
      (1L, "common rare1"),
      (2L, "common common"),
      (3L, "common rare2")).toDF("doc_id", "text")
    val out = graft.ext.Retrieval
      .tfidfKeywords(corpus, "text", "doc_id", m = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getString(1)).toMap
    // equal tf: the df=1 term's idf beats the everywhere-term's
    assert(out((1L, 1)) == "rare1")
    assert(out((3L, 1)) == "rare2")
    assert(out((2L, 1)) == "common")
  }

  test("int8 ANN: full oversample reproduces brute force bit-exactly") {
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val nCorpus = emb.count().toInt
    val full = Similarity.int8TopK(emb, col("vec_id") < 4, 5,
      oversample = nCorpus) // shortlist = whole corpus -> exact re-rank
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full == brute)
    // defaults: recall@5 against brute force should be high
    val approx = Similarity.int8TopK(emb, col("vec_id") < 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteIds = brute.map(t => (t._1, t._2))
    val recall = bruteIds.intersect(approx).size.toDouble / bruteIds.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("chunking: stride windows, partial tail, short doc -> one chunk") {
    val corpus = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c")).toDF("doc_id", "text")
    val out = graft.ext.Packing
      .chunkDocs(corpus, "text", "doc_id", chunkTokens = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
      .sortBy(x => (x._1, x._2))
    val doc1 = out.filter(_._1 == 1L)
    // starts 1,4,7: window at 7 reaches token 10, so striding stops
    assert(doc1.map(_._3).toSeq == Seq(1, 4, 7))
    assert(doc1.map(_._4).toSeq == Seq(4, 4, 4))
    assert(doc1.head._5 == "w1 w2 w3 w4" && doc1.last._5 == "w7 w8 w9 w10")
    val doc2 = out.filter(_._1 == 2L)
    assert(doc2.length == 1 && doc2.head._5 == "a b c" && doc2.head._4 == 3)
    // 11 tokens: a 4th, partial window is needed to cover the tail
    val doc3 = Seq((3L, (1 to 11).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val tail3 = graft.ext.Packing
      .chunkDocs(doc3, "text", "doc_id", chunkTokens = 4, stride = 3)
      .collect().map(r => (r.getInt(2), r.getInt(3))).sortBy(_._1)
    assert(tail3.toSeq == Seq((1, 4), (4, 4), (7, 4), (10, 2)))
  }

  test("hybrid RRF: doc present in both legs outranks single-leg docs") {
    val sf001docs = Tables.documents(spark, sf)
    val sf001emb = Tables.embeddings(spark, sf)
    val out = graft.ext.Retrieval.hybridRrfTopK(
      sf001docs, sf001emb, "text", "doc_id",
      Seq("spark", "window", "vector"), queryVecId = 7L, k = 10)
      .collect()
    assert(out.length == 10)
    val scores = out.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    // every returned score is a sum of at most two leg contributions,
    // each bounded by 1/(60+1)
    assert(scores.head <= 2.0 / 61 + 1e-9 && scores.last > 0.0)
  }

  test("sparse cosine: matches dense tf-idf cosine; stop-term cap prunes") {
    try {
      // with the 0.5 cap over N=4: 'the' (df 4) and 'alpha' (df 3) are
      // stopwords and must not contribute; doc 1 shares surviving
      // 'beta', doc 3 surviving 'gamma', doc 2 shares nothing surviving
      val corpus = Seq(
        (0L, "the alpha beta gamma"),
        (1L, "the alpha beta delta"),
        (2L, "the epsilon zeta eta"),
        (3L, "the alpha gamma theta epsilon")).toDF("doc_id", "text")
      val out = graft.ext.Retrieval.sparseCosineTopK(
        corpus, "text", "doc_id", col("doc_id") === 0, k = 3,
        maxDfFrac = 0.5)
        .orderBy("rank")
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
      assert(out.map(_._1).toSeq == Seq(1L, 3L))
      assert(out(0)._2 > out(1)._2)
      // dense hand reference over the surviving vocabulary:
      // doc0 {beta ln2, gamma ln2}, doc1 {beta ln2, delta ln4},
      // doc3 {gamma ln2, theta ln4, epsilon ln2}
      def idf(df: Int) = BigDecimal(math.log(4.0 / df))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (l2, l4) = (idf(2), idf(1))
      val n0 = math.sqrt(2 * l2 * l2)
      val n1 = math.sqrt(l2 * l2 + l4 * l4)
      val n3 = math.sqrt(2 * l2 * l2 + l4 * l4)
      val exp01 = l2 * l2 / (n0 * n1)
      val exp03 = l2 * l2 / (n0 * n3)
      assert(math.abs(out(0)._2 - exp01) < 2e-6, s"${out(0)._2} vs $exp01")
      assert(math.abs(out(1)._2 - exp03) < 2e-6, s"${out(1)._2} vs $exp03")
      // layout invariance
      val again = graft.ext.Retrieval.sparseCosineTopK(
        corpus.repartition(3), "text", "doc_id", col("doc_id") === 0,
        k = 3, maxDfFrac = 0.5)
        .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2)))
      assert(again.toSeq == out.toSeq)
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("ndcg: early hits beat late hits; perfect ranking scores 1") {
    // two queries, one relevant doc each: q0's hit at rank 1, q1's at
    // rank 5 — same recall@5 (1.0), but nDCG must separate them
    val ranked = Seq(
      (0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3), (0L, 13L, 4), (0L, 14L, 5),
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3), (1L, 23L, 4), (1L, 24L, 5))
      .toDF("query_id", "neighbor_id", "rank")
    val truth = Seq((0L, 10L), (1L, 24L)).toDF("query_id", "doc_id")
    val out = graft.ext.Retrieval.ndcgAtK(ranked, truth, k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(out(0L) == 1.0, s"rank-1 hit with n_rel=1 is a perfect ranking")
    assert(out(1L) < 1.0 && out(1L) > 0.0)
    assert(out(0L) > out(1L))
    // n_rel = 1 → idcg = disc(1) = 1; dcg at rank 5 = 1/log2(6)
    val d5 = graft.ext.Retrieval.ndcgDiscounts(5).last.toDouble
    assert(math.abs(out(1L) - d5) < 2e-6)
  }

  test("linear attribution conserves each purchase's value") {
    try {
      val ev = Tables.events(spark, sf)
      val out = Registry.queries("q_attribution_linear")(spark, sf)
      // total attributed value across clicks = total value of purchases
      // that HAVE an in-window click (the conservation law linear-touch
      // promises; unattributed purchases fall outside by construction)
      val attributed = out.agg(
        sum(col("attributed").cast(org.apache.spark.sql.types.DecimalType(18, 9)))).head().getDecimal(0)
      val attributable = {
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("p_us"), col("value"))
        p.join(c, Seq("user_id"))
          .filter(col("p_us") >= col("c_us") &&
            col("p_us") <= col("c_us") + lit(3600L * 1000000L))
          .select(col("event_id"), col("value")).distinct()
          .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 9))))
          .head().getDecimal(0)
      }
      // shares are value/n rounded to 9 dp before summing, so the two
      // exact-decimal totals agree to within n_pairs ulps of 1e-9
      assert((attributed.subtract(attributable)).abs()
        .doubleValue() < 1e-6,
        s"attributed $attributed vs attributable $attributable")
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("bm25: term-frequent doc ranks first, scores non-increasing") {
    val corpus = Seq(
      (1L, "spark spark spark join window"),
      (2L, "spark join table scan row"),
      (3L, "table scan row batch merge"),
      (4L, "window window spark table scan")).toDF("doc_id", "text")
    val out = graft.ext.Retrieval
      .bm25TopK(corpus, "text", "doc_id", Seq("spark", "window"), 4)
      .collect()
    // idf favors the rarer 'window' (df=2) over 'spark' (df=3): doc 4's
    // double-window beats doc 1's triple-spark (tf saturates at k1)
    assert(out.map(_.getLong(0)).take(2).toSeq == Seq(4L, 1L))
    val scores = out.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 4))
    // doc 3 has zero query terms -> scores 0, must rank last
    assert(out.last.getLong(0) == 3L && out.last.getDouble(1) == 0.0)
  }

  test("cms heavy hitters: never undercounts, surfaces the heavy term") {
    try {
    // skewed corpus: 'alpha' dominates; tiny width forces collisions
    val corpus = (1 to 40).map(i => (i.toLong, "alpha beta alpha")) ++
      Seq((100L, "gamma delta epsilon zeta"), (101L, "eta theta iota"))
    val out = graft.ext.Sketches.cmsHeavyHitters(
      corpus.toDF("doc_id", "text"), "text", d = 2, w = 4, minCount = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // CMS estimates only overcount — est >= exact for EVERY term
    out.foreach { case (t, est, exact) =>
      assert(est >= exact, s"$t: est $est < exact $exact") }
    val alpha = out.find(_._1 == "alpha").get
    assert(alpha._3 == 80L && alpha._2 >= 80L)
    // at w=4 with 9 distinct terms, someone must have collided
    assert(out.exists { case (_, est, exact) => est > exact })
    // the counter matrix is d*w rows max, corpus-size-independent
    val toks = corpus.toDF("doc_id", "text")
      .select(explode(TextStats.tokens(lower(col("text")))).as("tok"))
    assert(graft.ext.Sketches.cmsCounters(toks, "tok", 2, 4).count() <= 8)
    // a probe key absent from the corpus estimates 0 through a WIDE
    // sketch (its buckets are empty — the left join must not drop it)
    val wide = graft.ext.Sketches.cmsCounters(toks, "tok", 2, 65536)
    val est = graft.ext.Sketches.cmsEstimate(
      Seq(Tuple1("neverseen")).toDF("tok"), "tok", wide, 2, 65536)
      .head()
    assert(est.getString(0) == "neverseen" && est.getLong(1) == 0L)
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("weighted sample: deterministic, layout-invariant, weight-biased") {
    val df = docs.select(col("doc_id"), col("n_chars"))
    val a = graft.ext.Sketches.weightedSample(df, "doc_id", "n_chars", 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val b = graft.ext.Sketches.weightedSample(
      df.repartition(17), "doc_id", "n_chars", 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(a == b) // partitioning cannot change the sample
    // matches the naive sequential definition: k smallest u/weight
    val naive = df.select(col("doc_id"),
      ((TextDedup.baseHash(col("doc_id").cast("string")) + 1)
        .cast("double") / lit(4294967296.0) / col("n_chars")).as("pri"))
      .orderBy(col("pri"), col("doc_id")).limit(10)
      .select("doc_id").as[Long].collect().toSet
    assert(a.map(_._2).toSet == naive)
    // weight bias: with weight=doc length, the sampled docs' mean length
    // should exceed the corpus mean (inclusion prob ~ weight)
    val sampledMean = df.join(
      graft.ext.Sketches.weightedSample(df, "doc_id", "n_chars", 50)
        .select("doc_id"), Seq("doc_id"))
      .agg(avg("n_chars")).head().getDouble(0)
    val corpusMean = df.agg(avg("n_chars")).head().getDouble(0)
    assert(sampledMean > corpusMean * 0.9,
      s"sampled mean $sampledMean vs corpus $corpusMean")
  }

  test("histogram quantiles: within one bucket width of exact, mergeable " +
      "across layouts") {
    val v = graft.ext.TextStats.tokenCount(col("text"))
    val est = graft.ext.Sketches.histogramQuantiles(
      docs, v, "source", width = 8, qs = Seq(0.5, 0.9, 0.99))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3))
      .toMap
    // exact per-source quantiles (linear interpolation, same q grid)
    val exact = docs.select(col("source"), v.cast("double").as("v"))
      .groupBy("source")
      .agg(expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("p"))
      .collect().flatMap { r =>
        val ps = r.getSeq[Double](1)
        Seq(0.5, 0.9, 0.99).zip(ps).map { case (q, x) =>
          (r.getString(0), q) -> x }
      }.toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (k, e) =>
      assert(math.abs(e - exact(k)) <= 8.0,
        s"$k: est $e vs exact ${exact(k)}")
    }
    // the sketch is a hash agg: input layout cannot move an estimate
    val re = graft.ext.Sketches.histogramQuantiles(
      docs.repartition(13), v, "source", width = 8, qs = Seq(0.5, 0.9, 0.99))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3))
      .toMap
    assert(re == est)
  }

  test("stratified sample: exact total, per-stratum quotas, layout-" +
      "invariant") {
    val out = graft.ext.Curation.stratifiedSample(
      docs, "doc_id", "source", n = 97)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.length == 97) // EXACT total — the point of the op
    // every stratum hits its quota exactly (quota <= stratum size here)
    val perGroup = rows.groupBy(_._1)
    perGroup.foreach { case (src, rs) =>
      assert(rs.length == rs.head._4, s"$src: ${rs.length} vs ${rs.head._4}")
    }
    // quotas differ by at most 1 on equal-sized strata (largest
    // remainder with all-equal remainders → tie-break by source asc)
    val quotas = perGroup.view.mapValues(_.head._4).toMap
    assert(quotas.values.max - quotas.values.min <= 1)
    val again = graft.ext.Curation.stratifiedSample(
      docs.repartition(11), "doc_id", "source", n = 97)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(again == rows.map(r => (r._1, r._2)).sorted.toSeq)
  }

  test("lm score: improbable tokens score lower than common ones") {
    try {
      val corpus = ((1 to 20).map(i => (i.toLong, "the cat sat on the mat")) :+
        (99L, "zyzzyva qwerty")).toDF("doc_id", "text")
      val out = TextStats.lmScore(corpus, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out(99L) < out(1L)) // rare-token doc is less probable
      // n_tokens rides along correctly
      val n = TextStats.lmScore(corpus, "text", "doc_id")
        .filter(col("doc_id") === 99L).select("n_tokens").head().getLong(0)
      assert(n == 2L)
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("semantic dedup: near-identical vectors collapse, others kept") {
    try {
      val vecs = Seq(
        (5L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
        (2L, Array(0.99f, 0.11f, 0.0f, 0.0f)), // cos ~ 1 with vec 5
        (9L, Array(0.0f, -1.0f, 0.3f, 0.0f))) // own bucket, kept
        .toDF("vec_id", "embedding")
      val out = graft.ext.Similarity.semanticDedup(vecs, 0.9, bits = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      // the near-identical pair collapses onto min id 2; 9 is singleton
      assert(out == Seq((2L, 2L, true), (5L, 2L, false), (9L, 9L, true)))
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("dup ngram coverage: shared passage counted, unique text not") {
    try {
      val passage = "one two three four five six seven eight"
      val corpus = Seq(
        (1L, s"$passage alpha beta"), // grams 1-3 dup'd with doc 2
        (2L, s"x y $passage"), // gram 3 dup'd with doc 1
        (3L, "p q r s t u v w z0 z1"), // all unique
        (4L, "short doc here")) // < 8 tokens -> no grams
        .toDF("doc_id", "text")
      val out = TextDedup.dupNgramCoverage(corpus, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      // doc 1: tokens 1..8 covered (the shared 8-gram) of 10 -> 0.8
      // doc 2: tokens 3..10 covered of 10 -> 0.8
      assert(out == Seq((1L, 10, 0.8), (2L, 10, 0.8),
        (3L, 10, 0.0), (4L, 3, 0.0)))
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("bloom contamination: identical to exact scan, filter prunes") {
    try {
    val snippet = "the quick brown fox jumps over the lazy dog today"
    val bench = Seq((1, snippet),
      (2, "completely unrelated benchmark text here with many words"))
      .toDF("bench_id", "text")
    val corpus = docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 3,
        concat(col("text"), lit(" " + snippet)))
        .otherwise(col("text")).as("text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val exact = rows(TextDedup.benchmarkContamination(
      corpus, bench, "text", "doc_id", "bench_id"))
    val bloom = rows(TextDedup.benchmarkContaminationBloom(
      corpus, bench, "text", "doc_id", "bench_id"))
    assert(exact.nonEmpty && bloom == exact)
    // tiny filters do collide: with m=256 bits the FP rate is near 1 and
    // the result must STILL be exact (false positives only add verify work)
    val tiny = rows(TextDedup.benchmarkContaminationBloom(
      corpus, bench, "text", "doc_id", "bench_id", mBits = 256))
    assert(tiny == exact)
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("char entropy: zero for single-char runs, ln 2 for 50/50 mix") {
    val out = Seq((1L, "aaaa"), (2L, "aabb"), (3L, "ab"))
      .toDF("doc_id", "text")
      .transform(TextStats.charEntropy(_, "text", "doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(out == Seq((1L, 0.0, 4L), (2L, 0.693147, 4L), (3L, 0.693147, 2L)))
  }

  test("source cap: top-k per source by quality desc, id asc; rank dense") {
    val k = 3
    val capped = graft.ext.Curation.sourceCap(docs, "text", "doc_id",
      "source", k)
    // independent reference: full scoring sorted in Scala
    val scored = docs.select(col("source"), col("doc_id"),
      TextStats.qualityScore(col("text")).as("q")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = scored.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      rows.sortBy { case (_, id, q) => (-q, id) }.take(k).zipWithIndex
        .map { case ((_, id, q), i) => (src, id, q, i + 1) }
    }.toSet
    val got = capped.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == expected)
  }

  test("keep best in component: max quality wins, ties -> lowest id") {
    try {
      val good = "the quick brown fox and the lazy dog is in that it for"
      val corpus = Seq(
        (1L, good),                        // tied best with doc 2
        (2L, good),
        (3L, "111 222 333 $$$ %%% ^^^"),   // worst in component
        (4L, "another standalone document that is quite fine to read"))
        .toDF("doc_id", "text")
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      val out = graft.ext.Curation
        .keepBestInComponent(corpus, "text", "doc_id", pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .sortBy(_._1).toSeq
      // component {1,2,3}: docs 1 and 2 tie on quality -> keep 1
      assert(out == Seq((1L, 1L, 3L), (4L, 4L, 1L)))
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("gopher gates: each rule fires on its targeted fixture") {
    val base = Seq.fill(30)("the and of words").mkString(" ") // 120 words
    val corpus = Seq(
      (1L, base),                                  // passes everything
      (2L, "the and short"),                       // word-count floor
      (3L, base + " ### ### ### ... ... ... # # # # # # # # #"), // symbols
      (4L, base.replace("words", "1234")),         // alpha ratio floor
      (5L, Seq.fill(40)("sparkly processing").mkString(" ")), // no stopwords
      (6L, Seq.fill(60)("a b") .mkString(" ")))    // mean word len < 3
      .toDF("doc_id", "text")
    val out = TextStats.gopherGates(corpus, "text", "doc_id",
        minWords = 10, maxWords = 1000)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int]("gate_words"), r.getAs[Int]("gate_mwl"),
          r.getAs[Int]("gate_symbol"), r.getAs[Int]("gate_alpha"),
          r.getAs[Int]("gate_stop"), r.getAs[Int]("keep"))).toMap
    assert(out(1L) == ((1, 1, 1, 1, 1, 1)))
    assert(out(2L)._1 == 0 && out(2L)._6 == 0)
    assert(out(3L)._3 == 0 && out(3L)._6 == 0)
    assert(out(4L)._4 == 0 && out(4L)._6 == 0)
    assert(out(5L)._5 == 0 && out(5L)._6 == 0)
    assert(out(6L)._2 == 0 && out(6L)._6 == 0)
  }

  test("stripHtml: blocks removed whole, tags spaced, entities single-pass") {
    val html = "<html><body><h1>A &amp; B</h1><p>one</p><p>two</p>" +
      "<script>if (1 < 2) { alert('x'); }</script>" +
      "<style>p{}</style>C &amp;lt; D&nbsp;E</body></html>"
    val out = Seq(html).toDF("t")
      .select(graft.ext.Markup.stripHtml(col("t"))).head().getString(0)
    // adjacent-tag word boundary kept ("one two"); script/style content
    // gone entirely; "&amp;lt;" decodes ONCE to "&lt;" (never to "<")
    assert(out == "A & B one two C &lt; D E")
  }

  test("domainReport: lowercased hosts, distinct count, blocklist verdict") {
    val corpus = Seq(
      (1L, "x https://A.example.com/p http://a.example.com/q y"),
      (2L, "see http://ads.bad.net/z and https://ok.org"),
      (3L, "no links here")).toDF("doc_id", "text")
    val out = graft.ext.Markup
      .domainReport(corpus, "text", "doc_id", Seq("ads.bad.net"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(out(1L) == ((2, 1, 0, 1))) // same domain after lowercasing
    assert(out(2L) == ((2, 2, 1, 0))) // blocked
    assert(out(3L) == ((0, 0, 0, 1)))
  }

  test("urlHosts: attribute-quoted hrefs yield clean hosts") {
    val out = Seq("""<a href="https://X.com/p">x</a> <img src='http://y.org'>""")
      .toDF("t").select(graft.ext.Markup.urlHosts(col("t"))).head()
      .getSeq[String](0)
    assert(out == Seq("x.com", "y.org"))
  }

  test("CorpusMain: blocklist + markup strip + gopher gate wired in") {
    val out = java.nio.file.Files.createTempDirectory("corpus_out2").toString
    // varied vocabulary: the repetition gate (dup_frac <= 0.9) must not
    // be the thing dropping these docs
    val prose = (1 to 60).map(i => s"the wordy$i and").mkString(" ")
    val noStop = (1 to 100).map(i => s"alpha$i bravo$i").mkString(" ")
    val corpus = Seq(
      (1L, "en", s"<p>$prose</p>"),                       // survives
      (2L, "en", s"$prose <a href='http://spam.bad.net/x'>z</a>"), // blocked
      (3L, "en", noStop))  // passes base gate, fails gopher stopword rule
      .toDF("doc_id", "lang", "text")
    val summary = graft.app.CorpusMain.run(
      TestSpark.spark, corpus, out, minTokens = 5, minQuality = 0.0,
      boilerplateMinDocs = 99, domainBlocklist = Seq("spam.bad.net"),
      gopher = true)
    def field(k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(summary).get.group(1).toLong
    assert(field("total") == 2)   // doc 2 blocked before annotate
    assert(field("gated") == 1)   // doc 3 fails the gopher stopword gate
    val landed = TestSpark.spark.read.parquet(s"$out/corpus")
    assert(landed.select("doc_id").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    // markup was stripped before landing
    assert(!landed.select("text").head().getString(0).contains("<p>"))
  }

  test("bpeTrain: reproduces the hand-computed Sennrich merge sequence") {
    // low:5 lower:2 newest:6 widest:3 — the classic BPE worked example
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val corpus = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val merges = graft.ext.Vocab.bpeTrain(corpus, "text", nMerges = 6)
    assert(merges == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L), ("e", "w", 6L)))
  }

  test("bpeSegment: applies merges in order, one non-overlapping pass") {
    val merges = Seq(("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w"), ("e", "w"))
    val seg = Seq("newest low").toDF("t")
      .select(graft.ext.Vocab.bpeSegment(col("t"), merges))
      .head().getSeq[String](0)
    assert(seg == Seq("n", "ew", "est</w>", "low", "</w>"))
    // non-overlap within a pass: aaa + (a,a) -> [aa, a], never [aa, aa]
    val tri = Seq("aaa").toDF("t")
      .select(graft.ext.Vocab.bpeSegment(col("t"), Seq(("a", "a"))))
      .head().getSeq[String](0)
    assert(tri == Seq("aa", "a", "</w>"))
  }

  test("mixSources: rates capped at 1, zero-weight dropped, deterministic") {
    try {
      val docs = (1L to 200L).map(i =>
        (i, if (i <= 100) "big" else if (i <= 180) "small" else "other", 10L))
        .toDF("doc_id", "source", "w")
      // budget 500 @ big w=0.5 -> rate 250/1000=0.25; small w=0.5 over
      // 800 avail -> 250/800 capped? no: 0.3125; other absent from targets
      val out = graft.ext.Curation.mixSources(docs, "doc_id", "source", "w",
        Map("big" -> 0.5, "small" -> 0.5), budget = 500L)
      val bySrc = out.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(!bySrc.contains("other"))
      // deterministic: second run identical
      val again = graft.ext.Curation.mixSources(docs, "doc_id", "source", "w",
        Map("big" -> 0.5, "small" -> 0.5), budget = 500L)
      assert(out.collect().toSet == again.collect().toSet)
      // cap: a budget far above availability keeps EVERYTHING in-target
      val capped = graft.ext.Curation.mixSources(docs, "doc_id", "source", "w",
        Map("big" -> 0.5, "small" -> 0.5), budget = 1000000L)
      assert(capped.filter(col("source") === "big").count() == 100L)
      assert(capped.filter(col("source") === "small").count() == 80L)
    } finally graft.ops.CacheScope.releaseAll()
  }

  test("removeDupSpans: cuts shared passages, merges overlaps, keeps rest") {
    val c8 = "c1 c2 c3 c4 c5 c6 c7 c8"
    val docs = Seq(
      (1L, s"u1 u2 $c8 u3"),      // covered [3,10] → "u1 u2 u3"
      (2L, s"v1 v2 $c8 v3"),
      (3L, s"w0 $c8 c9"),          // 9-token shared run with doc 4:
      (4L, s"z0 $c8 c9"),          //   grams [2] and [3] overlap → [2,10]
      (5L, "e1 e2 e3")             // < n tokens: untouched
    ).toDF("doc_id", "text")
    val out = graft.ext.TextDedup.removeDupSpans(docs, "text", "doc_id")
      .collect().map(r =>
        r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ("u1 u2 u3", 11L, 8L))
    assert(out(2L) == ("v1 v2 v3", 11L, 8L))
    assert(out(3L) == ("w0", 10L, 9L)) // overlapping grams merged, not 16
    assert(out(4L) == ("z0", 10L, 9L))
    assert(out(5L) == ("e1 e2 e3", 3L, 0L))
    graft.ops.CacheScope.releaseAll()
  }

  test("winnowFingerprint: MOSS guarantee, boundary rules, density") {
    val shared = "the shared passage marker spans eight tokens x"
    val docs = Seq(
      (1L, s"alpha beta gamma delta opening words then $shared"),
      (2L, s"completely different preamble tokens here $shared"),
      (3L, "tiny doc"), // < k tokens → no fingerprints
      (4L, "one two three four five six"), // 2 grams ≤ w → single min
      (5L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15 z16")
    ).toDF("doc_id", "text")
    val out = graft.ext.TextDedup
      .winnowFingerprint(docs, "text", "doc_id", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee: an 8-token (k+w-1) shared passage forces a
    // common fingerprint between otherwise-different docs
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert(!byDoc.contains(3L))
    assert(byDoc(4L).size == 1)
    // density: 16 tokens → 12 grams → 9 windows, but distinct minima
    // ≈ 2/(w+1) of grams — far fewer than 9
    assert(byDoc(5L).size < 9 && byDoc(5L).nonEmpty)
    // per-doc rows are distinct (no repeated (id, fp))
    assert(out.length == out.distinct.length)
  }

  test("snapshotDiff: added/removed/changed/unchanged by fingerprint") {
    val prev = Seq((1L, "same text"), (2L, "old text"), (3L, "going away"),
      (4L, "  Same   WHITESPACE variant  ")).toDF("doc_id", "text")
    val cur = Seq((1L, "same text"), (2L, "new text"), (5L, "brand new"),
      (4L, "same whitespace variant")).toDF("doc_id", "text")
    val out = graft.ext.Curation.snapshotDiff(prev, cur, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", // fingerprint normalizes case + whitespace
      5L -> "added"))
  }

  test("perplexityBuckets: per-language terciles, head = best scores") {
    // two languages with disjoint vocabularies: 'en' docs repeat common
    // tokens (high unigram log-prob), except one junk doc of singletons;
    // 'xx' docs are all middling. Per-language cuts mean the junk doc is
    // 'en' tail even though 'xx' scores sit between.
    val docs = (
      (1 to 6).map(i => (i.toLong, "en", "the cat sat on the mat " +
        (if (i % 2 == 0) "the end" else "a cat"))) ++
      Seq((7L, "en", "zq7 xv9 qqj wkk pzl mmx")) ++
      // three score levels (0/1/3 singleton tokens) so terciles split
      (11 to 16).map(i => (i.toLong, "xx", "uno dos tres uno dos" +
        (i % 3 match {
          case 0 => ""
          case 1 => s" t$i"
          case _ => s" t$i q$i v$i"
        })))
    ).toDF("doc_id", "lang", "text")
    val out = graft.ext.Curation.perplexityBuckets(
      docs, "text", "doc_id", "lang").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(5))).toMap
    // the all-singletons doc is the worst of its OWN language
    assert(out(7L) == ("en", "tail"))
    // every language has at least one head and one tail (cuts are
    // per-language, not global)
    for (l <- Seq("en", "xx")) {
      val buckets = out.values.filter(_._1 == l).map(_._2).toSet
      assert(buckets.contains("head") && buckets.contains("tail"), l)
    }
    // bucket boundaries: score >= cut_high <=> head (spot-check via the
    // returned cut columns)
    val rows = graft.ext.Curation.perplexityBuckets(
      docs, "text", "doc_id", "lang").collect()
    rows.foreach { r =>
      val (s, lo, hi, b) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getString(5))
      val expect = if (s >= hi) "head" else if (s >= lo) "middle" else "tail"
      assert(b == expect)
    }
  }

  test("bigramLmScore: hand-computed add-one probabilities, order matters") {
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x y"), (4L, "b a"))
      .toDF("doc_id", "text")
    val out = graft.ext.TextStats.bigramLmScore(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // corpus bigrams: "a b"×3, "b a"×2, "x y"×1; contexts a=3, b=2, x=1;
    // V = 4 → P(b|a)=(3+1)/(3+4), P(a|b)=(2+1)/(2+4), P(y|x)=(1+1)/(1+4)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val lab = r6(math.log(4.0 / 7.0))
    val lba = r6(math.log(3.0 / 6.0))
    val lxy = r6(math.log(2.0 / 5.0))
    assert(out(2L)._2 == 1L && math.abs(out(2L)._1 - lab) < 1e-9)
    assert(math.abs(out(3L)._1 - lxy) < 1e-9)
    assert(math.abs(out(4L)._1 - lba) < 1e-9)
    // doc 1 = mean of (lab, lba, lab) as exact decimals
    assert(math.abs(out(1L)._1 - (2 * lab + lba) / 3) < 1e-9)
    // the common-phrase doc outscores the rare-phrase doc
    assert(out(2L)._1 > out(3L)._1)
  }

  test("scrubControlChars: removes C0/DEL, counts U+FFFD, keeps flag") {
    val df = Seq(
      (1L, "ok text"),
      (2L, "abc"),
      (3L, "x�y"),
      (4L, "tab\tand\nnewline kept")).toDF("doc_id", "text")
    val out = graft.ext.Markup.scrubControlChars(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(out(1L) == (("ok text", 0, 0, 1)))
    assert(out(2L) == (("abc", 3, 0, 1)))
    assert(out(3L) == (("x�y", 0, 1, 0))) // counted, NOT scrubbed
    assert(out(4L) == (("tab\tand\nnewline kept", 0, 0, 1)))
  }

  test("clusterSizeHistogram: sizes over components fixture") {
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = TextDedup.connectedComponents(docs, "doc_id", pairs)
    val hist = TextDedup.clusterSizeHistogram(comps)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(3L -> 1L, 2L -> 1L, 1L -> 1L))
  }

  test("tokenizeToIds: frequency ranks, order restored, OOV → 0") {
    val df = Seq(
      (1L, "b a b c b a"), // b×3, a×2, c×1
      (2L, "a zz b")) // zz is out of the top-2 vocabulary
      .toDF("doc_id", "text")
    val out = graft.ext.Vocab.tokenizeToIds(df, "text", "doc_id", 2)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getLong(2), r.getLong(3))).toMap
    // vocab: b (3) → id 1, a (2) → id 2; c and zz → UNK 0
    assert(out(1L) == ((Seq(1, 2, 1, 0, 1, 2), 6L, 1L)))
    assert(out(2L) == ((Seq(2, 0, 1), 3L, 1L)))
  }

  test("resizePooled: block boundaries, exact means, short-payload NULLs") {
    val df = Seq(
      (1L, "ab"), // n=2, k=2 → one byte per bucket
      (2L, "abcd"), // n=4, k=2 → means of (97,98) and (99,100)
      (3L, "abc"), // n=3, k=2 → blocks [0,1) and [1,3)
      (4L, "a")) // n=1 < k → floor partition puts the byte in bucket 1
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      Multimodal.resizePooled(Multimodal.asPayload(col("text")), 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(out(1L) == Seq(97.0, 98.0))
    assert(out(2L) == Seq(97.5, 99.5))
    assert(out(3L) == Seq(97.0, 98.5)) // floor boundaries: [a], [b,c]
    assert(out(4L) == Seq(null, 97.0))
  }

  test("canonicalizeUrl: each rule fires exactly where intended") {
    val cases = Seq(
      // host+scheme lowercased, path case preserved
      ("https://WWW.Example.COM/Path/To", "https://www.example.com/Path/To"),
      // fragment stripped
      ("https://x.com/a#sec2", "https://x.com/a"),
      // trailing slash runs trimmed (root collapses to bare host)
      ("https://x.com/a///", "https://x.com/a"),
      ("https://x.com/", "https://x.com"),
      // tracking-only query dropped entirely, '?' and all
      ("https://x.com/a?utm_source=n&utm_campaign=c9&gclid=z", "https://x.com/a"),
      // mixed query keeps non-tracking params IN ORDER
      ("https://x.com/a?b=2&utm_medium=m&a=1", "https://x.com/a?b=2&a=1"),
      // bare tracking name without '=' still dropped; 'ref' exact-match
      ("https://x.com/a?ref&real=1", "https://x.com/a?real=1"),
      // 'reference=' is NOT the tracking param 'ref'
      ("https://x.com/a?reference=2", "https://x.com/a?reference=2"),
      // query survives when fragment follows it
      ("http://x.com/a?k=v#frag", "http://x.com/a?k=v"))
    val out = cases.toDF("url", "expected")
      .select(graft.ext.Markup.canonicalizeUrl(col("url")), col("expected"),
        col("url")).collect()
    out.foreach(r =>
      assert(r.getString(0) == r.getString(1), s"url='${r.getString(2)}'"))
  }

  test("urlDedup: raw spelling variants collapse with n_raw_forms > 1") {
    val df = Seq(
      (1L, "https://Shop.example.com/item/7/"),
      (2L, "https://shop.example.com/item/7?utm_source=x"),
      (3L, "https://shop.example.com/item/7#top"),
      (4L, "https://shop.example.com/other")).toDF("doc_id", "url")
    val out = graft.ext.Markup.urlDedup(df, "url", "doc_id")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("https://shop.example.com/item/7") == ((1L, 3L, 3L)))
    assert(out("https://shop.example.com/other") == ((4L, 1L, 1L)))
  }

  test("lengthHistogram: integer buckets, cumulative fraction ends at 1") {
    // token counts: 3, 31, 32, 40, 70 with width 32 → buckets 0,0,32,32,64
    val df = Seq(3, 31, 32, 40, 70)
      .map(n => (n, Seq.fill(n)("w").mkString(" "))).toDF("n", "text")
    val out = TextStats.lengthHistogram(df, "text", width = 32)
      .orderBy("bucket_lo").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 32L, 64L))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L)) // n_docs
    assert(out.map(_.getLong(2)).toSeq == Seq(34L, 72L, 70L)) // n_tokens
    val fr = out.map(_.getDouble(3))
    assert(fr.last == 1.0 && fr.sameElements(fr.sorted))
    assert(math.abs(fr(0) - 34.0 / 176.0) < 1e-6)
  }

  test("kAnonymity + suppressSmallGroups: verdicts, full-tuple masking") {
    // group (US, A): 3 rows — anonymous at k=3; (US, B): 1; (FR, A): 2
    val df = Seq(
      ("US", "A", 1L), ("US", "A", 2L), ("US", "A", 3L),
      ("US", "B", 4L), ("FR", "A", 5L), ("FR", "A", 6L))
      .toDF("country", "seg", "id")
    val audit = graft.ext.Curation
      .kAnonymity(df, Seq("country", "seg"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getInt(3))).toMap
    assert(audit(("US", "A")) == ((3L, 1)))
    assert(audit(("US", "B")) == ((1L, 0)))
    assert(audit(("FR", "A")) == ((2L, 0)))
    val sup = graft.ext.Curation
      .suppressSmallGroups(df, Seq("country", "seg"), k = 3)
    // non-quasi column survives unmasked; small groups mask BOTH cells
    assert(sup.columns.toSeq == Seq("country", "seg", "id"))
    val rows = sup.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.count { case (c, s, _) => c == "US" && s == "A" } == 3)
    assert(rows.count { case (c, s, _) => c == "*" && s == "*" } == 3)
    // the masked rows are exactly ids 4,5,6
    assert(rows.filter(_._1 == "*").map(_._3).sorted.toSeq == Seq(4L, 5L, 6L))
  }

  test("moments: hand-checked skew/kurtosis, constant group → NULL shape") {
    // group a: values 1,2,3,4,10 — right-skewed; group b: constant
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 10L),
      ("b", 7L), ("b", 7L)).toDF("g", "x")
    val out = graft.ops.Profiling.moments(df, "x", Seq("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getLong(1) == 5L && a.getDouble(2) == 4.0) // n, mean
    // population central moments for (1,2,3,4,10): m2=10, m3=36, m4=278.8
    assert(math.abs(a.getDouble(3) - math.sqrt(10.0)) < 1e-6) // std
    assert(math.abs(a.getDouble(4) - 36.0 / (10.0 * math.sqrt(10.0))) < 1e-6)
    assert(math.abs(a.getDouble(5) - (278.8 / 100.0 - 3.0)) < 1e-6)
    val b = out("b")
    assert(b.getDouble(2) == 7.0 && b.isNullAt(3) && b.isNullAt(4) &&
      b.isNullAt(5))
  }

  test("IncrementalAgg: merge(partials) == direct aggregate, sketch included") {
    import graft.ops.IncrementalAgg
    val df = (1 to 400).map { i =>
      (if (i % 3 == 0) "x" else "y", i * 1.01, (i % 37).toString, i % 4)
    }.toDF("g", "v", "u", "epoch")
    val hashed = df.withColumn("h",
      graft.ext.TextDedup.baseHash(col("u")))
    val merged = IncrementalAgg.merge(
      IncrementalAgg.partials(hashed, Seq("g"), "epoch", "v", "h", k = 16),
      Seq("g"), k = 16)
      .collect().map(r => r.getString(0) -> r).toMap
    // direct single-shot over the same rows (one "epoch")
    val direct = IncrementalAgg.merge(
      IncrementalAgg.partials(
        hashed.withColumn("epoch", lit(0)), Seq("g"), "epoch", "v", "h",
        k = 16),
      Seq("g"), k = 16)
      .collect().map(r => r.getString(0) -> r).toMap
    for (g <- Seq("x", "y"); i <- 1 to 5)
      assert(merged(g).get(i) == direct(g).get(i), s"$g col $i")
    // 37 distinct u values overflow k=16 → the estimate path ran
    assert(merged("y").getDouble(5) != 37.0d ||
      merged("x").getDouble(5) != 37.0d)
    assert(merged("y").getLong(1) + merged("x").getLong(1) == 400L)
  }

  test("Impute: mean fill ignores nulls, mode ties break high, all-null " +
      "group survives unfilled") {
    import graft.ops.Impute
    val df = Seq(
      ("a", Some(10.0), Some("p")), ("a", Some(20.0), Some("q")),
      ("a", None, Some("q")), ("a", Some(30.0), None),
      ("b", None, None), ("b", None, None))
      .toDF("g", "v", "c")
    // columns: g, v, c, v_filled, v_imputed, c_filled, c_imputed
    val out = Impute.modeFill(Impute.meanFill(df, "v", Seq("g")), "c",
      Seq("g")).collect()
      .map(r => (r.getString(0), r.isNullAt(1), r.get(3), r.getInt(4),
        r.get(2), r.get(5), r.getInt(6)))
    // a's null v fills with mean(10,20,30)=20.0; non-null rows untouched
    val aFilled = out.filter(t => t._1 == "a" && t._2)
    assert(aFilled.map(_._3).toSeq == Seq(20.0) &&
      aFilled.head._4 == 1)
    assert(out.filter(t => t._1 == "a" && !t._2).forall(_._4 == 0))
    // a's null c fills with mode q (count 2 beats p's 1)
    assert(out.filter(t => t._1 == "a" && t._5 == null)
      .map(_._6).toSeq == Seq("q"))
    // b: all-null in BOTH columns — rows survive, stay null, flagged
    val b = out.filter(_._1 == "b")
    assert(b.length == 2 && b.forall(t => t._3 == null && t._4 == 1 &&
      t._6 == null && t._7 == 1))
  }

  test("dpNoisyCounts: reproducible, bounded by the clamp, mostly nonzero") {
    val df = (1 to 300).map(i => ("k" + i % 20, i)).toDF("g", "i")
    def run() = graft.ext.Curation.dpNoisyCounts(df, "g", epsilon = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val a = run()
    assert(a == run()) // keyed-hash noise: identical draw every run
    assert(a.values.forall(_._1 == 15L))
    // |noise| <= (1/eps)*(-ln(2e-6)) ~ 26.3 under the clamp
    assert(a.values.forall { case (t, n) => math.abs(n - t) <= 27.0 })
    // the mechanism actually perturbs: most groups move off the truth
    assert(a.values.count { case (t, n) => n != t } >= 15)
  }

  test("binnedAuc: hand-computed U with and without cross-class ties") {
    import graft.ext.ClassifierEval
    // ranks asc: 0.2(-), 0.6(+), 0.7(-), 0.85(+), 0.95(+) → U = 5,
    // n+·n- = 6 → AUC 5/6
    val a = ClassifierEval.binnedAuc(
      Seq((0.95, 1), (0.85, 1), (0.7, 0), (0.6, 1), (0.2, 0))
        .toDF("score", "pos"), "score", "pos").collect()(0)
    assert(math.abs(a.getDouble(0) - 5.0 / 6.0) < 1e-6)
    assert(a.getLong(1) == 3 && a.getLong(2) == 2)
    // add a positive tied with the 0.7 negative: U = 5 + 1 + 0.5 = 6.5
    // over 4·2 = 8 → 0.8125
    val t = ClassifierEval.binnedAuc(
      Seq((0.95, 1), (0.85, 1), (0.7, 0), (0.7, 1), (0.6, 1), (0.2, 0))
        .toDF("score", "pos"), "score", "pos").collect()(0)
    assert(math.abs(t.getDouble(0) - 0.8125) < 1e-6)
    // degenerate single-class input → NULL, not a crash or Infinity
    val z = ClassifierEval.binnedAuc(
      Seq((0.9, 1), (0.1, 1)).toDF("score", "pos"), "score", "pos")
      .collect()(0)
    assert(z.isNullAt(0) && z.getLong(1) == 2 && z.getLong(2) == 0)
  }

  test("calibrationBins: counts, decimal mean, edge score 1.0 clamps to top bin") {
    import graft.ext.ClassifierEval
    val r = ClassifierEval.calibrationBins(
      Seq((0.05, 0), (0.08, 1), (1.0, 1), (0.95, 1)).toDF("score", "pos"),
      "score", "pos")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(r.keySet == Set(0L, 9L))
    assert(r(0L) == ((2L, 1L, 0.065, 0.5)))
    assert(r(9L) == ((2L, 2L, 0.975, 1.0)))
  }

  test("semiHardNegatives: below the positive bar, top of what remains") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val labels = e.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // per-query positive bar from a brute-force ranking over everything
    val all = Similarity.bruteForceTopK(e, col("vec_id") < 4, k = 499)
      .collect().groupBy(_.getLong(0))
    val semi = Similarity.semiHardNegatives(e, col("vec_id") < 4, k = 3)
      .collect()
    assert(semi.nonEmpty)
    semi.foreach { r =>
      val q = r.getLong(0)
      val bar = all(q).filter(b => labels(b.getLong(1)) == labels(q))
        .map(_.getDouble(2)).max
      assert(labels(r.getLong(1)) != labels(q))
      assert(r.getDouble(2) < bar, s"query $q: ${r.getDouble(2)} !< $bar")
    }
    // rank-1 semi-hard == best different-label hit strictly below the bar
    semi.filter(_.getInt(3) == 1).foreach { r =>
      val q = r.getLong(0)
      val bar = all(q).filter(b => labels(b.getLong(1)) == labels(q))
        .map(_.getDouble(2)).max
      val expect = all(q).sortBy(_.getInt(3)).find(b =>
        labels(b.getLong(1)) != labels(q) && b.getDouble(2) < bar).get
      assert(expect.getLong(1) == r.getLong(1), s"query $q")
    }
  }

  test("bitextMarginPairs: mutual-best election and hand-computed margins") {
    import graft.ext.Similarity
    val emb = Seq(
      (0L, Array(1f, 0f)), (2L, Array(0f, 1f)), // side A (even)
      (1L, Array(1f, 0f)), (3L, Array(0.8f, 0.6f)), (5L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bitextMarginPairs(
      emb, col("vec_id") % 2 === 0, k = 2, marginThreshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .sortBy(_._1)
    // mutual bests: (0,1) and (2,5); (0,3) is b3's best but not a0's
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((0L, 1L), (2L, 5L)))
    // margins: 1/((0.9+0.5)/2) and 1/((0.8+0.5)/2)
    assert(math.abs(out(0)._3 - 1.428571) < 1e-6)
    assert(math.abs(out(1)._3 - 1.538462) < 1e-6)
  }

  test("bitextMarginPairsLsh: matches the exact baseline when buckets " +
      "cover all pairs, and plans no corpus broadcast/cartesian") {
    import graft.ext.Similarity
    // every vector has positive first-4 dims → one shared sign bucket →
    // the LSH candidate set IS the full cross-side pair set, so the
    // bucketed pipeline must reproduce the exact baseline bit-for-bit
    val emb = Seq(
      (0L, Array(1f, 0.1f, 0.1f, 0.1f)), (2L, Array(0.1f, 1f, 0.1f, 0.1f)),
      (4L, Array(0.1f, 0.1f, 1f, 0.2f)),
      (1L, Array(1f, 0.1f, 0.1f, 0.1f)), (3L, Array(0.8f, 0.6f, 0.1f, 0.1f)),
      (5L, Array(0.1f, 1f, 0.1f, 0.1f)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.bitextMarginPairs(
      emb, col("vec_id") % 2 === 0, k = 2, marginThreshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val lsh = Similarity.bitextMarginPairsLsh(
      emb, col("vec_id") % 2 === 0, k = 2, marginThreshold = 0.0,
      bits = 4, probeRadius = 1)
    val lshRows = lsh.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3))).toSet
    graft.ops.CacheScope.releaseAll()
    assert(lshRows == exact)
    // the scale claim, pinned on the registry-shaped plan at sf0.001:
    // no BroadcastNestedLoopJoin (the old crossJoin(broadcast(corpus)))
    // and no CartesianProduct anywhere in the physical plan
    val plan = Similarity.bitextMarginPairsLsh(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      col("vec_id") % 2 === 0, k = 4, marginThreshold = 1.0,
      bits = 4, probeRadius = 1).queryExecution.sparkPlan
    graft.ops.CacheScope.releaseAll()
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j.nodeName
      case c: org.apache.spark.sql.execution.joins
        .CartesianProductExec => c.nodeName
    }
    assert(bad.isEmpty, s"all-pairs join shapes in the LSH plan: $bad")
  }

  test("bitextMarginPairsLsh: multi-probe finds pairs one sign bit apart") {
    import graft.ext.Similarity
    // a0/b1 nearly parallel but on opposite sides of the dim-2 hyperplane
    // (buckets 1000 vs 1100, Hamming distance 1): probeRadius=1 must
    // score them, probeRadius=0 must not
    val emb = Seq(
      (0L, Array(1f, -0.05f, 0.5f, 0.5f)),
      (1L, Array(1f, 0.05f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    def run(radius: Int) = {
      val out = Similarity.bitextMarginPairsLsh(
        emb, col("vec_id") % 2 === 0, k = 2, marginThreshold = 0.0,
        bits = 4, probeRadius = radius).collect()
      graft.ops.CacheScope.releaseAll()
      out
    }
    assert(run(0).isEmpty)
    val hits = run(1)
    assert(hits.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 1L)))
  }

  test("bpeCompressionStats: zero merges = chars+words exactly; " +
      "merges only shrink") {
    import graft.ext.Vocab
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "newer newest new lower low"),
      (3L, "the newest newer forms the lowest low"))
      .toDF("doc_id", "text")
    // with no merges every word is chars + </w> symbols, so
    // total_subwords == total_chars + total_words EXACTLY
    val base = Vocab.bpeCompressionStats(docs, "text", nMerges = 0)
      .collect()(0)
    assert(base.getLong(1) == base.getLong(2) + base.getLong(0))
    // 10 merges can only shrink subword counts, never totals of words
    // or chars
    val merged = Vocab.bpeCompressionStats(docs, "text", nMerges = 10)
      .collect()(0)
    assert(merged.getLong(0) == base.getLong(0))
    assert(merged.getLong(2) == base.getLong(2))
    assert(merged.getLong(1) < base.getLong(1))
    // ratio consistency with the integer totals (6-dp grain)
    assert(math.abs(merged.getDouble(3) -
      merged.getLong(1).toDouble / merged.getLong(0)) < 1e-6)
    assert(math.abs(merged.getDouble(4) -
      merged.getLong(2).toDouble / merged.getLong(1)) < 1e-6)
  }

  test("hardNegatives: different-label only, and they are the nearest such") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.hardNegatives(e, col("vec_id") < 4, k = 3)
    val labels = e.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    // no returned neighbor shares its query's label
    assert(rows.forall(r =>
      labels(r.getLong(0)) != labels(r.getLong(1))))
    // rank-1 hard negative == best different-label hit in the full
    // brute-force ranking (hard negatives are a filter of it, so the
    // first surviving brute-force row must match)
    val brute = Similarity.bruteForceTopK(e, col("vec_id") < 4, k = 50)
      .collect().groupBy(_.getLong(0))
    rows.filter(_.getInt(3) == 1).foreach { r =>
      val q = r.getLong(0)
      val bestDiff = brute(q).sortBy(_.getInt(3))
        .find(b => labels(b.getLong(1)) != labels(q)).get
      assert(bestDiff.getLong(1) == r.getLong(1), s"query $q")
    }
  }

  test("splitLeakage: cross-split near-dups reported, same-split suppressed") {
    import graft.ext.TextDedup
    val splits = TextDedup.hashSplit((1L to 60L).toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainIds = splits.collect { case (i, "train") => i }.toSeq.sorted
    val evalId = splits.collectFirst {
      case (i, s) if s != "train" => i }.get
    val txt = "the quick brown fox jumps over the lazy dog in the park today"
    val docs = Seq(
      (trainIds(0), txt), (evalId, txt + " tomorrow"), // cross-split pair
      (trainIds(1), txt + " quietly"), // train-train near-dup with (0)
      (trainIds(2), "completely unrelated content with different words entirely"))
      .toDF("id", "text")
    val pairs = TextDedup.splitLeakage(docs, "text", "id", threshold = 0.3)
      .collect().map(r => (r.getLong(1).min(r.getLong(0)),
        r.getLong(1).max(r.getLong(0))))
    // the cross-split pair is caught
    assert(pairs.contains(
      (trainIds(0).min(evalId), trainIds(0).max(evalId))))
    // the train-train near-dup is NOT a leak
    assert(!pairs.contains((trainIds(0).min(trainIds(1)),
      trainIds(0).max(trainIds(1)))))
  }

  test("fitReport: hand-computed Brier and ECE") {
    import graft.ext.ClassifierEval
    val r = ClassifierEval.fitReport(
      Seq((1.0, 1), (0.5, 0), (0.0, 0), (0.75, 1)).toDF("score", "pos"),
      "score", "pos").collect()(0)
    // Brier = (0 + 0.25 + 0 + 0.0625)/4; ECE = (0 + 0.5 + 0 + 0.25)/4
    assert(math.abs(r.getDouble(0) - 0.078125) < 1e-6)
    assert(math.abs(r.getDouble(1) - 0.1875) < 1e-6)
    assert(r.getLong(2) == 4L)
  }

  test("ngramDiversity: hand-counted TTRs, single-token doc adds no bigram") {
    val df = Seq(("s", "a b a b"), ("s", "c d"), ("s", "e"))
      .toDF("src", "text")
    val r = TextStats.ngramDiversity(df, "text", "src").collect()(0)
    // tokens: a b a b | c d | e → 7 total, 5 distinct
    assert(r.getLong(1) == 7L && r.getLong(2) == 5L)
    // bigrams: (a b)(b a)(a b) + (c d) → 4 total, 3 distinct; 'e' none
    assert(r.getLong(3) == 4L && r.getLong(4) == 3L)
    assert(math.abs(r.getDouble(5) - 5.0 / 7.0) < 1e-6)
    assert(math.abs(r.getDouble(6) - 0.75) < 1e-6)
  }

  test("cluster split: a near-dup cluster NEVER spans a split boundary; " +
      "by-doc splitting on the same corpus does leak") {
    import org.apache.spark.sql.functions._
    val out = graft.Registry.queries("ext_cluster_split")(
      spark, "/root/testdata/sf0.001")
    val rows = out.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("rep_id"), r.getAs[String]("split")))
    graft.ops.CacheScope.releaseAll()
    // the invariant: every cluster maps to exactly one split
    rows.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $rep spans splits: ${members.map(_._3).distinct.toSeq}")
    }
    // and the corpus has real multi-doc clusters (else the test is vacuous)
    val multi = rows.groupBy(_._2).filter(_._2.length > 1)
    assert(multi.nonEmpty, "fixture has no multi-doc near-dup clusters")
    // control: splitting the SAME docs by their own ids leaks at least
    // one cluster across splits — the defect cluster-splitting prevents
    val byDoc = rows.map { case (id, rep, _) =>
      val b = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(
          id.toString).substring(0, 8), 16) % 100
      (rep, if (b < 90) "train" else if (b < 95) "val" else "test")
    }
    val leaked = byDoc.groupBy(_._1).exists(_._2.map(_._2).distinct.length > 1)
    assert(leaked, "by-doc split unexpectedly leak-free on this fixture")
  }

  test("minhash estimator errors: identical docs estimate 1.0 exactly; " +
      "estimates are k-quantized and errors consistent") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (3L, "alpha beta gamma delta epsilon zeta eta iota"), // near
      (4L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val out = TextDedup.minhashEstimatorErrors(df, "text", "doc_id")
      .collect()
    val pair12 = out.find(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 2L).get
    assert(pair12.getAs[Double]("est_jaccard") == 1.0)
    assert(pair12.getAs[Double]("exact_jaccard") == 1.0)
    assert(pair12.getAs[Double]("abs_err") == 0.0)
    out.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      // k = 8 signature agreement is always a multiple of 1/8
      assert((est * 8) == math.round(est * 8).toDouble, s"est=$est")
      assert(math.abs(r.getAs[Double]("abs_err") -
        math.abs(r.getAs[Double]("signed_err"))) < 1e-9)
    }
  }

  test("corpus build: funnel is monotone, stages partition correctly, " +
      "cleaned matches the funnel's final stage") {
    val (cleaned, funnel) = graft.ext.Curation.corpusBuild(
      docs.select("doc_id", "text", "source")
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 700000L).as("doc_id"), col("text"),
            col("source"))),
      "text", "doc_id", minQuality = 0.72)
    val f = funnel.orderBy("stage_ord").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs")))
    graft.ops.CacheScope.releaseAll()
    assert(f.map(_._1).toSeq ==
      Seq("raw", "exact_dedup", "quality_gate", "near_dedup"))
    // monotone non-increasing, and every gate here provably drops rows
    assert(f.sliding(2).forall { case Array(a, b) => b._2 <= a._2 })
    assert(f(1)._2 < f(0)._2, "exact dedup dropped nothing")
    assert(f(2)._2 < f(1)._2, "quality gate dropped nothing")
    val (cleaned2, funnel2) = graft.ext.Curation.corpusBuild(
      docs.select("doc_id", "text", "source")
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 700000L).as("doc_id"), col("text"),
            col("source"))),
      "text", "doc_id", minQuality = 0.72)
    val n = cleaned2.count()
    graft.ops.CacheScope.releaseAll()
    assert(n == f(3)._2, "cleaned row count != funnel's near_dedup stage")
    // exact copies never survive: no doc_id in the salted range remains
    val (cleaned3, _) = graft.ext.Curation.corpusBuild(
      docs.select("doc_id", "text", "source")
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 700000L).as("doc_id"), col("text"),
            col("source"))),
      "text", "doc_id", minQuality = 0.72)
    val salted = cleaned3.filter(col("doc_id") >= 700000L).count()
    graft.ops.CacheScope.releaseAll()
    assert(salted == 0, "an exact copy survived the build")
  }
}
