package graft

import org.apache.spark.sql.functions._

import graft.ext.{Similarity, Vocab}

/** Semantics specs for the ExtQueries2 operators — hand-computed fixtures
  * for PMI and the Zipf OLS, detection/recall behavior for semantic
  * contamination, and the doubled-feed round trip for streaming dedup.
  */
class Ext2Spec extends SparkSpec {
  import spark.implicits._

  test("pmiCooccur: hand-computed counts and PMI on a 2-doc fixture") {
    // doc1: "a b a b"  doc2: "a b c"
    // window=2 ordered pairs:
    //  doc1: (a,b) (b,a) (a,b)  + dist2: (a,a) (b,b)
    //  doc2: (a,b) (b,c)        + dist2: (a,c)
    // pair counts: (a,b)=3 (b,a)=1 (a,a)=1 (b,b)=1 (b,c)=1 (a,c)=1 → P=8
    // unigrams: a=3 b=3 c=1 → T=7
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = Vocab.pmiCooccur(docs, "text", window = 2, minCount = 1L)
      .collect().map(r => ((r.getAs[String]("a"), r.getAs[String]("b")),
        (r.getAs[Long]("c_ab"), r.getAs[Double]("pmi")))).toMap
    graft.ops.CacheScope.releaseAll()
    assert(out.size == 6)
    assert(out(("a", "b"))._1 == 3L)
    assert(out(("b", "a"))._1 == 1L)
    def pmi(cab: Long, ca: Long, cb: Long): Double = {
      val v = math.log((cab.toDouble / 8.0) /
        ((ca.toDouble / 7.0) * (cb.toDouble / 7.0)))
      math.rint(v * 1e6) / 1e6
    }
    assert(math.abs(out(("a", "b"))._2 - pmi(3, 3, 3)) < 1e-9)
    assert(math.abs(out(("b", "c"))._2 - pmi(1, 3, 1)) < 1e-9)
    // minCount prunes: with minCount=2 only (a,b) survives
    val pruned = Vocab.pmiCooccur(docs, "text", window = 2, minCount = 2L)
      .collect()
    graft.ops.CacheScope.releaseAll()
    assert(pruned.length == 1 && pruned.head.getAs[String]("a") == "a"
      && pruned.head.getAs[String]("b") == "b")
  }

  test("pmiCooccur: window=1 emits adjacent pairs only") {
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val out = Vocab.pmiCooccur(docs, "text", window = 1, minCount = 1L)
      .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSet
    graft.ops.CacheScope.releaseAll()
    assert(out == Set(("x", "y"), ("y", "z")))
  }

  test("zipfFit: slope matches a from-first-principles OLS on exact ranks") {
    // engineered frequencies: word w_i appears 12/i times (i = 1..4):
    // 12, 6, 4, 3 — an exact Zipf spectrum would give slope -1 on
    // UNROUNDED logs; verify against the textbook formula on the same
    // 6-dp-rounded points the operator uses
    val words = Seq("aa" -> 12, "bb" -> 6, "cc" -> 4, "dd" -> 3)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = Vocab.zipfFit(docs, "text", topN = 10).head()
    assert(r.getAs[Long]("n_terms") == 4)
    val pts = words.zipWithIndex.map { case ((_, c), i) =>
      (math.rint(math.log(i + 1.0) * 1e6) / 1e6,
        math.rint(math.log(c.toDouble) * 1e6) / 1e6)
    }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getAs[Double]("zipf_slope") - slope) < 1e-5,
      s"engine ${r.getAs[Double]("zipf_slope")} vs replay $slope")
    // 12/6/4/3 is exactly 12/i → slope ≈ -1
    assert(math.abs(slope + 1.0) < 1e-3)
    assert(r.getAs[Double]("r2") > 0.999)
  }

  test("semanticContamination: detects in-bucket leaks, honors threshold, " +
      "misses cross-bucket (the documented recall trade)") {
    val ev = (0L, Array(1f, 1f, 1f, 1f))          // eval vector (id%10==0)
    val nearDup = (11L, Array(0.9f, 1f, 1f, 0.9f)) // same bucket, cos~0.998
    val inBucketFar = (12L, Array(5f, 0.1f, 0.1f, 0.1f)) // same bucket, low cos
    val crossBucket = (13L, Array(1f, 1f, 1f, -0.01f)) // cos~0.86 but bucket 1110
    val emb = Seq(ev, nearDup, inBucketFar, crossBucket)
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(
      emb, col("vec_id") % 10 === 0, threshold = 0.9, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((11L, 0L, out.head._3)))
    assert(out.head._3 > 0.99)
    // lower threshold: the in-bucket far vector enters; cross-bucket
    // still cannot (sign bucket differs) — recall caveat pinned
    val loose = Similarity.semanticContamination(
      emb, col("vec_id") % 10 === 0, threshold = 0.3, bits = 4)
      .collect().map(_.getLong(0)).toSet
    assert(loose.contains(11L) && loose.contains(12L) === (
      // cos(ev, inBucketFar) = 5.3/(2*sqrt(25.03)) ≈ 0.53 ≥ 0.3
      true) && !loose.contains(13L))
  }

  test("HllAgg: estimate within theoretical error, duplicate-insensitive") {
    import graft.ext.TextDedup
    import graft.functions.HllAgg
    import graft.ops.IncrementalAgg
    // 2000 distinct values, each duplicated 3x — duplicates must not move
    // the registers (max is idempotent); rse for m=256 is ~6.5%
    val n = 2000
    val df = (0 until n).flatMap(i => Seq.fill(3)(s"value-$i"))
      .toDF("v")
    val est = df.agg(HllAgg.hll_sketch(TextDedup.baseHash(col("v")), 8)
        .as("sk"))
      .select(IncrementalAgg.hllEstimate(col("sk"), 8).as("e"))
      .head().getDouble(0)
    assert(math.abs(est - n) / n < 0.20,
      s"HLL estimate $est too far from $n (m=256, rse ~6.5%)")
    val distinctOnly = (0 until n).map(i => s"value-$i").toDF("v")
      .agg(HllAgg.hll_sketch(TextDedup.baseHash(col("v")), 8).as("sk"))
      .select(IncrementalAgg.hllEstimate(col("sk"), 8).as("e"))
      .head().getDouble(0)
    assert(est == distinctOnly, "duplicates must not change the sketch")
  }

  test("HllAgg: linear-counting branch is near-exact at tiny cardinality") {
    import graft.ext.TextDedup
    import graft.functions.HllAgg
    import graft.ops.IncrementalAgg
    val df = Seq("a", "b", "c").toDF("v")
    val est = df.agg(HllAgg.hll_sketch(TextDedup.baseHash(col("v")), 8)
        .as("sk"))
      .select(IncrementalAgg.hllEstimate(col("sk"), 8).as("e"))
      .head().getDouble(0)
    assert(math.abs(est - 3.0) < 0.1, s"linear counting gave $est for n=3")
  }

  test("HllAgg: fully-saturated registers return a FINITE estimate") {
    import graft.ops.IncrementalAgg
    // all 256 registers at the 32-bit ceiling: raw ≈ 7.9e11 > 2^32, so
    // the unclamped large-range argument 1 - raw/2^32 goes negative —
    // Spark log() would return NULL (and the DuckDB oracle replay would
    // ABORT). The clamp to 2^32-1 pins both engines to the same finite
    // saturated value instead.
    val est = Seq(1).toDF("x")
      .select(IncrementalAgg.hllEstimate(
        typedLit(Seq.fill(256)(32)), 8).as("e"))
      .head()
    assert(!est.isNullAt(0), "saturated estimate must not be NULL")
    val v = est.getDouble(0)
    assert(v > IncrementalAgg.hllLargeRangeThreshold && !v.isNaN
      && !v.isInfinite, s"saturated estimate $v out of range")
  }

  test("HllAgg: sketch of a union equals elementwise-max merge of parts") {
    import graft.ext.TextDedup
    import graft.functions.HllAgg
    val a = (0 until 500).map(i => s"a-$i").toDF("v")
    val b = (0 until 500).map(i => if (i < 100) s"a-$i" else s"b-$i").toDF("v")
    def sketch(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.agg(HllAgg.hll_sketch(TextDedup.baseHash(col("v")), 8).as("sk"))
        .head().getSeq[Int](0)
    val merged = sketch(a).zip(sketch(b)).map { case (x, y) => math.max(x, y) }
    assert(sketch(a.union(b)) == merged,
      "HLL must be exactly mergeable (elementwise register max)")
  }

  test("IntVecDot: bit-identical to the HOF form on real quantized codes") {
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val coded = emb.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding"),
        Similarity.int8Scale(col("embedding"))).as("q"))
    // pair every vector with a rotated copy of itself via a self-join on
    // adjacent ids — a corpus-wide differential over real code arrays
    val a = coded.select(col("vec_id"), col("q").as("qa"))
    val b = coded.select((col("vec_id") - 1).as("vec_id"), col("q").as("qb"))
    val diff = a.join(b, "vec_id")
      .select(
        graft.functions.VecDot.int_dot(col("qa"), col("qb")).as("native"),
        Similarity.intDotHof(col("qa"), col("qb")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0, "native and HOF integer dots must agree everywhere")
  }

  test("IntVecDot: contract edges — empty arrays and known values") {
    val df = Seq(
      (Array(1, 2, 3), Array(4, 5, 6), 32L),     // 4+10+18
      (Array(-127, 127), Array(127, 127), 0L),   // symmetric extremes
      (Array.empty[Int], Array.empty[Int], 0L))
      .toDF("a", "b", "expect")
    val bad = df.filter(
      graft.functions.VecDot.int_dot(col("a"), col("b"))
        =!= col("expect")).count()
    assert(bad == 0)

    // both dot kinds, interpreted and generated: a min-length partial
    // sum, null elements as 0, empty arrays, exact binary fractions
    val edges = Seq(
      (Seq(Some(1), Some(2), Some(3)), Seq(Some(4), Some(5), Some(6)),
        Seq(Some(1.5f), Some(2f), Some(-1f)), Seq(Some(2f), Some(0.25f), Some(4f))),
      (Seq(Some(1), None, Some(3)), Seq(Some(4), Some(5)),
        Seq(Some(0.5f), None, Some(2f)), Seq(Some(2f), Some(8f), Some(1f), Some(9f))),
      (Seq.empty[Option[Int]], Seq(Some(7)), Seq.empty[Option[Float]], Seq(Some(1f))))
      .toDF("ia", "ib", "fa", "fb")
      .repartition(1) // not a local relation: no optimizer-time folding
    def dots(): (Seq[String], Set[(Long, Double)], String) = {
      val q = edges.select(
        graft.functions.VecDot.int_dot(col("ia"), col("ib")),
        graft.functions.VecDot.float_dot(col("fa"), col("fb")))
      val rows = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      (q.columns.toSeq, rows, q.queryExecution.executedPlan.toString)
    }
    val interpretedConfs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = interpretedConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val interpreted =
      try { interpretedConfs.foreach { case (k, v) => spark.conf.set(k, v) }; dots() }
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    val generated = dots()
    val expect = Set((32L, -0.5), (4L, 3.0), (0L, 0.0))
    assert(interpreted._2 == expect, "interpreted eval")
    assert(generated._2 == expect, "generated code")
    assert(!interpreted._3.contains("*("), interpreted._3)
    assert(generated._3.contains("*("), generated._3)
    assert(generated._1 == Seq("intvecdot(ia, ib)", "floatvecdot(fa, fb)"))

    // each function keeps its own type-check message
    graft.GraftExtensions.register(spark)
    Seq((1.0, "x", 1L, Seq(1f), Seq(1))).toDF("s", "key", "n", "f", "i")
      .createOrReplaceTempView("dot_edges")
    def failure(q: => org.apache.spark.sql.DataFrame): String =
      intercept[org.apache.spark.sql.AnalysisException](q).getMessage
    val checks = Seq(
      failure(spark.sql("SELECT top_k(s, key, 3) FROM dot_edges")) ->
        "TopKAgg requires (DOUBLE score, BIGINT id), got double, string",
      failure(spark.table("dot_edges").agg(graft.functions.TopKAgg.top_k_str(
        col("s"), col("n"), 3))) ->
        "TopKStrAgg requires (DOUBLE score, STRING key), got double, bigint",
      failure(spark.sql("SELECT int_dot(f, f) FROM dot_edges")) ->
        "IntVecDot requires two ARRAY<INT> inputs, got array<float> and array<float>",
      failure(spark.sql("SELECT float_dot(i, f) FROM dot_edges")) ->
        "FloatVecDot requires two ARRAY<FLOAT> inputs, got array<int> and array<float>")
    checks.foreach { case (msg, want) => assert(msg.contains(want), msg) }
  }

  test("contentType: code, math, and prose fixtures route correctly") {
    import graft.ext.TextStats
    val code =
      "def f(x):\n  return g(x);\n  y = [a];\nwhile (i) {\n  j = k(i);\n}"
    val math = "1 + 2 = 3 and x^2 > y/4 implies x = 5 * z - 2 + q ~ r | s"
    val prose = "the quick brown fox jumps over the lazy dog near the river"
    val out = TextStats.contentType(
      Seq((1L, code), (2L, math), (3L, prose)).toDF("doc_id", "text"),
      "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("content_label"))
      .toMap
    assert(out(1L) == "code", s"code fixture labeled ${out(1L)}")
    assert(out(2L) == "math", s"math fixture labeled ${out(2L)}")
    assert(out(3L) == "prose", s"prose fixture labeled ${out(3L)}")
  }

  test("emb dim stats: collapsed and dead dimensions are localized") {
    // dim0 constant (collapsed: var=0), dim1 mostly zero (dead),
    // dim2 healthy
    val emb = Seq(
      (1L, Array(0.5f, 0f, 1f)), (2L, Array(0.5f, 0f, -1f)),
      (3L, Array(0.5f, 0f, 2f)), (4L, Array(0.5f, 4f, -2f)))
      .toDF("vec_id", "embedding")
    val rows = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("sx"),
        sum(col("v") * col("v")).as("sxx"),
        sum((col("v") === 0.0).cast("long")).as("n_zero"))
      .select(col("dim"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"), 6)
          .as("variance"),
        round(col("n_zero").cast("double") / col("n"), 6).as("zero_frac"))
      .collect().map(r => r.getInt(0) ->
        (r.getAs[Double]("variance"), r.getAs[Double]("zero_frac"))).toMap
    assert(rows(0)._1 == 0.0 && rows(0)._2 == 0.0)
    assert(rows(1)._2 == 0.75 && rows(1)._1 > 0)
    assert(rows(2)._1 > 1.0 && rows(2)._2 == 0.0)
  }

  test("clipAlignScore: hand-computed cosine, zero-norm guard, gate flag") {
    import graft.ext.Multimodal
    val pairs = Seq(
      // parallel vectors -> cos 1.0
      (1L, Seq(1.0, 2.0, 3.0, 4.0), Seq(2.0, 4.0, 6.0, 8.0)),
      // orthogonal -> cos 0.0
      (2L, Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0)),
      // anti-parallel -> cos -1.0
      (3L, Seq(1.0, 1.0, 1.0, 1.0), Seq(-1.0, -1.0, -1.0, -1.0)),
      // zero-norm image side -> NULL score, kept=0 (no 0/0 anywhere)
      (4L, Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0, 4.0)))
      .toDF("id", "img_emb", "txt_emb")
    val out = Multimodal
      .clipAlignmentGate(pairs, "img_emb", "txt_emb", dim = 4, tau = 0.5)
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[Any]("clip_score")), r.getAs[Int]("kept"))).toMap
    assert(out(1L) == (Some(1.0), 1))
    assert(out(2L) == (Some(0.0), 0))
    assert(out(3L) == (Some(-1.0), 0))
    assert(out(4L) == (None, 0))
  }

  test("blockPoolEmbedding: block means over a float embedding") {
    import graft.ext.Multimodal
    // 8 floats pooled to 2 blocks of 4: (1+2+3+4)/4=2.5, (5+6+7+8)/4=6.5
    val df = Seq((1L, Seq(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)))
      .toDF("id", "embedding")
    val pooled = df
      .select(Multimodal.blockPoolEmbedding(col("embedding"), 2, 4).as("p"))
      .collect().head.getSeq[Double](0)
    assert(pooled == Seq(2.5, 6.5))
  }

  test("doremiWeights: hard domains gain weight, easy lose; weights " +
      "normalize; zero-excess baseline domain keeps its share") {
    import graft.ext.Curation
    // three domains with controlled 'losses'; global baseline = 2.0
    val docs = (1 to 30).map { i =>
      val dom = if (i <= 10) "hard" else if (i <= 20) "easy" else "mid"
      (i.toLong, dom)
    }.toDF("doc_id", "source")
    val loss = (1 to 30).map { i =>
      val l = if (i <= 10) 2.6 else if (i <= 20) 1.4 else 2.0
      (i.toLong, l)
    }.toDF("doc_id", "loss")
    val out = Curation
      .doremiWeights(docs, loss, "doc_id", "source", tau = 0.1)
      .collect().map(r => r.getAs[String]("domain") ->
        (r.getAs[Double]("excess"), r.getAs[Double]("weight"),
          r.getAs[Double]("multiplier"))).toMap
    // baseline = (2.6+1.4+2.0)/3 = 2.0 → excesses 0.6 / 0 / 0
    assert(out("hard")._1 == 0.6)
    assert(out("easy")._1 == 0.0 && out("mid")._1 == 0.0)
    // only the hard domain boosts; easy and mid share the rest equally
    assert(out("hard")._2 > out("mid")._2)
    assert(math.abs(out("easy")._2 - out("mid")._2) < 1e-9)
    val wsum = out.values.map(_._2).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights must normalize: $wsum")
    assert(out("hard")._3 > 1.0 && out("easy")._3 < 1.0)
  }

  test("bradleyTerry: stronger record -> higher strength; symmetric " +
      "records tie; undefeated items stay finite; gauge is mean 1") {
    import graft.ext.Curation
    // item 1 beats 2 twice and loses once; 2 and 3 split 1-1; 4 is
    // UNDEFEATED vs 3 (the case the virtual draw must keep finite)
    val matches = Seq(
      (1L, 2L), (1L, 2L), (2L, 1L),
      (2L, 3L), (3L, 2L),
      (4L, 3L), (4L, 3L))
      .toDF("winner", "loser")
    val out = Curation.bradleyTerry(matches, "winner", "loser", iters = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_wins"), r.getAs[Long]("n_games"),
          r.getAs[Double]("strength"))).toMap
    graft.ops.CacheScope.releaseAll()
    assert(out(1L)._1 == 2 && out(1L)._2 == 3)
    assert(out(4L)._1 == 2 && out(4L)._2 == 2)
    // winning record beats losing record; undefeated tops everyone
    assert(out(1L)._3 > out(2L)._3)
    assert(out(4L)._3 > out(1L)._3)
    assert(out.values.forall(v => v._3 > 0 && v._3.isFinite))
    // gauge: strengths rescale to mean 1 each round
    val mean = out.values.map(_._3).sum / out.size
    assert(math.abs(mean - 1.0) < 1e-3, s"mean-1 gauge violated: $mean")
    // symmetry: two items with identical mirrored records tie exactly
    val sym = Curation.bradleyTerry(
      Seq((10L, 20L), (20L, 10L)).toDF("winner", "loser"),
      "winner", "loser", iters = 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("strength")).toMap
    graft.ops.CacheScope.releaseAll()
    assert(sym(10L) == sym(20L))
  }

  test("deep iteration is a safe public knob (r13 VERDICT #4): " +
      "bradleyTerry, labelPropagation, and kCore complete at iters " +
      "far past the old stats-squaring horizon and agree with their " +
      "converged low-iter fixpoints") {
    import graft.ext.{Curation, Graph}
    // without Iterate.pin's per-round stats reset each of these loops
    // re-feeds its checkpoint 2-3x per round, sizeInBytes squares or
    // cubes per iteration, and at iters=30 the driver spends effectively
    // forever inside BigInteger multiplication BEFORE any task runs —
    // so mere completion here is the load-bearing assertion
    val matches = Seq(
      (1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 3L))
      .toDF("winner", "loser")
    val deep = Curation.bradleyTerry(matches, "winner", "loser",
        iters = 30)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("strength"))
      .toMap
    graft.ops.CacheScope.releaseAll()
    assert(deep.size == 4 && deep.values.forall(_.isFinite))
    assert(deep(4L) > deep(1L) && deep(1L) > deep(2L))
    // two bridged triangles: converged communities must match the
    // default-iters result exactly (fixpoint passes through unchanged)
    val nodes = (1L to 6L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    def lpa(it: Int) = Graph.labelPropagation(nodes, edges, iters = it)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = lpa(4)
    graft.ops.CacheScope.releaseAll()
    assert(lpa(25) == want, "deep LPA drifted off the fixpoint")
    graft.ops.CacheScope.releaseAll()
    def core(it: Int) = Graph.kCore(edges, k = 2, iters = it)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantCore = core(6)
    assert(core(25) == wantCore, "deep kCore drifted off the fixpoint")
  }

  test("curriculumOrder: keys sort bins ascending, interleave sources " +
      "round-robin within a bin, and are collision-free") {
    import graft.ext.Curation
    // 3 sources x 8 docs with controlled lengths -> 2 clear length bins
    val docs = (0 until 24).map { i =>
      (i.toLong, s"s${i % 3}", if (i < 12) 10L + i else 1000L + i)
    }.toDF("doc_id", "source", "n_chars")
    val out = Curation
      .curriculumOrder(docs, "doc_id", "source", "n_chars", bins = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Int]("bin"), r.getAs[Long]("r"),
        r.getAs[Long]("curriculum_key")))
      .sortBy(_._5)
    graft.ops.CacheScope.releaseAll()
    assert(out.map(_._5).distinct.length == 24, "keys must be unique")
    // bins ascending along the key order (easy docs strictly first)
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted)
    // within each bin: round r is non-decreasing, and each round holds
    // at most one doc per source (the round-robin interleave)
    out.groupBy(_._3).foreach { case (_, rows) =>
      val rs = rows.sortBy(_._5)
      assert(rs.map(_._4).toSeq == rs.map(_._4).toSeq.sorted)
      rs.groupBy(_._4).foreach { case (_, round) =>
        assert(round.map(_._2).distinct.length == round.length,
          "a source appeared twice in one interleave round")
      }
    }
  }

  test("kmvPairOverlap: estimates land within sketch error of known " +
      "set overlaps; disjoint sets give jaccard 0; identical give 1") {
    import graft.ext.{Sketches, TextDedup}
    // three synthetic id sets with EXACT overlaps: A = 0..999,
    // B = 500..1499 (|A∩B| = 500, |A∪B| = 1500, J = 1/3), C = A
    val ids = (0 until 2000).map(_.toLong).toDF("id")
    val member = ids.select(col("id"),
      explode(array(
        when(col("id") < 1000, lit("A")),
        when(col("id") >= 500 && col("id") < 1500, lit("B")),
        when(col("id") < 1000, lit("C2")))).as("grp"))
      .filter(col("grp").isNotNull)
    val k = 256
    val sk = member.groupBy(col("grp"))
      .agg(graft.functions.KmvAgg.kmv_sketch(
        TextDedup.baseHash(col("id").cast("string")), k).as("sk"))
    val out = Sketches.kmvPairOverlap(sk, "grp", "sk", k)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("jaccard"), r.getAs[Double]("union_est"),
          r.getAs[Double]("intersect_est"))).toMap
    graft.ops.CacheScope.releaseAll()
    // identical sets: every union-sketch element is in both -> J = 1
    assert(out(("A", "C2"))._1 == 1.0)
    // A vs B: true J = 1/3, union 1500 — k=256 keeps relative error
    // around 1/sqrt(k) ≈ 6%; allow 3x slack for the fixed seed
    val (jab, uab, iab) = out(("A", "B"))
    assert(math.abs(jab - 1.0 / 3) < 0.1, s"jaccard $jab")
    assert(math.abs(uab - 1500) / 1500 < 0.2, s"union $uab")
    assert(math.abs(iab - 500) / 500 < 0.35, s"intersect $iab")
    // disjoint sets: B vs C2 share 500..999 -> NOT disjoint; build one
    val member2 = ids.select(col("id"),
      explode(array(
        when(col("id") < 800, lit("L")),
        when(col("id") >= 800, lit("R")))).as("grp"))
      .filter(col("grp").isNotNull)
    val sk2 = member2.groupBy(col("grp"))
      .agg(graft.functions.KmvAgg.kmv_sketch(
        TextDedup.baseHash(col("id").cast("string")), k).as("sk"))
    val dis = Sketches.kmvPairOverlap(sk2, "grp", "sk", k)
      .collect().head
    graft.ops.CacheScope.releaseAll()
    assert(dis.getAs[Double]("jaccard") == 0.0)
    assert(dis.getAs[Double]("intersect_est") == 0.0)
  }

  test("stream dedup: doubled feed dedups back to the source exactly") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.streaming.StreamPipeline
      .dedupStreamAvailableNow(spark, sf)
    val src = Tables.events(spark, sf)
    assert(out.count() == src.count(),
      "every duplicate must collapse to exactly one row")
    assert(out.select(col("event_id")).distinct().count() == src.count())
  }

  test("unimaxMix: hand-computed waterfill — caps, waterline, budget") {
    import graft.ext.Curation
    // supplies 10/40/100 at epoch cap 1 → caps 10/40/100. Budget 60:
    // A caps out (10·3 + 0 ≤ 60); waterline L = (60−10)/2 = 25.
    val docs = (Seq.fill(10)("A") ++ Seq.fill(40)("B") ++
      Seq.fill(100)("C")).zipWithIndex
      .map { case (s, i) => (i.toLong, s, 1L) }
      .toDF("id", "source", "w")
    val r = Curation.unimaxMix(docs, "source", "w", 60.0, 1.0)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getInt(3), x.getDouble(4), x.getDouble(5)))
      .toMap
    assert(r("A") == ((10L, 1, 10.0, 1.0)))
    assert(r("B") == ((40L, 0, 25.0, 0.625)))
    assert(r("C") == ((100L, 0, 25.0, 0.25)))
    // total allocation consumes the budget exactly
    assert(r.values.map(_._3).sum == 60.0)
    // budget ≥ total capped supply → everyone capped at epochCap epochs
    val rBig = Curation.unimaxMix(docs, "source", "w", 1000.0, 1.0)
      .collect().map(x => x.getString(0) ->
        (x.getInt(3), x.getDouble(4), x.getDouble(5))).toMap
    assert(rBig.values.forall(v => v._1 == 1 && v._3 == 1.0))
    assert(rBig("C")._2 == 100.0)
  }

  test("subsampleReport: p_keep formula, coin boundaries, full-keep") {
    import graft.ext.Vocab
    // "common" appears 10x, "rare" 10x across docs at t=1: t/f >= 1 for
    // every word, so p_keep = 1 and EVERY occurrence is kept
    val docs = (0 until 10)
      .map(i => (i.toLong, "common rare")).toDF("doc_id", "text")
    val keepAll = Vocab.subsampleReport(docs, "text", "doc_id",
      t = 1.0, minCount = 1L).collect()
    graft.ops.CacheScope.releaseAll()
    assert(keepAll.length == 2)
    keepAll.foreach { r =>
      assert(r.getAs[Double]("p_keep") == 1.0)
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("c"),
        s"p_keep=1 word must keep every occurrence: $r")
    }
    // tiny t: frequent word down-samples hard, p matches the formula
    val t = 0.01
    val sub = Vocab.subsampleReport(docs, "text", "doc_id",
      t, minCount = 1L).collect()
    graft.ops.CacheScope.releaseAll()
    sub.foreach { r =>
      val f = r.getAs[Long]("c").toDouble / 20.0
      val expect = math.rint(math.min(1.0,
        math.sqrt(t / f) + t / f) * 1e6) / 1e6
      assert(r.getAs[Double]("p_keep") == expect)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("c"))
    }
  }

  test("suffixBlocklist: subdomains blocked, lookalike hosts kept") {
    import graft.ext.Markup
    val docs = Seq(
      (1L, "x https://a.b.tracker.net/p https://ok.example.org/q"),
      (2L, "y https://tracker.net/root"),
      (3L, "z https://nottracker.net/safe https://trackernet.org"),
      (4L, "w no urls at all")).toDF("doc_id", "text")
    val r = Markup.suffixBlocklistReport(docs, "text", "doc_id",
      Seq("tracker.net")).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2), x.getInt(3)))
      .toMap
    assert(r(1L) == ((2, 1, 0)), "subdomain a.b.tracker.net must block")
    assert(r(2L) == ((1, 1, 0)), "the bare entry itself must block")
    assert(r(3L) == ((2, 0, 1)),
      "nottracker.net / trackernet.org are NOT suffix matches")
    assert(r(4L) == ((0, 0, 1)))
  }

  test("softDedupWeights: 1/cluster-size, weights sum to cluster count") {
    import graft.ext.TextDedup
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val comp = TextDedup.connectedComponents(docs, "doc_id", pairs)
    val w = TextDedup.softDedupWeights(comp, "doc_id").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    graft.ops.CacheScope.releaseAll()
    Seq(1L, 2L, 3L).foreach(id =>
      assert(w(id) == ((1L, 3L, 0.333333)), s"doc $id"))
    assert(w(4L) == ((4L, 1L, 1.0)))
    assert(w(5L) == ((5L, 1L, 1.0)))
    // Σ weights ≈ number of distinct content units (3 clusters)
    val total = w.values.map(_._3).sum
    assert(math.abs(total - 3.0) < 1e-4)
  }

  test("groupTopTerms: shared vocabulary scores 0, unique terms rank") {
    import graft.ext.Retrieval
    val docs = Seq(
      (1L, "g1", "apple apple banana shared"),
      (2L, "g1", "apple shared"),
      (3L, "g2", "cherry shared shared")).toDF("id", "grp", "text")
    val r = Retrieval.groupTopTerms(docs, "text", "grp", 2).collect()
      .map(x => (x.getString(0), x.getInt(1)) ->
        (x.getString(2), x.getLong(3), x.getLong(4), x.getDouble(5)))
      .toMap
    graft.ops.CacheScope.releaseAll()
    // apple: tf=3 in g1, df=1 → 3·ln(2) = 2.079442 → top of g1
    assert(r(("g1", 1)) == (("apple", 3L, 1L, 3 * 0.693147)))
    assert(r(("g2", 1)) == (("cherry", 1L, 1L, 0.693147)))
    // 'shared' lives in BOTH groups → ln(2/2) = 0 score
    val sharedScores = Retrieval.groupTopTerms(docs, "text", "grp", 10)
      .filter(col("term") === "shared").select("score").collect()
    graft.ops.CacheScope.releaseAll()
    assert(sharedScores.forall(_.getDouble(0) == 0.0))
  }

  test("rougeN: hand-computed bigram overlap and empty-side guards") {
    import graft.ext.TextDedup
    val docs = Seq(
      (1L, "a b c d"), (2L, "b c d e"), (3L, "x")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 1L)).toDF("cand_id", "ref_id")
    val r = TextDedup.rougeN(docs, "text", "doc_id", pairs, n = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getInt(2), x.getDouble(5), x.getDouble(6), x.getDouble(7)))
      .toMap
    // cand {ab,bc,cd} vs ref {bc,cd,de}: overlap 2 → R=P=F1=2/3
    assert(r((1L, 2L)) == ((2, 0.666667, 0.666667, 0.666667)))
    // empty REFERENCE ("x" has no bigrams): recall guard → 0, not NULL
    assert(r((1L, 3L)) == ((0, 0.0, 0.0, 0.0)))
    // empty CANDIDATE: precision guard → 0, not NULL
    assert(r((3L, 1L)) == ((0, 0.0, 0.0, 0.0)))
  }

  test("streaming hourly HLL ≡ batch sketch on the same events") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamPipeline
      .eventsHourlyHllAvailableNow(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy(date_format(
        date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(graft.functions.HllAgg.hll_sketch(
        graft.ext.TextDedup.baseHash(col("user_id").cast("string")), 8)
        .as("sk"))
      .select(col("hour"),
        graft.ops.IncrementalAgg.hllEstimate(col("sk"), 8)
          .as("users_hll"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed sketch state must equal the batch sketch exactly")
  }

  test("RecordLinkage.blockedCandidates: multi-pass blocking recall") {
    // Four records. (1,2): name typo in the LAST char — caught by the
    // prefix pass (all-but-last-2 key agrees). (3,4): typo in the FIRST
    // char — the prefix pass can NOT co-block them, only the attribute
    // pass does (same city). (1,3): names 5 apart — co-blocked by city
    // but must be dropped by the Levenshtein verify, not by blocking.
    val recs = Seq(
      (1L, "martinez", "lyon"), (2L, "martinez", "lyon"),
      (3L, "gonzalez", "lyon"), (4L, "bonzalez", "lyon"))
      .toDF("rid", "name", "city")
    val prefixKey = col("name").substr(lit(1), length(col("name")) - 2)
    val prefixOnly = graft.ext.RecordLinkage.blockedCandidates(
      recs, "rid", "name", Seq(prefixKey), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefixOnly == Set((1L, 2L)),
      "prefix pass alone must miss the first-char typo pair")
    val multi = graft.ext.RecordLinkage.blockedCandidates(
      recs, "rid", "name", Seq(prefixKey, col("city")), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi == Set((1L, 2L), (3L, 4L)),
      "the attribute pass must add the first-char-typo pair and the " +
        "verify must reject the distance-5 co-blocked pair")
  }

  test("er_match_scores: planted twins matched, name-collision rejected") {
    val sf = "/root/testdata/sf0.001"
    val m = Registry.queries("er_match_scores")(spark, sf)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    graft.ops.CacheScope.releaseAll()
    // every 7th customer has a planted cross-feed twin at surrogate
    // id+1e7 — all and only those pairs survive the 8.0 threshold. In
    // particular the TRAP pair (dirty(7k)'s name equals base(7k+1)'s
    // name exactly, Levenshtein 0) must NOT match: the fields disagree.
    val n = spark.read.parquet(s"$sf/customer.parquet").count()
    val want = (0L until n by 7L).map(k => (k, k + 10000000L)).toSet
    assert(m.toSet == want,
      s"expected exactly the ${want.size} planted twins, got ${m.length}")
  }

  test("streaming ER assignment ≡ batch match pairs") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamPipeline
      .erAssignAvailableNow(spark, sf)
      .select(col("entity_id").as("id_a"), col("rid").as("id_b"),
        col("name_dist"), col("score"))
    val batch = Registry.queries("er_match_scores")(spark, sf)
    // the batch multi-pass matcher finds exactly the planted twins at
    // this SF, all of which the single-pass streaming blocker also
    // co-blocks — so assignment and batch linkage must agree exactly
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed ER assignment must equal the batch match pairs")
    graft.ops.CacheScope.releaseAll()
  }

  test("streaming enriched segment rollup ≡ batch join+agg twin") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamPipeline
      .eventsEnrichedSegmentAvailableNow(spark, sf)
    import graft.Det.dsum
    val batch = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf),
        col("user_id") === col("c_custkey"))
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed enrichment must equal the batch join+agg exactly")
  }

  test("streaming hourly quantiles ≡ batch histogram sketch") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamPipeline
      .eventsHourlyQuantilesAvailableNow(spark, sf)
    // the batch twin: identical floor-bucketing + identical read-off
    // through histogramQuantiles (floor(value) passed explicitly — the
    // op's internal long cast truncates, which equals floor only for
    // the non-negative values this table has)
    val batch = graft.ext.Sketches.histogramQuantiles(
      Tables.events(spark, sf).withColumn("hour", date_format(
        date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")),
      floor(col("value")), "hour", width = 8, qs = Seq(0.5, 0.9, 0.99))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed histogram state must equal the batch sketch exactly")
  }
}
